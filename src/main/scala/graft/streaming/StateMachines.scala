package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** The replay-order columns every walk machine's event type carries. */
sealed trait OrderedEvent { def tsMs: Long; def tiebreak: Long }

/** Canonical keyed-event input for the stateful operators. Keys are strings —
  * the generic superset (numeric keys cast in, and back out at the query
  * layer); `tiebreak` makes per-key ordering total and deterministic. */
case class KeyedEvent(key: String, tsMs: Long, tiebreak: Long, kind: String)
    extends OrderedEvent

/** Value-carrying twin of KeyedEvent for the moment-sum machines. */
case class ValuedEvent(key: String, tsMs: Long, tiebreak: Long, value: Long)
    extends OrderedEvent

/** Running prior-prefix moments for expandingAnomalies: count, Σv, Σv². */
case class MomentState(n: Long, s: Long, ss: Long)

case class AnomalyFlag(key: String, tiebreak: Long, anomaly_ms: Long,
                       value: Long, n_prior: Long, z: Double)

case class IntervalAlert(key: String, ts_ms: Long, gap_ms: Long)
case class TransitionPair(key: String, from_state: String, to_state: String)
case class ActionDuration(key: String, action: String, duration_ms: Long)
case class FunnelState(times: Seq[Long], done: Boolean)
case class FunnelCompletion(key: String, times: Seq[Long])

/** Session-aware funnel state: the current session's index (1-based, 0 =
  * "no event seen yet"), the key's last event time (the silence-gap
  * anchor), and the in-session funnel progress. */
case class SessionFunnelState(sessionSeq: Long, lastTs: Long,
                              times: Seq[Long], done: Boolean)

/** The last TWO event kinds per key for second-order transitions; `k1` is
  * the older of the two (null until two events have been seen). */
case class LastTwo(k1: String, k2: String, tsMs: Long)
case class Transition2(key: String, from2_state: String, from1_state: String,
                       to_state: String)

/** Burst-walk state per key: the open burst's start (−1 = not in a
  * burst), its event count, and the key's last event time. */
case class BurstState(bstartMs: Long, n: Long, lastMs: Long)
case class BurstEnd(key: String, start_ms: Long, end_ms: Long,
                    n_events: Long)

/** Open activity run per key for streakEnds: first and latest active day. */
case class StreakState(startDay: Long, lastDay: Long)
case class StreakEnd(key: String, start_day: Long, end_day: Long, len: Long)

/** Running integer EWMA per key: event count, last event time, and the
  * current smoothed value scaled by `valueScale`. */
case class EwmaState(n: Long, lastMs: Long, s: Long)
case class EwmaSnapshot(key: String, n_events: Long, last_ms: Long,
                        ewma_scaled: Long)

/** Holt double-exponential state per key: event count, last event time,
  * and the current level + trend, both scaled by `valueScale`. */
case class HoltState(n: Long, lastMs: Long, l: Long, b: Long)
case class HoltSnapshot(key: String, n_events: Long, last_ms: Long,
                        level_scaled: Long, trend_scaled: Long,
                        forecast_scaled: Long)

/** Holt-Winters additive state per key: HoltState plus the length-`period`
  * seasonal vector (scaled by `valueScale`). */
case class HwState(n: Long, lastMs: Long, l: Long, b: Long, s: Seq[Long])
case class HwSnapshot(key: String, n_events: Long, last_ms: Long,
                      level_scaled: Long, trend_scaled: Long,
                      forecast_scaled: Long)

/** Wald-SPRT walk state per key: events seen, the running integer
  * log-likelihood ratio (ppm), and whether a decision has been emitted
  * (a decided key is frozen — the sequential test's stopping rule). */
case class SprtState(n: Long, llr: Long, done: Boolean)
case class SprtDecision(key: String, tiebreak: Long, decision_ms: Long,
                        n_events: Long, llr_ppm: Long, decision: String)

/** KMV distinct-sketch state per key: total event count + the k smallest
  * distinct 32-bit value hashes, kept sorted ascending. */
case class KmvState(n: Long, mins: Seq[Long])
case class KmvSnapshot(key: String, n_events: Long, n_sketch: Long,
                       est_distinct: Long)

/** Token-bucket throttle state per key: last event time and the
  * remaining budget in micro-tokens. */
case class BucketState(lastMs: Long, availMicro: Long)
case class ThrottleDecision(key: String, tiebreak: Long, event_ms: Long,
                            admitted: Boolean, avail_after: Long)

/** One remembered event per key — the twin of Flink's ValueState pair. */
case class LastSeen(kind: String, tsMs: Long)

/** A document keyed by its content fingerprint for the keep-first dedup
  * machine; `th` is TextOps.fingerprint(text) computed upstream. */
case class HashedDoc(th: String, doc_id: Long, lang: String, text: String)
/** keepFirst's output: the document plus its gate-1 verdict. */
case class GatedDoc(doc_id: Long, lang: String, text: String,
                    is_first: Boolean)

/** One (band bucket, document) probe row for bandKeepFirst: the doc's id
  * and its DISTINCT shingle-hash set (the exact-verify payload). Exactly
  * ONE of a doc's band rows is its CARRIER (the funnel marks band 0) and
  * carries the payload columns through to the per-doc collapse; the
  * other bands ship null payload, so text crosses the bucket exchange
  * once per doc, not ×bands. */
case class BandProbe(bucket: String, doc_id: Long, lang: String,
                     text: String, is_first: Boolean, carrier: Boolean,
                     sh: Array[Long])

/** bandKeepFirst's output: per doc, ONE `carrier = true` row with the
  * payload (its near_dup is the carrier bucket's intra-batch verdict),
  * plus zero or more `carrier = false` slim rows (near_dup = true only)
  * from the doc's other buckets' intra-batch hits and its verified
  * cross-batch probes. The per-doc verdict downstream is max(near_dup)
  * grouped by doc_id. */
case class BandVerdict(doc_id: Long, lang: String, text: String,
                       is_first: Boolean, near_dup: Boolean,
                       carrier: Boolean)

/** One band bucket's accumulated member doc ids — IDS ONLY. The gram
  * sets live once per doc in the doc-keyed gram store (GramState), not
  * once per band per doc: the round-14 form stored each doc's shingle
  * set in every band bucket it occupied (×bands duplication, measured
  * ≈870 B/doc/version at sf0.001 vs ~110 B of unique payload). */
case class BandBucketState(ids: Array[Long])

/** The doc-keyed gram store's state: one distinct shingle-hash set per
  * stored doc (the exact-verify payload, stored ONCE). */
case class GramState(sh: Array[Long])

/** bandKeepFirst's intermediate row between the bucket machine and the
  * doc-keyed gram machine. `kind` 0 = CARRIER (gkey = own doc_id;
  * payload + the band-0 bucket's intra-batch verdict + the doc's gram
  * set for the store), 1 = intra-batch dup FLAG from a non-carrier
  * bucket (gkey = own doc_id, passes through), 2 = cross-batch
  * candidate PROBE (gkey = the STORED member's doc_id; `sh` is the
  * ARRIVING doc's gram set, verified against the member's stored one). */
case class BandCand(gkey: Long, doc_id: Long, lang: String, text: String,
                    is_first: Boolean, near_dup: Boolean, kind: Int,
                    sh: Array[Long])

/** One doc's gram-store seed for bandKeepFirstSeeded (ids must be unique;
  * the builder fails loud on conflicting duplicates). */
case class GramSeed(gkey: Long, sh: Array[Long])

/** keepFirstEventTime's input: a content-fingerprinted doc with its
  * EVENT-TIME position (`tsMs`, epoch ms) — the horizon anchor. */
case class TimedHashedDoc(th: String, doc_id: Long, lang: String,
                          text: String, tsMs: Long)
/** keepFirstEventTime's output: the doc plus its horizon-dedup verdict. */
case class TimedGatedDoc(doc_id: Long, lang: String, text: String,
                         tsMs: Long, is_first: Boolean)

/** Page-Hinkley walk state per key: event count, value sum, the PH
  * statistic m, and its running minimum. */
case class PhState(n: Long, s: Long, m: Long, mn: Long)
case class PhAlarm(key: String, tiebreak: Long, alarm_ms: Long,
                   n_events: Long, ph: Long, ph_min: Long)

/** Payload-carrying event for the upsert compaction machine: the order key
  * (tsMs, tiebreak) plus the carried columns, NULLs preserved. */
case class PayloadEvent(key: String, tsMs: Long, tiebreak: Long,
                        kind: Option[String], value: Option[Double])
    extends OrderedEvent

/** The current winning row per key for latestSnapshots. */
case class LatestPayload(tsMs: Long, tiebreak: Long,
                         kind: Option[String], value: Option[Double])
case class LatestSnapshot(key: String, last_ms: Long, tiebreak: Long,
                          kind: Option[String], value: Option[Double])

/** Tagged two-sided event for the stream-stream as-of machine: left rows
  * probe, right rows build. */
case class AsofEvent(key: String, tsMs: Long, tiebreak: Long, isLeft: Boolean)
    extends OrderedEvent
/** The latest right row seen per key (asofMatches state). */
case class AsofRight(tsMs: Long, tiebreak: Long)
case class AsofMatch(key: String, tiebreak: Long, event_ms: Long,
                     match_ms: Option[Long], match_tiebreak: Option[Long])

/** Streaming forms of the reference's keyed state machines (§2.9), as
  * `flatMapGroupsWithState` over `GroupState` — the Spark-native equivalent of
  * Flink's RichFunction + ValueState. The same functions run in BATCH mode
  * (Spark executes flatMapGroupsWithState over a one-shot groupBy with empty
  * initial state), which is how the oracle-checked `*_stream` queries in
  * SparkEntry prove these emit exactly what the lag()-based batch twins emit.
  *
  * Every keyed walk machine is one `step` run by `walk`, which owns the rest:
  *   - grouping: by the events' `key` column (a column grouping, so the plan
  *     carries no per-row key lambda);
  *   - replay order: within an invocation a key's events are sorted by
  *     (tsMs, tiebreak), and AsofEvents by (tsMs, rights first, tiebreak) —
  *     micro-batches deliver per-key iterators in no guaranteed order. Across
  *     micro-batches arrival order governs, matching the reference's
  *     processing-order semantics. The sort is per key per batch, so memory
  *     is bounded by a key's per-batch volume, not by the stream;
  *   - state: the step returns the key's next state; `Some(s)` stores it,
  *     `None` removes the key's state (if it has any);
  *   - TTL: `stateTtlMs` is a processing-time timeout re-armed on every
  *     store; a key idle past it has its state removed with no output.
  *     Batch execution ignores timeouts, so batch output is identical with
  *     or without a TTL.
  * The funnel's dedup machines (`keepFirst*`, `bandKeepFirst*`, `*EventTime`)
  * key on other columns and manage their own state and timers.
  */
object StateMachines {

  implicit val keyedEventEnc: Encoder[KeyedEvent]       = Encoders.product[KeyedEvent]
  implicit val intervalAlertEnc: Encoder[IntervalAlert] = Encoders.product[IntervalAlert]
  implicit val actionDurationEnc: Encoder[ActionDuration] = Encoders.product[ActionDuration]
  implicit val lastSeenEnc: Encoder[LastSeen]           = Encoders.product[LastSeen]
  implicit val transitionPairEnc: Encoder[TransitionPair] = Encoders.product[TransitionPair]
  implicit val stringEnc: Encoder[String]               = Encoders.STRING
  implicit val longEnc: Encoder[Long]                   = Encoders.scalaLong

  /** Project any DataFrame (batch or streaming) onto the canonical shape. */
  def keyedEvents(df: DataFrame, key: Column, tsMs: Column, tiebreak: Column,
                  kind: Column): Dataset[KeyedEvent] =
    df.select(key.cast("string").as("key"), tsMs.cast("long").as("tsMs"),
      tiebreak.cast("long").as("tiebreak"), kind.cast("string").as("kind"))
      .as[KeyedEvent]

  implicit val valuedEventEnc: Encoder[ValuedEvent] = Encoders.product[ValuedEvent]
  implicit val momentStateEnc: Encoder[MomentState] = Encoders.product[MomentState]
  implicit val anomalyFlagEnc: Encoder[AnomalyFlag] = Encoders.product[AnomalyFlag]

  /** Value-carrying projection for the moment-sum machines. */
  def valuedEvents(df: DataFrame, key: Column, tsMs: Column, tiebreak: Column,
                   value: Column): Dataset[ValuedEvent] =
    df.select(key.cast("string").as("key"), tsMs.cast("long").as("tsMs"),
      tiebreak.cast("long").as("tiebreak"), value.cast("long").as("value"))
      .as[ValuedEvent]

  implicit val payloadEventEnc: Encoder[PayloadEvent] =
    Encoders.product[PayloadEvent]
  implicit val latestPayloadEnc: Encoder[LatestPayload] =
    Encoders.product[LatestPayload]
  implicit val latestSnapshotEnc: Encoder[LatestSnapshot] =
    Encoders.product[LatestSnapshot]

  /** Payload-carrying projection for the compaction machine. */
  def payloadEvents(df: DataFrame, key: Column, tsMs: Column,
                    tiebreak: Column, kind: Column,
                    value: Column): Dataset[PayloadEvent] =
    df.select(key.cast("string").as("key"), tsMs.cast("long").as("tsMs"),
      tiebreak.cast("long").as("tiebreak"), kind.cast("string").as("kind"),
      value.cast("double").as("value"))
      .as[PayloadEvent]

  /** Resolve the timeout mode for an optional TTL. */
  private def timeoutConf(stateTtlMs: Option[Long]): GroupStateTimeout =
    if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Replay order of the walk machines' events: (tsMs, tiebreak). */
  private object ByTs extends Ordering[OrderedEvent] {
    def compare(a: OrderedEvent, b: OrderedEvent): Int = {
      val c = java.lang.Long.compare(a.tsMs, b.tsMs)
      if (c != 0) c else java.lang.Long.compare(a.tiebreak, b.tiebreak)
    }
  }

  /** asofMatches' replay order: (tsMs, rights first, tiebreak). */
  private object AsofOrder extends Ordering[AsofEvent] {
    def compare(a: AsofEvent, b: AsofEvent): Int = {
      val c = java.lang.Long.compare(a.tsMs, b.tsMs)
      if (c != 0) c
      else if (a.isLeft != b.isLeft) java.lang.Boolean.compare(a.isLeft, b.isLeft)
      else java.lang.Long.compare(a.tiebreak, b.tiebreak)
    }
  }

  /** The one keyed walk (see the object scaladoc): group `events` by their
    * `key` column, expire timed-out keys, replay each key's batch in `order`
    * through `step` (key, prior state, sorted non-empty batch, output
    * buffer), then store the state it returns — re-arming the TTL — or
    * remove it on `None`. */
  private def walk[E <: OrderedEvent : Encoder : ClassTag, S: Encoder,
                   O: Encoder](events: Dataset[E], stateTtlMs: Option[Long],
                               order: java.util.Comparator[_ >: E] = ByTs)(
      step: (String, Option[S], Array[E], ArrayBuffer[O]) => Option[S])
      : Dataset[O] =
    events.groupBy(col("key")).as[String, E].flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs)) {
      (key: String, it: Iterator[E], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val batch = it.toArray
          java.util.Arrays.sort(batch, order)
          val out = ArrayBuffer.empty[O]
          step(key, state.getOption, batch, out) match {
            case Some(s) =>
              state.update(s); stateTtlMs.foreach(state.setTimeoutDuration)
            case None => if (state.exists) state.remove()
          }
          out.iterator
        }
    }

  implicit val phStateEnc: Encoder[PhState] = Encoders.product[PhState]
  implicit val phAlarmEnc: Encoder[PhAlarm] = Encoders.product[PhAlarm]

  /** Page–Hinkley changepoint detection per key — the classic streaming
    * mean-increase test (Page 1954; Hinkley 1971): with running integer
    * mean x̄_t = ⌊S_t/t⌋, walk m_t = m_{t−1} + (v_t − x̄_t − δ) and its
    * running minimum M_t; alarm when m_t − M_t > λ, then RESET the state
    * (detect-and-restart, the standard drift-monitor deployment). The
    * online complement to the batch CUSUM changepoints (q_changepoint):
    * O(1) integer state per key, one alarm row per detection, append-safe.
    *
    * All arithmetic is exact int64 with FLOOR division for the mean
    * (values must be ≥ 0 so `//` and `div` agree across engines), so the
    * walk — and therefore every alarm position — is bit-identical to the
    * oracle's recursive-CTE replay. δ (drift tolerance) and λ (alarm
    * threshold) are in value units (cents); λ > 0 so the fresh state
    * (m = M = −δ) never alarms on its first event. Per-batch events sort
    * by (tsMs, tiebreak) like every walk machine here; across batches
    * arrival order governs. Emits (key, tiebreak, alarm_ms, n_events,
    * ph, ph_min) per alarm. */
  def pageHinkley(events: Dataset[ValuedEvent], delta: Long, lambda: Long,
                  stateTtlMs: Option[Long] = None): Dataset[PhAlarm] = {
    require(delta >= 0, s"delta must be >= 0, got $delta")
    require(lambda > 0, s"lambda must be > 0, got $lambda")
    walk[ValuedEvent, PhState, PhAlarm](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(PhState(0L, 0L, 0L, 0L))
        batch.foreach { e =>
          require(e.value >= 0,
            s"pageHinkley: values must be >= 0 (floor-div mean " +
              s"contract); got ${e.value} for key $key")
          val n = Math.addExact(st.n, 1L)
          val s = Math.addExact(st.s, e.value)
          val m = Math.addExact(st.m, e.value - s / n - delta)
          val mn = math.min(st.mn, m)
          if (m - mn > lambda) {
            out += PhAlarm(key, e.tiebreak, e.tsMs, n, m, mn)
            st = PhState(0L, 0L, 0L, 0L)
          } else st = PhState(n, s, m, mn)
        }
        Some(st)
    }
  }

  /** Streaming upsert compaction — CoreOps.latestState's continuous form:
    * per key, remember the row with the LARGEST (tsMs, tiebreak) and emit
    * the current winner once per key per micro-batch (a running compacted
    * changelog — each batch's emission is the key's latest state as of
    * that batch, the CDC "last value wins" feed). In batch mode the one
    * invocation emits exactly the final row per key, which is how the
    * registered query pins this machine against the same row_number()
    * oracle as the batch operator.
    *
    * Unlike the other walk machines, max-by is ORDER-INDEPENDENT — the
    * per-batch replay order changes nothing; one comparison fold, O(1)
    * state per key (late arrivals older than the winner lose the
    * comparison, matching the batch semantics rather than arrival
    * order). Payload NULLs are carried verbatim; the ORDER key (tsMs, tiebreak) is non-null by
    * projection (filter NULL order columns upstream — the batch
    * operator's fail-loud contract, kept by the registered query's
    * `ts IS NOT NULL` filter). */
  def latestSnapshots(events: Dataset[PayloadEvent],
                      stateTtlMs: Option[Long] = None)
      : Dataset[LatestSnapshot] =
    walk[PayloadEvent, LatestPayload, LatestSnapshot](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var best = prior.orNull
        batch.foreach { e =>
          if (best == null || e.tsMs > best.tsMs ||
              (e.tsMs == best.tsMs && e.tiebreak > best.tiebreak))
            best = LatestPayload(e.tsMs, e.tiebreak, e.kind, e.value)
        }
        out += LatestSnapshot(key, best.tsMs, best.tiebreak, best.kind,
          best.value)
        Some(best)
    }

  /** Delete-interval alert (chapter5/StatefulOperations.java:83-128): per key,
    * remember the last `deleteKind` event's timestamp in state; a new one
    * within `thresholdMs` emits (key, ts, gap). The reference's "No-Alerts"
    * sentinel is unnecessary here — flatMap semantics emit zero-or-more
    * (the reference filters the sentinel right back out at :129-143).
    *
    * `stateTtlMs`: processing-time TTL after which an idle key's state is
    * dropped. The reference's ValueState (like our default) never expires —
    * fine for a demo, but a continuous run over an unbounded key space grows
    * the state store forever; with a TTL, a key idle longer than the TTL
    * forgets its last delete (so a later delete starts fresh — the standard
    * TTL trade). Batch execution ignores timeouts, so the oracle-checked
    * batch-mode output is identical with or without a TTL. */
  def intervalAlerts(events: Dataset[KeyedEvent], deleteKind: String,
                     thresholdMs: Long,
                     stateTtlMs: Option[Long] = None): Dataset[IntervalAlert] =
    walk[KeyedEvent, LastSeen, IntervalAlert](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var last = prior
        batch.foreach { e =>
          if (e.kind == deleteKind) {
            last.foreach { prev =>
              val gap = e.tsMs - prev.tsMs
              if (gap < thresholdMs) out += IntervalAlert(key, e.tsMs, gap)
            }
            last = Some(LastSeen(e.kind, e.tsMs))
          }
        }
        last
    }

  implicit val hashedDocEnc: Encoder[HashedDoc] = Encoders.product[HashedDoc]
  implicit val gatedDocEnc: Encoder[GatedDoc] = Encoders.product[GatedDoc]
  private implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean

  /** Exact-dedup keep-first as a keyed state machine — the state-store-
    * backed form of the curation funnel's first gate (the reference's E7
    * restorable ValueState, chapter5/StatefulOperations.java:88-100,
    * applied to dedup): per content fingerprint, ONE boolean of state
    * ("seen"), restored from the checkpoint across restarts. The first
    * document of a fingerprint — by doc_id within a batch, by arrival
    * across batches — emits `is_first = true`; every later duplicate
    * emits `false` (emitting the verdict instead of dropping keeps the
    * funnel's per-stage accounting downstream). Under an id-ascending
    * replay keep-first IS exactDedup's min-id canonical rule, which is
    * how FunnelPipeline proves this against the batch funnel oracle.
    * State grows with DISTINCT fingerprints (RocksDB territory at 100 TB —
    * FunnelPipeline pins the provider); the horizon-bounded alternatives
    * are `stateTtlMs` here (an idle fingerprint expires after the TTL, so
    * a dup arriving later than the horizon is re-admitted as first — the
    * standard TTL trade, the knob an ENDLESS ingest sets; the funnel
    * itself stays NoTimeout because its oracle contract is exact) and
    * keepFirstEventTime (event-time-bounded rather than
    * wall-clock-bounded). Every arrival of
    * a fingerprint re-arms its TTL — an actively-duplicated key stays
    * remembered; only true idleness forgets. */
  def keepFirst(docs: Dataset[HashedDoc],
                stateTtlMs: Option[Long] = None): Dataset[GatedDoc] =
    docs.groupByKey(_.th).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs))(keepFirstWalk(stateTtlMs))

  /** keepFirst with PRE-SEEDED state — the REBUILD path for a pipeline
    * that must start over without its checkpoint (state lost, or the
    * fingerprint/normalization changed so the old state is invalid)
    * above a corpus that was already ingested: `seenFingerprints` (one
    * row per known content fingerprint) installs as each key's initial
    * GroupState before the first batch, so a dup of history drops
    * exactly as if the original checkpoint had survived. Spark applies
    * the initial state only when the checkpoint holds none for the
    * query — a restart with live state ignores the seed. */
  def keepFirstSeeded(docs: Dataset[HashedDoc],
                      seenFingerprints: Dataset[String],
                      stateTtlMs: Option[Long] = None): Dataset[GatedDoc] =
    docs.groupByKey(_.th).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs),
      seenFingerprints.groupByKey(identity).mapValues(_ => true))(
      keepFirstWalk(stateTtlMs))

  private def keepFirstWalk(stateTtlMs: Option[Long])
      : (String, Iterator[HashedDoc], GroupState[Boolean]) =>
        Iterator[GatedDoc] =
    (_: String, it: Iterator[HashedDoc], state: GroupState[Boolean]) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val rows = it.toArray.sortBy(_.doc_id)
        val seen = state.exists
        if (!seen && rows.nonEmpty) state.update(true)
        if (rows.nonEmpty) stateTtlMs.foreach(state.setTimeoutDuration)
        rows.iterator.zipWithIndex.map { case (d, i) =>
          GatedDoc(d.doc_id, d.lang, d.text, !seen && i == 0)
        }
      }

  implicit val bandProbeEnc: Encoder[BandProbe] = Encoders.product[BandProbe]
  implicit val bandVerdictEnc: Encoder[BandVerdict] =
    Encoders.product[BandVerdict]
  implicit val bandCandEnc: Encoder[BandCand] = Encoders.product[BandCand]
  implicit val gramSeedEnc: Encoder[GramSeed] = Encoders.product[GramSeed]
  private implicit val bandStateEnc: Encoder[BandBucketState] =
    Encoders.product[BandBucketState]
  private implicit val gramStateEnc: Encoder[GramState] =
    Encoders.product[GramState]

  private val KindCarrier = 0
  private val KindFlag    = 1
  private val KindProbe   = 2

  /** Near-dup keep-first as TWO chained keyed state machines — the
    * production funnel's gate 2. The reference's E7 lesson is twofold:
    * keyed state is LOOKED UP, never rescanned, and the state is the
    * MINIMAL FACT, not the record
    * (chapter5/StatefulOperations.java:88-100 stores one Long, not the
    * event). Applied to the standing MinHash band index:
    *
    *   1. the BUCKET machine (one GroupState entry per band bucket,
    *      member doc IDS ONLY — 8 B each): verifies intra-batch pairs
    *      directly (both gram sets are in the batch) and emits one
    *      cross-batch candidate PROBE per (state member < arriving doc);
    *   2. the doc-keyed GRAM machine (one GroupState entry per stored
    *      doc: its distinct shingle-hash set, stored ONCE): persists
    *      each carrier's gram set and verifies the probes against the
    *      member's stored grams.
    *
    * The round-14 single-machine form stored each doc's gram set once
    * PER BAND (measured ≈870 B/doc/version at sf0.001 vs ~110 B of
    * unique payload — an ×bands duplication); this split keeps the point
    * lookups (a trigger still reads exactly the buckets + members its
    * batch touches: O(batch + collisions) state rows, NEVER O(corpus))
    * while storing the verify payload once. The trade: cross-batch
    * verification cannot short-circuit inside a bucket (all candidate
    * probes of an arriving doc are emitted and verified, where the old
    * walk stopped at the first hit) — per-arrival work is still bounded
    * by `maxBucket`, and a doc already flagged intra-batch in a bucket
    * emits no probes from that bucket.
    *
    * Verdict contract, identical to the single-machine form: a doc is
    * `near_dup` iff SOME bucket it occupies holds a LOWER-id member
    * whose exact shingle-set Jaccard reaches `minJaccard` — the per-doc
    * verdict is max(near_dup) over the doc's output rows (the funnel's
    * collapse). Verification is HashKernels.jaccardDistinct — the same
    * kernel the batch funnel and its DuckDB-checked oracle path use, so
    * stream and batch verify bit-identically. In BATCH mode a probe's
    * target arrives in the same gram-machine invocation as its carrier;
    * carriers store before probes verify, so the one-shot execution
    * equals the incremental one. Docs with EMPTY shingle sets can never
    * verify under minJaccard > 0 — they pass through unflagged and are
    * NOT stored in either machine, which keeps the degenerate
    * all-null-signature buckets ("0_", "1_", …) from accumulating every
    * empty doc in the corpus.
    *
    * Exact redelivery (Kafka at-least-once) is tolerated by
    * construction: a redelivered carrier re-stores the SAME gram set
    * (idempotent overwrite; duplicate bucket ids only duplicate probes,
    * whose verdicts OR). Two DIFFERENT documents sharing a doc_id in
    * one batch fail LOUD in the gram machine (conflicting gram sets) —
    * the id is the store's key, so the collision would otherwise
    * silently corrupt every later verify against it.
    *
    * `maxBucket` is the house FAIL-LOUD bound (Dedup.jaccardAllPairs'
    * convention) on one bucket's membership: a bucket past it means the
    * banding no longer bounds per-arrival verify work — raise it
    * deliberately or re-band (more rows per band); never silent.
    * `probeMeter`, when set, accumulates the number of state members
    * LOADED per bucket invocation — the probe-input gauge
    * FunnelScaleSpec asserts does not grow with the accumulated corpus.
    *
    * `stateTtlMs`: processing-time TTL on BOTH stores — a bucket idle
    * longer than the TTL forgets its member ids, and a stored doc whose
    * gram entry goes untouched (no carrier, no probe targeting it)
    * expires independently; a probe that finds its member's grams
    * expired counts as NOT a dup (the member is past the horizon — the
    * TTL trade, member-grained). With no TTL (the funnel's
    * oracle-checked form) a probe with no stored grams is an invariant
    * violation and fails loud. Any arrival touching a bucket or a gram
    * entry re-arms that entry's TTL. */
  def bandKeepFirst(probes: Dataset[BandProbe], minJaccard: Double,
                    maxBucket: Int,
                    probeMeter: Option[org.apache.spark.util.LongAccumulator]
                      = None,
                    stateTtlMs: Option[Long] = None): Dataset[BandVerdict] = {
    require(minJaccard > 0,
      s"bandKeepFirst needs minJaccard > 0 (empty gram sets must never " +
        s"verify); got $minJaccard")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val cands = probes.groupByKey(_.bucket).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs))(
      bucketWalkOrExpire(minJaccard, maxBucket, probeMeter, stateTtlMs))
    cands.groupByKey(_.gkey).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs))(
      gramWalkOrExpire(minJaccard, stateTtlMs))
  }

  /** One row of pre-aggregated bucket membership for bandKeepFirstSeeded:
    * the bucket's member doc ids, ASCENDING (ids only — the gram sets
    * seed the doc-keyed gram store via GramSeed rows). */
  case class BandBucketSeed(bucket: String, ids: Array[Long])
  implicit val bandSeedEnc: Encoder[BandBucketSeed] =
    Encoders.product[BandBucketSeed]

  /** bandKeepFirst with PRE-SEEDED state in BOTH machines —
    * keepFirstSeeded's twin for the standing band index: `bucketSeeds`
    * carries one row per bucket of already-ingested history (member ids
    * ascending) and `gramSeeds` one row per stored doc (its gram set) —
    * FunnelPipeline.bandSeeds builds both from a corpus frame with the
    * SAME staging expressions the stream side uses — installed as
    * initial GroupState before the first batch. A near-dup of history
    * then drops exactly as if the original checkpoint had survived —
    * the operational answer to a lost checkpoint or a re-banding
    * (changed k/bands/rows invalidates old state; re-derive the seeds
    * from the corpus under the NEW parameters and start fresh).
    * Ignored on restarts that still hold state. */
  def bandKeepFirstSeeded(probes: Dataset[BandProbe], minJaccard: Double,
                          maxBucket: Int, bucketSeeds: Dataset[BandBucketSeed],
                          gramSeeds: Dataset[GramSeed],
                          probeMeter: Option[org.apache.spark.util.LongAccumulator]
                            = None,
                          stateTtlMs: Option[Long] = None)
      : Dataset[BandVerdict] = {
    require(minJaccard > 0,
      s"bandKeepFirstSeeded needs minJaccard > 0; got $minJaccard")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val cands = probes.groupByKey(_.bucket).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs),
      bucketSeeds.groupByKey(_.bucket).mapValues(s => BandBucketState(s.ids)))(
      bucketWalkOrExpire(minJaccard, maxBucket, probeMeter, stateTtlMs))
    cands.groupByKey(_.gkey).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf(stateTtlMs),
      gramSeeds.groupByKey(_.gkey).mapValues(s => GramState(s.sh)))(
      gramWalkOrExpire(minJaccard, stateTtlMs))
  }

  private def bucketWalkOrExpire(minJaccard: Double, maxBucket: Int,
                                 probeMeter: Option[org.apache.spark.util.LongAccumulator],
                                 stateTtlMs: Option[Long])
      : (String, Iterator[BandProbe], GroupState[BandBucketState]) =>
        Iterator[BandCand] =
    (bucket: String, it: Iterator[BandProbe],
     state: GroupState[BandBucketState]) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty[BandCand] }
      else bucketWalk(bucket, it, state, minJaccard, maxBucket, probeMeter,
        stateTtlMs)

  /** One group invocation of the BUCKET machine's walk: intra-batch
    * verify in place (both gram sets at hand), one probe row per
    * (stored member < arriving doc) for the gram machine, ids-only
    * state append. */
  private def bucketWalk(bucket: String, it: Iterator[BandProbe],
                         state: GroupState[BandBucketState],
                         minJaccard: Double, maxBucket: Int,
                         probeMeter: Option[org.apache.spark.util.LongAccumulator],
                         stateTtlMs: Option[Long]): Iterator[BandCand] = {
    val rows = it.toArray.sortBy(_.doc_id)
    val stIds = state.getOption.map(_.ids).getOrElse(Array.emptyLongArray)
    probeMeter.foreach(_.add(stIds.length))
    val localIds = ArrayBuffer.empty[Long]
    val localShs = ArrayBuffer.empty[
      org.apache.spark.sql.catalyst.util.GenericArrayData]
    val out = ArrayBuffer.empty[BandCand]
    rows.foreach { r =>
      var intra = false
      if (r.sh.nonEmpty) {
        // an exact redelivery adjacent in the sorted batch: the first
        // copy already stored, probed, and verified — skip the repeats
        val isAdjacentDup = localIds.nonEmpty && localIds.last == r.doc_id
        val rsh =
          new org.apache.spark.sql.catalyst.util.GenericArrayData(r.sh)
        var i = 0
        while (!intra && i < localIds.length) {
          if (localIds(i) < r.doc_id &&
              graft.expressions.HashKernels.jaccardDistinct(
                localShs(i), rsh) >= minJaccard) intra = true
          i += 1
        }
        if (!intra && !isAdjacentDup) {
          var j = 0
          while (j < stIds.length) {
            if (stIds(j) < r.doc_id)
              out += BandCand(stIds(j), r.doc_id, null, null,
                is_first = false, near_dup = false, KindProbe, r.sh)
            j += 1
          }
        }
        if (!isAdjacentDup) { localIds += r.doc_id; localShs += rsh }
      }
      if (r.carrier)
        out += BandCand(r.doc_id, r.doc_id, r.lang, r.text, r.is_first,
          near_dup = intra, KindCarrier, r.sh)
      else if (intra)
        out += BandCand(r.doc_id, r.doc_id, null, null, is_first = false,
          near_dup = true, KindFlag, Array.emptyLongArray)
    }
    val total = stIds.length + localIds.length
    if (total > maxBucket) throw new IllegalStateException(
      s"band bucket '$bucket' holds $total members (> " +
        s"maxBucket=$maxBucket) — per-arrival verify work in this " +
        "bucket now grows with the corpus. Raise maxBucket " +
        "deliberately or re-band (more rows per band).")
    if (localIds.nonEmpty)
      state.update(BandBucketState(stIds ++ localIds))
    if (state.exists) stateTtlMs.foreach(state.setTimeoutDuration)
    out.iterator
  }

  private def gramWalkOrExpire(minJaccard: Double, stateTtlMs: Option[Long])
      : (Long, Iterator[BandCand], GroupState[GramState]) =>
        Iterator[BandVerdict] =
    (gkey: Long, it: Iterator[BandCand], state: GroupState[GramState]) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty[BandVerdict] }
      else gramWalk(gkey, it, state, minJaccard, stateTtlMs)

  /** One group invocation of the doc-keyed GRAM machine: store the
    * carrier's gram set (once — the whole point), verify the probes
    * against the stored member's grams, pass intra-batch flags through.
    * Carriers process FIRST: in batch mode a probe's target doc arrives
    * in the same invocation, and its grams must be stored before the
    * verify. */
  private def gramWalk(gkey: Long, it: Iterator[BandCand],
                       state: GroupState[GramState], minJaccard: Double,
                       stateTtlMs: Option[Long]): Iterator[BandVerdict] = {
    val rows = it.toArray
    val out = ArrayBuffer.empty[BandVerdict]
    val carriers = rows.filter(_.kind == KindCarrier)
    if (carriers.nonEmpty) {
      val c0 = carriers.head
      carriers.iterator.drop(1).foreach { c =>
        if (!java.util.Arrays.equals(c.sh, c0.sh))
          throw new IllegalStateException(
            s"two DIFFERENT documents share doc_id $gkey in one batch — " +
              "the doc id keys the gram store, so the collision would " +
              "silently corrupt later near-dup verifies. Exact " +
              "redeliveries are fine; distinct contents must not share " +
              "an id.")
      }
      if (c0.sh.nonEmpty) {
        // cross-batch: a redelivery re-stores the same grams (idempotent);
        // a DIFFERENT doc under a stored id is the same corruption as the
        // in-batch case and fails loud — except under a TTL, where an id
        // reused past the horizon legitimately overwrites
        state.getOption.foreach { g =>
          if (stateTtlMs.isEmpty && !java.util.Arrays.equals(g.sh, c0.sh))
            throw new IllegalStateException(
              s"doc_id $gkey re-arrived with DIFFERENT content than its " +
                "stored gram set — ids must be stable per content " +
                "(exact redeliveries are fine)")
        }
        state.update(GramState(c0.sh))
      }
      out += BandVerdict(c0.doc_id, c0.lang, c0.text,
        carriers.exists(_.is_first), carriers.exists(_.near_dup),
        carrier = true)
    }
    rows.foreach { r =>
      if (r.kind == KindFlag)
        out += BandVerdict(r.doc_id, null, null, is_first = false,
          near_dup = true, carrier = false)
      else if (r.kind == KindProbe) state.getOption match {
        case Some(g) =>
          if (graft.expressions.HashKernels.jaccardDistinct(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(g.sh),
              new org.apache.spark.sql.catalyst.util.GenericArrayData(r.sh))
              >= minJaccard)
            out += BandVerdict(r.doc_id, null, null, is_first = false,
              near_dup = true, carrier = false)
        case None =>
          // with a TTL the member's grams expired — past the horizon,
          // not a dup (the bucket id may outlive the gram entry; the
          // verdict is the same as if the bucket had expired first)
          if (stateTtlMs.isEmpty) throw new IllegalStateException(
            s"probe for member $gkey found no stored gram set — the " +
              "bucket index and the gram store disagree (invariant " +
              "violation: every stored bucket member's carrier stored " +
              "its grams in the same trigger)")
      }
    }
    if (state.exists) stateTtlMs.foreach(state.setTimeoutDuration)
    out.iterator
  }

  implicit val timedHashedDocEnc: Encoder[TimedHashedDoc] =
    Encoders.product[TimedHashedDoc]
  implicit val timedGatedDocEnc: Encoder[TimedGatedDoc] =
    Encoders.product[TimedGatedDoc]

  /** Exact dedup bounded by an EVENT-TIME horizon — the
    * replay-deterministic form of keepFirst's `stateTtlMs`. The
    * processing-time TTL expires state by WALL clock, so a historical
    * backfill ages dedup state by replay speed: the same events replayed
    * faster re-admit fewer dups. Here the verdict is decided by
    * event-time arithmetic IN THE WALK — a doc is admitted (`is_first`)
    * iff its fingerprint was never seen or last seen more than
    * `horizonMs` EARLIER BY EVENT TIME — so the keep/drop decisions
    * depend only on the event sequence, not on how triggers grouped it
    * (EventTtlSpec pins grouping-invariance). Every arrival refreshes
    * the horizon anchor (last SEEN, the TTL re-arm rule), which is what
    * makes the batch lag() twin exact (StatefulTwins.horizonKeepFirst —
    * the same DuckDB oracle checks both).
    *
    * The EventTimeTimeout timer is pure GARBAGE COLLECTION, never the
    * verdict: state drops when the watermark passes
    * lastSeen + horizon + delay, and any event arriving after that has
    * ts ≥ watermark − delay > lastSeen + horizon (rows later than
    * `delayMs` behind the max event time are dropped by the watermark),
    * so it would have been admitted with the state present too — GC
    * cannot change a verdict. Out-of-order arrivals WITHIN the delay
    * follow arrival order across triggers (the transitionPairs
    * contract); in-order streams are fully grouping-invariant. */
  def keepFirstEventTime(docs: Dataset[TimedHashedDoc], horizonMs: Long,
                         delayMs: Long): Dataset[TimedGatedDoc] = {
    require(horizonMs > 0, s"horizonMs must be > 0, got $horizonMs")
    require(delayMs >= 0, s"delayMs must be >= 0, got $delayMs")
    docs.toDF()
      .withColumn("_ets", timestamp_millis(col("tsMs")))
      .withWatermark("_ets", s"$delayMs milliseconds")
      .as[TimedHashedDoc]
      .groupByKey(_.th).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[TimedHashedDoc], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var last = state.getOption.getOrElse(Long.MinValue)
            val out = it.toArray.sortBy(d => (d.tsMs, d.doc_id)).map { d =>
              val first = last == Long.MinValue || d.tsMs - last > horizonMs
              last = math.max(last, d.tsMs)
              TimedGatedDoc(d.doc_id, d.lang, d.text, d.tsMs, first)
            }
            state.update(last)
            armEventGc(state, last + horizonMs + delayMs + 1)
            out.iterator
          }
      }
  }

  /** The current watermark, or Long.MinValue in BATCH mode (batch
    * execution wires no watermark into GroupState and the accessor
    * throws — there, nothing ever expires, which is exactly the
    * one-shot semantics the oracle checks). */
  private def watermarkOrMin(state: GroupState[_]): Long =
    try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => Long.MinValue }

  /** Arm an event-time GC timer, clamped above the current watermark
    * (Spark rejects timeout timestamps at or below it). Batch mode
    * ignores timeouts — skip arming there. */
  private def armEventGc(state: GroupState[_], targetMs: Long): Unit = {
    val wm = watermarkOrMin(state)
    if (wm != Long.MinValue)
      state.setTimeoutTimestamp(math.max(targetMs, wm + 1))
  }

  /** Streaming form of CoreOps.transitionMatrix's pair extraction: per key,
    * remember the last event's kind in state; each new event emits the
    * (from, to) transition from its predecessor — across micro-batches, so
    * a key's first event in batch N+1 continues the chain from batch N
    * (exactly what a lag() over the whole history computes in batch mode).
    * Counting/normalizing into the matrix happens downstream as a plain
    * streaming-compatible aggregate. In batch mode each key arrives in one
    * sorted invocation, so the emitted pair multiset equals the batch lag
    * twin's — the SAME DuckDB oracle checks both (q_transitions /
    * q_transitions_stream). State is ONE LastSeen per key, TTL-boundable
    * like every machine here. */
  def transitionPairs(events: Dataset[KeyedEvent],
                      stateTtlMs: Option[Long] = None): Dataset[TransitionPair] =
    walk[KeyedEvent, LastSeen, TransitionPair](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var last = prior
        batch.foreach { e =>
          last.foreach(prev => out += TransitionPair(key, prev.kind, e.kind))
          last = Some(LastSeen(e.kind, e.tsMs))
        }
        last
    }

  implicit val funnelStateEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
  implicit val funnelCompletionEnc: Encoder[FunnelCompletion] =
    Encoders.product[FunnelCompletion]

  /** Streaming form of CoreOps.funnel: per key, state is just the stage
    * times completed so far; an event advances the funnel iff it matches
    * the NEXT stage's kind and is strictly later than the previous stage
    * time; completing the last stage emits (key, times) once and freezes
    * the key. With `maxGapMs` set it is the streaming form of
    * CoreOps.funnelTimed instead: the event must ALSO land within the
    * deadline of the previous stage time or the walk does not advance
    * (first-match-wins, the batch twin's greedy contract). In batch mode
    * every key's events arrive in one sorted invocation, so the output
    * equals the matching batch funnel exactly (the same oracle checks
    * both). On a live stream, arrival order governs across micro-batches
    * like the other machines here: a late-arriving EARLIER first-stage
    * event cannot retract an already-advanced funnel — the standard
    * append-mode trade, documented rather than hidden. */
  def funnelStages(events: Dataset[KeyedEvent], stages: Seq[String],
                   stateTtlMs: Option[Long] = None,
                   maxGapMs: Option[Long] = None): Dataset[FunnelCompletion] = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got ${stages.size}")
    require(maxGapMs.forall(_ > 0),
      s"maxGapMs must be positive, got $maxGapMs")
    walk[KeyedEvent, FunnelState, FunnelCompletion](events, stateTtlMs) {
      (key, prior, batch, out) =>
        val st = prior.getOrElse(FunnelState(Nil, done = false))
        var times = st.times
        var done = st.done
        batch.foreach { e =>
          if (!done && e.kind == stages(times.size) &&
              (times.isEmpty || (e.tsMs > times.last &&
                maxGapMs.forall(g => e.tsMs - times.last <= g)))) {
            times = times :+ e.tsMs
            if (times.size == stages.size) {
              done = true
              out += FunnelCompletion(key, times)
            }
          }
        }
        Some(FunnelState(times, done))
    }
  }

  implicit val sessionFunnelStateEnc: Encoder[SessionFunnelState] =
    Encoders.product[SessionFunnelState]
  implicit val transition2Enc: Encoder[Transition2] =
    Encoders.product[Transition2]
  implicit val lastTwoEnc: Encoder[LastTwo] = Encoders.product[LastTwo]

  /** Session-boundary-aware streaming funnel — the streaming twin of the
    * batch `sessionize ∘ funnel` composition (q_session_funnel): per USER
    * key, the state carries the current session index and last event time;
    * an event more than `gapMs` after its predecessor OPENS A NEW SESSION
    * (resetting the funnel walk), exactly the silence-gap rule the batch
    * sessionize's lag-scan applies, and the funnel itself is funnelStages'
    * greedy walk confined to the current session. Completions emit the
    * composite "user:sessionSeq" key — the same `skey` the batch twin
    * builds — so the SAME DuckDB oracle checks both: in batch mode each
    * user's whole history arrives in one sorted invocation and the session
    * indices reproduce the lag-scan's 1-based running boundary count.
    *
    * State per key is O(stages) regardless of stream length (no event
    * buffer — just the gap anchor and the stage times), and the TTL bound
    * applies as usual. On a live stream, arrival order governs across
    * micro-batches (the funnelStages contract): an out-of-order event
    * arriving after a later event already moved the gap anchor sees a
    * non-positive gap and stays in the current session — the append-mode
    * trade, documented rather than hidden. */
  def sessionFunnelStages(events: Dataset[KeyedEvent], stages: Seq[String],
                          gapMs: Long, stateTtlMs: Option[Long] = None)
      : Dataset[FunnelCompletion] = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got ${stages.size}")
    require(gapMs > 0, s"gapMs must be positive, got $gapMs")
    walk[KeyedEvent, SessionFunnelState, FunnelCompletion](events,
        stateTtlMs) { (key, prior, batch, out) =>
      var st = prior.getOrElse(SessionFunnelState(0L, 0L, Nil, done = false))
      batch.foreach { e =>
        // silence gap ⇒ new session: bump the index, reset the walk
        // (sessionSeq 0 is the "never seen" sentinel ⇒ first session)
        val st1 =
          if (st.sessionSeq == 0L || e.tsMs - st.lastTs > gapMs)
            SessionFunnelState(st.sessionSeq + 1L, e.tsMs, Nil, done = false)
          else st
        var times = st1.times
        var done = st1.done
        if (!done && e.kind == stages(times.size) &&
            (times.isEmpty || e.tsMs > times.last)) {
          times = times :+ e.tsMs
          if (times.size == stages.size) {
            done = true
            out += FunnelCompletion(s"$key:${st1.sessionSeq}", times)
          }
        }
        st = SessionFunnelState(st1.sessionSeq, e.tsMs, times, done)
      }
      Some(st)
    }
  }

  implicit val streakStateEnc: Encoder[StreakState] =
    Encoders.product[StreakState]
  implicit val streakEndEnc: Encoder[StreakEnd] = Encoders.product[StreakEnd]

  implicit val burstStateEnc: Encoder[BurstState] = Encoders.product[BurstState]
  implicit val burstEndEnc: Encoder[BurstEnd]     = Encoders.product[BurstEnd]

  /** Hysteresis burst detection per key — "when did this user/source go
    * rapid-fire, and for how long?": a burst OPENS when two consecutive
    * events arrive within `loMs` (it starts at the FIRST of the pair),
    * stays open while gaps stay ≤ `hiMs`, and CLOSES — emitting exactly
    * once — at the first gap > `hiMs`. Two thresholds (lo < hi) are the
    * point: a single threshold flaps on traffic hovering near it, the
    * hysteresis band does not. Pure integer gap comparisons ⇒
    * bit-identical on any engine; the oracle replays the walk as a
    * recursive CTE. The still-open final burst NEVER emits (the
    * streakEnds append-safety contract — it closes when a later event
    * proves the gap); a behind-frontier arrival across micro-batches
    * (ts < the key's last seen) is a NO-OP, also the streakEnds rule.
    * State is one fixed-size BurstState per key. Emits
    * (key, start_ms, end_ms, n_events) per CLOSED burst. */
  def burstEnds(events: Dataset[KeyedEvent], loMs: Long, hiMs: Long,
                stateTtlMs: Option[Long] = None): Dataset[BurstEnd] = {
    require(loMs > 0 && hiMs >= loMs,
      s"need 0 < loMs <= hiMs, got lo=$loMs hi=$hiMs")
    walk[KeyedEvent, BurstState, BurstEnd](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.orNull
        batch.foreach { e =>
          if (st == null) {
            st = BurstState(-1L, 0L, e.tsMs)
          } else if (e.tsMs >= st.lastMs) { // behind-frontier: no-op
            val gap = e.tsMs - st.lastMs
            st =
              if (st.bstartMs >= 0L) {
                if (gap <= hiMs) BurstState(st.bstartMs, st.n + 1L, e.tsMs)
                else { // close and emit; gap > hiMs >= loMs never reopens
                  out += BurstEnd(key, st.bstartMs, st.lastMs, st.n)
                  BurstState(-1L, 0L, e.tsMs)
                }
              } else if (gap <= loMs) BurstState(st.lastMs, 2L, e.tsMs)
              else BurstState(-1L, 0L, e.tsMs)
          }
        }
        Option(st)
    }
  }

  /** Streaming CLOSED-streak extraction — the continuous twin of
    * CoreOps.completedStreaks: per key, state is the open run's (first,
    * latest) active day — two longs, however long the stream runs. An
    * event's day (`tsMs` carries the DAY INDEX, not epoch ms — the
    * caller divides once) extends the run if it is the next day, is a
    * no-op if the day is already covered (same day, or an out-of-order
    * arrival behind the frontier — the arrival-order trade, stated), and
    * CLOSES the run if it jumps a gap: the closed streak emits exactly
    * once, append-safe, and a fresh run opens. The still-open run never
    * emits — which is precisely what lets the SAME oracle check this
    * machine in batch mode against completedStreaks (both exclude each
    * key's final island). TTL-boundable like every machine here. */
  def streakEnds(events: Dataset[KeyedEvent],
                 stateTtlMs: Option[Long] = None): Dataset[StreakEnd] =
    walk[KeyedEvent, StreakState, StreakEnd](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.orNull
        batch.foreach { e =>
          val d = e.tsMs
          if (st == null) st = StreakState(d, d)
          else if (d == st.lastDay + 1L) st = StreakState(st.startDay, d)
          else if (d > st.lastDay + 1L) {
            out += StreakEnd(key, st.startDay, st.lastDay,
              st.lastDay - st.startDay + 1L)
            st = StreakState(d, d)
          } // d <= lastDay: day already covered / behind the frontier
        }
        Option(st)
    }

  /** Second-order streaming transitions — transitionPairs one lag deeper:
    * per key, state is the last TWO event kinds; each event with two
    * predecessors emits (key, from2, from1, to), the exact triple the
    * batch lag(2)/lag(1) window pair produces, continued across
    * micro-batches. In batch mode each key arrives in one sorted
    * invocation, so the triple multiset equals the batch twin's and the
    * SAME DuckDB oracle checks both (q_transitions2 /
    * q_transitions2_stream). State is ONE LastTwo per key. */
  def transitionPairs2(events: Dataset[KeyedEvent],
                       stateTtlMs: Option[Long] = None): Dataset[Transition2] =
    walk[KeyedEvent, LastTwo, Transition2](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var last = prior
        batch.foreach { e =>
          last.foreach { lt =>
            if (lt.k1 != null) out += Transition2(key, lt.k1, lt.k2, e.kind)
          }
          last = Some(LastTwo(last.map(_.k2).orNull, e.kind, e.tsMs))
        }
        last
    }

  /** Per-key action-duration tracker
    * (chapter6_exercise/AnalyzeBrowserEvents.java:115-181): on each event,
    * unless state is empty or the event is a `loginKind`, emit
    * (key, lastAction, now - lastStart); a `logoutKind` clears the state
    * (session end), anything else replaces it with the current event. */
  def actionDurations(events: Dataset[KeyedEvent], loginKind: String,
                      logoutKind: String,
                      stateTtlMs: Option[Long] = None): Dataset[ActionDuration] =
    walk[KeyedEvent, LastSeen, ActionDuration](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var last = prior
        batch.foreach { e =>
          last.foreach { prev =>
            if (e.kind != loginKind)
              out += ActionDuration(key, prev.kind, e.tsMs - prev.tsMs)
          }
          last = if (e.kind == logoutKind) None else Some(LastSeen(e.kind, e.tsMs))
        }
        last
    }

  implicit val ewmaStateEnc: Encoder[EwmaState]       = Encoders.product[EwmaState]
  implicit val ewmaSnapshotEnc: Encoder[EwmaSnapshot] = Encoders.product[EwmaSnapshot]
  implicit val holtStateEnc: Encoder[HoltState]       = Encoders.product[HoltState]
  implicit val hwStateEnc: Encoder[HwState]           = Encoders.product[HwState]
  implicit val hwSnapshotEnc: Encoder[HwSnapshot]     = Encoders.product[HwSnapshot]
  implicit val holtSnapshotEnc: Encoder[HoltSnapshot] = Encoders.product[HoltSnapshot]
  implicit val bucketStateEnc: Encoder[BucketState]   = Encoders.product[BucketState]
  implicit val throttleDecisionEnc: Encoder[ThrottleDecision] =
    Encoders.product[ThrottleDecision]

  /** Per-key token-bucket throttle by EVENT time — the deterministic
    * rate-limiter/sampler every ingest pipeline eventually needs (cap a
    * chatty key at sustained R with bursts up to C, and make the SAME
    * admit/reject decisions on backfill and on the live stream). The
    * walk is pure integer arithmetic in micro-tokens:
    *   first event:  avail = C·10⁶ (a full bucket)
    *   each event:   avail' = min(C·10⁶, avail + (Δms·refillNum) div refillDen)
    *                 admitted ⇔ avail' ≥ 10⁶; spend 10⁶ if admitted
    * (refillNum/refillDen = micro-tokens per ms; 1 token/hour = 5/18).
    * Δms clamps at 0 for behind-frontier arrivals across micro-batches
    * (no refill from the past, no negative refill — the transitionPairs
    * arrival-order contract), and the clock itself advances
    * MONOTONICALLY — lastMs = max(lastMs, tsMs) — so a late arrival can
    * never rewind the frontier and let the next in-order event collect
    * refill for a span the bucket already lived through; within an
    * invocation events walk in
    * (tsMs, tiebreak) order, so batch mode replays the exact trajectory
    * and the DuckDB oracle reproduces every decision as a recursive
    * CTE. State is one fixed-size BucketState per key; Δ·refillNum
    * overflows fail LOUD via multiplyExact (Δ to ~9·10¹⁸/refillNum ms).
    * Emits one decision per event (append). */
  def tokenBucket(events: Dataset[KeyedEvent], capacityTokens: Int,
                  refillNum: Long, refillDen: Long,
                  stateTtlMs: Option[Long] = None)
      : Dataset[ThrottleDecision] = {
    require(capacityTokens >= 1,
      s"capacityTokens must be >= 1, got $capacityTokens")
    require(refillNum > 0 && refillDen > 0,
      s"refill rate must be positive, got $refillNum/$refillDen")
    val capMicro = Math.multiplyExact(capacityTokens.toLong, 1000000L)
    val tokenMicro = 1000000L
    walk[KeyedEvent, BucketState, ThrottleDecision](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.orNull
        batch.foreach { e =>
          val refilled =
            if (st == null) capMicro
            else {
              val delta = math.max(e.tsMs - st.lastMs, 0L)
              math.min(capMicro, Math.addExact(st.availMicro,
                Math.multiplyExact(delta, refillNum) / refillDen))
            }
          val admitted = refilled >= tokenMicro
          val avail = refilled - (if (admitted) tokenMicro else 0L)
          out += ThrottleDecision(key, e.tiebreak, e.tsMs, admitted, avail)
          // the clock advances MONOTONICALLY: a behind-frontier arrival
          // across micro-batches already had its refill delta clamped to
          // 0, so rewinding lastMs to its tsMs would re-credit the span
          // [tsMs, lastMs] to the NEXT in-order event — double-refilling
          // the bucket (the burstEnds strict-no-op rule for the clock)
          st = BucketState(
            if (st == null) e.tsMs else math.max(st.lastMs, e.tsMs), avail)
        }
        Option(st)
    }
  }

  /** Per-key exponentially weighted moving average as an INTEGER
    * recurrence — the recency-weighted level gauge (typical spend now,
    * not lifetime average) that no window function can express exactly,
    * because each step divides truncating-ly:
    *   s₁ = v₁·valueScale
    *   sₙ = (αNum·vₙ·valueScale + (αDen−αNum)·sₙ₋₁) div αDen
    * (adjust=false / recursive form, α = αNum/αDen). Everything is
    * int64, so the trajectory is bit-identical on any engine — the
    * DuckDB oracle replays the same recurrence as a recursive CTE.
    * Emits ONE snapshot per key PER INVOCATION (current n, last event
    * ms, scaled ewma): in batch mode each key's whole history arrives
    * in one sorted invocation, so the output is the per-key FINAL ewma
    * and the recursive-CTE oracle checks it exactly; on a live stream
    * each micro-batch appends the key's current snapshot (the
    * update-gauge reading). State is one fixed-size EwmaState per key.
    * Negative values are fine (Long `/` and DuckDB `//` both truncate
    * toward zero); overflow of αDen·|s| fails LOUD via multiplyExact —
    * keep |v|·valueScale·αDen under 2⁶³ (cents at valueScale 10⁶ admit
    * |v| to ~10⁹ cents with αDen 8). */
  def ewmaSnapshots(events: Dataset[ValuedEvent], alphaNum: Int,
                    alphaDen: Int, valueScale: Long = 1000000L,
                    stateTtlMs: Option[Long] = None)
      : Dataset[EwmaSnapshot] = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      s"need 0 < alphaNum <= alphaDen, got $alphaNum/$alphaDen")
    require(valueScale >= 1L, s"valueScale must be >= 1, got $valueScale")
    walk[ValuedEvent, EwmaState, EwmaSnapshot](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(EwmaState(0L, 0L, 0L))
        batch.foreach { e =>
          val vs = Math.multiplyExact(e.value, valueScale)
          val s2 =
            if (st.n == 0L) vs
            else Math.addExact(Math.multiplyExact(alphaNum.toLong, vs),
              Math.multiplyExact((alphaDen - alphaNum).toLong, st.s)) /
              alphaDen
          st = EwmaState(Math.addExact(st.n, 1L), e.tsMs, s2)
        }
        out += EwmaSnapshot(key, st.n, st.lastMs, st.s)
        Some(st)
    }
  }

  implicit val kmvStateEnc: Encoder[KmvState] = Encoders.product[KmvState]
  implicit val kmvSnapshotEnc: Encoder[KmvSnapshot] =
    Encoders.product[KmvSnapshot]
  implicit val sprtStateEnc: Encoder[SprtState] = Encoders.product[SprtState]
  implicit val sprtDecisionEnc: Encoder[SprtDecision] =
    Encoders.product[SprtDecision]

  /** Wald's sequential probability ratio test (Wald 1945) per key — the
    * CONTINUOUS-monitoring experiment verdict: instead of a fixed-n test
    * read once (q_ab_test's z), each key walks its own running
    * log-likelihood ratio and emits ONE decision the moment the
    * evidence clears a threshold: accept_h1 at llr ≥ acceptH1Ppm
    * (≈ ln((1−β)/α)·10⁶), accept_h0 at llr ≤ acceptH0Ppm
    * (≈ ln(β/(1−α))·10⁶) — the peeking-safe sequential design, with
    * the decided key FROZEN after (the stopping rule; the funnel
    * freeze idiom). The per-event increments are CALLER-SUPPLIED ppm
    * integer constants (incSuccessPpm ≈ ln(p₁/p₀)·10⁶, incFailPpm ≈
    * ln((1−p₁)/(1−p₀))·10⁶ — computed once at plan time from the
    * hypothesized rates), so the whole walk is exact BIGINT addition:
    * any engine replays it as a plain partitioned prefix sum, which is
    * exactly how the q_sprt_stream oracle checks this machine's
    * batch-mode run. State is one (n, llr, done) triple per key,
    * TTL-boundable. Emits at most one row per key
    * (key, tiebreak, decision_ms, n_events, llr_ppm, decision). */
  def sprtDecisions(events: Dataset[KeyedEvent], successKind: String,
                    incSuccessPpm: Long, incFailPpm: Long,
                    acceptH1Ppm: Long, acceptH0Ppm: Long,
                    stateTtlMs: Option[Long] = None)
      : Dataset[SprtDecision] = {
    require(acceptH1Ppm > 0L && acceptH0Ppm < 0L,
      s"thresholds must straddle 0 (got H1 $acceptH1Ppm, H0 $acceptH0Ppm)")
    require(incSuccessPpm > 0L && incFailPpm < 0L,
      s"increments must have opposite signs for the walk to decide both " +
        s"ways (got success $incSuccessPpm, fail $incFailPpm)")
    walk[KeyedEvent, SprtState, SprtDecision](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(SprtState(0L, 0L, done = false))
        batch.foreach { e =>
          if (!st.done) {
            val inc = if (e.kind == successKind) incSuccessPpm
                      else incFailPpm
            val llr = Math.addExact(st.llr, inc)
            val n = Math.addExact(st.n, 1L)
            val decision =
              if (llr >= acceptH1Ppm) "accept_h1"
              else if (llr <= acceptH0Ppm) "accept_h0"
              else null
            if (decision != null)
              out += SprtDecision(key, e.tiebreak, e.tsMs, n, llr, decision)
            st = SprtState(n, llr, decision != null)
          }
        }
        Some(st)
    }
  }

  /** Per-key STREAMING KMV distinct sketch — `Sketches.kmvDistinct`'s
    * state-machine form, and the sketch tier's proof that it streams:
    * state is the k smallest distinct md5Int hashes of the values seen
    * (k longs, a plan constant — never value-proportional, unlike exact
    * streaming distinct whose state grows with the key's value universe).
    * The k-minima SET is arrival-order independent, so cross-batch
    * replay, late data, and any shuffle ordering all land on the SAME
    * final sketch — the strongest parity property any machine here has;
    * the oracle-checked batch twin (distinct → per-key row_number ≤ k)
    * reads the identical integers. Estimate algebra is kmvEstimate's
    * verbatim: exact m below k, ((k−1)·2³²) div h₍ₖ₎ at k (Long `/`
    * truncates like the SQL div; hashes are positive). Hashing the
    * VALUE's canonical decimal string = `md5Int(CAST(v AS STRING))` on
    * the batch side — Long.toString and SQL bigint→varchar agree on
    * every value including negatives. Emits ONE snapshot per key per
    * invocation (key, n_events, n_sketch, est_distinct): batch mode →
    * the final per-key sketch; a live stream appends the current
    * reading per micro-batch. */
  def kmvSnapshots(events: Dataset[ValuedEvent], k: Int,
                   stateTtlMs: Option[Long] = None): Dataset[KmvSnapshot] = {
    require(k >= 2, s"sketch size k must be >= 2, got $k")
    walk[ValuedEvent, KmvState, KmvSnapshot](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(KmvState(0L, Vector.empty))
        batch.foreach { e =>
          val h = graft.expressions.Md5Hash.first32(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(e.value.toString))
          val mins = st.mins
          val next =
            if (mins.contains(h)) mins
            else if (mins.size < k) (mins :+ h).sorted
            else if (h < mins.last) ((mins :+ h).sorted).take(k)
            else mins
          st = KmvState(Math.addExact(st.n, 1L), next)
        }
        val m = st.mins.size.toLong
        val est = if (m < k) m else ((k - 1L) * 4294967296L) / st.mins.last
        out += KmvSnapshot(key, st.n, m, est)
        Some(st)
    }
  }

  /** Per-key Holt double-exponential smoothing (level + trend) as an
    * INTEGER recurrence — ewmaSnapshots' forecasting sibling: where EWMA
    * tracks the recency-weighted LEVEL, Holt also tracks its SLOPE, so
    * each snapshot carries a one-step-ahead forecast (the anomaly
    * baseline and capacity-planning gauge a trending series needs —
    * EWMA systematically lags a ramp; Holt doesn't):
    *   l₁ = v₁·valueScale, b₁ = 0
    *   lₙ = (αNum·vₙ·valueScale + (αDen−αNum)·(lₙ₋₁ + bₙ₋₁)) div αDen
    *   bₙ = (βNum·(lₙ − lₙ₋₁) + (βDen−βNum)·bₙ₋₁) div βDen
    * Everything is int64 (Long `/` and DuckDB `//` both truncate toward
    * zero — negative trends stay bit-identical), so the trajectory
    * replays exactly as a recursive CTE. Emits ONE snapshot per key PER
    * INVOCATION (n, last ms, level, trend, forecast = l + b): batch mode
    * delivers each key's whole history in one sorted invocation → the
    * per-key FINAL state, oracle-checked; a live stream appends the
    * current reading per micro-batch. State is one fixed-size HoltState
    * per key; overflow fails LOUD via multiplyExact/addExact (keep
    * |v|·valueScale·αDen under 2⁶³). */
  def holtSnapshots(events: Dataset[ValuedEvent], alphaNum: Int,
                    alphaDen: Int, betaNum: Int, betaDen: Int,
                    valueScale: Long = 1000000L,
                    stateTtlMs: Option[Long] = None)
      : Dataset[HoltSnapshot] = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      s"need 0 < alphaNum <= alphaDen, got $alphaNum/$alphaDen")
    require(betaDen > 0 && betaNum > 0 && betaNum <= betaDen,
      s"need 0 < betaNum <= betaDen, got $betaNum/$betaDen")
    require(valueScale >= 1L, s"valueScale must be >= 1, got $valueScale")
    walk[ValuedEvent, HoltState, HoltSnapshot](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(HoltState(0L, 0L, 0L, 0L))
        batch.foreach { e =>
          val vs = Math.multiplyExact(e.value, valueScale)
          st =
            if (st.n == 0L) HoltState(1L, e.tsMs, vs, 0L)
            else {
              val pred = Math.addExact(st.l, st.b)
              val l2 = Math.addExact(
                Math.multiplyExact(alphaNum.toLong, vs),
                Math.multiplyExact((alphaDen - alphaNum).toLong, pred)) /
                alphaDen
              val b2 = Math.addExact(
                Math.multiplyExact(betaNum.toLong,
                  Math.subtractExact(l2, st.l)),
                Math.multiplyExact((betaDen - betaNum).toLong, st.b)) /
                betaDen
              HoltState(Math.addExact(st.n, 1L), e.tsMs, l2, b2)
            }
        }
        out += HoltSnapshot(key, st.n, st.lastMs, st.l, st.b,
          Math.addExact(st.l, st.b))
        Some(st)
    }
  }

  /** Per-key ADDITIVE Holt-Winters (level + trend + seasonality) as an
    * INTEGER recurrence — holtSnapshots' seasonal sibling, the forecast
    * a daily/weekly-patterned series needs (Holt chases the seasonal
    * swing into its trend; Holt-Winters books it against the recurring
    * component). Seasonality is EVENT-COUNT indexed: the n-th event of a
    * key updates seasonal slot (n−1) mod period (the deterministic
    * convention a replayable oracle needs — wall-clock bucketing would
    * tie the walk to arrival wall time):
    *   n=1:  l = v·S, b = 0, s[·] = 0
    *   n≥2, i = (n−1) mod m, with s_i read BEFORE its update:
    *     l' = (αN·(v·S − s_i) + (αD−αN)·(l + b)) div αD
    *     b' = (βN·(l' − l) + (βD−βN)·b) div βD
    *     s_i' = (γN·(v·S − l') + (γD−γN)·s_i) div γD
    * Snapshot forecast = l' + b' + s[n mod m] (the NEXT slot). Everything
    * int64, `div` truncation on both engines, so the trajectory replays
    * as a recursive CTE carrying the seasonal LIST. Emits ONE snapshot
    * per key per invocation (the holtSnapshots contract — batch mode =
    * the per-key final state, oracle-checked). State is m+4 longs per
    * key; overflow fails LOUD via multiplyExact/addExact. */
  def holtWintersSnapshots(events: Dataset[ValuedEvent], period: Int,
                           alphaNum: Int, alphaDen: Int,
                           betaNum: Int, betaDen: Int,
                           gammaNum: Int, gammaDen: Int,
                           valueScale: Long = 1000000L,
                           stateTtlMs: Option[Long] = None)
      : Dataset[HwSnapshot] = {
    require(period >= 2 && period <= 1024,
      s"need 2 <= period <= 1024, got $period")
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      s"need 0 < alphaNum <= alphaDen, got $alphaNum/$alphaDen")
    require(betaDen > 0 && betaNum > 0 && betaNum <= betaDen,
      s"need 0 < betaNum <= betaDen, got $betaNum/$betaDen")
    require(gammaDen > 0 && gammaNum > 0 && gammaNum <= gammaDen,
      s"need 0 < gammaNum <= gammaDen, got $gammaNum/$gammaDen")
    require(valueScale >= 1L, s"valueScale must be >= 1, got $valueScale")
    walk[ValuedEvent, HwState, HwSnapshot](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(HwState(0L, 0L, 0L, 0L, Seq.empty))
        batch.foreach { e =>
          val vs = Math.multiplyExact(e.value, valueScale)
          st =
            if (st.n == 0L)
              HwState(1L, e.tsMs, vs, 0L, Seq.fill(period)(0L))
            else {
              val idx = (st.n % period).toInt // (n-1) mod m for event n
              val si = st.s(idx)
              val l2 = Math.addExact(
                Math.multiplyExact(alphaNum.toLong,
                  Math.subtractExact(vs, si)),
                Math.multiplyExact((alphaDen - alphaNum).toLong,
                  Math.addExact(st.l, st.b))) / alphaDen
              val b2 = Math.addExact(
                Math.multiplyExact(betaNum.toLong,
                  Math.subtractExact(l2, st.l)),
                Math.multiplyExact((betaDen - betaNum).toLong, st.b)) /
                betaDen
              val s2 = Math.addExact(
                Math.multiplyExact(gammaNum.toLong,
                  Math.subtractExact(vs, l2)),
                Math.multiplyExact((gammaDen - gammaNum).toLong, si)) /
                gammaDen
              HwState(Math.addExact(st.n, 1L), e.tsMs, l2, b2,
                st.s.updated(idx, s2))
            }
        }
        out += HwSnapshot(key, st.n, st.lastMs, st.l, st.b,
          Math.addExact(Math.addExact(st.l, st.b),
            st.s((st.n % period).toInt)))
        Some(st)
    }
  }

  /** Streaming form of CoreOps.expandingAnomaly: per key, state is THREE
    * int64 moments of everything seen so far (count, Σv, Σv²) — fixed-size
    * per key regardless of stream length. Each event is judged against the
    * PRIOR moments with the batch twin's exact-integer predicate
    * (v·n − S)² > k²·(n·SS − S²), evaluated here in BigInt (the executor-
    * side equivalent of the Column form's decimal(38,0) — no rounding can
    * flip a flag), then folded in. The reported z mirrors the batch
    * trunc6 chain operand-for-operand: BigInteger→double and
    * decimal(38,0)→double are both correctly rounded, so batch and stream
    * agree bit-for-bit. In batch mode each key's whole history arrives in
    * one sorted invocation, so the output EQUALS CoreOps.expandingAnomaly
    * and the SAME DuckDB oracle checks both (q_anomaly /
    * q_anomaly_stream). On a live stream, arrival order governs across
    * micro-batches (the transitionPairs contract). State-sum overflow
    * (per-key Σv² past ~9.2·10¹⁸ — |v| beyond the ~3·10⁹-cent grid) fails
    * LOUD via addExact/multiplyExact rather than wrapping into silent
    * wrong flags. */
  def expandingAnomalies(events: Dataset[ValuedEvent], k: Int, minPrior: Int,
                         stateTtlMs: Option[Long] = None)
      : Dataset[AnomalyFlag] = {
    require(k > 0, s"k (σ multiplier) must be positive, got $k")
    require(minPrior >= 2, s"minPrior must be >= 2, got $minPrior")
    walk[ValuedEvent, MomentState, AnomalyFlag](events, stateTtlMs) {
      (key, prior, batch, out) =>
        var st = prior.getOrElse(MomentState(0L, 0L, 0L))
        batch.foreach { e =>
          if (st.n >= minPrior) {
            val dev = BigInt(e.value) * st.n - st.s
            val vr = BigInt(st.n) * st.ss - BigInt(st.s) * st.s
            if (vr > 0 && dev * dev > BigInt(k.toLong * k) * vr) {
              val z = math.floor(dev.toDouble / math.sqrt(vr.toDouble)
                * 1000000d) / 1000000d
              out += AnomalyFlag(key, e.tiebreak, e.tsMs, e.value, st.n, z)
            }
          }
          st = MomentState(Math.addExact(st.n, 1L),
            Math.addExact(st.s, e.value),
            Math.addExact(st.ss, Math.multiplyExact(e.value, e.value)))
        }
        Some(st)
    }
  }

  implicit val asofEventEnc: Encoder[AsofEvent] = Encoders.product[AsofEvent]
  implicit val asofRightEnc: Encoder[AsofRight] = Encoders.product[AsofRight]
  implicit val asofMatchEnc: Encoder[AsofMatch] = Encoders.product[AsofMatch]

  /** Tagged two-sided projection for asofMatches: union the probe side
    * (isLeft = true) with the build side under one canonical shape. */
  def asofEvents(left: DataFrame, lKey: Column, lTsMs: Column,
                 lTiebreak: Column, right: DataFrame, rKey: Column,
                 rTsMs: Column, rTiebreak: Column): Dataset[AsofEvent] =
    left.select(lKey.cast("string").as("key"), lTsMs.cast("long").as("tsMs"),
        lTiebreak.cast("long").as("tiebreak"), lit(true).as("isLeft"))
      .unionByName(right.select(rKey.cast("string").as("key"),
        rTsMs.cast("long").as("tsMs"),
        rTiebreak.cast("long").as("tiebreak"), lit(false).as("isLeft")))
      .as[AsofEvent]

  /** STREAM-STREAM as-of join as a keyed state machine — the last
    * join-family gap between the batch and streaming surfaces
    * (asofJoinEachBatch is stream-static): every LEFT event matches the
    * latest RIGHT event of its key with rts ≤ lts, in O(1) state per key
    * — the state is ONE AsofRight (the (tsMs, tiebreak)-max right seen),
    * never a buffer, because "latest at-or-before" under the in-order
    * contract only ever needs the frontier right. Rights at the SAME
    * (key, ts) collapse to the max tiebreak — exactly the unique-(key,ts)
    * pre-aggregation the batch q_asof_join pipeline applies, so raw
    * right rows can feed the machine directly.
    *
    * Ordering: within an invocation events sort by (tsMs, rights-first,
    * tiebreak) — rights at a timestamp build BEFORE lefts at the same
    * timestamp probe, matching ASOF's ≤ inclusivity — so batch mode
    * replays DuckDB's ASOF LEFT JOIN exactly (the q_asof_join oracle).
    * Across micro-batches arrival order governs (the transitionPairs
    * contract): a behind-frontier LEFT matches the stored right only if
    * that right is still at-or-before it (an older, superseded right is
    * gone — O(1) state is the point; emit-with-NULL, never a wrong
    * future match), and a behind-frontier RIGHT that is not newer than
    * the stored one is a strict no-op. Emits one AsofMatch per LEFT
    * event (append); match_ms/match_tiebreak are NULL when no right
    * qualifies — the LEFT-join convention. */
  def asofMatches(events: Dataset[AsofEvent],
                  stateTtlMs: Option[Long] = None): Dataset[AsofMatch] =
    walk[AsofEvent, AsofRight, AsofMatch](events, stateTtlMs, AsofOrder) {
      (key, prior, batch, out) =>
        var st = prior.orNull
        batch.foreach { e =>
          if (e.isLeft) {
            if (st != null && st.tsMs <= e.tsMs)
              out += AsofMatch(key, e.tiebreak, e.tsMs,
                Some(st.tsMs), Some(st.tiebreak))
            else
              out += AsofMatch(key, e.tiebreak, e.tsMs, None, None)
          } else if (st == null || e.tsMs > st.tsMs
              || (e.tsMs == st.tsMs && e.tiebreak > st.tiebreak)) {
            st = AsofRight(e.tsMs, e.tiebreak)
          }
        }
        Option(st)
    }
}
