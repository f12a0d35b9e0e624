package perfbench

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of a multiset of rows: the row count and the
  * sum of each row's Spark `xxhash64` reduced mod P. Spark computes it with
  * `Digest.columns` inside a foreachBatch sink; the plain-Scala reference
  * computes the same value with `Digest.of`. Only append outputs, where
  * every row is emitted exactly once whatever the batch boundaries, are
  * compared this way. */
final case class Digest(n: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(n + o.n, sum + o.sum)
}

object Digest {
  val P = 1000000007L
  val zero = Digest(0L, 0L)

  def hash(fields: Seq[Any]): Long = {
    val h = fields.foldLeft(42L) {
      case (seed, s: String) => XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)
      case (seed, n: Long) => XxHash64Function.hash(n, LongType, seed)
      case (_, other) => sys.error(s"unsupported digest field $other")
    }
    ((h % P) + P) % P
  }

  def of(rows: Iterable[Seq[Any]]): Digest =
    rows.foldLeft(zero)((d, r) => Digest(d.n + 1, d.sum + hash(r)))

  /** The Spark side: one (count, sum) row for `cols` of `df`. */
  def columns(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Digest = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(cols.map(col): _*), lit(P)))).collect()(0)
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Comparisons that name what differs. Each returns the number of
  * mismatched entries (0 when equal) and a message for the first ones. */
object Compare {
  def maps[K, V](what: String, got: collection.Map[K, V],
                 want: collection.Map[K, V]): (Long, String) = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))
    val n = missing.size + extra.size + wrong.size
    if (n == 0) (0L, "")
    else (n.toLong, s"$what: ${missing.size} missing (e.g. ${missing.take(2).mkString(",")}), " +
      s"${extra.size} extra (e.g. ${extra.take(2).mkString(",")}), " +
      s"${wrong.size} differ (e.g. ${wrong.take(2).map(k => s"$k got ${got(k)} want ${want(k)}").mkString(",")})")
  }

  def digests(what: String, got: Digest, want: Digest): (Long, String) =
    if (got == want) (0L, "")
    else (math.max(1L, math.abs(got.n - want.n)),
      s"$what: got ${got.n} rows (hash ${got.sum}), want ${want.n} rows (hash ${want.sum})")

  def counts(what: String, got: Long, want: Long): (Long, String) =
    if (got == want) (0L, "") else (math.abs(got - want), s"$what: got $got, want $want")
}

/** The plain-Scala reference for `stream_events`, computed from the events
  * the generator delivered. Every value here is invariant under how the
  * events were cut into micro-batches: window counts and sessions are keyed
  * by (key, window), and the state machines see each user's events in
  * (tsMs, id) order however they are batched. */
object StreamRef {
  val Flush = "flush"
  final case class Expected(e1: Map[Long, (Long, Long, Long)],
                            e4: Map[(String, Long), (Long, Long)],
                            e5: Digest,
                            e6: Map[(String, Long), Long],
                            e7: Digest, e8: Digest, late: Long)

  def floorTo(ts: Long, w: Long): Long = Math.floorDiv(ts, w) * w

  def compute(evs: Seq[Ev], e1WinMs: Long, e4GapMs: Long, e5WinMs: Long,
              e6WinMs: Long, e7ThresholdMs: Long): Expected = {
    val onTime = evs.filterNot(_.late)
    val e1 = onTime.groupBy(e => floorTo(e.tsMs, e1WinMs)).map { case (w, es) =>
      w -> ((es.size.toLong, es.map(_.tsMs).min, es.map(_.tsMs).max))
    }
    val e6 = onTime.groupBy(e => (e.user, floorTo(e.tsMs, e6WinMs)))
      .map { case (k, es) => k -> es.size.toLong }
    // sessions: an event at most `gap` after the session's latest event
    // extends it (touching windows merge, the CoreOps.sessionSummary rule)
    // (the flush event's own session never closes, so it is not expected)
    val byUser = onTime.filter(_.user != Flush).groupBy(_.user).map { case (u, es) => u -> es.sortBy(e => (e.tsMs, e.id)) }
    val e4 = byUser.toSeq.flatMap { case (u, es) =>
      val out = collection.mutable.ArrayBuffer.empty[((String, Long), (Long, Long))]
      var start = es.head.tsMs; var last = start; var n = 0L
      es.foreach { e =>
        if (e.tsMs - last > e4GapMs) { out += ((u, start) -> ((n, last))); start = e.tsMs; n = 0L }
        n += 1; last = e.tsMs
      }
      out += ((u, start) -> ((n, last)))
      out
    }.toMap
    // the window join keys on the derived window start, which carries no
    // watermark, so it keeps too-late events (and never evicts state)
    val e5 = evs.filter(e => e.action == "Login" || e.action == "Logout")
      .groupBy(e => (e.user, floorTo(e.tsMs, e5WinMs))).foldLeft(Digest.zero) {
        case (d, ((u, w), es)) =>
          val (l, r) = es.partition(_.action == "Login")
          d + Digest.of(for (a <- l; b <- r) yield Seq(u, w, a.id, b.id))
      }
    // the state machines run without a watermark, so they see every event
    val all = evs.groupBy(_.user).map { case (u, es) => u -> es.sortBy(e => (e.tsMs, e.id)) }
    val e7 = all.foldLeft(Digest.zero) { case (d, (u, es)) =>
      val dels = es.filter(_.operation == "Delete")
      d + Digest.of(dels.zip(dels.drop(1)).collect {
        case (a, b) if b.tsMs - a.tsMs < e7ThresholdMs => Seq(u, b.tsMs, b.tsMs - a.tsMs)
      })
    }
    val e8 = all.foldLeft(Digest.zero) { case (d, (u, es)) =>
      var last: Option[Ev] = None
      val rows = collection.mutable.ArrayBuffer.empty[Seq[Any]]
      es.foreach { e =>
        last.foreach(p => if (e.action != "Login") rows += Seq(u, p.action, e.tsMs - p.tsMs))
        last = if (e.action == "Logout") None else Some(e)
      }
      d + Digest.of(rows)
    }
    Expected(e1, e4, e5, e6, e7, e8, evs.count(_.late).toLong)
  }
}
