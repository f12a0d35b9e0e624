package perfbench

/** One generated event: audit/browser-shaped (the `Generators` domains).
  * `tsMs` is the event time; `dueMs` is when the open-loop schedule says
  * the event is sent, on the same virtual clock. */
final case class Ev(id: Long, user: String, action: String, operation: String,
                    tsMs: Long, dueMs: Long, late: Boolean)

/** Seeded event source for `stream_events`. Everything it emits is a pure
  * function of the seed and the schedule it is asked for (virtual times),
  * never of wall-clock timing, so the same seed gives the same events.
  *
  * Arrival-order contract (the one `StateMachines` documents): each user's
  * events leave the generator in (tsMs, id) order, so disorder exists only
  * across keys. In-bound disorder is a delay below `maxDelayMs`, which is
  * under the queries' lateness, so no in-bound event can be dropped.
  * Too-late events go to their own users and carry event times more than
  * the lateness before the very first event, so every one is dropped by any
  * watermarked operator once a batch has run after the first one (Spark
  * filters late rows against the previous batch's watermark). */
final class EventGen(seed: Long, nUsers: Int, zipfS: Double, maxDelayMs: Long,
                     lateUsers: Int, val lateTsBase: Long) {
  import EventGen._
  private val rng = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nUsers)(k => 1.0 / math.pow(k + 1, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val userNames = Array.tabulate(nUsers)(k => f"u$k%05d")
  private val lateNames = Array.tabulate(lateUsers)(k => f"late$k%03d")
  private val lastTs = Array.fill(nUsers)(Long.MinValue)
  private var nextId = 0L
  private var lateSeq = 0L

  private def zipf(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, nUsers - 1)
  }

  /** `n` events due evenly over [fromMs, toMs); with probability
    * `lateShare` an event is a too-late one instead. */
  def block(fromMs: Double, toMs: Double, n: Int, lateShare: Double): Array[Ev] =
    Array.tabulate(n) { i =>
      val due = (fromMs + (i + 0.5) * (toMs - fromMs) / n).toLong
      val id = nextId; nextId += 1
      val action = Actions(rng.nextInt(Actions.length))
      val operation = Operations(rng.nextInt(Operations.length))
      if (lateShare > 0 && rng.nextDouble() < lateShare) {
        lateSeq += 1
        Ev(id, lateNames(rng.nextInt(lateUsers)), action, operation,
          lateTsBase + lateSeq, due, late = true)
      } else {
        val u = zipf()
        val ts = math.max(lastTs(u), due - rng.nextLong(maxDelayMs))
        lastTs(u) = ts
        Ev(id, userNames(u), action, operation, ts, due, late = false)
      }
    }
}

object EventGen {
  val Actions = Array("Login", "ViewVideo", "ViewLink", "ViewReview", "Logout")
  val Operations = Array("Create", "Modify", "Query", "Delete")

  /** Order-independent digest of events' contents (not their due times). */
  def digest(evs: Iterable[Ev]): Long = evs.foldLeft(0L) { (acc, e) =>
    acc + (e.id * 1000003L ^ e.user.hashCode * 7919L ^ e.action.hashCode * 31L ^
      e.operation.hashCode.toLong ^ e.tsMs * 2654435761L ^ (if (e.late) 1L else 0L))
  }
}
