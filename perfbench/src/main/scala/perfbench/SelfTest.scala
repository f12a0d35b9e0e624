package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

/** The Scala half of `run.py --selftest`: generator determinism, checker
  * rejection of corrupted outputs, and the Spark digest agreeing with its
  * plain-Scala twin. Each failed expectation becomes an error. */
object SelfTest {
  def run(work: Path): Outcome = {
    import StreamEvents._
    val errors = ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) errors += s"selftest: $what"

    def streamEvents(seed: Long): Seq[Ev] = {
      val g = new EventGen(seed, Users, ZipfS, MaxDelayMs, LateUsers, Epoch - 200000L)
      (0 until 200).flatMap(b => g.block(Epoch + b * 10.0, Epoch + b * 10.0 + 10, 20, 0.01))
    }
    val evs = streamEvents(1)
    expect("stream events: same seed, same digest",
      EventGen.digest(evs) == EventGen.digest(streamEvents(1)))
    expect("stream events: another seed, another digest",
      EventGen.digest(evs) != EventGen.digest(streamEvents(2)))
    expect("batch events: same seed, same rows",
      BatchRegistry.eventRows(1) == BatchRegistry.eventRows(1))
    expect("batch events: another seed, other rows",
      BatchRegistry.eventRows(1) != BatchRegistry.eventRows(2))

    // every checker accepts the reference itself and rejects one row
    // dropped and one count changed
    val want = StreamRef.compute(evs, E1WinMs, E4GapMs, E5WinMs, E6WinMs, E7ThresholdMs)
    def rejects[K, V](what: String, m: Map[K, V], bump: V => V): Unit = {
      val k = m.keys.head
      expect(s"$what: reference accepted", Compare.maps(what, m, m)._1 == 0)
      expect(s"$what: dropped row rejected", Compare.maps(what, m - k, m)._1 > 0)
      expect(s"$what: changed count rejected", Compare.maps(what, m.updated(k, bump(m(k))), m)._1 > 0)
    }
    rejects[Long, (Long, Long, Long)]("E1", want.e1, v => v.copy(_1 = v._1 + 1))
    rejects[(String, Long), (Long, Long)]("E4", want.e4, v => v.copy(_1 = v._1 + 1))
    rejects[(String, Long), Long]("E6", want.e6, _ + 1)
    val rows: Seq[Seq[Any]] = evs.take(50).map(e => Seq(e.user, e.action, e.tsMs))
    val d = Digest.of(rows)
    expect("digest: reference accepted", Compare.digests("E8", d, Digest.of(rows))._1 == 0)
    expect("digest: dropped row rejected", Compare.digests("E8", Digest.of(rows.tail), d)._1 > 0)
    expect("digest: changed count rejected", Compare.digests("E8",
      Digest.of(rows.updated(0, Seq(rows.head(0), rows.head(1), rows.head(2).asInstanceOf[Long] + 1))), d)._1 > 0)
    expect("late events present in the sample", want.late > 0)

    // the Spark digest and the plain-Scala one agree on the same rows
    val spark = Main.session(1, work)
    import spark.implicits._
    val df = evs.map(e => (e.user, e.action, e.tsMs)).toDF("key", "action", "ms")
    expect("Spark digest equals the Scala digest",
      Digest.columns(df, Seq("key", "action", "ms")) == Digest.of(evs.map(e => Seq(e.user, e.action, e.tsMs))))
    spark.stop()
    Outcome(errors.isEmpty, 1L, errors.size.toLong, errors.toSeq, Map.empty, Map.empty)
  }
}
