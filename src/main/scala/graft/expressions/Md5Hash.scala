package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String
import java.security.MessageDigest

/** Native md5-derived integer hashes — the hot primitive of the MinHash /
  * SimHash / hyperplane-LSH tier (SURVEY §2 extension operators).
  *
  * The Column-function form `conv(substring(md5(x),1,N),16,10)` materializes
  * a 32-char hex string per value and then parses it base-16; these
  * expressions produce the same 32-/60-bit values straight from the digest
  * bytes, evaluate inside whole-stage codegen (`doGenCode`) outside lambdas,
  * and skip the string round trip inside interpreted higher-order lambdas.
  * Bit-compatibility with the SQL form (and therefore with the DuckDB
  * oracles) is pinned by Md5ExprSpec. */
object Md5Hash {
  private val digests = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  private[expressions] def threadDigest(): MessageDigest = digests.get()

  /** First 4 digest bytes as an unsigned big-endian int (< 2^32) —
    * ≡ conv(substring(md5(x),1,8),16,10). */
  def first32(s: UTF8String): Long = {
    val d = digests.get(); d.reset()
    val dig = d.digest(s.getBytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }

  /** First 15 hex digits (60 bits): bytes 0..6 plus the high nibble of
    * byte 7 — ≡ conv(substring(md5(x),1,15),16,10). */
  def first60(s: UTF8String): Long = {
    val d = digests.get(); d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) >> 4) & 0xfL)
  }

  /** ALL FOUR 32-bit big-endian words of the digest as array<long> —
    * word g ≡ conv(substring(md5(x), 1+8·g, 8),16,10). One digest yields
    * four independent uniforms, so a draw-heavy consumer (the Poisson
    * bootstrap's B multiplicities per row) hashes B/4 times instead of B:
    * md5 + the per-draw string concat dominate that pass. */
  def words4(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = digests.get(); d.reset()
    val dig = d.digest(s.getBytes)
    val out = new Array[Long](4)
    var g = 0
    while (g < 4) {
      val o = 4 * g
      out(g) = ((dig(o) & 0xffL) << 24) | ((dig(o + 1) & 0xffL) << 16) |
        ((dig(o + 2) & 0xffL) << 8) | (dig(o + 3) & 0xffL)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

abstract class Md5HashExpression extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  protected def javaCall: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5Hash.$javaCall($c)")
}

case class Md5Int(child: Expression) extends Md5HashExpression {
  override protected def nullSafeEval(input: Any): Any =
    Md5Hash.first32(input.asInstanceOf[UTF8String])
  override protected def javaCall: String = "first32"
  override protected def withNewChildInternal(newChild: Expression): Md5Int =
    copy(child = newChild)
  override def prettyName: String = "graft_md5int"
}

case class Md5Long(child: Expression) extends Md5HashExpression {
  override protected def nullSafeEval(input: Any): Any =
    Md5Hash.first60(input.asInstanceOf[UTF8String])
  override protected def javaCall: String = "first60"
  override protected def withNewChildInternal(newChild: Expression): Md5Long =
    copy(child = newChild)
  override def prettyName: String = "graft_md5long"
}

/** All `groups`·4 Poisson-bootstrap multiplicities of one id in a single
  * tight JVM loop — the hot projection of Sampling.bootstrapMeanCI, where
  * the equivalent Column form (B sums of 9 CASE terms over md5Words
  * elements) generated so much per-row expression code that the weights
  * pass alone cost ~4× the md5 work it wraps. Slot b (0-based) =
  * #{k : thresholds(k) ≤ u_b} with u_b = (32-bit word (b mod 4) of
  * md5(id ++ ":salt:" ++ (b div 4))) mod 10⁶ — bit-identical to
  * pmod(md5Words(concat(id, ':salt:g'))(w), 10⁶) walked through the
  * ascending thresholds, which is exactly what Md5ExprSpec pins. The
  * per-group suffix bytes precompute once per expression instance; the
  * thresholds array rides into generated code as a referenced object
  * (the BloomProbeExpr convention). NULL id → NULL out. */
case class BootstrapWeights(child: Expression, salt: String, groups: Int,
                            thresholds: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  require(groups >= 1 && groups <= 4096,
    s"groups must be in [1, 4096], got $groups")
  require(thresholds.nonEmpty && thresholds == thresholds.sorted,
    "thresholds must be non-empty ascending")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  @transient private lazy val thArr: Array[Long] = thresholds.toArray
  @transient private lazy val sfx: Array[Array[Byte]] =
    Array.tabulate(groups)(g =>
      s":$salt:$g".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  def compute(id: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = Md5Hash.threadDigest()
    val idB = id.getBytes
    val out = new Array[Long](groups * 4)
    var g = 0
    while (g < groups) {
      d.reset()
      d.update(idB)
      d.update(sfx(g))
      val dig = d.digest()
      var w = 0
      while (w < 4) {
        val o = 4 * w
        val word = ((dig(o) & 0xffL) << 24) | ((dig(o + 1) & 0xffL) << 16) |
          ((dig(o + 2) & 0xffL) << 8) | (dig(o + 3) & 0xffL)
        val u = word % 1000000L
        var cnt = 0L
        var k = 0
        while (k < thArr.length && thArr(k) <= u) { cnt += 1; k += 1 }
        out(g * 4 + w) = cnt
        w += 1
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBootW", this,
      classOf[BootstrapWeights].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BootstrapWeights =
    copy(child = newChild)
  override def prettyName: String = "graft_bootstrap_weights"
}

/** array<long> of all four 32-bit digest words (see Md5Hash.words4). */
case class Md5Words(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Md5Hash.words4(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5Hash.words4($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Words =
    copy(child = newChild)
  override def prettyName: String = "graft_md5words"
}

object Md5Expressions {
  /** Column wrappers (work everywhere, including inside HOF lambdas). */
  def md5Int(c: Column): Column =
    GraftColumnBridge.column(Md5Int(GraftColumnBridge.expression(c)))
  /** 64-bit integer hash of any string column, derived from md5 (first 15
    * hex chars → always non-negative, < 2^60). Cross-engine reproducible,
    * unlike Spark's murmur3 `hash()` / DuckDB's `hash()`; bit-identical to
    * conv(substring(md5(c),1,15),16,10) without the hex round trip. */
  def md5Long(c: Column): Column =
    GraftColumnBridge.column(Md5Long(GraftColumnBridge.expression(c)))
  def md5Words(c: Column): Column =
    GraftColumnBridge.column(Md5Words(GraftColumnBridge.expression(c)))
  def bootstrapWeights(id: Column, salt: String, groups: Int,
                       thresholds: Seq[Long]): Column =
    GraftColumnBridge.column(BootstrapWeights(
      GraftColumnBridge.expression(id), salt, groups, thresholds))
}

/** SQL-surface registration:
  * `spark.sql.extensions=graft.expressions.GraftExtensions` exposes the
  * native kernel expressions to every SQL query in the session:
  * graft_md5int/long(str), graft_shingle_hashes(norm, k),
  * graft_token_hashes(str), graft_minhash_signature(hashes, n),
  * graft_simhash_vote(hashes). Literal integer parameters are extracted at
  * resolution time (they parameterize the generated code). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, (clazz, builder)) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, null, name,
          GraftExtensions.usage.getOrElse(name, ""),
          "", "", "", "", "", "", "built-in"), builder))
    }
}

object GraftExtensions {
  private def intArg(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer parameter, got $other")
  }

  /** DESCRIBE FUNCTION text — states each kernel's input preconditions,
    * which the SQL surface cannot enforce structurally. */
  val usage: Map[String, String] = Map(
    "graft_md5int" -> "graft_md5int(str) - first 32 bits of md5(str) as a non-negative BIGINT (< 2^32).",
    "graft_md5long" -> "graft_md5long(str) - first 60 bits of md5(str) as a non-negative BIGINT (< 2^60).",
    "graft_md5words" -> ("graft_md5words(str) - all four 32-bit words of md5(str) as array<bigint> " +
      "(word g = conv(substring(md5(str),1+8*g,8),16,10)): one digest, four independent uniforms."),
    "graft_shingle_hashes" ->
      ("graft_shingle_hashes(norm, k) - graft_md5int of every word k-shingle. " +
        "PRECONDITION: `norm` must be normalized text — trimmed, tokens separated by " +
        "exactly one space (lower/strip-punct/collapse-whitespace, as Dedup.shingleHashes " +
        "and TextOps.normalized produce). Tabs or doubled/leading/trailing spaces create " +
        "empty-token shingles that match neither the Column form nor a regexp tokenizer."),
    "graft_token_hashes" ->
      "graft_token_hashes(str) - graft_md5long (60-bit) of every whitespace-separated token; any string input.",
    "graft_minhash_signature" ->
      ("graft_minhash_signature(hashes, n) - n MinHash permutation minima over an array<bigint>. " +
        "PRECONDITION: every element must be < 2^32 (e.g. graft_md5int / graft_shingle_hashes " +
        "output). The permutation product h*a_i only stays inside int64 for 32-bit hashes; " +
        "60-bit graft_token_hashes values silently overflow and yield garbage signatures."),
    "graft_simhash_vote" ->
      "graft_simhash_vote(hashes) - 60-bit SimHash sign vote over array<bigint> (made for graft_token_hashes output).",
    "graft_winnow_select" ->
      "graft_winnow_select(hashes, w) - winnowing fingerprints: sorted distinct minima of every w-window over a k-gram hash array.",
    "graft_jaccard_distinct" ->
      ("graft_jaccard_distinct(a, b) - Jaccard similarity |a∩b|/|a∪b| of two array<bigint> in one pass. " +
        "PRECONDITION: each array's elements must be distinct (wrap with array_distinct otherwise) — " +
        "the union is computed as |a|+|b|-|a∩b|, which overcounts under duplicates."),
    "graft_dot_fold" ->
      ("graft_dot_fold(a, b) - sequential left-fold dot product of two array<double> (cast float " +
        "embeddings with CAST(e AS ARRAY<DOUBLE>) — exact widening): fixed fold order makes the " +
        "result bit-identical on every engine and partitioning (cosine = graft_dot_fold(a,b) / " +
        "(sqrt(graft_dot_fold(a,a)) * sqrt(graft_dot_fold(b,b)))). NULL on length mismatch or " +
        "null elements."),
    "graft_containment_distinct" ->
      ("graft_containment_distinct(a, b) - containment |a∩b|/|b| of two array<bigint> in one pass " +
        "(the decontamination metric: how much of b appears in a; 0.0 when b is empty). " +
        "PRECONDITION: each array's elements must be distinct (wrap with array_distinct otherwise)."),
    "graft_repetition_stats" ->
      ("graft_repetition_stats(norm, k) - struct(n_tokens, n_distinct, top_gram, top_count): " +
        "one-pass token count, distinct-token count and most frequent word k-gram " +
        "(ties break to the binary-smallest gram; NULL top_gram below k tokens). " +
        "PRECONDITION: `norm` must be normalized text — trimmed, single-space-separated " +
        "(as TextOps.normalized produces); raw whitespace creates empty tokens."),
    "graft_cms_table" ->
      ("graft_cms_table(key, d, w) - AGGREGATE: Count-Min sketch of a string key as the " +
        "flattened d*w counter table (array<bigint>, row-major). Cells are " +
        "graft_md5int(i || ':' || key) % w, so any engine can rebuild the table; merge is " +
        "element-wise sum (order-independent). d and w must be literal integers."),
    "graft_cms_min" ->
      ("graft_cms_min(table, key, d, w) - point estimate for `key` against a graft_cms_table " +
        "result built with the SAME literal (d, w): min over the key's d cells. " +
        "Exact-or-over, never under; mismatched (d, w) silently probes wrong cells."))

  /** The injected function surface, exposed so tests can register the exact
    * same builders into a plain function registry. */
  val builders: Map[String, (Class[_], Seq[Expression] => Expression)] = Map(
    "graft_md5int" -> (classOf[Md5Int], (args: Seq[Expression]) => Md5Int(args.head)),
    "graft_md5long" -> (classOf[Md5Long], (args: Seq[Expression]) => Md5Long(args.head)),
    "graft_md5words" -> (classOf[Md5Words], (args: Seq[Expression]) => Md5Words(args.head)),
    "graft_shingle_hashes" -> (classOf[ShingleHashes], (args: Seq[Expression]) =>
      ShingleHashes(args.head, intArg(args(1), "graft_shingle_hashes"))),
    "graft_token_hashes" -> (classOf[TokenHashes], (args: Seq[Expression]) =>
      TokenHashes(args.head)),
    "graft_minhash_signature" -> (classOf[MinhashSignature], (args: Seq[Expression]) =>
      MinhashSignature(args.head, intArg(args(1), "graft_minhash_signature"))),
    "graft_simhash_vote" -> (classOf[SimhashVote], (args: Seq[Expression]) =>
      SimhashVote(args.head)),
    "graft_winnow_select" -> (classOf[WinnowSelect], (args: Seq[Expression]) =>
      WinnowSelect(args.head, intArg(args(1), "graft_winnow_select"))),
    "graft_jaccard_distinct" -> (classOf[JaccardDistinct], (args: Seq[Expression]) =>
      JaccardDistinct(args.head, args(1))),
    "graft_dot_fold" -> (classOf[DotFold], (args: Seq[Expression]) =>
      DotFold(args.head, args(1))),
    "graft_containment_distinct" -> (classOf[ContainmentDistinct], (args: Seq[Expression]) =>
      ContainmentDistinct(args.head, args(1))),
    "graft_repetition_stats" -> (classOf[RepetitionStats], (args: Seq[Expression]) =>
      RepetitionStats(args.head, intArg(args(1), "graft_repetition_stats"))),
    "graft_cms_table" -> (classOf[CmsAggregate], (args: Seq[Expression]) =>
      CmsAggregate(args.head, intArg(args(1), "graft_cms_table"),
        intArg(args(2), "graft_cms_table"))),
    "graft_cms_min" -> (classOf[CmsMinProbe], (args: Seq[Expression]) =>
      CmsMinProbe(args.head, args(1), intArg(args(2), "graft_cms_min"),
        intArg(args(3), "graft_cms_min"))))
}
