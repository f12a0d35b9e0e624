package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Native per-frame dHash — the hot primitive of the video near-dup tier.
  *
  * The Column form (Multimodal.dHash over a substr'd frame) pays, PER
  * FRAME, one binary substr, one hex() round trip and a 60-step
  * higher-order aggregate whose lambda re-reads two hex byte pairs via
  * substr+conv each step (~120 short-string allocations per 8-byte
  * frame). This kernel computes every sampled frame's signature straight
  * from the payload bytes in one tight JVM loop, evaluates inside
  * whole-stage codegen, and returns array<long> for a single explode —
  * the payload is sliced zero times and hex-encoded never.
  *
  * Bit-compatibility with the Column form (and therefore with the DuckDB
  * oracle, which replays the hex math on the hex text) is pinned by
  * MultimodalSpec's kernel-equivalence property test. */
object DHashKernel {

  /** 60-bit dHash of bytes[from, from+len): sample positions
    * pⱼ = (j·(len−1)) div 60, bit j = b(pⱼ) > b(pⱼ₊₁) read as unsigned
    * bytes, acc·2+bit fold — step-for-step Multimodal.dHash (which reads
    * the same unsigned values through hex text; its make-divisible
    * division is exact, so both sides compute the same pⱼ). len < 2
    * hashes to 0 (no gradient exists). */
  private def dHashRange(b: Array[Byte], from: Int, len: Int): Long = {
    if (len < 2) return 0L
    var acc = 0L
    // positions are monotone in j: sample(j) of step j equals sample(j+1)
    // of step j-1, so each byte is read once
    var prev = b(from) & 0xff // p₀ = 0
    var j = 0
    while (j < 60) {
      val pNext = ((j + 1).toLong * (len - 1) / 60).toInt
      val next = b(from + pNext) & 0xff
      acc = acc * 2 + (if (prev > next) 1L else 0L)
      prev = next
      j += 1
    }
    acc
  }

  /** dHash of every everyNth-sampled frameBytes-sized frame of the
    * payload: element i = dHashRange at offset i·everyNth·frameBytes —
    * exactly the frames explode(sequence(0, ⌊len/frameBytes⌋−1,
    * everyNth)) + substr would produce (the trailing partial frame is
    * excluded, a sub-frame payload yields an empty array). */
  def dHashFrames(b: Array[Byte], frameBytes: Int, everyNth: Int): ArrayData = {
    val nf = b.length / frameBytes
    val n = if (nf <= 0) 0 else (nf - 1) / everyNth + 1
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = dHashRange(b, i * everyNth * frameBytes, frameBytes)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** binary → array<long>: per-sampled-frame 60-bit dHash signatures (see
  * DHashKernel.dHashFrames). frameBytes/everyNth parameterize the
  * generated code like ShingleHashes' k. */
case class DHashFrames(child: Expression, frameBytes: Int, everyNth: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(frameBytes >= 2,
    s"frameBytes must be >= 2 for the dHash grid, got $frameBytes")
  require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    DHashKernel.dHashFrames(input.asInstanceOf[Array[Byte]], frameBytes,
      everyNth)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.DHashKernel.dHashFrames($c, $frameBytes, $everyNth)")
  override protected def withNewChildInternal(newChild: Expression): DHashFrames =
    copy(child = newChild)
  override def prettyName: String = "graft_dhash_frames"
}

object DHashExpressions {
  def dHashFrames(bin: Column, frameBytes: Int, everyNth: Int): Column =
    GraftColumnBridge.column(DHashFrames(
      GraftColumnBridge.expression(bin), frameBytes, everyNth))
}
