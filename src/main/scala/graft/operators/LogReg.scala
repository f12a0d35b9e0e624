package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier — fixed-round logistic regression by full
  * (batch) gradient descent on quantized-integer state, the CCNet /
  * fastText-style workflow a training-data pipeline runs to score a corpus
  * against a labeled seed set: train a small discriminative model on
  * good/bad labels, then score every document and keep the confident ones.
  *
  * Extension tier beyond the reference surface (the reference —
  * chapter2/BasicStreamingOperations.java:56-115 — has no model training).
  *
  * Determinism contract (the exactRegression2 discipline extended to an
  * ITERATIVE fit): weights live as ppm BIGINTs (w·10⁶). Each round the
  * margin z_ppm = w0 + Σ wⱼ·xⱼ is exact integer arithmetic; the one
  * transcendental — the sigmoid — is QUANTIZED AT THE TERM,
  * s = floor(10⁶ / (1 + exp(−z_ppm/10⁶))) as BIGINT (same
  * floor-at-the-term argument as InfoTheory.qlog: a cross-engine flip
  * needs the double within ~10⁻¹⁰ of a quantum boundary), so the
  * gradient sums Σ(y·10⁶ − s)·xⱼ accumulate EXACTLY (decimal(38,0) — no
  * BIGINT wrap even at 10¹¹ rows) and are order-independent under any
  * partitioning. The weight update is one exact BigInteger
  * truncate-toward-zero division per coefficient,
  * wⱼ += (lrPpm·gⱼ) div (10⁶·n) — mirrored integer-for-integer by the
  * unrolled-CTE oracle (DuckDB `//` truncates toward zero like Spark's
  * `div` and BigInteger./, probed). Bit-identical weights per round on
  * any engine.
  *
  * Distributed shape: the feature frame is projected once and
  * localCheckpointed (bench scale; at 100 TB persist it to storage or
  * accept per-round recompute — SCALE.md), then each round is ONE
  * corpus-scale aggregation producing k+2 numbers and a 1-row driver
  * collect (the bpeLoop blessed O(1)-per-round fold). No per-row state,
  * no unpartitioned window, no driver-side data loop. Training cost =
  * `rounds` corpus passes; scoring = one map-only pass. */
object LogReg {

  private val Ppm = 1000000L

  /** The live decision boundary in quantized sigmoid units: pred ⇔
    * score_ppm ≥ this (σ = 0.5 ⇔ margin 0). Public so every consumer
    * that reasons about the boundary — the funnel's quality gate, the
    * q_gate_sweep what-if grid — shares the ONE constant instead of
    * re-hardcoding 500000 and drifting. */
  val PredBoundaryPpm = 500000L

  /** floor(σ(z_ppm/10⁶)·10⁶) — the quantized sigmoid, operand order
    * pinned (10⁶ / (1 + exp(−z/10⁶)), NOT σ·10⁶) and mirrored verbatim
    * in the oracle SQL. exp overflow to ±Infinity is IEEE-defined and
    * engine-identical: very negative z → s = 0, very positive → 10⁶. */
  private def sigmoidPpm(zPpm: Column): Column =
    floor(lit(1000000.0) /
      (lit(1.0) + exp(-zPpm.cast("double") / lit(1000000.0)))).cast("long")

  private def zPpm(weights: Array[Long], features: Seq[String]): Column =
    features.zipWithIndex.foldLeft(lit(weights(0)): Column) {
      case (acc, (f, j)) => acc + lit(weights(j + 1)) * col(f)
    }

  private def integral(df: DataFrame, c: String): Boolean = {
    import org.apache.spark.sql.types._
    Set[DataType](ByteType, ShortType, IntegerType, LongType)
      .contains(df.schema(c).dataType)
  }

  /** Domain-guarded non-NULL filter shared by training and scoring:
    * drops rows NULL in any used column, then FAILS LOUD on label
    * outside {0, 1} or |feature| > 10⁶ (the documented exact range for
    * every z and gradient term). */
  private def guarded(df: DataFrame, label: String,
                      features: Seq[String]): DataFrame = {
    require(features.nonEmpty && features.size <= 8,
      s"logreg takes 1..8 features, got ${features.size}")
    (label +: features).foreach(c => require(integral(df, c),
      s"logreg needs integral columns (got ${df.schema(c).dataType} " +
        s"for '$c') — bucketize/scale first"))
    val yOk = col(label) === 0L || col(label) === 1L
    val xOk = features.map(f => abs(col(f)) <= Ppm).reduce(_ && _)
    val guard = assert_true(yOk && xOk,
      concat(lit(s"logreg: need label in {0,1} and |feature| <= $Ppm; got " +
          s"$label="), col(label).cast("string"),
        lit(features.map(f => s" $f=").mkString),
        concat_ws(" ", features.map(f => col(f).cast("string")): _*)))
    df.filter((label +: features).map(col(_).isNotNull).reduce(_ && _))
      .filter(guard.isNull)
  }

  /** Prepared (label, features) projection for training. */
  private def prepare(df: DataFrame, label: String,
                      features: Seq[String]): DataFrame =
    guarded(df, label, features)
      .select((label +: features).map(c => col(c).cast("long").as(c)): _*)

  /** `rounds` full-gradient steps from w = 0; returns the per-round
    * weight history (the trained artifact's audit trail) and the final
    * weights. One corpus pass + one 1-row collect per round. */
  def fit(df: DataFrame, label: String, features: Seq[String],
          rounds: Int, lrPpm: Long): (Seq[Array[Long]], Array[Long]) = {
    require(rounds >= 1 && rounds <= 64, s"need 1 <= rounds <= 64, got $rounds")
    require(lrPpm >= 1L && lrPpm <= Ppm,
      s"need 1 <= lrPpm <= $Ppm, got $lrPpm")
    val base = prepare(df, label, features).localCheckpoint(true)
    val k = features.size
    val w = Array.fill(k + 1)(0L)
    val hist = Seq.newBuilder[Array[Long]]
    for (_ <- 1 to rounds) {
      val res = (col(label) * Ppm - sigmoidPpm(zPpm(w, features))).as("_r")
      val withR = base.select(col("*"), res)
      val gs = sum(col("_r").cast("decimal(38,0)")).as("g0") +:
        features.zipWithIndex.map { case (f, j) =>
          sum((col("_r") * col(f)).cast("decimal(38,0)")).as(s"g${j + 1}")
        }
      val row = withR.agg(count(lit(1)).as("_n"), gs: _*).head()
      val n = row.getLong(0)
      require(n > 0L, "logreg: empty training frame after guards")
      val den = BigInt(Ppm) * BigInt(n)
      for (j <- 0 to k) {
        val g = BigInt(row.getDecimal(j + 1).toBigInteger)
        w(j) = Math.addExact(w(j), ((BigInt(lrPpm) * g) / den).toLong)
      }
      hist += w.clone()
    }
    (hist.result(), w)
  }

  /** The per-round weight trajectory as a frame —
    * (round, w0_ppm, w1_ppm, …): what the unrolled-CTE oracle replays
    * step for step, and the convergence audit a training run logs.
    * Driver-local O(rounds·k) rows from an already-run fit (callers
    * sharing one training run across views pass fit's history here). */
  def historyFrame(spark: org.apache.spark.sql.SparkSession,
                   hist: Seq[Array[Long]]): DataFrame = {
    require(hist.nonEmpty, "historyFrame needs >= 1 round")
    val k = hist.head.length - 1
    val rows = hist.zipWithIndex.map { case (ws, i) =>
      org.apache.spark.sql.Row.fromSeq((i + 1).toLong +: ws.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.LongType, nullable = false) +:
        (0 to k).map(j => org.apache.spark.sql.types.StructField(
          s"w${j}_ppm", org.apache.spark.sql.types.LongType,
          nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Corpus-wide scoring under frozen weights — one map-only pass, no
    * shuffle: score_ppm = quantized σ of the margin, pred at the 0.5
    * boundary (score_ppm ≥ 500000). Same guards as training so a
    * malformed row cannot silently score. */
  def score(df: DataFrame, label: String, features: Seq[String],
            weights: Array[Long], keep: Seq[String]): DataFrame = {
    require(weights.length == features.size + 1,
      s"got ${weights.length} weights for ${features.size} features")
    guarded(df, label, features)
      .select((keep ++ Seq(label) ++ features).distinct.map(col): _*)
      .withColumn("score_ppm", sigmoidPpm(zPpm(weights, features)))
      .withColumn("pred", col("score_ppm") >= PredBoundaryPpm)
  }

  /** Label-free scoring — the INGEST form (arriving documents carry no
    * label): same feature guards, same quantized sigmoid, same 0.5 ppm
    * boundary. Map-only, no shuffle, no state — which is what lets the
    * streaming gate run it per micro-batch with exact batch parity. */
  def scoreUnlabeled(df: DataFrame, features: Seq[String],
                     weights: Array[Long], keep: Seq[String]): DataFrame = {
    require(weights.length == features.size + 1,
      s"got ${weights.length} weights for ${features.size} features")
    require(features.nonEmpty && features.size <= 8,
      s"logreg takes 1..8 features, got ${features.size}")
    features.foreach(c => require(integral(df, c),
      s"logreg needs integral columns (got ${df.schema(c).dataType} " +
        s"for '$c') — bucketize/scale first"))
    val xOk = features.map(f => abs(col(f)) <= Ppm).reduce(_ && _)
    val guard = assert_true(xOk,
      concat(lit(s"logreg: need |feature| <= $Ppm; got"),
        lit(features.map(f => s" $f=").mkString),
        concat_ws(" ", features.map(f => col(f).cast("string")): _*)))
    df.filter(features.map(col(_).isNotNull).reduce(_ && _))
      .filter(guard.isNull)
      .select((keep ++ features).distinct.map(col): _*)
      .withColumn("score_ppm", sigmoidPpm(zPpm(weights, features)))
      .withColumn("pred", col("score_ppm") >= PredBoundaryPpm)
  }
}
