package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** Deterministic in-plan training of a LINEAR quality probe — the
  * fasttext-style "train a cheap classifier on weak labels, gate the
  * corpus with it" step (cf. the GPT-3/LLaMA data-filtering recipes:
  * Brown et al. 2020 §A; Touvron et al. 2023 — public), built so that the
  * trained weights are BIT-REPRODUCIBLE on any cluster size and any
  * partitioning:
  *
  *   - squared-loss linear model (no sigmoid — transcendentals differ
  *     across engine libms; the probe's job is ranking/gating, for which
  *     the linear margin is enough);
  *   - full-batch gradient descent, `iters` unrolled rounds, each ONE
  *     aggregation job: grad_j = Σ_docs floor(err·x_j·1e9) accumulated as
  *     an INTEGER — quantized gradient accumulation makes the sum
  *     order-independent, where a raw double sum would drift with
  *     partitioning (the same trick as [[Similarity.clusterReport]]'s
  *     quantized mean);
  *   - only 'dim + 1' values ever reach the driver per round (the gradient
  *     vector and the count), like the k-means centroid fetch.
  *
  * Quantization bound: |err·x_j| ≤ (1 + ‖w‖₂) for unit-norm features and
  * 0/1 labels; at these hyperparameters ‖w‖ stays ≲ 4, so per-doc quanta
  * are ≤ ~5e9 and the long sum holds ~1e9 documents conservatively;
  * beyond that, shard the aggregation or drop the scale — the gate corpus
  * sizes are orders of magnitude below the bound.
  */
object Probe {

  val QuantScale = 1e9

  /** Train on (vecCol: float array of `dim`, labelCol: double 0/1).
    * Returns the weight vector after `iters` rounds from w₀ = 0. */
  def trainLinear(
      data: DataFrame, vecCol: String, labelCol: String,
      dim: Int, iters: Int = 3, lr: Double = 0.5): Seq[Double] = {
    val cached = data.select(col(vecCol).as("x"), col(labelCol).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var w = Seq.fill(dim)(0.0)
      for (_ <- 0 until iters) {
        // fixed-order 64-term prediction sum — reproducible, and exactly
        // the expression the oracle writes out
        val pred = (0 until dim)
          .map(j => col("x").getItem(j) * lit(w(j)))
          .reduce(_ + _)
        // alias err ONCE in a projection and aggregate over the alias —
        // inlining the 64-term pred into each of the 64 gradient columns
        // would evaluate it 64× per row (the curation-pipeline
        // CollapseProject lesson; the oracle's d$t CTE is this projection)
        val withErr = cached.select(col("x"), (pred - col("y")).as("err"))
        val gradCols = (0 until dim).map { j =>
          sum(floor(col("err") * col("x").getItem(j) * lit(QuantScale)).cast("long"))
            .as(s"g$j")
        }
        val row: Row = withErr.agg(count(lit(1)).as("n"), gradCols: _*).head()
        require(row.getLong(0) > 0L, "Probe.trainLinear: empty training input")
        val n = row.getLong(0).toDouble
        w = (0 until dim).map { j =>
          w(j) - lr * (row.getLong(j + 1).toDouble / n / QuantScale)
        }
      }
      w
    } finally { cached.unpersist(blocking = false): Unit }
  }

  /** A trained weight vector as the (dim, weight) gate frame. */
  def weightsDF(spark: SparkSession, w: Seq[Double]): DataFrame = {
    val rows = w.zipWithIndex.map { case (v, j) => Row(j, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("dim", IntegerType, nullable = false),
        StructField("weight", DoubleType, nullable = false))))
  }

  /** Score rows by the trained margin w·x (fixed-order sum — exact). */
  def score(data: DataFrame, vecCol: String, w: Seq[Double]): DataFrame =
    data.withColumn("margin",
      w.indices.map(j => col(vecCol).getItem(j) * lit(w(j))).reduce(_ + _))
}
