package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{bpe, centroids, pq, text, vectors}

/** The `functions` layer: each codegen kernel timed as a bare projection
  * into the `noop` sink over a cached input, in ns per row. Inputs are
  * derived from the seed; the table runs in traced runs only. */
object Kernels {
  private def vecs(spark: SparkSession, n: Long, dims: Int, seed: Long): DataFrame =
    spark.range(n).select(
      expr(s"transform(sequence(0, ${dims - 1}), d -> " +
        s"CAST(pmod(xxhash64(id * $dims + d + $seed), 997) / 997.0 - 0.5 AS FLOAT))").as("v"))
      .withColumn("vd", col("v").cast("array<double>"))

  private def nsPerRow(df: DataFrame, rows: Long, kernel: Column): Double = {
    val runs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      df.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / rows
    }
    Stats.median(runs)
  }

  def table(spark: SparkSession, seed: Long): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    for ((dims, rows) <- Seq((64, 50000L), (2048, 4000L))) {
      val df = vecs(spark, rows, dims, seed).cache()
      df.count()
      val rnd = new java.util.SplittableRandom(seed + dims)
      val q = Array.fill(dims)(rnd.nextDouble().toFloat - 0.5f)
      val subDim = dims / 16
      val codebook = Array.fill(64, subDim)(rnd.nextDouble() - 0.5)
      val cents = (0 until 64).map(c => (c.toLong, Array.fill(dims)(rnd.nextDouble().toFloat - 0.5f)))
      out += s"functions.cosine.d$dims.ns_per_row" -> nsPerRow(df, rows, vectors.cosine(col("v"), lit(q)))
      out += s"functions.l2.d$dims.ns_per_row" -> nsPerRow(df, rows, vectors.l2(col("v"), lit(q)))
      out += s"functions.pq_nearest_code.d$dims.ns_per_row" ->
        nsPerRow(df, rows, pq.nearestCode(col("vd"), codebook, 0, subDim))
      out += s"functions.nearest_centroid.d$dims.ns_per_row" ->
        nsPerRow(df, rows, centroids.nearest(col("v"), cents))
      df.unpersist()
    }
    val rules = Seq(("w", "1"), ("w1", "2"), ("1", "0"), ("0", "0"), ("2", "3"), ("w", "9"), ("9", "9"), ("w19", "0"))
    val words = spark.range(50000).selectExpr(
        s"concat('w', CAST(1000000000 + pmod(xxhash64(id + $seed), 1000000000) AS STRING)) AS word")
      .selectExpr("transform(sequence(1, length(word)), i -> substring(word, i, 1)) AS syms").cache()
    words.count()
    out += "functions.bpe_apply.ns_per_row" -> nsPerRow(words, 50000L, bpe.applyMerges(col("syms"), rules))
    words.unpersist()
    val docs = spark.range(20000).selectExpr(
        s"concat_ws(' ', transform(sequence(0, 39), t -> concat('w', pmod(xxhash64(id * 40 + t + $seed), 5000)))) AS text")
      .cache()
    docs.count()
    out += "functions.word_shingles.ns_per_row" -> nsPerRow(docs, 20000L, text.shingles(expr("filter(split(text, '\\\\s+'), x -> x != '')"), 3))
    docs.unpersist()
    out.result()
  }
}
