package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Pq

/** The driver-side ADC kernel (`Pq.adcTds`): bit-identity with the Spark
  * HOF form every engine replays, and the external-query input contract
  * (named refusals before any corpus work). */
class PqAdcSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Mixed-regime components: ordinary, tiny, large, and negative. */
  private def component(rng: scala.util.Random): Double = rng.nextInt(4) match {
    case 0 => rng.nextGaussian()
    case 1 => rng.nextGaussian() * 1e-9
    case 2 => rng.nextGaussian() * 1e5
    case _ => -rng.nextDouble() * 100
  }

  private def kernelMatchesSpark(numSub: Int, subDim: Int, seed: Int): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val numCodes = 64
    val cbRows = (for (m <- 0 until numSub; c <- 0 until numCodes) yield
      (m, c.toLong, Array.fill(subDim)(component(rng)))).toArray
    val qvs = (0L until 6L).map(q => q -> Array.fill(numSub * subDim)(component(rng)))
    val spark2 = qvs.map { case (q, v) => (q, v.toSeq) }.toDF("q_id", "qv")
      .repartition(2) // executed (codegen'd) projection, not a local fold
      .select(col("q_id"), Pq.adcTableCol(cbRows, numSub, subDim).as("tds"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Seq[Long]](1)).toMap
    qvs.foreach { case (q, v) =>
      val driver = Pq.adcTds(v, cbRows, numSub, subDim).map(_.toSeq).toSeq
      assert(driver == spark2(q), s"query $q at ${numSub}x$subDim")
    }
  }

  test("adcTds equals the Spark adcTableCol bit for bit at d=64 (8x8)") {
    kernelMatchesSpark(numSub = 8, subDim = 8, seed = 64)
  }

  test("adcTds equals the Spark adcTableCol bit for bit at d=2048 (16x128)") {
    kernelMatchesSpark(numSub = 16, subDim = 128, seed = 2048)
  }

  test("external wide batch refuses bad query frames by name before any job") {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val ok = Array.fill(64)(0.25f)
    val frames = Seq(
      "empty" -> Seq.empty[(Long, Array[Float])],
      "duplicate" -> Seq((1L, ok), (1L, ok)),
      "null query vector" -> Seq((1L, ok), (2L, null)),
      "63 components" -> Seq((1L, Array.fill(63)(0.25f))))
    val group = "pq-adc-contract"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      frames.foreach { case (expect, rows) =>
        val queries = rows.toDF("q_id", "q_vec")
        spark.sparkContext.setJobGroup(group, expect)
        val e = intercept[IllegalArgumentException] {
          Pq.searchRerankBatchWideExternal(emb, queries, k = 3, numSub = 8,
            subDim = 8, numCodes = 64, shortlist = 100).collect()
        }
        spark.sparkContext.clearJobGroup()
        assert(e.getMessage.contains("external-query batch"), e.getMessage)
        assert(e.getMessage.contains(expect), e.getMessage)
      }
      // listener events arrive in order: once a sentinel job is seen,
      // every job the refused calls could have started has been seen too
      spark.sparkContext.setJobGroup("pq-adc-sentinel", "sentinel")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("pq-adc-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("pq-adc-sentinel"), "listener never saw the sentinel job")
      assert(!groups.contains(group), "a refused query frame started a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
