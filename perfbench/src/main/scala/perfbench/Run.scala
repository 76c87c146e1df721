package perfbench

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run reports: end-to-end values, per-layer values the
  * workload computes itself (the span-derived ones come from [[Trace]]),
  * and extra facts that are printed but not gated. */
final case class Outcome(endToEnd: Map[String, Double], layer: Map[String, Double],
                         info: Seq[(String, String)])

/** State shared by a workload run: the session, the tracer, the inputs,
  * and the count of attempted and failed operations. */
final class Run(val spark: SparkSession, val trace: Trace, val in: Gen.Inputs,
                val work: File, val seconds: Double) {
  var attempted = 0L
  var failed = 0L
  /** JVM uptime when the first checked operation (a warm-up one) started */
  var firstOpS: Double = Double.NaN
  /** heap in use after a full collection at the end of warm-up, in MiB */
  var retainedHeapMb: Double = Double.NaN
  val parts: Int = spark.sparkContext.defaultParallelism

  def log(msg: String): Unit = Run.log(msg)

  /** One checked operation. The answer is checked after the clock stops;
    * an exception or a wrong answer counts as failed and the latency is
    * dropped. Returns the answer and its latency in seconds. */
  def op[A](what: String)(body: => A)(check: A => Seq[String]): Option[(A, Double)] = {
    attempted += 1
    if (firstOpS.isNaN) firstOpS = Run.uptimeS
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(e) =>
        failed += 1
        log(s"$what threw: $e")
        None
      case Right(a) =>
        val errs = try check(a) catch { case NonFatal(e) => Seq(s"check threw $e") }
        if (errs.isEmpty) Some((a, dt))
        else {
          failed += 1
          log(s"$what answered wrongly: ${errs.take(5).mkString("; ")}")
          None
        }
    }
  }

  /** Ends warm-up: a full collection, then the heap still in use is what
    * the process holds to serve (corpus, indexes, caches, Spark state).
    * It is taken before the timed loop, after a fixed number of
    * operations, and every timed loop starts from a collected heap. */
  def warmedUp(): Unit = {
    System.gc()
    retainedHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    log(f"warm-up done, $retainedHeapMb%.1f MiB heap retained")
  }

  /** Wall seconds of `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def file(name: String): File = new File(in.dir, name)

  /** Raw little-endian float32 vectors as a (vec_id, embedding) frame.
    * Each task reads its own contiguous slice of the file. */
  def vectorFrame(name: String, n: Int, dims: Int, idBase: Long = 0L,
                  labels: Option[Array[Int]] = None): DataFrame = {
    import spark.implicits._
    val path = file(name).getAbsolutePath
    val ds = spark.range(0, n, 1, parts).as[Long].mapPartitions { it =>
      val ids = it.toArray
      if (ids.isEmpty) Iterator.empty
      else {
        val buf = ByteBuffer.allocate(ids.length * dims * 4).order(ByteOrder.LITTLE_ENDIAN)
        val raf = new RandomAccessFile(path, "r")
        try {
          val ch = raf.getChannel
          var pos = ids.head * dims * 4L
          while (buf.hasRemaining) {
            val got = ch.read(buf, pos)
            require(got > 0, s"short read in $path")
            pos += got
          }
        } finally raf.close()
        buf.flip()
        val fb = buf.asFloatBuffer()
        ids.iterator.map { i =>
          val v = new Array[Float](dims)
          fb.get(v)
          (idBase + i, v, labels.fold(0)(_(i.toInt)))
        }
      }
    }
    val df = ds.toDF("vec_id", "embedding", "label")
    if (labels.isDefined) df else df.drop("label")
  }

  def queryFrame(ids: Seq[Long], vecs: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    ids.zip(vecs).toDF("q_id", "q_vec")
  }

  /** Repeat a set-up step, report the median of its times, keep the last result. */
  def repeated[A](times: Int)(body: Int => A): (A, Seq[Double]) = {
    val res = (0 until times).map(i => timed(body(i)))
    (res.last._1, res.map(_._2))
  }

  /** The workload's set-up, run `Run.SetupWarmups` + `Run.SetupSamples`
    * times; returns the last result and the times of the sampled runs. The
    * first runs load classes and compile, and run up to ten times longer. */
  def setUp[A](body: => A): (A, Seq[Double]) = {
    val (a, times) = repeated(Run.SetupWarmups + Run.SetupSamples)(_ => body)
    (a, times.drop(Run.SetupWarmups))
  }

  /** Per-class recall table, filled by the workloads. */
  val recalls: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  def addRecall(key: String, r: Double): Unit = recalls.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += r
  def meanRecall(key: String): Double = recalls.get(key).filter(_.nonEmpty).fold(Double.NaN)(b => b.sum / b.size)
}

object Run {
  val SetupWarmups = 2
  val SetupSamples = 5

  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Progress and failures go to standard error, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(f"[perfbench $uptimeS%7.2fs] $msg")
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** The highest of p90/p99/p999 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p999", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (n, q) => (n, quantile(xs, q)) }
}
