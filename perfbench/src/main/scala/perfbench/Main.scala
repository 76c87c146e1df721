package perfbench

import java.io.File
import java.nio.file.Files
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by perfbench/run.py:
  *
  * {{{
  * Main --workload <acorn_point|acorn_batch|curation> --seed <n> --seconds <s>
  *      --trace <0|1> --cores <n> --work <dir> --result <file> [--commit <id>]
  * }}}
  *
  * Generates the seeded inputs, runs the workload on `local[cores]` from one
  * client thread, checks every answer, and writes the result (end-to-end
  * metrics untraced, per-layer metrics traced) as JSON to `--result`. Exits
  * non-zero when any operation failed or answered wrongly. */
object Main {
  val Workloads: Seq[String] = Seq("acorn_point", "acorn_batch", "curation")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = new File(arg("work"))
    val result = new File(arg("result"))
    val load0 = loadavg()

    val inputs = Gen.generate(workload, seed, new File(work, "inputs"))
    Run.log("inputs generated")
    val builder = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    graft.Tables.SessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Run.log("session started")
    val trace = new Trace(spark.sparkContext, traced)
    val run = new Run(spark, trace, inputs, work, seconds)

    val outcome = try Some(workload match {
      case "acorn_point" => AcornPoint.run(run)
      case "acorn_batch" => AcornBatch.run(run)
      case "curation" => Curation.run(run)
    }) catch {
      case NonFatal(e) =>
        run.attempted += 1
        run.failed += 1
        run.log(s"workload aborted: $e")
        e.printStackTrace()
        None
    }

    val metrics: Map[String, (Double, String)] = outcome.fold(Map.empty[String, (Double, String)]) { o =>
      if (!traced) Layers.endToEnd(o, run.retainedHeapMb)
      else {
        trace.stop()
        Files.writeString(new File(work, "spans.json").toPath, Layers.spansJson(trace))
        Layers.tree(trace).foreach(l => println(s"perfbench span $l"))
        Layers.perLayer(trace, o, Kernels.table(spark, seed), cores)
      }
    }
    Run.log("metrics done")
    val load1 = loadavg()
    val rt = Runtime.getRuntime
    val context =
      s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":${if (traced) 1 else 0},""" +
        s""""nproc":$cores,"master":"${spark.sparkContext.master}","heap_max_mb":${rt.maxMemory / (1 << 20)},""" +
        s""""loadavg_before":"$load0","loadavg_after":"$load1","commit":"${args.getOrElse("commit", "unknown")}",""" +
        s""""java":"${System.getProperty("java.version")}","spark":"${spark.version}"}"""
    spark.stop()
    Run.log("session stopped")

    println(s"perfbench context $context")
    println(s"perfbench inputs ${inputs.manifest}")
    outcome.foreach { o =>
      val info = o.info ++ Seq("time_to_first_op_s" -> f"${run.firstOpS}%.3f",
        "peak_rss_mb" -> f"${peakRssMb()}%.1f")
      println(s"perfbench info ${info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}")
    }
    val correct = run.failed == 0 && outcome.isDefined
    val metricJson = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    Files.writeString(result.toPath,
      s"""{"correct":$correct,"attempted":${math.max(1L, run.attempted)},"failed":${run.failed},""" +
        s""""metrics":$metricJson,"context":$context}""")
    sys.exit(if (correct) 0 else 1)
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).split(" ").take(3).mkString(" ")
    catch { case NonFatal(_) => "unknown" }

  /** High-water resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(new File("/proc/self/status").toPath)).split("\n")
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case NonFatal(_) => Double.NaN }
}
