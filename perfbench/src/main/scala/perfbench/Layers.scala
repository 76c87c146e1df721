package perfbench

/** Metric names and units, and how spans turn into per-layer metrics.
  * BENCHMARK.json at the repo root lists the same names; run.py
  * refuses a result whose names differ from it. */
object Layers {

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "retained_heap_mb" -> "MB", "op_latency_p50_ms" -> "ms", "items_per_s" -> "1/s",
    "build_s" -> "s", "recall" -> "ratio")

  def endToEnd(o: Outcome, heapMb: Double): Map[String, (Double, String)] = {
    val values = o.endToEnd + ("retained_heap_mb" -> heapMb)
    EndToEndUnits.map { case (k, u) => k -> (values(k), u) }.toMap
  }

  private val engineStats = Seq("wall_s", "construct_s", "exec_s", "jobs", "gc_s")

  /** Span name → the statistics reported for it (means over its calls). */
  val SpanStats: Seq[(String, Seq[String])] = Seq(
    "HybridSearchEngine.pre_filter" -> engineStats,
    "HybridSearchEngine.post_filter" -> engineStats,
    "HybridSearchEngine.acorn" -> (engineStats ++ Seq("rows_read_per_result", "task_queue_s")),
    "HybridSearchEngine.acorn_adaptive" -> engineStats,
    "sources.parse_listings" -> Seq("wall_s"),
    "hnsw.build_write" -> Seq("wall_s", "executor_cpu_s"),
    "pq.build_write" -> Seq("wall_s", "executor_cpu_s"),
    "hnsw.filtered_serve_batch" -> Seq("wall_s", "executor_cpu_s", "jobs", "gc_s"),
    "pq.serve_batch" -> Seq("wall_s", "construct_s", "exec_s", "executor_cpu_s", "shuffle_bytes",
      "rows_read_per_result", "jobs", "task_skew", "task_queue_s", "gc_s"),
    "pq.append" -> Seq("wall_s", "jobs"),
    "hnsw.append_serve" -> Seq("wall_s", "jobs"),
    "dedup.minhash_lsh" -> Seq("wall_s", "shuffle_bytes", "jobs"),
    "dedup.connected_components" -> Seq("wall_s", "jobs"),
    "dedup.keep_best" -> Seq("wall_s"),
    "bpe.train" -> Seq("wall_s", "jobs", "executor_cpu_s"),
    "bpe.apply" -> Seq("wall_s", "jobs", "executor_cpu_s"),
    "acorn_batch.batch" -> Seq("gc_s", "executor_cpu_share"),
    "curation.pass" -> Seq("gc_s", "executor_cpu_share"))

  private val Units = Map("wall_s" -> "s", "construct_s" -> "s", "exec_s" -> "s", "jobs" -> "count",
    "gc_s" -> "s", "rows_read_per_result" -> "rows", "task_queue_s" -> "s", "executor_cpu_s" -> "s",
    "shuffle_bytes" -> "bytes", "task_skew" -> "ratio", "executor_cpu_share" -> "ratio")

  /** Per-layer metrics the workloads compute themselves, and the kernel table. */
  val Computed: Seq[(String, String)] =
    Seq("HybridSearchEngine.post_filter.recall_at_10" -> "ratio",
      "dedup.candidates_per_true_pair" -> "ratio",
      "trace.op_latency_p50_ms" -> "ms") ++
      (for (k <- Seq("cosine", "l2", "pq_nearest_code", "nearest_centroid"); d <- Seq(64, 2048))
        yield s"functions.$k.d$d.ns_per_row" -> "ns") ++
      Seq("functions.bpe_apply.ns_per_row" -> "ns", "functions.word_shingles.ns_per_row" -> "ns")

  /** Executor CPU of a span and every span under it. */
  private def treeCpuNs(s: Span): Long = s.cpuNs.get + s.children.map(treeCpuNs).sum

  private def stat(s: Span, name: String, cores: Int): Double = name match {
    case "wall_s" => s.selfS
    case "construct_s" => s.constructS
    case "exec_s" => s.execS
    case "jobs" => s.jobs.get
    case "gc_s" => s.gcMs / 1e3
    case "rows_read_per_result" => s.rowsRead.toDouble / math.max(1L, s.resultRows)
    case "task_queue_s" => s.queueMs.get / 1e3
    case "executor_cpu_s" => s.cpuNs.get / 1e9
    case "shuffle_bytes" => s.shuffleBytes.get.toDouble
    case "task_skew" => s.taskSkew
    // share of the span's core-seconds the executors spent computing: near
    // 1 when kernels dominate, near 0 when driver-side fixed cost does
    case "executor_cpu_share" => treeCpuNs(s) / 1e9 / (s.wallS * cores)
  }

  /** Every per-layer metric. A span the workload never opens reads 0: on
    * that workload the layer did no work. */
  def perLayer(t: Trace, o: Outcome, kernels: Map[String, Double], cores: Int): Map[String, (Double, String)] = {
    val fromSpans = for ((span, stats) <- SpanStats; st <- stats) yield {
      val calls = t.named(span)
      s"$span.$st" -> (if (calls.isEmpty) 0.0 else Stats.mean(calls.map(stat(_, st, cores))), Units(st))
    }
    val computed = Computed.map { case (k, u) => k -> (o.layer.getOrElse(k, kernels.getOrElse(k, 0.0)), u) }
    (fromSpans ++ computed).toMap
  }

  /** The span tree, aggregated by path: calls and mean statistics. */
  def tree(t: Trace): Seq[String] = {
    val byPath = scala.collection.mutable.LinkedHashMap.empty[Seq[String], scala.collection.mutable.ArrayBuffer[Span]]
    def walk(s: Span, path: Seq[String]): Unit = {
      val p = path :+ s.name
      byPath.getOrElseUpdate(p, scala.collection.mutable.ArrayBuffer.empty) += s
      s.children.foreach(walk(_, p))
    }
    t.roots.foreach(walk(_, Seq.empty))
    byPath.toSeq.map { case (path, spans) =>
      def m(f: Span => Double) = f"${Stats.mean(spans.toSeq.map(f))}%.4f"
      ("  " * (path.size - 1)) + path.last +
        s" calls=${spans.size} span_s=${m(_.wallS)} self_s=${m(_.selfS)} construct_s=${m(_.constructS)}" +
        s" exec_s=${m(_.execS)} jobs=${m(_.jobs.get)} tasks=${m(_.tasks.get)} cpu_s=${m(_.cpuNs.get / 1e9)}" +
        s" shuffle_bytes=${m(_.shuffleBytes.get)} result_bytes=${m(_.resultBytes.get)}" +
        s" task_queue_s=${m(_.queueMs.get / 1e3)} rows_read=${m(_.rowsRead)} gc_s=${m(_.gcMs / 1e3)}"
    }
  }

  def spansJson(t: Trace): String = t.all.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.fold("null")(_.id.toString)},""" +
      f""""span_s":${s.wallS}%.6f,"self_s":${s.selfS}%.6f,"construct_s":${s.constructS}%.6f,"exec_s":${s.execS}%.6f,""" +
      f""""jobs":${s.jobs.get},"tasks":${s.tasks.get},"executor_cpu_s":${s.cpuNs.get / 1e9}%.6f,""" +
      f""""shuffle_bytes":${s.shuffleBytes.get},"result_bytes":${s.resultBytes.get},""" +
      f""""task_queue_s":${s.queueMs.get / 1e3}%.3f,"rows_read":${s.rowsRead},"result_rows":${s.resultRows},""" +
      f""""task_skew":${s.taskSkew}%.3f,"gc_s":${s.gcMs / 1e3}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
