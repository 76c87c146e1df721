package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.HybridSearchEngine
import graft.sources.Listings

/** `acorn_point`: the reference's per-query loop. Queries arrive one at a
  * time and each runs through pre-filter, post-filter, ACORN and adaptive
  * ACORN search over a cached corpus. Every answer is a few rows, so the
  * time goes to plan construction, guard collects and job launches. */
object AcornPoint {
  val Methods: Seq[String] = Seq("pre_filter", "post_filter", "acorn", "acorn_adaptive")
  val K = 10
  /** queries (classes in turn) whose ACORN answers give the recall */
  val RecallQueries = 9

  /** Listings JSONL → per-image metadata keyed by vector id. */
  def metadata(r: Run): DataFrame = r.trace("sources.parse_listings") { s =>
    val parsed = Listings.parseListings(r.spark.read.text(r.file("listings.jsonl").getPath))
    val meta = Listings.imageMetadata(parsed).select(col("image_id").cast("long").as("doc_id"),
      col("brand"), col("color"), col("model_year"), col("item_weight"), col("country"))
    s.markConstructed()
    meta.cache()
    s.resultRows = meta.count()
    meta
  }

  def run(r: Run): Outcome = {
    val v = r.in.vectors.get
    val metas = r.in.metas
    var corpus: DataFrame = null
    var meta: DataFrame = null
    var engine: HybridSearchEngine = null
    val builds = mutable.ArrayBuffer.empty[Double]
    // set-up (ingest: parse + cache the corpus) and the engine's index build
    // (the centroid table, a sub-second job) repeated; the last ones serve
    val (_, setups) = r.setUp {
      if (corpus != null) { corpus.unpersist(); meta.unpersist() }
      meta = metadata(r)
      corpus = r.vectorFrame("vectors.f32", v.n, v.dims, labels = Some(v.labels)).cache()
      corpus.count()
    }
    (0 until 9).foreach { i =>
      if (i > 0) engine.centroids.unpersist()
      engine = HybridSearchEngine(corpus, meta)
      builds += r.timed(engine.centroids.count())._2
    }

    r.log("set-up and index build done")
    // ground truth, outside every timed region
    val queries = r.in.queries
    val passing = queries.map(q => Truth.passing(metas, q.pred))
    val truth = queries.indices.map(i => Truth.topK(v, passing(i), r.in.queryVec(i), K, Truth.Cosine))
    val passSets = passing.map(p => p.map(_.toLong).toSet)

    def ask(i: Int, method: String): Seq[(Long, Long)] = {
      val q = queries(i)
      r.trace(s"HybridSearchEngine.$method") { s =>
        val qdf = r.queryFrame(Seq(q.id), Seq(r.in.queryVec(i)))
        val pred = q.pred.map { case (a, op, value) => a -> (op, value) }.toMap
        val df = method match {
          case "pre_filter" => engine.preFilterSearch(pred, qdf, K)
          case "post_filter" => engine.postFilterSearch(pred, qdf, K)
          case "acorn" => engine.acornSearch(pred, qdf, K)
          case "acorn_adaptive" => engine.acornSearchAdaptive(pred, qdf, K)
        }
        s.markConstructed()
        val out = df.select(col("vec_id").cast("long"), col("score").cast("long"))
        val rows = out.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
        s.resultRows = rows.size
        if (r.trace.enabled) s.rowsRead = Trace.scannedRows(out)
        rows
      }
    }

    def check(i: Int, method: String)(ans: Seq[(Long, Long)]): Seq[String] = {
      val q = r.in.queryVec(i)
      val exact = (id: Long) => Truth.cosine(v.data, id.toInt * v.dims, q, v.dims)
      method match {
        case "pre_filter" => if (ans == truth(i)) Nil else Seq(s"pre-filter $ans != exact ${truth(i)}")
        case "acorn_adaptive" =>
          Truth.checkAnswer(ans, passSets(i), exact, Truth.Cosine, K, Some(math.min(K, passing(i).length)))
        case _ => Truth.checkAnswer(ans, passSets(i), exact, Truth.Cosine, K, None)
      }
    }

    // warm-up: one query through each method, checked but not timed
    Methods.foreach(m => r.op(s"warm-up $m")(ask(1, m))(check(1, m)))
    r.warmedUp()

    // closed loop, one client: every query through every method, in turn,
    // at least over the first `RecallQueries` queries, whose ACORN answers
    // give the recall (the same queries on every run of a seed)
    val ops = for (i <- queries.indices; m <- Methods) yield (i, m)
    val lat = mutable.ArrayBuffer.empty[Double]
    val latBy = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    var n = 0
    while (n < RecallQueries * Methods.size || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      val (i, m) = ops(n % ops.size)
      r.op(s"query ${queries(i).id} $m")(ask(i, m))(check(i, m)).foreach { case (ans, dt) =>
        lat += dt
        latBy.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += dt
        if (n < RecallQueries * Methods.size && m != "pre_filter")
          r.addRecall(s"$m.${queries(i).cls}", Truth.recall(ans, truth(i)))
      }
      n += 1
    }
    r.log(s"timed loop done: ${lat.size} queries")
    require(lat.nonEmpty, "no query succeeded")

    val acornByClass = Gen.Classes.map(c => r.meanRecall(s"acorn.$c"))
    // the methods' latencies differ by up to 2x, so the median of the mixed
    // samples would sit between modes; the op latency is the mean of the
    // per-method medians
    val p50 = Stats.mean(Methods.map(m => Stats.median(latBy(m).toSeq)))
    val tail = Stats.tail(lat.toSeq)
    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "op_latency_p50_ms" -> p50 * 1e3,
        "items_per_s" -> lat.size / lat.sum,
        "build_s" -> Stats.median(builds.toSeq),
        "recall" -> Stats.mean(acornByClass)),
      layer = Map(
        "HybridSearchEngine.post_filter.recall_at_10" ->
          Stats.mean(Gen.Classes.map(c => r.meanRecall(s"post_filter.$c"))),
        "trace.op_latency_p50_ms" -> p50 * 1e3),
      info = Seq(
        "op" -> "\"one query through one search method\"",
        "queries" -> lat.size.toString,
        "query_latency_p50_ms" -> f"${Stats.median(lat.toSeq) * 1e3}%.3f",
        "query_latency_tail" -> tail.fold("null") { case (p, x) => f"""{"percentile":"$p","ms":${x * 1e3}%.3f,"samples":${lat.size}}""" },
        "query_latency_p50_ms_by_method" -> Methods.map(m =>
          f""""$m":${latBy.get(m).fold(Double.NaN)(b => Stats.median(b.toSeq)) * 1e3}%.3f""").mkString("{", ",", "}"),
        "recall_at_10_by_method_class" -> r.recalls.map { case (k, b) => f""""$k":${b.sum / b.size}%.4f""" }.mkString("{", ",", "}"),
        "setup_s_samples" -> setups.map(x => f"$x%.4f").mkString("[", ",", "]"),
        "build_s_samples" -> builds.map(x => f"$x%.4f").mkString("[", ",", "]")))
  }
}
