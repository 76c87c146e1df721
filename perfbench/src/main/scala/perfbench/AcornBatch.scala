package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{Hnsw, MetaPredicate, Pq}

/** `acorn_batch`: reference-width serving with writes beside reads. The
  * corpus (2048-d) is indexed as a persisted HNSW graph set and a PQ code
  * table; batches of 16 external queries that share one filter go through
  * the filtered HNSW walk and the filtered PQ serve, and after the first
  * round of classes a 1,000-vector append runs. Every serve reads the index
  * from parquet; nothing is cached but the parsed metadata. */
object AcornBatch {
  val K = 10
  val NumSub = 16
  val NumCodes = 64
  val Shortlist = 100
  /** the reference's ACORN visit budget for the filtered graph walk */
  val MetaSearch = 64
  val BuildWarmups = 3
  val BuildSamples = 3

  def run(r: Run): Outcome = {
    val spark = r.spark
    val v = r.in.vectors.get
    val arr = r.in.arrivals.get
    val subDim = v.dims / NumSub
    val corpusDir = new File(r.work, "corpus").getPath

    // set-up: ingest the raw vectors into the corpus table every serve reads
    val (_, setups) = r.setUp {
      r.vectorFrame("vectors.f32", v.n, v.dims).write.mode("overwrite").parquet(corpusDir)
      spark.read.parquet(corpusDir).count()
    }
    def corpus: DataFrame = spark.read.parquet(corpusDir)

    // index build, repeated: parse the listings, build + persist HNSW and
    // PQ. The first builds run while the JIT compiles (the first takes about
    // three times as long as the last ones, the second up to half as long
    // again, the third up to a sixth) and are left out; build_s is the
    // median of the others
    var meta: DataFrame = null
    val parts = r.parts
    val (dirs, allBuilds) = r.repeated(BuildWarmups + BuildSamples) { i =>
      if (meta != null) meta.unpersist()
      val hnswDir = new File(r.work, s"hnsw-$i").getPath
      val pqDir = new File(r.work, s"pq-$i").getPath
      meta = AcornPoint.metadata(r)
      r.trace("hnsw.build_write")(_ => Hnsw.buildAndWrite(corpus, hnswDir, v.dims, parts))
      r.trace("pq.build_write")(_ => Pq.buildAndWriteIndex(corpus, pqDir, NumSub, subDim, NumCodes))
      (hnswDir, pqDir)
    }
    val (hnswDir, pqDir) = dirs
    val builds = allBuilds.drop(BuildWarmups)

    r.log("set-up and index build done")
    // ground truth per query: exact L2 top-10 over the filter's survivors
    val queries = r.in.queries
    val groups = queries.indices.grouped(Gen.shape("acorn_batch").groupSize).toIndexedSeq
    val passing = groups.map(g => Truth.passing(r.in.metas, queries(g.head).pred))
    val truth = groups.indices.map(gi => groups(gi).map(i =>
      i -> Truth.topK(v, passing(gi), r.in.queryVec(i), K, Truth.L2)).toMap)

    // the graph walk may stop short of k under its visit budget; the PQ
    // serve reranks a shortlist of survivors, so it always fills k
    def checkBatch(gi: Int, full: Boolean)(res: Map[Long, Seq[(Long, Long)]]): Seq[String] = {
      val ok = passing(gi).map(_.toLong).toSet
      groups(gi).flatMap { i =>
        val q = r.in.queryVec(i)
        val ans = res.getOrElse(i.toLong, Seq.empty)
        Truth.checkAnswer(ans, ok, id => Truth.l2(v.data, id.toInt * v.dims, q, v.dims), Truth.L2, K,
          if (full) Some(math.min(K, passing(gi).length)) else None).map(e => s"q$i: $e")
      }
    }
    def checkServe(gi: Int)(x: (Map[Long, Seq[(Long, Long)]], Map[Long, Seq[(Long, Long)]])): Seq[String] =
      checkBatch(gi, full = false)(x._1).map("hnsw " + _) ++ checkBatch(gi, full = true)(x._2).map("pq " + _)

    def byQuery(df: DataFrame, s: Span): Map[Long, Seq[(Long, Long)]] = {
      val out = df.select(col("q_id").cast("long"), col("vec_id").cast("long"), col("score").cast("long"))
      val rows = out.collect()
      s.resultRows = rows.length
      if (r.trace.enabled) s.rowsRead = Trace.scannedRows(out)
      rows.map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toSeq
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sorted(Truth.ordering(Truth.L2)) }
    }

    def serve(gi: Int): (Map[Long, Seq[(Long, Long)]], Map[Long, Seq[(Long, Long)]]) =
      r.trace("acorn_batch.batch") { _ =>
        val ids = groups(gi)
        val pred = MetaPredicate(queries(ids.head).pred.map { case (a, op, x) => a -> (op, x) }: _*)
        val pass = meta.filter(pred).select(col("doc_id").as("vec_id"))
        val hnsw = r.trace("hnsw.filtered_serve_batch") { s =>
          val df = Hnsw.searchFilteredPersistedBatch(spark, hnswDir, pass, parts,
            ids.map(i => (i.toLong, r.in.queryVec(i))), K, MetaSearch)
          s.markConstructed()
          byQuery(df, s)
        }
        val pq = r.trace("pq.serve_batch") { s =>
          val (_, cb) = Pq.restoreCodebook(spark, pqDir, NumSub, subDim)
          val codes = spark.read.parquet(s"$pqDir/codes").join(pass, "vec_id")
          val df = Pq.searchRerankBatchWideExternal(corpus, r.queryFrame(ids.map(_.toLong), ids.map(r.in.queryVec)),
            K, NumSub, subDim, NumCodes, Shortlist, cb = Some(cb), codes0 = Some(codes))
          s.markConstructed()
          byQuery(df, s)
        }
        (hnsw, pq)
      }

    // the append goes to a copy of the PQ index, so the serving index stays
    // the same for every batch; it serves query 0
    val arrivalIds = (0 until arr.n).map(j => v.n.toLong + j)
    val expectCodes = arrivalIds.indices.map(j => Truth.pqCodes(v, NumSub, NumCodes, arr.vec(j)).toSeq)
    def appendOnce(): Seq[(Long, Long)] = {
      val target = new File(r.work, "append")
      copyDir(new File(pqDir), target)
      r.trace("acorn_batch.append") { _ =>
        val arriving = r.vectorFrame("arrivals.f32", arr.n, arr.dims, idBase = v.n.toLong)
        r.trace("pq.append")(_ => Pq.appendToIndex(spark, target.getPath, arriving, NumSub, subDim))
        r.trace("hnsw.append_serve") { s =>
          val df = Hnsw.searchAppended(spark, hnswDir, arriving, parts, r.in.queryVec(0), K)
          s.markConstructed()
          df.select(col("vec_id").cast("long"), col("score").cast("long")).collect()
            .map(x => (x.getLong(0), x.getLong(1))).toSeq
        }
      }
    }
    def checkAppend(ans: Seq[(Long, Long)]): Seq[String] = {
      val codes = spark.read.parquet(new File(r.work, "append/codes").getPath)
      val total = codes.count()
      val added = codes.filter(col("vec_id") >= v.n).orderBy("vec_id").collect()
        .map(x => (x.getLong(0), (1 to NumSub).map(m => x.getAs[Number](m).longValue)))
      val errs = mutable.ArrayBuffer.empty[String]
      if (total != v.n + arr.n) errs += s"code table holds $total rows, expected ${v.n + arr.n}"
      if (added.map(_._1).toSeq != arrivalIds) errs += "appended ids differ from the arrivals"
      else if (added.map(_._2).toSeq != expectCodes) errs += "appended codes differ from the stored codebook's encoding"
      val q = r.in.queryVec(0)
      val exact = (id: Long) =>
        if (id < v.n) Truth.l2(v.data, id.toInt * v.dims, q, v.dims)
        else Truth.l2(arr.data, (id - v.n).toInt * arr.dims, q, arr.dims)
      errs ++= Truth.checkAnswer(ans, id => id >= 0 && id < v.n + arr.n, exact, Truth.L2, K, Some(K))
      errs.toSeq
    }
    lazy val withArrivals = v.copy(n = v.n + arr.n, data = v.data ++ arr.data)
    def appendTruth: Seq[(Long, Long)] =
      Truth.topK(withArrivals, Array.range(0, withArrivals.n), r.in.queryVec(0), K, Truth.L2)

    r.log("ground truth done")

    // warm-up: the first batch of each class, checked and giving the recall
    // but not timed; a class's first batch compiles its filter's plans
    groups.indices.foreach { gi =>
      r.op(s"warm-up batch $gi")(serve(gi))(checkServe(gi)).foreach { case ((hnsw, pq), _) =>
        groups(gi).foreach { i =>
          // the graph walk may find no survivor within its budget
          r.addRecall(s"hnsw.${queries(i).cls}", Truth.recall(hnsw.getOrElse(i.toLong, Nil), truth(gi)(i)))
          r.addRecall(s"pq.${queries(i).cls}", Truth.recall(pq.getOrElse(i.toLong, Nil), truth(gi)(i)))
        }
      }
    }
    r.warmedUp()

    // closed loop, one client: whole rounds of one batch per class, so every
    // run holds each class equally often, and one append after the first
    // round
    val batchLat = mutable.ArrayBuffer.empty[Double]
    val latByClass = groups.indices.map(_ => mutable.ArrayBuffer.empty[Double])
    var append: Option[(Double, Double)] = None
    val t0 = System.nanoTime()
    var b = 0
    while (b == 0 || b % groups.size != 0 || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      val gi = b % groups.size
      r.op(s"batch $b")(serve(gi))(checkServe(gi)).foreach { case (_, dt) => batchLat += dt; latByClass(gi) += dt }
      b += 1
      if (b == groups.size) {
        append = r.op("append")(appendOnce())(checkAppend).map { case (ans, dt) =>
          (dt, Truth.recall(ans, appendTruth))
        }
        deleteDir(new File(r.work, "append"))
      }
    }
    r.log(s"timed loop done: ${batchLat.size} batches")
    require(batchLat.nonEmpty, "no batch succeeded")

    // recall over both filtered serves: the ACORN walk over the graph and
    // the filtered compressed scan answer every query of the warm-up batches
    val recallKeys = for (path <- Seq("hnsw", "pq"); c <- Gen.Classes) yield s"$path.$c"
    val qps = batchLat.size * groups.head.size / batchLat.sum
    // the classes' batch latencies differ, so a median over the mix would
    // jump between them with the number of rounds; the op latency is the
    // mean of the per-class medians
    val p50 = Stats.mean(latByClass.filter(_.nonEmpty).map(x => Stats.median(x.toSeq)))
    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "op_latency_p50_ms" -> p50 * 1e3,
        "items_per_s" -> qps,
        "build_s" -> Stats.median(builds),
        "recall" -> Stats.mean(recallKeys.map(r.meanRecall))),
      layer = Map("trace.op_latency_p50_ms" -> p50 * 1e3),
      info = Seq(
        "op" -> "\"one batch of 16 queries through the filtered HNSW and PQ serves\"",
        "batches" -> batchLat.size.toString,
        "batch_latency_p50_s" -> f"$p50%.4f",
        "queries_per_s" -> f"$qps%.4f",
        "index_build_s" -> f"${Stats.median(builds)}%.4f",
        "append_rows_per_s" -> append.fold("null") { case (dt, _) => f"${arr.n / dt}%.2f" },
        "recall_at_10_by_path_class" -> recallKeys.map(k => f""""$k":${r.meanRecall(k)}%.4f""").mkString("{", ",", "}"),
        "append_serve_recall_at_10" -> append.fold("null") { case (_, rc) => f"$rc%.4f" },
        "batch_s_samples" -> batchLat.map(x => f"$x%.4f").mkString("[", ",", "]"),
        "setup_s_samples" -> setups.map(x => f"$x%.4f").mkString("[", ",", "]"),
        "build_s_samples" -> allBuilds.map(x => f"$x%.4f").mkString("[", ",", "]")))
  }

  private def copyDir(from: File, to: File): Unit = {
    deleteDir(to)
    val src = from.toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
  }

  def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }
}
