package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.operators.{Bpe, Dedup}

/** `curation`: the training-data half as one batch job over generated
  * docs with planted duplicates: minhash LSH → connected components →
  * normalised keep-best → BPE train + apply. Shuffle-heavy and touching no
  * search layer. */
object Curation {
  val NumHashes = 36
  val Bands = 12
  val MaxBucket = 64
  /** BPE training scans (16 merges each at most) */
  val BpeScans = 4
  /** shingle Jaccard at which a candidate pair counts as a true duplicate */
  val TrueJaccard = 0.5

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("n_chars", LongType)))

  /** One pass of the job; the stage outputs, collected. */
  final case class PassOut(pairs: Set[(Long, Long)], components: Map[Long, Long], keepers: Map[Long, Long],
                           merges: Seq[(String, String, Long)], applied: Map[String, Seq[String]],
                           trainS: Double)

  def run(r: Run): Outcome = {
    val spark = r.spark
    val docs = r.in.docs.get
    val docsDir = new File(r.work, "docs").getPath

    // set-up: ingest the JSONL docs into the parquet table the job reads
    val (_, setups) = r.setUp {
      spark.read.schema(docSchema).json(r.file("docs.jsonl").getPath)
        .write.mode("overwrite").parquet(docsDir)
      spark.read.parquet(docsDir).count()
    }

    def pass(in: DataFrame): PassOut = r.trace("curation.pass") { _ =>
      val pairsDf = r.trace("dedup.minhash_lsh") { s =>
        val df = Dedup.minhashLsh(in, NumHashes, Bands, maxBucket = Some(MaxBucket))
        s.markConstructed()
        val m = df.localCheckpoint(eager = true)
        s.resultRows = m.count()
        m
      }
      val pairs = pairsDf.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val components = r.trace("dedup.connected_components") { s =>
        val df = Dedup.connectedComponents(pairsDf)
        s.markConstructed()
        df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      }
      val keepers = r.trace("dedup.keep_best") { s =>
        val df = Dedup.normalizedKeepBest(in)
        s.markConstructed()
        df.select("doc_id", "keeper").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      }
      val (merges, trainS) = r.timed(r.trace("bpe.train")(_ => Bpe.trainBatchedMerges(in, scans = BpeScans)))
      val applied = r.trace("bpe.apply") { s =>
        val df = Bpe.applyMergeRules(in, merges.map(m => (m.l, m.r)))
        s.markConstructed()
        df.select("word", "syms").collect().map(x => x.getString(0) -> x.getSeq[String](1)).toMap
      }
      spark.catalog.clearCache()
      PassOut(pairs, components, keepers, merges.map(m => (m.l, m.r, m.n)), applied, trainS)
    }

    r.log("set-up done")
    // ground truth from the texts alone, outside every timed region
    val texts = docs.text
    val shingles = texts.map(Truth.shingles)
    def jaccard(p: (Long, Long)): Double = Truth.jaccard(shingles(p._1.toInt), shingles(p._2.toInt))
    def precisionOf(o: PassOut): Double = o.pairs.count(jaccard(_) >= TrueJaccard).toDouble / math.max(1, o.pairs.size)
    val truePairs = Truth.similarPairs(shingles, TrueJaccard)
    val truthPairs = Truth.lshPairs(texts, NumHashes, Bands, MaxBucket)
    val truthComponents = Truth.components(truthPairs)
    val truthKeepers = Truth.keepBest(texts)
    val (truthMerges, vocab) = Truth.bpeTrain(texts, BpeScans, Bpe.BatchM, Bpe.BatchC)
    val rules = truthMerges.map(m => (m._1, m._2))
    val truthApplied = vocab.keys.map(w => w -> Truth.applyMerges(w.map(_.toString), rules)).toMap

    // LSH candidates are approximate, and no property of the pairs alone
    // tells a correct candidate set from a wrong one: the published scheme's
    // correlated permutations put docs that share one shingle into a band
    // bucket, and a hash collision can pair docs that share none. So the
    // pairs must equal an independent implementation of the scheme, and the
    // exact Jaccard of each reported pair is measured, not gated
    def check(o: PassOut): Seq[String] = Seq(
      (o.pairs == truthPairs) -> s"LSH pairs: ${o.pairs.size} reported, ${truthPairs.size} expected, ${(o.pairs diff truthPairs).size} unexpected",
      (o.components == truthComponents) -> "connected components differ from union-find over the pairs",
      (o.keepers == truthKeepers) -> "keep-best keepers differ",
      (o.merges == truthMerges) -> s"BPE merges differ: ${o.merges.take(3)} vs ${truthMerges.take(3)}",
      (o.applied == truthApplied) -> "BPE-applied symbols differ"
    ).collect { case (false, msg) => msg }

    // a pair is found when graft's components put both docs in one; on a
    // run that passes the check these figures are fixed by the scheme
    def found(o: PassOut)(p: (Long, Long)): Boolean =
      o.components.get(p._1).exists(c => o.components.get(p._2).contains(c))
    val planted = docs.planted.valuesIterator.flatten.toSet

    r.log("ground truth done")
    // warm-up: one full pass, checked but not timed; the first pass runs
    // about twice as long as the next ones while the JIT compiles
    r.op("warm-up pass")(pass(spark.read.parquet(docsDir)))(check)
    r.warmedUp()
    val lat = mutable.ArrayBuffer.empty[Double]
    val trains = mutable.ArrayBuffer.empty[Double]
    var last: Option[PassOut] = None
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      r.op(s"pass $n")(pass(spark.read.parquet(docsDir)))(check).foreach { case (o, dt) =>
        lat += dt; trains += o.trainS; last = Some(o)
      }
      n += 1
    }
    r.log(s"timed loop done: ${lat.size} passes")
    require(lat.nonEmpty, "no pass succeeded")
    val o = last.get
    val byKind = Seq("exact", "near").map(k => docs.planted(k).count(found(o)).toDouble / docs.planted(k).size)
    val p50 = Stats.median(lat.toSeq)
    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "op_latency_p50_ms" -> p50 * 1e3,
        "items_per_s" -> texts.length / p50,
        "build_s" -> Stats.median(trains.toSeq),
        "recall" -> planted.count(found(o)).toDouble / planted.size),
      layer = Map(
        "dedup.candidates_per_true_pair" -> o.pairs.size.toDouble / truePairs.size,
        "trace.op_latency_p50_ms" -> p50 * 1e3),
      info = Seq(
        "op" -> "\"one pass of the curation job over every doc\"",
        "passes" -> lat.size.toString,
        "docs_per_s" -> f"${texts.length / p50}%.2f",
        "dedup_pair_recall_by_kind" -> Seq("exact", "near").zip(byKind).map { case (k, x) => f""""$k":$x%.4f""" }.mkString("{", ",", "}"),
        "lsh_candidates" -> o.pairs.size.toString,
        "lsh_candidates_verified_share" -> f"${precisionOf(o)}%.4f",
        "true_pairs" -> truePairs.size.toString,
        "true_pair_recall" -> f"${truePairs.count(found(o)).toDouble / math.max(1, truePairs.size)}%.4f",
        "bpe_merges" -> truthMerges.size.toString,
        "setup_s_samples" -> setups.map(x => f"$x%.4f").mkString("[", ",", "]"),
        "pass_s_samples" -> lat.map(x => f"$x%.4f").mkString("[", ",", "]"),
        "bpe_train_s_samples" -> trains.map(x => f"$x%.4f").mkString("[", ",", "]")))
  }
}
