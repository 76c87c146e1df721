package perfbench

import java.security.MessageDigest
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Ground truth in plain JVM code, from the generated arrays alone: no
  * Spark and no graft code. Arithmetic follows the engine's documented
  * conventions (double accumulation in ascending dimension order, scores
  * scaled as floor(x·10⁴ + 0.5), ties to the lower id), so exact answers
  * can be compared bit for bit. */
object Truth {

  def scaled(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong

  def cosine(a: Array[Float], off: Int, b: Array[Float], dims: Int): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < dims) {
      val x = a(off + i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    scaled(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  def l2(a: Array[Float], off: Int, b: Array[Float], dims: Int): Long = {
    var acc = 0.0; var i = 0
    while (i < dims) { val d = a(off + i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    scaled(math.sqrt(acc))
  }

  sealed trait Metric { def score(v: Gen.VectorSet, i: Int, q: Array[Float]): Long; def higherIsBetter: Boolean }
  case object Cosine extends Metric {
    def score(v: Gen.VectorSet, i: Int, q: Array[Float]): Long = cosine(v.data, i * v.dims, q, v.dims)
    val higherIsBetter = true
  }
  case object L2 extends Metric {
    def score(v: Gen.VectorSet, i: Int, q: Array[Float]): Long = l2(v.data, i * v.dims, q, v.dims)
    val higherIsBetter = false
  }

  /** (id, score) best first: by score in the metric's order, then lower id. */
  def ordering(m: Metric): Ordering[(Long, Long)] =
    if (m.higherIsBetter) Ordering.by[(Long, Long), (Long, Long)] { case (id, s) => (-s, id) }
    else Ordering.by[(Long, Long), (Long, Long)] { case (id, s) => (s, id) }

  /** Exact top-k over the ids in `candidates`. */
  def topK(v: Gen.VectorSet, candidates: Array[Int], q: Array[Float], k: Int, m: Metric): Seq[(Long, Long)] =
    candidates.iterator.map(i => (i.toLong, m.score(v, i, q))).toSeq.sorted(ordering(m)).take(k)

  def passing(metas: Array[Gen.Meta], pred: Seq[(String, String, Any)]): Array[Int] =
    metas.indices.filter(i => Gen.passes(metas(i), pred)).toArray

  /** Problems with an approximate filtered answer: every id must pass the
    * filter, appear once, carry its exact score, and come in rank order.
    * `exactSize`: the answer must hold exactly this many rows. */
  def checkAnswer(ans: Seq[(Long, Long)], ok: Long => Boolean, exactScore: Long => Long,
                  m: Metric, k: Int, exactSize: Option[Int]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (ans.size > k) errs += s"${ans.size} rows > k=$k"
    exactSize.foreach(n => if (ans.size != n) errs += s"${ans.size} rows, expected $n")
    if (ans.map(_._1).distinct.size != ans.size) errs += "duplicate ids"
    ans.foreach { case (id, s) =>
      if (!ok(id)) errs += s"id $id fails the filter"
      else if (exactScore(id) != s) errs += s"id $id score $s, exact ${exactScore(id)}"
    }
    if (ans != ans.sorted(ordering(m))) errs += "not in rank order"
    errs.toSeq
  }

  def recall(ans: Seq[(Long, Long)], truth: Seq[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else ans.map(_._1).toSet.intersect(truth.map(_._1).toSet).size.toDouble / truth.size

  // ---------------------------------------------------------------- PQ codes

  /** PQ encode with a seeded codebook (the first `numCodes` vectors): per
    * subspace the nearest codeword by floor(‖x − c‖²·10⁴), lowest code on
    * ties. */
  def pqCodes(base: Gen.VectorSet, numSub: Int, numCodes: Int, x: Array[Float]): Array[Long] = {
    val subDim = base.dims / numSub
    Array.tabulate(numSub) { m =>
      var best = Long.MaxValue
      var c = 0
      while (c < numCodes) {
        var acc = 0.0; var j = 0
        while (j < subDim) {
          val d = x(m * subDim + j).toDouble - base.data(c * base.dims + m * subDim + j).toDouble
          acc += d * d; j += 1
        }
        val packed = math.floor(acc * 10000.0).toLong * numCodes + c
        if (packed < best) best = packed
        c += 1
      }
      best % numCodes
    }
  }

  // ---------------------------------------------------------------- text

  def tokens(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  /** The first 15 hex digits of md5(s) as a number: the top 60 bits. */
  private def md5Prefix60(md: MessageDigest, s: String): Long =
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes(UTF_8))).getLong >>> 4

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else a.intersect(b).size.toDouble / a.union(b).size

  def shingles(text: String): Set[String] = tokens(text).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** MinHash + banded LSH candidate pairs, from the published scheme: word
    * 3-shingles, a 60-bit md5 prefix hash mod P, permutations
    * (a_j·h + b_j) mod P, bands of consecutive minima; pairs share a band
    * bucket of at most `maxBucket` docs. */
  def lshPairs(texts: Array[String], numHashes: Int, bands: Int, maxBucket: Int): Set[(Long, Long)] = {
    val P = 1000000007L
    val a = Array.tabulate(numHashes)(j => (2654435761L * (j + 1)) % (P - 1) + 1)
    val b = Array.tabulate(numHashes)(j => (40503L * (j + 1) % P) * 2654435761L % P)
    val rows = numHashes / bands
    val buckets = mutable.HashMap.empty[(Int, Seq[Long]), mutable.ArrayBuffer[Long]]
    val md = MessageDigest.getInstance("MD5")
    texts.indices.foreach { id =>
      val t = tokens(texts(id))
      if (t.length >= 3) {
        val hs = t.sliding(3).map(w => md5Prefix60(md, w.mkString(" ")) % P).toArray
        val sig = Array.tabulate(numHashes)(j => hs.iterator.map(h => (a(j) * h + b(j)) % P).min)
        (0 until bands).foreach { band =>
          buckets.getOrElseUpdate((band, sig.slice(band * rows, (band + 1) * rows).toSeq),
            mutable.ArrayBuffer.empty) += id.toLong
        }
      }
    }
    buckets.valuesIterator.filter(_.size <= maxBucket).flatMap { ids =>
      for (x <- ids.iterator; y <- ids.iterator if x < y) yield (x, y)
    }.toSet
  }

  /** Every doc pair whose shingle sets have Jaccard ≥ `threshold`, found
    * exactly: pairs that share no shingle have Jaccard 0, so only pairs
    * within one shingle's posting list are scored. */
  def similarPairs(sh: Array[Set[String]], threshold: Double): Set[(Long, Long)] = {
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sh.indices.foreach(i => sh(i).foreach(g => postings.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i))
    val candidates = mutable.HashSet.empty[(Int, Int)]
    postings.valuesIterator.foreach(ids => for (x <- ids; y <- ids if x < y) candidates += ((x, y)))
    candidates.iterator.filter { case (x, y) => jaccard(sh(x), sh(y)) >= threshold }
      .map { case (x, y) => (x.toLong, y.toLong) }.toSet
  }

  /** Connected components of a pair graph: each vertex labelled with the
    * lowest id of its component. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Normalised keep-best: docs equal after lower-casing and collapsing
    * every non-alphanumeric run to one space form a group; the longest
    * text is kept, ties to the lower id. Returns doc → keeper. */
  def keepBest(texts: Array[String]): Map[Long, Long] = {
    val groups = texts.indices.groupBy(i => texts(i).toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim)
    groups.valuesIterator.flatMap { ids =>
      val keeper = ids.minBy(i => (-math.min(texts(i).length, 999999), i))
      ids.map(i => i.toLong -> keeper.toLong)
    }.toMap
  }

  /** Greedy left-to-right application of ordered merge rules. */
  def applyMerges(syms: Seq[String], rules: Seq[(String, String)]): Seq[String] =
    rules.foldLeft(syms) { case (cur, (l, r)) =>
      val out = mutable.ArrayBuffer.empty[String]
      cur.foreach { s => if (out.nonEmpty && out.last == l && s == r) out(out.size - 1) = l + r else out += s }
      out.toSeq
    }

  /** Batched BPE training (Sennrich et al. merges, accepted in batches):
    * each scan ranks adjacent symbol pairs by frequency (then l, then r),
    * takes up to `batchM` of the top `poolC` pairs whose symbols do not
    * interact with an earlier pick, and applies them. Returns (l, r, n). */
  def bpeTrain(texts: Array[String], scans: Int, batchM: Int, poolC: Int): (Seq[(String, String, Long)], Map[String, Long]) = {
    val freq = mutable.HashMap.empty[String, Long]
    texts.foreach(t => tokens(t).foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1))
    val base = freq.keys.map(w => w -> w.map(_.toString).toSeq).toMap
    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    (1 to scans).foreach { _ =>
      val rules = merges.map(m => (m._1, m._2)).toSeq
      val counts = mutable.HashMap.empty[(String, String), Long]
      base.foreach { case (w, syms) =>
        val cur = applyMerges(syms, rules)
        cur.sliding(2).filter(_.size == 2).foreach(p => counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + freq(w))
      }
      val pool = counts.toSeq.sortBy { case ((l, r), n) => (-n, l, r) }.take(poolC)
      val blocked = mutable.Set.empty[String]
      var accepted = 0
      pool.foreach { case ((l, r), n) =>
        if (accepted < batchM && !blocked(l) && !blocked(r) && !blocked(l + r)) {
          accepted += 1; merges += ((l, r, n)); blocked ++= Seq(l, r, l + r)
        }
      }
    }
    (merges.toSeq, freq.toMap)
  }
}
