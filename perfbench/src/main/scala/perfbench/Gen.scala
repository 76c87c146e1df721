package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Everything the program under test sees comes
  * from these files; the same seed gives byte-identical files.
  *
  * Shapes follow the Amazon Berkeley Objects (ABO) listings the reference
  * indexes: one JSON listing per line, five metadata attributes with some
  * missing, a main image plus other images per listing, and one embedding
  * per image. Image ids are the decimal vector ids, so joining metadata to
  * vectors needs no separate id map.
  */
object Gen {

  /** One query: its id, selectivity class, predicate in the reference's
    * `{attr: (op, value)}` language, and vector (stored separately). */
  final case class Query(id: Long, cls: String, pred: Seq[(String, String, Any)])

  /** One image's metadata; `None` is a missing attribute. */
  final case class Meta(brand: Option[String], color: Option[String], year: Option[Long],
                        weight: Option[Double], country: Option[String])

  final case class VectorSet(n: Int, dims: Int, data: Array[Float], labels: Array[Int]) {
    def vec(i: Int): Array[Float] = java.util.Arrays.copyOfRange(data, i * dims, (i + 1) * dims)
  }

  /** Generated docs: text per doc and the planted duplicate pairs by kind
    * (`exact` copies, `near` copies with a few tokens replaced). */
  final case class Docs(text: Array[String], planted: Map[String, Seq[(Long, Long)]])

  val Classes: Seq[String] = Seq("c1", "c2", "c3")

  private val Brands = (0 until 40).map(i => s"Brand${"ABCDEFGHIJKLMNOPQRSTUVWXYZ"(i % 26)}${i / 26}")
  private val Colors = Seq("black", "white", "blue", "navy blue", "light blue", "red", "dark red",
    "green", "olive green", "grey", "silver", "brown", "beige", "pink", "sky blue", "yellow")
  private val Countries = Seq("US", "CN", "IN", "DE", "GB", "JP", "IT", "FR")
  private val CountryWeights = Seq(0.40, 0.25, 0.10, 0.07, 0.06, 0.05, 0.04, 0.03)

  // ---------------------------------------------------------------- random

  private final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    private var spare = Double.NaN
    def int(n: Int): Int = r.nextInt(n)
    def uniform(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    /** Box-Muller with StrictMath, so the stream is fixed by the seed alone. */
    def gaussian(): Double =
      if (!spare.isNaN) { val s = spare; spare = Double.NaN; s }
      else {
        var u = 0.0
        while (u == 0.0) u = r.nextDouble()
        val v = r.nextDouble()
        val m = StrictMath.sqrt(-2.0 * StrictMath.log(u))
        spare = m * StrictMath.sin(2 * math.Pi * v)
        m * StrictMath.cos(2 * math.Pi * v)
      }
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def weighted[A](xs: Seq[A], ws: Seq[Double]): A = {
      var u = r.nextDouble() * ws.sum
      var i = 0
      while (i < xs.size - 1 && u >= ws(i)) { u -= ws(i); i += 1 }
      xs(i)
    }
  }

  /** Independent stream per purpose: adding a stream never shifts another. */
  private def stream(seed: Long, purpose: Int): Rng =
    new Rng(seed * 0x9E3779B97F4A7C15L + purpose * 0xBF58476D1CE4E5B9L)

  // ---------------------------------------------------------------- vectors

  /** Gaussian clusters: unit-variance centers, `noise` per-dimension spread.
    * Labels come from `clusterOf` so listings and their images share one. */
  private def vectors(rng: Rng, centers: Array[Array[Double]], clusterOf: Int => Int,
                      n: Int, noise: Double): VectorSet = {
    val dims = centers.head.length
    val data = new Array[Float](n * dims)
    val labels = Array.tabulate(n)(clusterOf)
    var i = 0
    while (i < n) {
      val c = centers(labels(i))
      var j = 0
      while (j < dims) { data(i * dims + j) = (c(j) + noise * rng.gaussian()).toFloat; j += 1 }
      i += 1
    }
    VectorSet(n, dims, data, labels)
  }

  private def centers(rng: Rng, clusters: Int, dims: Int): Array[Array[Double]] =
    Array.fill(clusters, dims)(rng.gaussian())

  // ---------------------------------------------------------------- listings

  /** Listing per group of 1–4 consecutive images, all in one cluster. Brand
    * and colour lean towards a per-cluster favourite, as product categories
    * do; year, weight and country are independent of the image. */
  private def listings(rng: Rng, nImages: Int, clusters: Int): (Array[Meta], Array[Int], Seq[String]) = {
    val metas = new Array[Meta](nImages)
    val cluster = new Array[Int](nImages)
    val lines = ArrayBuffer.empty[String]
    var next = 0
    var item = 0
    while (next < nImages) {
      val size = math.min(nImages - next, 1 + rng.int(4))
      val c = rng.int(clusters)
      val brand = if (rng.chance(0.12)) None
        else Some(if (rng.chance(0.6)) Brands((c * 7) % Brands.size) else Brands(zipf(rng, Brands.size)))
      val color = if (rng.chance(0.15)) None
        else Some(if (rng.chance(0.5)) Colors((c * 5) % Colors.size) else rng.pick(Colors))
      val year = if (rng.chance(0.25)) None else Some(2008L + rng.int(16))
      val weight = if (rng.chance(0.20)) None
        else Some(math.max(1L, math.round(StrictMath.exp(1.0 + rng.gaussian()) * 100)) / 100.0)
      val country = if (rng.chance(0.05)) None else Some(rng.weighted(Countries, CountryWeights))
      val m = Meta(brand, color, year, weight, country)
      (next until next + size).foreach { i => metas(i) = m; cluster(i) = c }
      lines += listingJson(f"B$item%09d", next, size, m)
      next += size
      item += 1
    }
    (metas, cluster, lines.toSeq)
  }

  private def zipf(rng: Rng, n: Int): Int = {
    // inverse-CDF over 1/(k+1) weights; n is small
    val total = (1 to n).map(1.0 / _).sum
    var u = rng.uniform() * total
    var k = 0
    while (k < n - 1 && u >= 1.0 / (k + 1)) { u -= 1.0 / (k + 1); k += 1 }
    k
  }

  private def q(s: String) = "\"" + s + "\""

  private def listingJson(itemId: String, first: Int, size: Int, m: Meta): String = {
    val fields = ArrayBuffer(s""""item_id":${q(itemId)}""", s""""main_image_id":${q(first.toString)}""")
    if (size > 1)
      fields += s""""other_image_id":${(first + 1 until first + size).map(i => q(i.toString)).mkString("[", ",", "]")}"""
    m.brand.foreach(b => fields += s""""brand":[{"language_tag":"en_US","value":${q(b)}}]""")
    m.color.foreach(c => fields += s""""color":[{"language_tag":"en_US","value":${q(c)}}]""")
    m.year.foreach(y => fields += s""""model_year":[{"value":$y}]""")
    m.weight.foreach(w => fields +=
      s""""item_weight":[{"normalized_value":{"unit":"pounds","value":$w},"unit":"pounds","value":$w}]""")
    m.country.foreach(c => fields += s""""country":${q(c)}""")
    fields.mkString("{", ",", "}")
  }

  // ---------------------------------------------------------------- predicates

  /** Predicate templates per selectivity class; together they use all six
    * ops of the reference's query language.
    *  - c1 (~1 %): brand exact + colour substring
    *  - c2 (~10–15 %): model_year geq + item_weight leq
    *  - c3 (~50 %): item_weight < + model_year > */
  private def predicate(rng: Rng, cls: String): Seq[(String, String, Any)] = cls match {
    case "c1" => Seq(("brand", "exact", Brands(1 + rng.int(Brands.size - 1))), ("color", "substring", "e"))
    case "c2" => Seq(("model_year", "geq", 2017L + rng.int(3)), ("item_weight", "leq", 3.0))
    case "c3" => Seq(("item_weight", "<", 15.0 + 5 * rng.int(3)), ("model_year", ">", 2009L))
  }

  /** The reference semantics: every constraint holds, a missing attr fails. */
  def passes(m: Meta, pred: Seq[(String, String, Any)]): Boolean = pred.forall {
    case (attr, op, v) =>
      val value: Option[Any] = attr match {
        case "brand" => m.brand; case "color" => m.color; case "model_year" => m.year
        case "item_weight" => m.weight; case "country" => m.country
      }
      value.exists { x =>
        (x, v) match {
          case (a: String, b: String) => op match {
            case "exact" => a == b
            case "substring" => a.contains(b)
            case _ => cmp(a.compareTo(b), op)
          }
          case (a: Long, b: Long) => if (op == "exact") a == b else cmp(java.lang.Long.compare(a, b), op)
          case (a: Double, b: Double) => if (op == "exact") a == b else cmp(java.lang.Double.compare(a, b), op)
          case other => throw new IllegalArgumentException(s"predicate type mismatch: $other")
        }
      }
  }

  private def cmp(c: Int, op: String): Boolean = op match {
    case "<" => c < 0; case ">" => c > 0; case "leq" => c <= 0; case "geq" => c >= 0
  }

  /** Queries in groups that share one predicate (a batch serves one
    * filter); classes take turns. Each query is a perturbed image that
    * passes the predicate: a shopper looking for something like an item
    * with those attributes. */
  private def queries(rng: Rng, vs: VectorSet, metas: Array[Meta], groupsPerClass: Int,
                      groupSize: Int, noise: Double): (Seq[Query], Array[Float]) = {
    val qs = ArrayBuffer.empty[Query]
    val data = ArrayBuffer.empty[Float]
    for (_ <- 0 until groupsPerClass; cls <- Classes) {
      var pred = predicate(rng, cls)
      var passing = metas.indices.filter(j => passes(metas(j), pred))
      while (passing.size < 10) { pred = predicate(rng, cls); passing = metas.indices.filter(j => passes(metas(j), pred)) }
      (0 until groupSize).foreach { _ =>
        val anchor = passing(rng.int(passing.size))
        vs.vec(anchor).foreach(x => data += (x + noise * rng.gaussian()).toFloat)
        qs += Query(qs.size.toLong, cls, pred)
      }
    }
    (qs.toSeq, data.toArray)
  }

  // ---------------------------------------------------------------- docs

  /** Syllable words with a Zipf frequency, ~40 tokens per doc, and planted
    * duplicate groups: exact copies, near copies (2–3 tokens replaced) and
    * normalisation variants (case and punctuation only). */
  private def docs(rng: Rng, nDocs: Int, vocab: Int): Docs = {
    val syll = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val words = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < vocab) seen += Seq.fill(2 + rng.int(3))(rng.pick(syll)).mkString
      seen.toArray
    }
    val cdf = {
      val w = (1 to vocab).map(k => 1.0 / k)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.uniform())
      words(math.min(vocab - 1, if (i >= 0) i else -i - 1))
    }
    def fresh(): Array[String] = Array.fill(35 + rng.int(11))(word())
    val text = new Array[String](nDocs)
    val exact = ArrayBuffer.empty[(Long, Long)]
    val near = ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < nDocs) {
      val base = fresh()
      val kind = rng.uniform()
      val copies = if (kind < 0.03) 1 + rng.int(2) else if (kind < 0.06) 1 else if (kind < 0.08) 1 else 0
      val group = (i until math.min(nDocs, i + 1 + copies)).toArray
      group.zipWithIndex.foreach { case (d, k) =>
        text(d) =
          if (k == 0 || kind < 0.03) base.mkString(" ")
          else if (kind < 0.06) {
            val t = base.clone()
            (0 until 2 + rng.int(2)).foreach(_ => t(rng.int(t.length)) = word())
            t.mkString(" ")
          } else base.updated(0, base(0).capitalize).mkString(" ") + "!"
      }
      val pairs = for (a <- group; b <- group if a < b) yield (a.toLong, b.toLong)
      if (kind < 0.03) exact ++= pairs else if (kind < 0.06) near ++= pairs
      i += group.length
    }
    Docs(text, Map("exact" -> exact.toSeq, "near" -> near.toSeq))
  }

  // ---------------------------------------------------------------- files

  /** Output sink that digests every byte; with no directory it only digests
    * (used to regenerate and compare without touching the disk). */
  private final class Sink(dir: Option[File]) {
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def file(name: String)(body: OutputStream => Unit): Unit = {
      val md = MessageDigest.getInstance("SHA-256")
      val target: OutputStream = dir match {
        case Some(d) => new BufferedOutputStream(new FileOutputStream(new File(d, name)), 1 << 20)
        case None => OutputStream.nullOutputStream()
      }
      val out = new java.security.DigestOutputStream(target, md)
      try body(out) finally out.close()
      digests(name) = md.digest().map(b => f"$b%02x").mkString
    }
    def lines(name: String, ls: Iterable[String]): Unit = file(name) { o =>
      ls.foreach { l => o.write(l.getBytes(UTF_8)); o.write('\n') }
    }
    def floats(name: String, xs: Array[Float]): Unit = file(name) { o =>
      val bb = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach { x =>
        if (!bb.hasRemaining) { o.write(bb.array(), 0, bb.position()); bb.clear() }
        bb.putFloat(x)
      }
      o.write(bb.array(), 0, bb.position())
    }
  }

  /** Everything one workload run needs, in memory, plus the file digests. */
  final case class Inputs(workload: String, seed: Long, dir: File,
                          metas: Array[Meta], vectors: Option[VectorSet],
                          queries: Seq[Query], queryVecs: Array[Float],
                          arrivals: Option[VectorSet], docs: Option[Docs],
                          digests: Map[String, String], manifest: String) {
    def queryVec(i: Int): Array[Float] = {
      val d = vectors.get.dims
      java.util.Arrays.copyOfRange(queryVecs, i * d, (i + 1) * d)
    }
  }

  /** Workload shapes. Sizes are kept small enough that every run fits the
    * benchmark's time budget on a 4-core host; see perfbench/README.md. */
  final case class Shape(nVecs: Int, dims: Int, clusters: Int, noise: Double,
                         queryGroups: Int, groupSize: Int, arrivals: Int, nDocs: Int, vocab: Int)

  def shape(workload: String): Shape = workload match {
    case "acorn_point" => Shape(20000, 64, 64, 0.35, 12, 1, 0, 0, 0)
    case "acorn_batch" => Shape(1000, 2048, 32, 0.35, 1, 16, 1000, 0, 0)
    case "curation" => Shape(0, 0, 0, 0, 0, 0, 0, 8000, 6000)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def generate(workload: String, seed: Long, dir: File): Inputs = {
    dir.mkdirs()
    val in = build(workload, seed, Some(dir))
    // the same seed must give byte-identical files: regenerate in memory
    val again = build(workload, seed, None)
    require(again.digests == in.digests,
      s"generator is not deterministic for seed $seed: ${in.digests} vs ${again.digests}")
    in
  }

  private def build(workload: String, seed: Long, dir: Option[File]): Inputs = {
    val sh = shape(workload)
    val sink = new Sink(dir)
    var metas = Array.empty[Meta]
    var vs: Option[VectorSet] = None
    var qs = Seq.empty[Query]
    var qv = Array.empty[Float]
    var arr: Option[VectorSet] = None
    var docSet: Option[Docs] = None
    val facts = ArrayBuffer.empty[String]
    if (sh.nVecs > 0) {
      val (m, clusterOf, lines) = listings(stream(seed, 1), sh.nVecs, sh.clusters)
      metas = m
      sink.lines("listings.jsonl", lines)
      val cs = centers(stream(seed, 2), sh.clusters, sh.dims)
      vs = Some(vectors(stream(seed, 3), cs, clusterOf, sh.nVecs, sh.noise))
      sink.floats("vectors.f32", vs.get.data)
      sink.lines("labels.txt", vs.get.labels.map(_.toString))
      val (q, data) = queries(stream(seed, 4), vs.get, metas, sh.queryGroups, sh.groupSize, sh.noise)
      qs = q; qv = data
      sink.floats("queries.f32", qv)
      sink.lines("queries.jsonl", qs.map(x => s"""{"q_id":${x.id},"class":"${x.cls}","pred":${predJson(x.pred)}}"""))
      if (sh.arrivals > 0) {
        val rng = stream(seed, 5)
        val labels = Array.fill(sh.arrivals)(rng.int(sh.clusters))
        arr = Some(vectors(rng, cs, labels(_), sh.arrivals, sh.noise))
        sink.floats("arrivals.f32", arr.get.data)
      }
      val sel = Classes.map { c =>
        val cq = qs.filter(_.cls == c)
        val s = cq.map(x => metas.count(passes(_, x.pred)).toDouble / metas.length)
        f""""$c":{"queries":${cq.size},"selectivity_mean":${s.sum / s.size}%.5f,"selectivity_min":${s.min}%.5f,"selectivity_max":${s.max}%.5f}"""
      }
      facts += s""""images":${sh.nVecs},"listings":${lines.size},"dims":${sh.dims},"clusters":${sh.clusters}"""
      facts += s""""arrivals":${sh.arrivals},"classes":${sel.mkString("{", ",", "}")}"""
    }
    if (sh.nDocs > 0) {
      val d = docs(stream(seed, 6), sh.nDocs, sh.vocab)
      docSet = Some(d)
      sink.lines("docs.jsonl", d.text.indices.map { i =>
        s"""{"doc_id":$i,"text":"${d.text(i)}","n_chars":${d.text(i).length}}"""
      })
      facts += s""""docs":${sh.nDocs},"vocab":${sh.vocab},"planted_pairs":{"exact":${d.planted("exact").size},"near":${d.planted("near").size}}"""
    }
    val digests = sink.digests.toMap
    val manifest = s"""{"workload":"$workload","seed":$seed,${facts.mkString(",")},""" +
      s""""sha256":${sink.digests.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")}}"""
    dir.foreach(d => java.nio.file.Files.writeString(new File(d, "manifest.json").toPath, manifest))
    Inputs(workload, seed, dir.getOrElse(new File(".")), metas, vs, qs, qv, arr, docSet, digests, manifest)
  }

  private def predJson(pred: Seq[(String, String, Any)]): String =
    pred.map { case (a, op, v) =>
      val vs = v match { case s: String => q(s); case x => x.toString }
      s""""$a":["$op",$vs]"""
    }.mkString("{", ",", "}")
}
