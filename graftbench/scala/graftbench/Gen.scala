package graftbench

import scala.collection.mutable

/** Seeded, single-threaded input generator. Everything the program sees is
  * derived from the workload seed; the same seed gives the same inputs.
  * Sizes are fixed by the workload, never by the seed, so runs with
  * different seeds do the same amount of work.
  */
object Gen {

  /** Stopwords first: gopherFilter needs >= 2 hits per document, and the
    * Zipf head is where real stopwords live. */
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "to", "in", "is")

  final case class Doc(id: Long, text: String, source: String)

  /** What the generator planted, recorded next to the inputs. */
  final case class Truth(
      shortDocs: Set[Long],               // fail gopher's min-word rule
      exactCopies: Seq[(Long, Long)],     // (origin, copy): identical or case-only
      spaceVariants: Seq[(Long, Long)],   // (origin, copy): whitespace-only edit
      nearPairs: Seq[(Long, Long)],       // (origin, copy) planted near-dups
      giant: Seq[Long],                   // members of the hot-key cluster
      boilerplate: Map[Long, Int],        // doc -> shared header index
      embNear: Seq[(Long, Long)],         // planted near-duplicate vectors
      isolated: Array[Long])              // unique docs with no planted relation

  final case class Corpus(docs: Array[Doc], emb: Array[Array[Float]], truth: Truth)

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: java.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def vocabulary(r: java.util.Random, size: Int): Array[String] = {
    val seen = mutable.LinkedHashSet[String](Stopwords.toIndexedSeq: _*)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    while (seen.size < size) {
      val len = 3 + r.nextInt(7)
      val sb = new StringBuilder
      var i = 0
      while (i < len) { sb += letters.charAt(r.nextInt(26)); i += 1 }
      seen += sb.toString
    }
    seen.toArray
  }

  // corpus shape; fractions are of the corpus size
  private val MinWords = 140
  private val MaxWords = 260
  private val VocabSize = 60000
  private val ZipfS = 1.05
  private val ShortFrac = 0.01
  private val GiantFrac = 0.02
  private val NearFrac = 0.08
  private val ExactFrac = 0.03
  private val SpaceFrac = 0.01
  private val BoilerFrac = 0.15
  private val Sources = 50
  private val Dim = 32

  /** `n` seeded documents with the planted relations recorded in `Truth`. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17L)
    val vocab = vocabulary(r, VocabSize)
    val words = new Zipf(VocabSize, ZipfS)
    val srcZipf = new Zipf(Sources, 1.2)
    def word(): String = vocab(words.sample(r))
    def body(len: Int): Array[String] = Array.fill(len)(word())
    def length(): Int = MinWords + r.nextInt(MaxWords - MinWords + 1)
    val headers = Array.fill(5)(body(16).mkString(" "))

    // texts are built in generation order and get shuffled ids at the end
    val texts = mutable.ArrayBuffer.empty[String]
    val embs = mutable.ArrayBuffer.empty[Array[Float]]
    def gaussian(): Array[Float] = {
      val v = Array.fill(Dim)(r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    def nearVec(o: Array[Float]): Array[Float] = {
      val v = o.map(x => x + 0.03 * r.nextGaussian() / math.sqrt(Dim))
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    def add(text: String, e: Array[Float]): Int = {
      texts += text; embs += e; texts.size - 1
    }
    def edit(src: Array[String], rate: Double): String = {
      val out = src.map(w => if (r.nextDouble() < rate) word() else w)
      val cut = if (r.nextDouble() < 0.3) r.nextInt(math.max(1, src.length / 20) + 1) else 0
      out.take(out.length - cut).mkString(" ")
    }

    val nShort = (n * ShortFrac).toInt
    val nGiant = (n * GiantFrac).toInt
    val nNear = (n * NearFrac).toInt
    val nExact = (n * ExactFrac).toInt
    val nSpace = (n * SpaceFrac).toInt
    val nOrig = n - nShort - nGiant - nNear - nExact - nSpace
    require(nOrig > n / 2, "corpus shape leaves too few originals")

    val origWords = Array.fill(nOrig)(body(length()))
    val boiler = mutable.Map.empty[Int, Int]
    val origIdx = origWords.indices.map { i =>
      val ws = if (r.nextDouble() < BoilerFrac) {
        val h = r.nextInt(headers.length)
        val j = add(headers(h) + " " + origWords(i).mkString(" "), gaussian())
        boiler(j) = h
        j
      } else add(origWords(i).mkString(" "), gaussian())
      ws
    }.toArray
    val related = mutable.Set.empty[Int]
    val shortIdx = (0 until nShort).map(_ => add(body(20 + r.nextInt(20)).mkString(" "), gaussian()))

    // the hot key: one origin with many lightly edited copies
    val giantOrigin = origIdx(r.nextInt(nOrig))
    related += giantOrigin
    val giantWords = texts(giantOrigin).split(" ", -1)
    val giantIdx = giantOrigin +: (0 until nGiant).map(_ =>
      add(edit(giantWords, 0.005 + 0.015 * r.nextDouble()), nearVec(embs(giantOrigin))))
    val nearP = mutable.ArrayBuffer.empty[(Int, Int)]
    val embP = mutable.ArrayBuffer.empty[(Int, Int)]
    giantIdx.tail.foreach { c => nearP += ((giantOrigin, c)); embP += ((giantOrigin, c)) }

    // near-dup clusters with Zipf sizes
    val sizeZipf = new Zipf(30, 1.3)
    var made = 0
    while (made < nNear) {
      val o = origIdx(r.nextInt(nOrig))
      if (!related(o)) {
        related += o
        val k = math.min(1 + sizeZipf.sample(r), nNear - made)
        val ow = texts(o).split(" ", -1)
        (0 until k).foreach { _ =>
          val c = add(edit(ow, 0.01 + 0.05 * r.nextDouble()), nearVec(embs(o)))
          nearP += ((o, c)); embP += ((o, c))
        }
        made += k
      }
    }
    // exact copies: identical, or differing only in letter case
    val exactP = mutable.ArrayBuffer.empty[(Int, Int)]
    (0 until nExact).foreach { i =>
      var o = origIdx(r.nextInt(nOrig))
      while (related(o)) o = origIdx(r.nextInt(nOrig))
      related += o
      val t = texts(o)
      val copy = if (i % 2 == 0) t else {
        val ws = t.split(" ", -1)
        ws.indices.foreach { j =>
          if (j == 0 || (r.nextDouble() < 0.1 && !Stopwords.contains(ws(j))))
            ws(j) = ws(j).capitalize
        }
        ws.mkString(" ")
      }
      exactP += ((o, add(copy, embs(o).clone())))
    }
    // whitespace-only variants (not exact under lower-casing; near-dups)
    val spaceP = mutable.ArrayBuffer.empty[(Int, Int)]
    (0 until nSpace).foreach { _ =>
      var o = origIdx(r.nextInt(nOrig))
      while (related(o)) o = origIdx(r.nextInt(nOrig))
      related += o
      val ws = texts(o).split(" ", -1).toBuffer
      val at = 1 + r.nextInt(ws.size - 1)
      ws.insert(at, "")
      spaceP += ((o, add(ws.mkString(" "), nearVec(embs(o)))))
    }
    require(texts.size == n, s"generated ${texts.size} docs, expected $n")

    // shuffled ids: clusters spread over the whole id range (and so over
    // every micro-batch of the streaming workload)
    val perm = (0 until n).toArray
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val id = (j: Int) => perm(j).toLong
    val domains = Array.tabulate(Sources)(k => f"site$k%02d.example")
    val docs = new Array[Doc](n)
    val emb = new Array[Array[Float]](n)
    (0 until n).foreach { j =>
      docs(perm(j)) = Doc(perm(j), texts(j), domains(srcZipf.sample(r)))
      emb(perm(j)) = embs(j)
    }
    val relatedAll = related ++ nearP.map(_._2) ++ exactP.map(_._2) ++
      spaceP.map(_._2) ++ shortIdx ++ boiler.keys
    val isolated = origIdx.filterNot(relatedAll).map(id).sorted
    Corpus(docs, emb,
      Truth(
        shortDocs = shortIdx.map(id).toSet,
        exactCopies = exactP.map { case (a, b) => (id(a), id(b)) }.toSeq,
        spaceVariants = spaceP.map { case (a, b) => (id(a), id(b)) }.toSeq,
        nearPairs = nearP.map { case (a, b) => (id(a), id(b)) }.toSeq,
        giant = giantIdx.map(id),
        boilerplate = boiler.map { case (j, h) => id(j) -> h }.toMap,
        embNear = embP.map { case (a, b) => (id(a), id(b)) }.toSeq,
        isolated = isolated))
  }

  // ----- tabular data for the DSL workload ---------------------------------

  final case class Row(id: Long, x1: Double, x2: Double, x3: Double,
      x4: Double, cat: String, amount: Double, rate: Double,
      outcome: String, y: Double)

  private val Cats = Array("a", "b", "c", "d", "e")

  /** Rows with a planted label signal; `shift` moves x1 and x2. */
  def table(seed: Long, n: Int, idBase: Long, shift: Double = 0.0): Array[Row] = {
    val r = new java.util.Random(seed * 31L + idBase + 7L)
    Array.tabulate(n) { i =>
      val x1 = r.nextGaussian() + shift
      val x2 = r.nextGaussian() * (1.0 + shift)
      val x3 = r.nextGaussian()
      val x4 = r.nextDouble()
      val cat = Cats(r.nextInt(Cats.length))
      val amount = math.exp(r.nextGaussian() * 0.5 + 3.0)
      val rate = 0.5 + r.nextDouble()
      val z = 1.5 * x1 - x2 + (if (cat == "a" || cat == "b") 0.8 else -0.4) +
        0.5 * r.nextGaussian()
      val outcome = if (z > 0) "yes" else "no"
      val y = 3.0 * x1 + 2.0 * x2 - 0.05 * amount * rate + r.nextGaussian()
      Row(idBase + i, x1, x2, x3, x4, cat, amount, rate, outcome, y)
    }
  }

  final case class Ev(id: Long, tsMs: Long, user: Long, etype: String,
      value: Double, region: String)

  val EventTypes: Array[String] = Array("order.created", "order.paid",
    "user.login", "order.refund", "user.logout", "deploy.done")
  private val Regions = Array("eu", "us", "ap")

  /** Typed events table (the Events.schema shape), Zipf-skewed types. */
  def events(seed: Long, n: Int): Array[Ev] = {
    val r = new java.util.Random(seed * 131L + 3L)
    val types = new Zipf(EventTypes.length, 1.0)
    val t0 = 1700000000000L
    Array.tabulate(n) { i =>
      Ev(i.toLong, t0 + i * 1000L, r.nextInt(500).toLong,
        EventTypes(types.sample(r)), math.exp(r.nextGaussian() + 4.0),
        Regions(r.nextInt(Regions.length)))
    }
  }
}
