package graftbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Plain-Scala reference computations on the driver. They replay the
  * documented semantics of the graft operators (split on " " keeping empty
  * tokens, k-word shingles with short documents kept whole, Jaccard over
  * distinct shingles) without Spark, and run outside every timed phase.
  */
object Ref {

  def tokens(t: String): Array[String] = t.split(" ", -1)

  private def h64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Sorted distinct k-shingle hashes (64-bit; a collision among a few
    * million shingles has probability ~1e-7). */
  def shingles(t: String, k: Int = 3): Array[Long] = {
    val w = tokens(t)
    if (w.length < k) Array(h64(t))
    else {
      val out = new Array[Long](w.length - k + 1)
      var i = 0
      while (i <= w.length - k) {
        out(i) = h64(w.slice(i, i + k).mkString(" "))
        i += 1
      }
      java.util.Arrays.sort(out)
      val d = mutable.ArrayBuilder.make[Long]
      var j = 0
      while (j < out.length) {
        if (j == 0 || out(j) != out(j - 1)) d += out(j)
        j += 1
      }
      d.result()
    }
  }

  def intersect(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Same arithmetic as the rescore: n_inter / (n_a + n_b - n_inter). */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val n = intersect(a, b).toLong
    n.toDouble / (a.length.toLong + b.length - n)
  }

  def containment(a: Array[Long], b: Array[Long]): Double =
    intersect(a, b).toDouble / a.length

  private def ceilAlpha(t: Double, sz: Int): Int = math.ceil(t * sz - 1e-9).toInt

  /** Every pair (a < b) with Jaccard >= t, exactly: prefix filtering under
    * a rare-first global shingle order, then verification. */
  def exactJaccardPairs(sh: collection.Map[Long, Array[Long]], t: Double)
      : Map[(Long, Long), Double] = {
    val df = mutable.HashMap.empty[Long, Int]
    sh.valuesIterator.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    val index = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val out = mutable.HashMap.empty[(Long, Long), Double]
    sh.keys.toArray.sorted.foreach { x =>
      val sx = sh(x)
      val ordered = sx.sortBy(s => (df(s), s))
      val p = sx.length - ceilAlpha(t, sx.length) + 1
      val prefix = ordered.take(math.max(p, 0))
      val cands = mutable.HashSet.empty[Long]
      prefix.foreach(s => index.get(s).foreach(cands ++= _))
      cands.foreach { y =>
        val sy = sh(y)
        if (sy.length >= ceilAlpha(t, sx.length) && sx.length >= ceilAlpha(t, sy.length)) {
          val j = jaccard(sx, sy)
          if (j >= t) out((math.min(x, y), math.max(x, y))) = j
        }
      }
      prefix.foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += x)
    }
    out.toMap
  }

  /** Every ordered pair (a, b), a != b, with containment_a >= t. */
  def exactContainmentPairs(sh: collection.Map[Long, Array[Long]], t: Double)
      : Set[(Long, Long)] = {
    val index = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    sh.foreach { case (d, s) => s.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += d) }
    val out = mutable.HashSet.empty[(Long, Long)]
    sh.foreach { case (a, sa) =>
      val need = ceilAlpha(t, sa.length)
      val counts = mutable.HashMap.empty[Long, Int]
      sa.foreach(x => index(x).foreach(b => if (b != a) counts(b) = counts.getOrElse(b, 0) + 1))
      counts.foreach { case (b, n) =>
        if (n >= need && n.toDouble / sa.length >= t) out += ((a, b))
      }
    }
    out.toSet
  }

  /** Min-id label of each node's connected component. */
  def components(nodes: Iterable[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => parent(n) = n)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Curation.gopherFilter's keep rule with its default thresholds. */
  def gopherKeep(text: String): Boolean = {
    val w = tokens(text)
    val n = w.length
    val counts = mutable.HashMap.empty[String, Int]
    w.foreach(x => counts(x) = counts.getOrElse(x, 0) + 1)
    val stop = w.count(Gen.Stopwords.contains)
    val avg = round6((text.length - (n - 1)).toDouble / n)
    val top = round6(counts.values.max.toDouble / n)
    n >= 50 && n <= 100000 && avg >= 2.0 && avg <= 10.0 && stop >= 2 && top <= 0.2
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Highest percentile with at least `beyond` samples above it: the
    * value at sorted index n - beyond - 1 (the largest sample when there
    * are fewer). Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    val i = math.max(0, s.size - beyond - 1)
    val idx = if (s.size > beyond) i else s.size - 1
    (s(idx), 100.0 * (idx + 1) / s.size, s.size)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
