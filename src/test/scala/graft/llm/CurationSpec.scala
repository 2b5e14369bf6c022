package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Corpus-curation operators: planted contamination, repetition extremes,
  * planted PII, and dup-group assignment on a known component structure. */
class CurationSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  test("paragraphDedup: shared paragraphs keep one (lowest chunk key), " +
    "within-doc repeats drop, unrelated paragraphs survive, rows " +
    "preserved") {
    val s = spark
    import s.implicits._
    val para = "w1 w2 w3 w4"   // the repeated 4-word paragraph
    val d = Seq(
      // doc 1: para + unique tail — the keep-one winner
      (1L, s"$para a1 a2 a3 a4"),
      // doc 2: SAME leading para (different tail): its copy drops
      (2L, s"$para b1 b2 b3 b4"),
      // doc 3: its OWN para repeated within the doc: second copy drops
      (3L, "d1 d2 d3 d4 d1 d2 d3 d4"),
      // doc 4: unrelated text: untouched
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text")
    val out = Curation.paragraphDedup(d, chunkSize = 4, threshold = 0.8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.llm.PipelineCaches.clear()
    assert(out.size == 4, "rows preserved")
    assert(out(1L) == ((2L, 0L, s"$para a1 a2 a3 a4")),
      "the lowest-keyed occurrence keeps everything")
    assert(out(2L) == ((2L, 1L, "b1 b2 b3 b4")),
      "the cross-doc repeat drops, the unique tail survives")
    assert(out(3L) == ((2L, 1L, "d1 d2 d3 d4")),
      "the within-doc repeat keeps exactly one copy")
    assert(out(4L) == ((2L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8")),
      "unrelated paragraphs are untouched")
  }

  test("paragraphDedupIncremental == full paragraphDedup restricted to " +
    "the batch: exact twin vs history, NEAR-dup threat from history, " +
    "in-batch repeat, fresh text — without re-chunking history") {
    val s = spark
    import s.implicits._
    val para = "w1 w2 w3 w4"
    val base = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12"
    val hist = Seq(
      (1L, s"$para a1 a2 a3 a4"),
      (2L, base),
      (3L, "h1 h2 h3 h4")).toDF("doc_id", "text")
    val batch = Seq(
      // chunk 0 is an EXACT twin of history doc 1's chunk 0 -> drops
      (10L, s"$para b1 b2 b3 b4"),
      // first two chunks are exact twins of history doc 2's; the
      // 4-word tail differs in one word (j = 1/3 < 0.8) -> kept
      (11L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 XX"),
      // within-doc repeat: second copy drops against the first
      (12L, "n1 n2 n3 n4 n1 n2 n3 n4"),
      // fresh text: untouched
      (13L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val idx = Curation.paragraphIndex(hist, chunkSize = 4, k = 3)
    val inc = rows(Curation.paragraphDedupIncremental(idx, batch))
    val full = rows(Curation.paragraphDedup(hist.unionAll(batch),
        chunkSize = 4, threshold = 0.8, k = 3)
      .filter(col("doc_id") >= 10L))
    graft.llm.PipelineCaches.clear()
    assert(inc == full,
      s"incremental must equal the restricted recompute:\n$inc\nvs\n$full")
    assert(inc(10L) == ((2L, 1L, "b1 b2 b3 b4")),
      "the history exact twin must drop")
    assert(inc(11L) == ((3L, 2L, "m9 m10 m11 XX")),
      s"two exact twins drop, the sub-threshold tail stays: ${inc(11L)}")
    assert(inc(12L) == ((2L, 1L, "n1 n2 n3 n4")))
    assert(inc(13L) == ((2L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8")))
  }

  test("paragraphDedupIncremental: a NON-exact near-dup paragraph from " +
    "history drops through the banded candidates + exact rescore (the " +
    "path exact hashing cannot serve)") {
    val s = spark
    import s.implicits._
    // one 12-word paragraph per doc (chunkSize 12); the batch copy
    // differs in the LAST word: k=3 shingles 10 vs 10, 9 shared ->
    // jaccard 9/11 ≈ 0.818 >= 0.8, est/banding deterministic by seed
    val base = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12"
    val hist = Seq((1L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 XX"),
      (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12"))
      .toDF("doc_id", "text")
    val idx = Curation.paragraphIndex(hist, chunkSize = 12, k = 3)
    val out = Curation.paragraphDedupIncremental(idx, batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val full = Curation.paragraphDedup(hist.unionAll(batch),
        chunkSize = 12, threshold = 0.8, k = 3)
      .filter(col("doc_id") >= 10L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    graft.llm.PipelineCaches.clear()
    assert(out == full)
    assert(out(10L) == ((1L, "")),
      s"the near-dup paragraph must drop via banded+rescore: ${out(10L)}")
    assert(out(11L)._1 == 0L, "fresh text untouched")
  }

  test("paragraph index save/load round trip: meta preserved, the " +
    "loaded store probes identically to the in-memory index") {
    val s = spark
    import s.implicits._
    val hist = Seq((1L, "w1 w2 w3 w4 a1 a2 a3 a4"),
      (2L, "h1 h2 h3 h4")).toDF("doc_id", "text")
    val batch = Seq((10L, "w1 w2 w3 w4 b1 b2 b3 b4"),
      (11L, "c1 c2 c3 c4")).toDF("doc_id", "text")
    val idx = Curation.paragraphIndex(hist, chunkSize = 4, k = 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-paraidx").toString
    Curation.saveParagraphIndex(idx, dir)
    val back = Curation.loadParagraphIndex(s, dir)
    assert(back.chunkSize == 4 && back.k == 3 &&
      back.maxChunksPerDoc == idx.maxChunksPerDoc)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val live = rows(Curation.paragraphDedupIncremental(idx, batch))
    val loaded = rows(Curation.paragraphDedupIncremental(back, batch))
    graft.llm.PipelineCaches.clear()
    assert(loaded == live)
    assert(loaded.exists(t => t._1 == 10L && t._3 == 1L),
      "the loaded store must still drop the history twin")
  }

  test("retireFromParagraphIndex == paragraphIndex over the filtered " +
    "corpus: representative re-election (identical text, renumbered " +
    "band/shingle rows), dead groups dropped, non-rep retirement a " +
    "no-op on the probe relations (r16 verdict task 4)") {
    val s = spark
    import s.implicits._
    // group X = docs 1, 2, and doc 4's SECOND chunk (three members);
    // group Y = doc 3 alone; group Z = doc 4's first chunk
    val docsAll = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4"),
      (3L, "y1 y2 y3 y4"),
      (4L, "z1 z2 z3 z4 w1 w2 w3 w4")).toDF("doc_id", "text")
    val idx = Curation.paragraphIndex(docsAll, chunkSize = 4, k = 3)
    def sets(m: Curation.ParagraphIndexModel) = (
      m.exact.collect().map(_.toSeq).toSet,
      m.bands.collect().map(_.toSeq).toSet,
      m.shingles.collect().map(_.toSeq).toSet,
      m.members.collect().map(_.toSeq).toSet)
    // retire doc 1 (group X's REPRESENTATIVE — doc 2 must be
    // re-elected) and doc 3 (group Y dies entirely)
    val retired = Curation.retireFromParagraphIndex(idx, Seq(1L, 3L))
    val rebuilt = Curation.paragraphIndex(
      docsAll.filter(col("doc_id") =!= 1L && col("doc_id") =!= 3L),
      chunkSize = 4, k = 3)
    assert(sets(retired) == sets(rebuilt),
      "retire must equal the filtered rebuild across all four relations")
    // the re-elected rep is doc 2's chunk key, and the group's band/
    // shingle rows renumbered to it (identical text — nothing re-hashed)
    val m = idx.maxChunksPerDoc
    val xRep = retired.exact.filter(col("rep_key") === 2L * m)
    assert(xRep.count() == 1, "group X must re-elect doc 2's chunk")
    assert(retired.bands.filter(col("doc_id") === 2L * m).count() > 0)
    // retiring a NON-representative member changes only `members`
    val retired2 = Curation.retireFromParagraphIndex(idx, Seq(2L))
    assert(retired2.exact.collect().map(_.toSeq).toSet ==
      idx.exact.collect().map(_.toSeq).toSet)
    assert(retired2.members.filter(col("doc_id") === 2L).count() == 0)
    // the retired index PROBES like the rebuild (takedown-then-recrawl)
    val batch = Seq((10L, "w1 w2 w3 w4"), (11L, "y1 y2 y3 y4"))
      .toDF("doc_id", "text")
    def probe(ix: Curation.ParagraphIndexModel) =
      Curation.paragraphDedupIncremental(ix, batch).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val got = probe(retired)
    assert(got == probe(rebuilt))
    graft.llm.PipelineCaches.clear()
    assert(got(10L) == ((1L, "")),
      "the re-crawl of X still dedups against the RE-ELECTED rep")
    assert(got(11L) == ((0L, "y1 y2 y3 y4")),
      "group Y died with doc 3 — its re-crawl is NEW text")
  }

  test("maxRepKey watermark: builders set it, probes adopt the " +
    "metadata compare, retire invalidates it, save resolves it " +
    "(r16 verdict task 5)") {
    val s = spark
    import s.implicits._
    val hist = Seq((1L, "w1 w2 w3 w4"), (2L, "h1 h2 h3 h4"))
      .toDF("doc_id", "text")
    val idx = Curation.paragraphIndex(hist, chunkSize = 4, k = 3)
    assert(idx.maxRepKey == Some(2L * idx.maxChunksPerDoc),
      s"builder watermark: ${idx.maxRepKey}")
    // a model with a STALE (too-high) watermark rejects a batch the
    // plain agg would accept — proving the check reads the metadata
    val stale = idx.copy(maxRepKey = Some(Long.MaxValue - 1))
    val batch = Seq((10L, "c1 c2 c3 c4")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.paragraphDedupIncremental(stale, batch)
    }
    assert(e.getMessage.contains("increasing ids"))
    // retire returns an UNKNOWN watermark (re-election can raise it);
    // the probe then falls back to the agg and still works
    val retired = Curation.retireFromParagraphIndex(idx, Seq(1L))
    assert(retired.maxRepKey.isEmpty)
    assert(Curation.paragraphDedupIncremental(retired, batch)
      .count() == 1)
    // save resolves the unknown watermark from the written store
    val dir = java.nio.file.Files
      .createTempDirectory("graft-parawm").toString
    Curation.saveParagraphIndex(retired, dir)
    val back = Curation.loadParagraphIndex(s, dir)
    graft.llm.PipelineCaches.clear()
    assert(back.maxRepKey == Some(2L * idx.maxChunksPerDoc),
      s"save must resolve None from the written exact: ${back.maxRepKey}")
  }

  test("paragraphDedupIncremental refuses batch ids at/below the " +
    "index's representatives (the crawl-refresh ordering contract)") {
    val s = spark
    import s.implicits._
    val hist = Seq((5L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val idx = Curation.paragraphIndex(hist, chunkSize = 4)
    val e = intercept[IllegalArgumentException] {
      Curation.paragraphDedupIncremental(idx,
        Seq((5L, "x1 x2 x3 x4")).toDF("doc_id", "text"))
    }
    graft.llm.PipelineCaches.clear()
    assert(e.getMessage.contains("increasing ids"))
  }

  test("paragraphDedup refuses a non-integral doc_id (chunk keys are " +
    "Long arithmetic — implicit double casts lose ordering past 2^53)") {
    val s = spark
    import s.implicits._
    val d = Seq(("a", "w1 w2 w3 w4")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.paragraphDedup(d, chunkSize = 4)
    }
    assert(e.getMessage.contains("integral doc_id"))
  }

  test("paragraphDedup refuses a doc with more than maxChunksPerDoc " +
    "chunks before it returns a frame (chunk keys would collide)") {
    val s = spark
    import s.implicits._
    // 5 one-word chunks in doc 2 against a budget of 3
    val d = Seq((1L, "a b"), (2L, "c d e f g")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.paragraphDedup(d, chunkSize = 1, maxChunksPerDoc = 3L)
    }
    graft.llm.PipelineCaches.clear()
    assert(e.getMessage.contains("paragraphDedup: a doc has > 3 chunks"),
      e.getMessage)
  }

  test("paragraphDedup refuses a doc_id range that overflows chunk_key " +
    "before it returns a frame, on either sign") {
    val s = spark
    import s.implicits._
    val m = 100000L
    val bound = (Long.MaxValue - (m - 1)) / m
    // the largest ids in range pass; one past the bound on either side
    // throws, naming the observed id range
    Curation.paragraphDedup(Seq((bound, "a b"), (-bound, "c d"))
      .toDF("doc_id", "text"), chunkSize = 1, maxChunksPerDoc = m)
    Seq(Seq((1L, "a b"), (bound + 1, "c d")),
        Seq((-bound - 1, "a b"), (1L, "c d"))).foreach { rows =>
      val e = intercept[IllegalArgumentException] {
        Curation.paragraphDedup(rows.toDF("doc_id", "text"),
          chunkSize = 1, maxChunksPerDoc = m)
      }
      val (lo, hi) = (rows.map(_._1).min, rows.map(_._1).max)
      assert(e.getMessage.contains(s"paragraphDedup: doc_id range " +
        s"[$lo, $hi] overflows chunk_key"), e.getMessage)
    }
    graft.llm.PipelineCaches.clear()
  }

  test("decontaminate flags exactly the docs sharing a 5-gram") {
    val s = spark
    import s.implicits._
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // full overlap: contains the benchmark 5-grams verbatim
      (10L, "prefix alpha beta gamma delta epsilon zeta suffix"),
      // same words, different order: no shared 5-gram
      (11L, "zeta epsilon delta gamma beta alpha"),
      // disjoint vocabulary
      (12L, "one two three four five six")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // bench has two 5-grams (a..e, b..z); both appear in doc 10
    assert(out(10L) == ((2L, true)))
    assert(out(11L) == ((0L, false)))
    assert(out(12L) == ((0L, false)))
  }

  test("decontaminate handles short docs via the whole-text gram") {
    val s = spark
    import s.implicits._
    val bench = Seq((1L, "tiny doc")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "tiny doc"),          // identical short doc: whole-text gram shared
      (11L, "tiny")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, k = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(10L) && !out(11L))
  }

  test("bloom decontamination never under-flags vs the exact operator, " +
    "and clean disjoint text stays clean at 64k bits") {
    val s = spark
    import s.implicits._
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "prefix alpha beta gamma delta epsilon zeta suffix"),
      (11L, "zeta epsilon delta gamma beta alpha"),
      (12L, "one two three four five six")).toDF("doc_id", "text")
    val bits = Curation.bloomBits(bench, k = 5)
    val bloom = Curation.decontaminateBloom(train, bits, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val exact = Curation.decontaminate(train, bench, k = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // Bloom may over-flag, NEVER under-flag
    exact.foreach { case (id, c) => if (c) assert(bloom(id)._2,
      s"doc $id contaminated exactly but missed by the bloom filter") }
    assert(bloom(10L) == ((2L, true))) // both bench 5-grams hit
    // 2 bench grams * 3 hashes = 6 set bits of 65536: a false positive
    // needs a 3-bit collision — these tiny fixtures must stay clean
    assert(!bloom(11L)._2 && !bloom(12L)._2)
  }

  test("bloomBits validates its geometry") {
    val s = spark
    import s.implicits._
    val bench = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Curation.bloomBits(bench, mBits = 100)) // not a multiple of 64
    intercept[IllegalArgumentException](
      Curation.bloomBits(bench, hashes = 5))
  }

  test("dsirWeights ranks target-vocabulary docs above off-domain docs") {
    val s = spark
    import s.implicits._
    val target = Seq(
      (100L, "science method theory experiment data"),
      (101L, "theory data science experiment method analysis")
    ).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "science theory data experiment"), // pure target vocabulary
      (2L, "football goal striker penalty"),  // disjoint vocabulary
      (3L, "science theory football goal")    // half-half
    ).toDF("doc_id", "text").unionAll(target)
    val w = Curation.dsirWeights(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L),
      s"target-like must outrank mixed must outrank off-domain: $w")
    assert(w(2L) < 0, "off-domain mass must score below the raw prior")
  }

  test("crossEntropyDelta: target-domain docs sit in the negative tail") {
    val s = spark
    import s.implicits._
    // target LM = repeated bigram pattern; domain doc reuses it verbatim,
    // the off-domain doc shares no bigram with the target
    val target = Seq(
      (100L, "the cat sat on the mat"),
      (101L, "the cat sat on the rug")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "quantum flux harmonics resonate deeply")).toDF("doc_id", "text")
      .unionAll(target)
    val out = Curation.crossEntropyDelta(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(out(1L) < 0, s"domain doc must read more target-like: $out")
    assert(out(1L) < out(2L),
      s"domain doc must rank below off-domain in ce_delta: $out")
  }

  test("lmPerplexityAgainst self-fit equals lmPerplexity exactly") {
    val s = spark
    val d = s.table("documents").limit(50)
    val a = Curation.lmPerplexity(d).orderBy("doc_id").collect()
    val b = Curation.lmPerplexityAgainst(d, d).orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("corpusReport: rollup rows reconcile with their margins") {
    val s = spark
    val rep = Curation.corpusReport(s.table("documents"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(6))).toSeq
    val total = rep.find(r => r._1.isEmpty && r._2.isEmpty).get
    assert(total._3 == s.table("documents").count())
    // per-lang margins sum to the grand total, leaf rows to their lang
    val langRows = rep.filter(r => r._1.nonEmpty && r._2.isEmpty)
    assert(langRows.map(_._3).sum == total._3)
    assert(langRows.map(_._4).sum == total._4)
    val leafRows = rep.filter(r => r._1.nonEmpty && r._2.nonEmpty)
    langRows.foreach { lr =>
      val leaves = leafRows.filter(_._1 == lr._1)
      assert(leaves.map(_._3).sum == lr._3)
    }
  }

  test("repetition metrics: degenerate repeated text vs all-distinct text") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six"),
      (3L, "solo")).toDF("doc_id", "text")
    val m = Curation.repetitionMetrics(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val spam = m(1L)
    assert(spam.getLong(1) == 6L)                     // n_words
    // metrics are round(…, 6), so compare at that precision
    assert(math.abs(spam.getDouble(2) - (1.0 - 1.0 / 6)) < 1e-6) // dup ratio
    assert(spam.getDouble(3) == 0.0)                  // no singleton words
    assert(spam.getDouble(4) == 1.0)                  // one bigram carries all mass
    val distinct = m(2L)
    assert(distinct.getDouble(2) == 0.0)              // no dup words
    assert(distinct.getDouble(3) == 1.0)              // all singletons
    assert(math.abs(distinct.getDouble(4) - 0.2) < 1e-6) // 5 distinct bigrams
    val solo = m(3L)
    assert(solo.getLong(1) == 1L && solo.getDouble(4) == 0.0) // no bigrams
  }

  test("PII scrub redacts planted emails and phones, counts them") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "write to jane.doe+x@mail.example.org or call +1 (555) 010-7788 now"),
      (2L, "no pii here"),
      (3L, "two mails a@b.co c@d.io one phone 555-123-9876"),
      (4L, "reach user12345678@example.com today")).toDF("doc_id", "text")
    val out = Curation.piiScrub(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "write to <EMAIL> or call <PHONE> now")
    assert(out(1L).getInt(2) == 1 && out(1L).getInt(3) == 1)
    assert(out(2L).getString(1) == "no pii here")
    assert(out(2L).getInt(2) == 0 && out(2L).getInt(3) == 0)
    assert(out(3L).getString(1) == "two mails <EMAIL> <EMAIL> one phone <PHONE>")
    assert(out(3L).getInt(2) == 2 && out(3L).getInt(3) == 1)
    // a phone-shaped digit run INSIDE an email is redacted as <EMAIL>;
    // the audit must not count it as a phone (counts = actual replacements)
    assert(out(4L).getString(1) == "reach <EMAIL> today")
    assert(out(4L).getInt(2) == 1 && out(4L).getInt(3) == 0)
  }

  test("dup groups early-stops at the fixpoint without changing the result") {
    val s = spark
    import s.implicits._
    val nodes = (0L to 5L).toDF("doc_id")
    // stars already rooted at their minimum: a star set from the start,
    // so no round runs
    val cands = Seq((0L, 1L), (0L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val (groups, rounds) = Curation.dupGroupsCounted(nodes, cands)
    val g = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    assert(rounds == 0)
  }

  test("dup groups: chain and star components converge to min label") {
    val s = spark
    import s.implicits._
    val nodes = (0L to 7L).toDF("doc_id")
    // component A: chain 0-1-2-3 (diameter 3); component B: star 4-{5,6}; 7 isolated
    val cands = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L),
      (4L, 5L), (4L, 6L)).toDF("doc_a", "doc_b")
    val g = Curation.dupGroups(nodes, cands)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(g(_) == 0L))
    assert((4L to 6L).forall(g(_) == 4L))
    assert(g(7L) == 7L)
  }

  test("seq packing: contiguous shard-local offsets, docs span chunk cuts") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "a b c"),                               // shard 0: 3 tokens
      (2L, ("x " * 10).trim),                      // shard 0: 10 tokens
      (4L, "y"),                                   // shard 0: 1 token
      (1L, ("z " * 7).trim)).toDF("doc_id", "text") // shard 1
    val out = TextOps.seqPack(d, seqLen = 8, nShards = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // shard 0 packs docs 0,2,4 back to back
    assert(out(0L) == ((0L, 3L, 0L, 0L, 0L)))
    // doc 2 starts at offset 3, runs to token 12: spans chunks 0 and 1
    assert(out(2L) == ((0L, 10L, 3L, 0L, 1L)))
    assert(out(4L) == ((0L, 1L, 13L, 1L, 1L)))
    // shard 1 restarts at offset 0 — shards are independent streams
    assert(out(1L) == ((1L, 7L, 0L, 0L, 0L)))
  }

  test("top n-grams surfaces a planted dominant trigram") {
    val s = spark
    import s.implicits._
    val noise = (0L until 20L).map(i => (i, s"w$i x$i y$i z$i"))
    val planted = (100L until 110L).map(i => (i, "very common gram indeed"))
    val d = (noise ++ planted).toDF("doc_id", "text")
    val top = TextOps.topNgrams(d, k = 3, n = 3).collect()
    assert(top(0).getString(0) == "common gram indeed" ||
      top(0).getString(0) == "very common gram")
    assert(top(0).getLong(1) == 10L)
    // deterministic tiebreak: equal counts order by gram text
    assert(top(0).getString(0) < top(1).getString(0))
  }

  test("span dedup keeps a repeated segment only in its lowest-doc_id doc") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "x y z x y z a b c"), // keeper of 'x y z'; within-doc repeat kept
      (2L, "x y z q r s"),       // non-keeper: loses its copy
      (3L, "")).toDF("doc_id", "text")
    val out = Curation.spanDedup(d, window = 3, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((3L, 0L, "x y z x y z a b c")))
    assert(out(2L) == ((2L, 1L, "q r s")))
    assert(out(3L) == ((1L, 0L, "")))
  }

  test("span dedup empties a fully-boilerplate non-keeper doc") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (5L, "p q r"), (9L, "p q r"), (7L, "p q r other words here"))
      .toDF("doc_id", "text")
    val out = Curation.spanDedup(d, window = 3, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(5L) == ((1L, 0L, "p q r")))       // keeper (min doc_id)
    assert(out(9L) == ((1L, 1L, "")))            // dropped to empty
    assert(out(7L) == ((2L, 1L, "other words here")))
  }

  test("chunkDocs slides the textbook window with a short final chunk") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d e f g"), // 7 tokens, size 4 stride 3 -> 2 chunks
      (2L, "a b"),           // n <= size -> single whole-doc chunk
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(d, chunkSize = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out.size == 4)
    assert(out((1L, 0L)) == ((0L, 4L, "a b c d")))
    assert(out((1L, 1L)) == ((3L, 4L, "d e f g"))) // 1-token overlap
    assert(out((2L, 0L)) == ((0L, 2L, "a b")))
    assert(out((3L, 0L)) == ((0L, 1L, "")))
  }

  test("vocab fit+apply encodes in frequency order with OOV as 0") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "b b b a a c"), // b:3 a:2 c:1
      (2L, "a b rare")).toDF("doc_id", "text")
    val vocab = TextOps.buildVocab(d, vocabSize = 3)
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(v == Map("b" -> 1L, "a" -> 2L, "c" -> 3L)) // count desc, token asc
    val out = TextOps.encodeDocs(d, vocab).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((6L, 0L, "1 1 1 2 2 3")))
    assert(out(2L) == ((3L, 1L, "2 1 0"))) // 'rare' cut by V=3 -> OOV
  }

  test("vocab ties rank deterministically by token text") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "z y x z y x")).toDF("doc_id", "text") // all count 2
    val v = TextOps.buildVocab(d, vocabSize = 2).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(v == Map("x" -> 1L, "y" -> 2L))
  }

  test("gopherFilter: each rule drops its planted violator and only it") {
    val s = spark
    import s.implicits._
    val good = ("w1 w2 w3 the of " * 10).trim          // 50 words, 2+ stopwords
    val docs = Seq(
      (1L, good),
      (2L, "the of tiny short doc"),                   // too few words
      (3L, ("a b c the of " * 10).trim),               // avg word len < 2... kept band [1,10]
      (4L, ("w1 w2 w3 w4 w5 " * 10).trim),             // zero stopwords
      (5L, ("boiler boiler boiler the of " * 10).trim) // top-word dominance
    ).toDF("doc_id", "text")
    val out = Curation.gopherFilter(docs, minWords = 10, maxWords = 100,
      minAvgWordLen = 1.0, maxAvgWordLen = 10.0,
      minStopwordHits = 2, maxTopWordFrac = 0.25)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L) == ((false, true, true, true, false)), "word-count rule")
    assert(out(4L)._3 == false && out(4L)._5 == false, "stopword rule")
    assert(out(5L)._4 == false && out(5L)._5 == false, "dominance rule")
    // doc 3 passes with the wide avg-len band; tightening the band to
    // [2.0, 10] fails exactly it (its avg word len is 1.6 vs doc 1's 2.2)
    val tight = Curation.gopherFilter(docs, minWords = 10, maxWords = 100,
      minAvgWordLen = 2.0, maxAvgWordLen = 10.0,
      minStopwordHits = 2, maxTopWordFrac = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(!tight(3L) && tight(1L), "avg-word-len rule")
  }

  test("lmPerplexity: predictable repeated text scores lower perplexity " +
    "than shuffled text over the same vocabulary") {
    val s = spark
    import s.implicits._
    // same multiset of words: doc 1 is a fixed repeating bigram pattern
    // (every transition seen 10x by the corpus model), doc 2 breaks the
    // pattern — under the corpus-fitted bigram LM the repetitive doc must
    // sit in the low-perplexity tail, the CCNet boilerplate signal
    val docs = Seq(
      (1L, ("a b c d " * 10).trim),
      (2L, "a b c d a c b d d b a c c a d b d c a b a b c d a b c d a b c d a b c d a b c d")
    ).toDF("doc_id", "text")
    val out = Curation.lmPerplexity(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < out(2L),
      s"repetitive doc should score lower perplexity: $out")
    // a one-token doc has no bigrams: NULL entropy, row preserved
    val single = Curation.lmPerplexity(
      Seq((1L, "only"), (2L, "two words")).toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(single(1L) && !single(2L))
  }

  test("dup groups assigns one group per planted duplicate pair on the corpus") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val copies = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val corpus = d.unionAll(copies)
    val cands = Dedup.minhashCandidates(corpus, k = 3, numHashes = 8, bands = 4,
      minEstJaccard = 0.5)
    val g = Curation.dupGroups(corpus.select("doc_id"), cands)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every identical copy lands in its original's group
    (0L until 10L).foreach { id => assert(g(id + 100000L) == g(id)) }
  }

  test("ccnetBuckets: per-language cuts are monotone in perplexity and " +
    "every language fills roughly even thirds") {
    val s = spark
    val out = Curation.ccnetBuckets(s.table("documents")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(4)) None else Some(r.getString(4))))
    assert(out.length == s.table("documents").count())
    // bucket is defined exactly when perplexity is
    assert(out.forall(t => t._3.isDefined == t._4.isDefined))
    val byLang = out.filter(_._3.isDefined).groupBy(_._2)
    byLang.foreach { case (lang, rows) =>
      val perp = (b: String) =>
        rows.filter(_._4.contains(b)).flatMap(_._3)
      val (h, m, t) = (perp("head"), perp("middle"), perp("tail"))
      // monotone: every head perplexity <= every middle <= every tail
      if (h.nonEmpty && m.nonEmpty) assert(h.max <= m.min, s"$lang head>middle")
      if (m.nonEmpty && t.nonEmpty) assert(m.max <= t.min, s"$lang middle>tail")
      // thirds within a tie-tolerant band
      val n = rows.length.toDouble
      Seq(h, m, t).foreach(b =>
        assert(b.length / n > 0.15 && b.length / n < 0.55,
          s"$lang bucket share off: ${h.length}/${m.length}/${t.length}"))
    }
    // the per-language design: heads exist in EVERY language, so a
    // low-resource language is never wholesale relegated to the tail
    assert(byLang.keySet.forall(l =>
      byLang(l).exists(_._4.contains("head"))))
  }

  test("keepBestPerGroup keeps the best score per group, ties to the " +
    "smallest id, singletons keep themselves") {
    val s = spark
    import s.implicits._
    // group 10: scores 3 < 7 -> doc 2 kept; group 20: tie at 5 -> doc 3
    // (smallest id) kept; group 30: singleton keeps itself
    val groups = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 30L))
      .toDF("doc_id", "dup_group")
    val scores = Seq((1L, 3.0), (2L, 7.0), (3L, 5.0), (4L, 5.0), (5L, 1.0))
      .toDF("doc_id", "score")
    val out = Curation.keepBestPerGroup(groups, scores)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, false), (2L, 2L, true),
      (3L, 3L, true), (4L, 3L, false),
      (5L, 5L, true)))
    // every group keeps EXACTLY one member — the survival invariant
    val byGroup = Curation.keepBestPerGroup(groups, scores)
      .groupBy("dup_group")
      .agg(sum(col("is_kept").cast("int")).as("n_kept")).collect()
    assert(byGroup.forall(_.getLong(1) == 1L))
    // unscored docs are preserved (LEFT join, score -inf), can only be
    // kept when their whole group is unscored (smallest id wins), and
    // never vanish from the output
    val partial = Seq((1L, 3.0), (3L, 5.0), (4L, 5.0))
      .toDF("doc_id", "score") // docs 2 and 5 unscored
    val p = Curation.keepBestPerGroup(groups, partial)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(4)))
    assert(p.length == 5, "no doc may vanish for lack of a score")
    assert(p.toSeq == Seq(
      (1L, 3.0, true), // doc 2 unscored -> scored doc 1 wins group 10
      (2L, Double.NegativeInfinity, false),
      (3L, 5.0, true), (4L, 5.0, false),
      (5L, Double.NegativeInfinity, true))) // all-unscored group keeps min id
  }

  test("langMixture flags segment-level language disagreement") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // 24 en words -> 2 segments, both en: consistent
      (1L, ("the and of " * 8).trim),
      // 18 en + 18 fr words -> 3 segments, head en / tail fr: MIXED
      (2L, ("the and of " * 6).trim + " " + ("le la et " * 6).trim),
      // no profile hits -> single und segment, not mixed
      (3L, "xyz qqq zzz")).toDF("doc_id", "text")
    val out = TextOps.langMixture(docs, window = 16).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3), r.getBoolean(5)))).toMap
    assert(out(1L) == ((1L, "en", false)))
    assert(out(2L)._1 == 2L && out(2L)._3,
      s"planted en+fr doc must flag mixed: ${out(2L)}")
    // segments guess en/fr/fr — the majority argmax must return exactly
    // the 2-count language, not the minority
    assert(out(2L)._2 == "fr")
    assert(out(3L) == ((1L, "und", false)))
  }

  test("readability: hand-counted syllables, vowel-less floor, and the " +
    "monosyllable-vs-polysyllable ordering") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // the(1) cat(1) sat(1) -> 3 words, 3 syllables
      (1L, "the cat sat"),
      // university(5: u-i-e-i-y) ... 'university' vowel groups: u,i,e,i,y
      // = 5; anemone: a-e-o-e = 4; idea: i-ea = 2 -> 3 words, 11 syl
      (2L, "university anemone idea"),
      // vowel-less words floor at 1 syllable each
      (3L, "nth tsk shh")).toDF("doc_id", "text")
    val out = TextOps.readability(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L)._1 == 3L && out(1L)._2 == 3L)
    assert(out(2L)._2 == 11L)
    assert(out(3L)._2 == 3L)
    // same word count, more syllables -> strictly lower reading ease
    assert(out(2L)._3 < out(1L)._3)
    // the formula itself, replayed: 206.835 - 1.015*3 - 84.6*(3/3)
    assert(math.abs(out(1L)._3 - (206.835 - 1.015 * 3 - 84.6)) < 1e-6)
  }

  test("charStats: hand-computed entropy, codepoint granularity, and " +
    "degenerate docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "aab"),
      (2L, "aaaa"), // single-char run: zero entropy
      (3L, ""),
      (4L, "ééa"), // é is ONE codepoint, not two UTF-8/UTF-16 units
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextOps.charStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    // aab: 3 codepoints, 2 distinct, top 2/3, entropy
    // -(2/3)ln(2/3) - (1/3)ln(1/3) = 0.6365141683 -> 0.636514
    assert(out(1L) == ((3L, 2L, 0.666667, 0.636514)))
    assert(out(2L) == ((4L, 1L, 1.0, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0, 0.0)))
    assert(out(4L) == ((3L, 2L, 0.666667, 0.636514)))
    // NULL text scores as empty
    assert(out(5L) == ((0L, 0L, 0.0, 0.0)))
  }

  test("vocabCard: hand-computed totals, deterministic rank ties, and " +
    "the OLS zipf slope replay") {
    val s = spark
    import s.implicits._
    // counts: a=4 b=3 c=1 d=1 -> ranks 1..4 (ties break token-asc)
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d"))
      .toDF("doc_id", "text")
    val r = TextOps.vocabCard(docs).collect()(0)
    assert(r.getLong(0) == 9L, "n_tokens")
    assert(r.getLong(1) == 4L, "n_types")
    assert(r.getDouble(2) == 0.444444, "ttr")
    assert(r.getLong(3) == 2L, "hapax_types")
    assert(r.getDouble(4) == 0.5, "hapax_share")
    assert(r.getDouble(5) == 1.0, "top10_coverage: all 4 types in top 10")
    assert(r.getLong(6) == 4L, "zipf_k")
    // the OLS formula replayed in plain doubles (12-dp DECIMAL terms
    // perturb at most ~1e-11)
    val xs = Seq(1, 2, 3, 4).map(i => math.log(i.toDouble))
    val ys = Seq(4, 3, 1, 1).map(c => math.log(c.toDouble))
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val slope = (4.0 * sxy - sx * sy) / (4.0 * sxx - sx * sx)
    assert(math.abs(r.getDouble(7) - slope) < 1e-5, "zipf_slope")
    intercept[IllegalArgumentException] {
      TextOps.vocabCard(docs, zipfK = 1)
    }
  }

  test("boilerplateFrac: planted shared grams, the keep-short-whole " +
    "branch, and the minDocs threshold") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "p q r s t u"), // grams: pqrst (shared w/ 2), qrstu
      (2L, "p q r s t x"), // grams: pqrst, qrstx
      (3L, "m n o v w"), // exactly one gram, unshared
      (4L, "zz"), // whole-text gram, shared with 5
      (5L, "zz")).toDF("doc_id", "text")
    val out = Curation.boilerplateFrac(docs, k = 5, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((1L, 1L, 1.0)))
    assert(out(5L) == ((1L, 1L, 1.0)))
    // minDocs = 3: the 2-doc overlaps fall below the threshold
    val strict = Curation.boilerplateFrac(docs, k = 5, minDocs = 3)
      .agg(sum("shared_grams")).collect()(0).getLong(0)
    assert(strict == 0L)
    intercept[IllegalArgumentException] {
      Curation.boilerplateFrac(docs, minDocs = 1)
    }
  }

  test("leakageSafeSplit: whole groups share a split, the bucket replays " +
    "the md5 formula, and bad percentages refuse") {
    val s = spark
    import s.implicits._
    val groups = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), // one 3-member group
      (4L, 40L), (5L, 40L), // a pair
      (6L, 60L)) // a singleton
      .toDF("doc_id", "dup_group")
    val out = Curation.leakageSafeSplit(groups, trainPct = 80, valPct = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length == 6)
    // every member of a group carries the same bucket and split
    val byGroup = out.groupBy(_._2)
    assert(byGroup.forall { case (_, rows) =>
      rows.map(r => (r._3, r._4)).distinct.size == 1 })
    // the bucket IS the md5 formula on the group label (JVM replay)
    def expectedBucket(label: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(label.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    assert(out.forall { case (_, g, b, split) =>
      val eb = expectedBucket(g)
      b == eb && split == (if (eb < 80) "train"
        else if (eb < 90) "val" else "test")
    })
    val e = intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(groups, trainPct = 90, valPct = 10)
    }
    assert(e.getMessage.contains("trainPct + valPct < 100"))
  }

  test("packPlanBpe: hand-computed card — 1 merge on {ab x3, b} budgets " +
    "by subword tokens [6, 1] at seqLen 4") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "ab ab ab"), (2L, "b")).toDF("doc_id", "text")
    // vocab ab(3): a b _, b(1): b _; pair counts (a,b)=3, (b,_)=4 —
    // merge 1 is (b,_) -> ab = [a, b_] (2 toks), b = [b_] (1 tok);
    // doc1 = 3*2 = 6 bpe tokens, doc2 = 1
    val model = Bpe.trainLocal(s, docs, nMerges = 1)
    val m = model.merges.collect()(0)
    assert(m.getAs[String]("lhs") == "b" && m.getAs[String]("rhs") == "_")
    val r = TextOps.packPlanBpe(docs, model, seqLen = 4).collect()(0)
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("total_tokens") == 7L)
    assert(r.getAs[Long]("p50_tokens") == 1L)
    assert(r.getAs[Long]("p90_tokens") == 6L)
    assert(r.getAs[Long]("n_overlong") == 1L)
    assert(r.getAs[Long]("overflow_tokens") == 2L)
    // effective = 4 + 1 = 5 -> ceil(5/4) = 2 packed sequences
    assert(r.getAs[Long]("packed_seqs") == 2L)
    // 1 - 5/8 = 0.375, exact through the integer ppm path
    assert(r.getAs[Double]("pad_waste_pct") == 0.375)
  }

  test("packPlan: hand-computed card over token counts [2, 4, 4, 10] " +
    "at seqLen 4") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b"),
      (2L, "a b c d"),
      (3L, "w x y z"),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val r = TextOps.packPlan(docs, seqLen = 4).collect()(0)
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("total_tokens") == 20L)
    // hist cum: (2,1),(4,3),(10,4); thresholds 100*cum >= pct*4
    assert(r.getAs[Long]("p50_tokens") == 4L) // cum 3 covers 50%
    assert(r.getAs[Long]("p90_tokens") == 10L) // needs cum >= 3.6
    assert(r.getAs[Long]("p99_tokens") == 10L)
    assert(r.getAs[Int]("seq_len") == 4)
    assert(r.getAs[Long]("n_overlong") == 1L) // only the 10-token doc
    assert(r.getAs[Long]("overflow_tokens") == 6L) // 10 - 4
    // effective = 2+4+4+4 = 14 -> ceil(14/4) = 4 packed sequences
    assert(r.getAs[Long]("packed_seqs") == 4L)
    // 1 - 14/16 = 0.125, exact through the integer ppm path
    assert(r.getAs[Double]("pad_waste_pct") == 0.125)
    val e = intercept[IllegalArgumentException] {
      TextOps.packPlan(docs, seqLen = 0)
    }
    assert(e.getMessage.contains("positive"))
  }

  test("madOutliers: hand-computed median/MAD, the zero-MAD degenerate " +
    "branch, and NULL preservation") {
    val s = spark
    import s.implicits._
    // values 1..9 and 100: median 5 (type-1), deviations median -> MAD 2
    val docs = ((1L to 9L).map(i => (i, i)) :+ (10L, 100L))
      .toDF("doc_id", "v")
    val out = Sampling.madOutliers(docs, "v", k = 3.5)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Boolean])))).toMap
    val denom = 1.4826 * 2.0
    assert(out(10L)._1.get == math.floor(95.0 / denom * 1e6 + 0.5) / 1e6)
    assert(out(10L)._2.contains(true))
    assert(out(9L)._1.get == math.floor(4.0 / denom * 1e6 + 0.5) / 1e6)
    assert(out(9L)._2.contains(false))
    assert(out(5L)._1.contains(0.0) && out(5L)._2.contains(false))
    // zero-MAD: {1,1,1,1,2,3,10} -> median 1, deviation median 0; the
    // scale is undefined (NULL z) and any value != median is an outlier
    val degen = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 2L),
      (6L, 3L), (7L, 10L)).toDF("doc_id", "v")
    val dg = Sampling.madOutliers(degen, "v")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)), Option(r.get(3)).map(_.asInstanceOf[Boolean]))))
      .toMap
    assert(dg.values.forall(_._1.isEmpty), "zero MAD must NULL the score")
    assert(dg(1L)._2.contains(false) && dg(5L)._2.contains(true) &&
      dg(7L)._2.contains(true))
    // NULL value: preserved with NULL score and NULL flag
    val withNull = Seq((1L, Some(1L)), (2L, None), (3L, Some(5L)),
      (4L, Some(9L))).toDF("doc_id", "v")
    val nu = Sampling.madOutliers(withNull, "v").collect()
    assert(nu.length == 4)
    val r2 = nu.find(_.getLong(0) == 2L).get
    assert(r2.isNullAt(2) && r2.isNullAt(3))
    val e = intercept[IllegalArgumentException] {
      Sampling.madOutliers(docs, "v", k = 0)
    }
    assert(e.getMessage.contains("positive"))
  }

  test("c4Keep is definitionally the c4Rules keep column — the zero-join " +
    "filter form can never drift from the audit card") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val viaRules = Curation.c4Rules(d, minWords = 5)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val viaKeep = d.filter(Curation.c4Keep(minWords = 5)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(viaRules == viaKeep,
      s"symmetric diff: ${(viaRules diff viaKeep) ++ (viaKeep diff viaRules)}")
    assert(viaKeep.nonEmpty)
  }

  test("q_corpus_release card rows equal their standalone operator twins " +
    "over the same kept corpus") {
    val s = spark
    val sheet = graft.SparkEntry.queries("q_corpus_release")(
      s, graft.SparkTestSession.fixtureDir).collect()
    graft.llm.PipelineCaches.clear()
    val sections = sheet.map(_.getString(0)).toSet
    assert(sections == Set("split", "pack", "report", "dup_size",
      "concentration"))
    // splits partition the kept corpus: doc shares sum to 1
    val splitRows = sheet.filter(_.getString(0) == "split")
    assert(splitRows.map(_.getString(1)).toSet.subsetOf(
      Set("train", "val", "test")))
    assert(math.abs(splitRows.map(_.getDouble(4)).sum - 1.0) < 2e-6)
    // the concentration row equals the standalone card on kept docs
    val kept = s.table("documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
      .filter(Curation.c4Keep(minWords = 5))
    val twin = Curation.concentrationCard(kept, "source").collect()(0)
    val conc = sheet.find(_.getString(0) == "concentration").get
    assert(conc.getLong(2) == twin.getAs[Long]("n_docs"))
    assert(conc.getLong(3) == twin.getAs[Long]("n_domains"))
    assert(conc.getDouble(4) == twin.getAs[Double]("hhi"))
    assert(conc.getDouble(5) == twin.getAs[Double]("gini"))
    // the dup_size section's doc total is the kept corpus
    val dupDocs = sheet.filter(_.getString(0) == "dup_size")
      .map(_.getLong(3)).sum
    assert(dupDocs == kept.count())
  }

  test("c4Rules: each marker family trips its own flag, the word floor " +
    "gates short and NULL docs, clean text keeps") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "Lorem Ipsum dolor sit amet consectetur"),
      (3L, "var f = function() { return 1; } end of snippet"),
      (4L, "this website uses cookies and our Privacy Policy applies"),
      (5L, "please enable JavaScript to view this page properly"),
      (6L, "too short"),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Curation.c4Rules(docs, minWords = 5).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flags(id: Long): (Boolean, Boolean, Boolean, Boolean, Boolean, Boolean) = {
      val r = out(id)
      (r.getAs[Boolean]("has_lorem"), r.getAs[Boolean]("has_brace"),
        r.getAs[Boolean]("has_policy"), r.getAs[Boolean]("has_js"),
        r.getAs[Boolean]("ok_words"), r.getAs[Boolean]("keep"))
    }
    assert(flags(1L) == ((false, false, false, false, true, true)))
    // markers match case-insensitively, one family per planted doc
    assert(flags(2L) == ((true, false, false, false, true, false)))
    assert(flags(3L) == ((false, true, false, false, true, false)))
    assert(flags(4L) == ((false, false, true, false, true, false)))
    assert(flags(5L) == ((false, false, false, true, true, false)))
    // the word floor alone drops a clean-but-short doc
    assert(flags(6L) == ((false, false, false, false, false, false)))
    // NULL text counts like the empty string (1 split token)
    assert(out(7L).getAs[Long]("n_words") == 1L)
    assert(flags(7L) == ((false, false, false, false, false, false)))
  }

  test("distinctNgramCard: hand-computed totals per order; short docs " +
    "contribute nothing above their length") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.distinctNgramCard(docs, Seq(1, 2, 3)).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out(1).getAs[Long]("total_ngrams") == 5L &&
      out(1).getAs[Long]("distinct_ngrams") == 2L &&
      out(1).getAs[Double]("distinct_ratio") == 0.4)
    assert(out(2).getAs[Long]("total_ngrams") == 3L &&
      out(2).getAs[Long]("distinct_ngrams") == 2L)
    // only the 3-word doc yields a trigram
    assert(out(3).getAs[Long]("total_ngrams") == 1L &&
      out(3).getAs[Double]("distinct_ratio") == 1.0)
  }

  test("dupSizeCard: hand-built 1/2/3-sized groups with exact shares") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"), (5L, "z"),
      (6L, "z")).toDF("doc_id", "text")
    val out = Curation.dupSizeCard(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_groups") == 1L &&
      out(1L).getAs[Long]("n_docs") == 1L)
    assert(out(2L).getAs[Long]("n_groups") == 1L &&
      out(2L).getAs[Long]("n_docs") == 2L)
    assert(out(3L).getAs[Long]("n_groups") == 1L &&
      out(3L).getAs[Long]("n_docs") == 3L)
    assert(out(3L).getAs[Double]("share") == 0.5)
    assert(math.abs(out.values.map(_.getAs[Double]("share")).sum - 1.0)
      < 1e-6)
  }

  test("concentrationCard: hand-computed HHI/Gini/top shares, balanced " +
    "corpus zeroes Gini, NULL domains drop") {
    val s = spark
    import s.implicits._
    // A:6 B:3 C:1 over 10 docs: HHI = (36+9+1)/100; ascending ranks
    // C(1),B(2),A(3) give Gini = (2*25 - 4*10)/(3*10) = 1/3
    val docs = (Seq.fill(6)("A") ++ Seq.fill(3)("B") ++ Seq("C"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("doc_id", "source")
    val c = graft.llm.Curation.concentrationCard(docs, "source")
      .collect()(0)
    assert(c.getAs[Long]("n_docs") == 10L)
    assert(c.getAs[Long]("n_domains") == 3L)
    assert(c.getAs[Double]("hhi") == 0.46)
    assert(c.getAs[Double]("gini") == 0.333333)
    assert(c.getAs[Double]("top1_share") == 0.6)
    assert(c.getAs[Double]("top10_share") == 1.0)
    // perfectly balanced: Gini 0, HHI = 1/k
    val bal = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "x"), (5L, "y"),
      (6L, "z")).toDF("doc_id", "source")
    val b = graft.llm.Curation.concentrationCard(bal, "source")
      .collect()(0)
    assert(b.getAs[Double]("gini") == 0.0)
    assert(b.getAs[Double]("hhi") == 0.333333)
    // NULL domains are excluded from every statistic
    val withNull = bal.unionAll(
      Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val wn = graft.llm.Curation.concentrationCard(withNull, "source")
      .collect()(0)
    assert(wn.getAs[Long]("n_docs") == 6L)
    graft.llm.PipelineCaches.clear()
  }

  test("ngramNovelty: verbatim copy 0, rotated 1, half-overlap 0.5, " +
    "null text counts its single empty gram") {
    val s = spark
    import s.implicits._
    val train = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "a b c d e f g h i"),     // both 8-grams seen -> 0
      (11L, "x y"),                   // whole-text gram, unseen -> 1
      (12L, "a b c d e f g h z"),     // one of two grams seen -> 0.5
      (13L, null.asInstanceOf[String])) // "" gram, unseen -> 1
      .toDF("doc_id", "text")
    val out = Curation.ngramNovelty(train, test, k = 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getAs[Long]("n_grams") == 2L &&
      out(10L).getAs[Long]("n_seen") == 2L &&
      out(10L).getAs[Double]("novelty") == 0.0)
    assert(out(11L).getAs[Double]("novelty") == 1.0)
    assert(out(12L).getAs[Long]("n_seen") == 1L &&
      out(12L).getAs[Double]("novelty") == 0.5)
    assert(out(13L).getAs[Long]("n_grams") == 1L &&
      out(13L).getAs[Double]("novelty") == 1.0)
    graft.llm.PipelineCaches.clear()
  }

  test("pairJaccardHist: an exact-dup pair lands in bin 20 and shares " +
    "sum to 1") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val dupes = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val hist = Dedup.pairJaccardHist(d.unionAll(dupes), k = 3,
      numHashes = 8, bands = 4)
    val rows = hist.collect().map(r => r.getInt(0) -> r).toMap
    // the 10 planted exact dups all reach bin 20 (jaccard exactly 1)
    assert(rows.contains(20) && rows(20).getAs[Long]("n_pairs") >= 10L)
    assert(rows(20).getAs[Double]("bin_lo") == 1.0)
    val shareSum = hist.agg(sum("share")).collect()(0).getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    graft.llm.PipelineCaches.clear()
  }

  test("incrementalContainmentPairs EQUIVALENCE: for several corpus " +
    "splits, probing the index equals the full exact join restricted " +
    "to batch-touching pairs") {
    val s = spark
    val d = s.table("documents").filter(col("doc_id") < 120)
      .select("doc_id", "text")
    val excerpts = d.filter(col("doc_id") % 7 === 0)
      .withColumn("_w", split(col("text"), " "))
      .select((col("doc_id") + 300000L).as("doc_id"),
        array_join(slice(col("_w"), lit(1),
          greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
          .as("text"))
    val corpus = d.unionAll(excerpts)
    val full = Dedup.containmentJoinExact(corpus, threshold = 0.8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    graft.llm.PipelineCaches.clear()
    for (m <- Seq(3L, 5L)) {
      val inBatch = (id: org.apache.spark.sql.Column) => id % m === 0
      val old = corpus.filter(!inBatch(col("doc_id")))
      val batch = corpus.filter(inBatch(col("doc_id")))
      val got = Dedup.incrementalContainmentPairs(
          Dedup.shingleIndex(old, k = 3), batch, threshold = 0.8, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      graft.llm.PipelineCaches.clear()
      val want = full.filter(p => p._1 % m == 0 || p._2 % m == 0)
      assert(got == want, s"split mod $m: incremental != restricted full")
    }
  }

  test("jaccardJoinExact equals the brute-force all-pairs join on the " +
    "fixture, and keeps the exact-threshold boundary pair") {
    val s = spark
    import s.implicits._
    val d = s.table("documents").select("doc_id", "text")
    val dupes = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000L).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 12, 1))")
          .as("text"))
    val corpus = d.unionAll(dupes)
    val got = Dedup.jaccardJoinExact(corpus, threshold = 0.5, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.llm.PipelineCaches.clear()
    // brute force: every pair, exact rescore, same filter
    val ids = corpus.select("doc_id")
    val allPairs = ids.select(col("doc_id").as("doc_a"))
      .crossJoin(ids.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
    val want = Dedup.containmentRescore(corpus, allPairs, k = 3)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missing=${(want diff got).take(5)} extra=${(got diff want).take(5)}")
    assert(got.nonEmpty)
    // boundary: |x| = 10 words, |y| = 7 all shared -> J = 7/10 exactly
    // the 0.7 threshold; the conservative alpha must not prune it
    val w = (1 to 10).map(i => s"w$i")
    val edge = Seq(
      1L -> w.mkString(" "),
      2L -> w.take(7).mkString(" ")).toDF("doc_id", "text")
    val hits = Dedup.jaccardJoinExact(edge, threshold = 0.7, k = 1)
      .collect()
    graft.llm.PipelineCaches.clear()
    assert(hits.length == 1 && hits(0).getLong(0) == 1L &&
      hits(0).getLong(1) == 2L)
    assert(hits(0).getDouble(2) == 0.7)
  }

  test("containmentJoinExact equals the brute-force all-ordered-pairs " +
    "join on the fixture, catches the excerpt Jaccard provably misses, " +
    "and keeps the exact-threshold boundary pair") {
    val s = spark
    import s.implicits._
    val d = s.table("documents").select("doc_id", "text")
    val excerpts = d.filter(col("doc_id") < 20)
      .withColumn("_w", split(col("text"), " "))
      .select((col("doc_id") + 300000L).as("doc_id"),
        array_join(slice(col("_w"), lit(1),
          greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
          .as("text"))
    val corpus = d.unionAll(excerpts)
    val got = Dedup.containmentJoinExact(corpus, threshold = 0.8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.llm.PipelineCaches.clear()
    val ids = corpus.select("doc_id")
    val allPairs = ids.select(col("doc_id").as("doc_a"))
      .crossJoin(ids.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") =!= col("doc_b"))
    val want = Dedup.containmentRescore(corpus, allPairs, k = 3)
      .filter(col("containment_a") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missing=${(want diff got).take(5)} extra=${(got diff want).take(5)}")
    // the capability gap this join exists for: every planted excerpt
    // is containment-caught in the excerpt -> original direction, and
    // the 0.8 JACCARD exact join sees none of those pairs
    val planted = got.filter { case (a, b) =>
      a >= 300000L && b == a - 300000L }
    assert(planted.size == excerpts.count(),
      "every excerpt must be caught as contained in its original")
    val jac = Dedup.jaccardJoinExact(corpus, threshold = 0.8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.llm.PipelineCaches.clear()
    assert(planted.forall { case (a, b) =>
      !jac.contains((a, b)) && !jac.contains((b, a)) },
      "half-doc excerpts sit near Jaccard 0.5 — the symmetric join " +
        "must miss them, which is why containment is its own operator")
    // boundary: |A| = 5 shingles (k=1 words), 4 of 5 in B -> exactly
    // 0.8; the conservative alpha must not prune it
    val edge = Seq(
      1L -> "a b c d e",
      2L -> "a b c d x y z q").toDF("doc_id", "text")
    val hits = Dedup.containmentJoinExact(edge, threshold = 0.8, k = 1)
      .collect()
    graft.llm.PipelineCaches.clear()
    assert(hits.length == 1 && hits(0).getLong(0) == 1L &&
      hits(0).getLong(1) == 2L)
    assert(hits(0).getDouble(2) == 0.8)
    val e = intercept[IllegalArgumentException](
      Dedup.containmentJoinExact(edge, threshold = 0.0))
    assert(e.getMessage.contains("threshold"))
  }

  test("dropContained: strict excerpts drop toward their hosts, " +
    "mutual-containment chains keep exactly their minimum, untouched " +
    "docs survive — the witness rule needs no iteration") {
    val s = spark
    import s.implicits._
    val body = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
      1L -> body,                                  // host, survives
      2L -> (1 to 6).map(i => s"w$i").mkString(" "), // excerpt of 1
      3L -> body,                                  // mutual chain ...
      4L -> body,                                  // ... keeps min (1)
      5L -> "z1 z2 z3 z4 z5 z6 z7 z8")             // unrelated
      .toDF("doc_id", "text")
    val out = Dedup.dropContained(d, threshold = 0.8, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2))).toMap
    graft.llm.PipelineCaches.clear()
    assert(!out(1L)._1, "the minimum of the mutual chain survives")
    assert(out(2L)._1, "the strict excerpt drops")
    assert(out(3L)._1 && out(4L)._1,
      "every non-minimum chain member sees a lower mutual witness")
    assert(!out(5L)._1 && out(5L)._2 == 0L)
    // doc 4's witnesses are exactly its two lower mutual twins (1, 3);
    // the excerpt's are all three chain members
    assert(out(4L)._2 == 2L)
    assert(out(2L)._2 == 3L)
    assert(out.size == 5, "rows preserved")
  }

  test("containmentRecallAudit: a short excerpt inside a long host is " +
    "containment truth the Jaccard bands miss — the audit measures " +
    "exactly that gap; an identical pair is truth the bands catch") {
    val s = spark
    import s.implicits._
    val host = (1 to 60).map(i => s"h$i").mkString(" ")
    val d = Seq(
      1L -> host,
      2L -> (1 to 6).map(i => s"h$i").mkString(" "), // J ~0.09, C = 1
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8",
      4L -> "z1 z2 z3 z4 z5 z6 z7 z8")                // identical pair
      .toDF("doc_id", "text")
    val card = Dedup.containmentRecallAudit(d, threshold = 0.8, k = 3)
      .collect()(0)
    graft.llm.PipelineCaches.clear()
    // truth: (2 in 1), (3 in 4), (4 in 3) = 3 ordered pairs
    assert(card.getAs[Long]("n_truth") == 3L)
    // the identical pair's two orientations hit (J = 1 collides in
    // every band); the excerpt pair at J ~0.09 has no band collision
    // in the deterministic md5 family — the measured blindness
    assert(card.getAs[Long]("n_hit") == 2L)
    assert(card.getAs[Double]("recall") == 0.666667)
    graft.llm.PipelineCaches.clear()
  }

  test("minhashEstQuality: identical docs estimate exactly, card is " +
    "a zero-error row") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "q w e r t y u i o p")).toDF("doc_id", "text")
    val c = Dedup.minhashEstQuality(d).collect()(0)
    assert(c.getAs[Long]("n_pairs") >= 1L)
    assert(c.getAs[Double]("max_abs_err") == 0.0,
      "identical signatures on identical shingle sets cannot mis-" +
        s"estimate: ${c.mkString(",")}")
    assert(c.getAs[Double]("share_within_notch") == 1.0)
    graft.llm.PipelineCaches.clear()
  }

  test("lshRecallAudit: identical docs are both truth and candidate " +
    "(recall 1), all-distinct corpus yields NULL guarded ratios") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "q w e r t y u i o p")).toDF("doc_id", "text")
    val card = Dedup.lshRecallAudit(d, threshold = 0.8).collect()(0)
    assert(card.getAs[Double]("threshold") == 0.8)
    assert(card.getAs[Long]("n_truth") == 1L)
    assert(card.getAs[Long]("n_hit") == 1L,
      "identical signatures MUST collide in every band")
    assert(card.getAs[Double]("recall") == 1.0)
    assert(card.getAs[Double]("candidate_precision") <= 1.0)
    graft.llm.PipelineCaches.clear()
    val distinct = Seq(
      (1L, "a b c"), (2L, "x y z"), (3L, "m n o")).toDF("doc_id", "text")
    val c2 = Dedup.lshRecallAudit(distinct, threshold = 0.9).collect()(0)
    assert(c2.getAs[Long]("n_truth") == 0L)
    assert(c2.isNullAt(c2.fieldIndex("recall")),
      "zero truth pairs must yield NULL recall, not a division blowup")
    graft.llm.PipelineCaches.clear()
  }

  test("lshSensitivity: cumulative-from-the-top pair mass — the top bin " +
    "equals its own count, the bottom bin covers every pair") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val dupes = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val sens = Dedup.lshSensitivity(d.unionAll(dupes), k = 3,
      numHashes = 8, bands = 4)
    val rows = sens.collect().sortBy(_.getInt(0))
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    // lowest bin's cumulative-ge covers ALL pairs (share_ge = 1)
    assert(rows.head.getAs[Long]("n_pairs_ge") == total)
    assert(rows.head.getAs[Double]("share_ge") == 1.0)
    // highest bin's cumulative equals its own count
    assert(rows.last.getAs[Long]("n_pairs_ge") ==
      rows.last.getAs[Long]("n_pairs"))
    // monotone nonincreasing in bin
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_pairs_ge") >= hi.getAs[Long]("n_pairs_ge"))
    }
    graft.llm.PipelineCaches.clear()
  }

  test("centroidCosine: the group SUM vector is the centroid — " +
    "hand-computed 2-d groups, singleton identity, zero-vector NULL") {
    val s = spark
    import s.implicits._
    val embs = Seq(
      (1L, "a", Seq(1.0f, 0.0f)),
      (2L, "a", Seq(0.0f, 1.0f)),
      (3L, "b", Seq(3.0f, 4.0f)),
      (4L, "c", Seq(0.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidCosine(embs, "label")
      .collect().map(r => r.getLong(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    // group a: sum (1,1); cos((1,0),(1,1)) = 1/sqrt(2)
    val expected = math.floor(1.0 / math.sqrt(2.0) * 1e6 + 0.5) / 1e6
    assert(out(1L).contains(expected) && out(2L).contains(expected))
    // a singleton's centroid is itself: cosine exactly 1
    assert(out(3L).contains(1.0))
    // zero vector: NULL score (and its group centroid is the zero sum)
    assert(out(4L).isEmpty)
  }

  test("corpusOverlapSketch: identical corpora estimate 1.0, " +
    "disjoint-vocabulary corpora 0.0") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta iota")).toDF("doc_id", "text")
    val same = Dedup.corpusOverlapSketch(a, a).collect()(0)
    assert(same.getAs[Long]("n_docs_a") == 2L)
    assert(same.getAs[Long]("n_docs_b") == 2L)
    assert(same.getAs[Int]("n_hashes") == 8)
    assert(same.getAs[Long]("n_agree") == 8L)
    assert(same.getAs[Double]("est_jaccard") == 1.0)
    val b = Seq(
      (1L, "uno dos tres cuatro"),
      (2L, "cinco seis siete ocho nueve")).toDF("doc_id", "text")
    val disj = Dedup.corpusOverlapSketch(a, b).collect()(0)
    assert(disj.getAs[Long]("n_agree") == 0L)
    assert(disj.getAs[Double]("est_jaccard") == 0.0)
    // a union sketch only ever shrinks componentwise: sketching A
    // against A∪B agrees wherever B never undercuts A's minimum, so
    // the estimate is strictly between the two extremes here
    val ab = a.unionAll(b.select(col("doc_id") + 10L, col("text")))
    val partial = Dedup.corpusOverlapSketch(a, ab).collect()(0)
    assert(partial.getAs[Long]("n_agree") > 0L &&
      partial.getAs[Long]("n_agree") < 8L)
  }

  test("contaminationSpan: verbatim copy spans the whole doc, scattered " +
    "hits stay k-long, short whole-text matches cap at doc length") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "a b c d e f g h i j"),  // all 3 grams matched -> span 10
      (11L, "a b c d e f g h x y z w q r s t"), // pos 0 only -> span 8
      (12L, "z1 z2 z3 z4 z5 z6 z7 z8"),         // no hits -> 0
      (13L, "a b"),                  // whole-text gram -> capped span 2
      // two NON-consecutive matched grams (pos 0 and 9): islands keep
      // the longest span at 8, not 2 + 7
      (14L, "a b c d e f g h QQQ c d e f g h i j"))
      .toDF("doc_id", "text")
    val out = Curation.contaminationSpan(train, test, k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out(10L) == ((10L, 3L, 3L, 10L, 1.0)))
    assert(out(11L) == ((16L, 9L, 1L, 8L, 0.5)))
    assert(out(12L) == ((8L, 1L, 0L, 0L, 0.0)))
    assert(out(13L) == ((2L, 1L, 1L, 2L, 1.0)))
    assert(out(14L) == ((17L, 10L, 2L, 8L, 0.470588)))
    graft.llm.PipelineCaches.clear()
  }

  test("lengthBucketPlan: hand-computed power-of-two buckets and the " +
    "naive-total row; bucketing strictly beats pad-to-max") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a"), (2L, "a b c"), (3L, "a b c d"),
      (4L, "t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val rows = TextOps.lengthBucketPlan(d).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(rows(Some(1L)) == ((1L, 1L, 1L, 0L, 0.0)))
    assert(rows(Some(4L)) == ((2L, 7L, 8L, 1L, 0.125)))
    assert(rows(Some(16L)) == ((1L, 9L, 16L, 7L, 0.4375)))
    assert(rows(None) == ((4L, 17L, 36L, 19L, 0.527778)))
    val bucketPadded = rows.collect {
      case (Some(_), (_, _, p, _, _)) => p }.sum
    assert(bucketPadded < rows(None)._3,
      "bucketed padding must strictly beat pad-to-corpus-max here")
  }

  test("hllEstimator: hand register table reproduces the {a,b,c} card " +
    "and shard registers merge by max into the same estimate") {
    val s = spark
    import s.implicits._
    // the {a,b,c} registers from the hllCard pin: (12,1) (146,1) (74,1)
    val regs = Seq(("s1", 12L, 1), ("s1", 146L, 1), ("s1", 74L, 1))
      .toDF("grp", "_j", "_mj")
    val card = TextOps.hllEstimator(regs, 256).collect()(0)
    assert(card.getAs[Long]("v_empty") == 253L)
    assert(card.getAs[Double]("hll_est") == 3.017717)
    // two shards' registers, merged by per-(grp, j) max — the streaming
    // state transition and the cross-shard merge are the SAME operation
    val shardA = Seq(("s1", 12L, 1), ("s1", 74L, 3)).toDF("grp", "_j", "_mj")
    val shardB = Seq(("s1", 12L, 2), ("s1", 146L, 1)).toDF("grp", "_j", "_mj")
    val merged = shardA.unionAll(shardB)
      .groupBy("grp", "_j").agg(max("_mj").as("_mj"))
    val direct = Seq(("s1", 12L, 2), ("s1", 74L, 3), ("s1", 146L, 1))
      .toDF("grp", "_j", "_mj")
    assert(TextOps.hllEstimator(merged, 256).collect()(0) ==
      TextOps.hllEstimator(direct, 256).collect()(0))
  }

  test("scriptShares: hand-exact class fractions, empty text NULL") {
    val s = spark
    import s.implicits._
    // "ab 12 ?!" -> 8 chars: 2 letters, 2 digits, 2 spaces, 2 other
    val d = Seq((1L, "ab 12 ?!"), (2L, ""), (3L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.scriptShares(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 8L)
    assert(r1.getDouble(2) == 0.25 && r1.getDouble(3) == 0.25 &&
      r1.getDouble(4) == 0.25 && r1.getDouble(5) == 0.25)
    assert(out(2L).isNullAt(2) && out(3L).isNullAt(2),
      "zero-length text gets NULL shares, never 0/0")
  }

  test("gramEntropy: hand-computed H(W), H(W1,W2), H(W2|W1) on a " +
    "4-token doc; deterministic text collapses the conditional") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a a b a")).toDF("doc_id", "text")
    val c = TextOps.gramEntropy(d).collect()(0)
    assert(c.getAs[Long]("n_tokens") == 4L &&
      c.getAs[Long]("distinct_unigrams") == 2L)
    assert(c.getAs[Double]("h_unigram") == 0.562335)
    assert(c.getAs[Long]("n_bigrams") == 3L &&
      c.getAs[Long]("distinct_bigrams") == 3L)
    assert(c.getAs[Double]("h_bigram") == 1.098612) // ln 3
    assert(c.getAs[Double]("h_cond") == 0.536277)
    // fully deterministic sequence: every bigram determined by its
    // predecessor -> conditional entropy exactly 0
    val det = Seq((1L, "x y x y x y x y x y")).toDF("doc_id", "text")
    val c2 = TextOps.gramEntropy(det).collect()(0)
    assert(c2.getAs[Double]("h_cond") < 0.08,
      s"alternating text is near-deterministic: ${c2.mkString(",")}")
  }

  test("filterSweep: monotone survival, bottom threshold covers " +
    "everything, doc and token shares diverge on length-skewed input") {
    val s = spark
    import s.implicits._
    def txt(n: Int) = Seq.fill(n)("go").mkString(" ")
    // short docs score high on Flesch (few words), long docs low — so
    // the high-threshold bucket keeps many docs but few tokens
    val d = (1L to 8L).map(i => (i, txt(2))) ++ Seq((9L, txt(80)))
    val out = TextOps.filterSweep(d.toDF("doc_id", "text"))
      .orderBy(col("threshold").desc).collect()
    val bottom = out.last
    assert(bottom.getLong(1) == 9L && bottom.getDouble(3) == 1.0 &&
      bottom.getDouble(4) == 1.0,
      "the lowest threshold must keep the whole corpus")
    // survival counts never increase as the threshold rises
    assert(out.map(_.getLong(1)).toSeq ==
      out.map(_.getLong(1)).toSeq.sorted,
      "doc survival must be monotone in the threshold")
    val top = out.head
    assert(top.getDouble(3) > top.getDouble(4),
      "short high-scoring docs: doc share must exceed token share at " +
        "the top threshold")
  }

  test("langidConfusion: planted cells with exact within-label shares") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the and of", "en"),    // -> en (correct)
      (2L, "the cat sat", "en"),   // -> en (correct)
      (3L, "xyz qqq", "en"),       // -> und (miss)
      (4L, "le la et", "fr"))      // -> fr (correct)
      .toDF("doc_id", "text", "lang")
    val out = TextOps.langidConfusion(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("en", "en") -> ((2L, 0.666667)),
      ("en", "und") -> ((1L, 0.333333)),
      ("fr", "fr") -> ((1L, 1.0))))
  }

  test("dedupSavings: hand-priced duplicate groups") {
    val s = spark
    import s.implicits._
    // "a b c" x3 (3 tokens, 2 dup copies -> 6 saved), "x y" x1, "z" x2
    // (1 token, 1 dup -> 1 saved): 6 docs, 3 distinct, saved 7 of 13
    val d = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y"), (5L, "z"), (6L, "z")).toDF("doc_id", "text")
    val c = Curation.dedupSavings(d).collect()(0)
    assert(c.getAs[Long]("n_docs") == 6L)
    assert(c.getAs[Long]("n_distinct") == 3L)
    assert(c.getAs[Long]("n_dup_docs") == 3L)
    assert(c.getAs[Long]("tokens_total") == 13L)
    assert(c.getAs[Long]("tokens_saved") == 7L)
    assert(c.getAs[Double]("saved_frac") == 0.538462)
  }

  test("corpusDiff: all four statuses with hand-exact token deltas") {
    val s = spark
    import s.implicits._
    val vOld = Seq((1L, "a b"), (2L, "c"), (3L, "d d d"))
      .toDF("doc_id", "text")
    val vNew = Seq((2L, "c"), (3L, "x"), (4L, "e e"))
      .toDF("doc_id", "text")
    val out = Curation.corpusDiff(vOld, vNew).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      "removed" -> ((1L, 2L, 0L, -2L)),
      "unchanged" -> ((1L, 1L, 1L, 0L)),
      "changed" -> ((1L, 3L, 1L, -2L)),
      "added" -> ((1L, 0L, 2L, 2L))))
  }

  test("domainTailCard: hand-computed 50/30/15/5 masses give cutoff " +
    "ranks 1/3/4 with exact covered shares") {
    val s = spark
    import s.implicits._
    def txt(n: Int) = Seq.fill(n)("t").mkString(" ")
    val d = Seq(
      (1L, txt(50), "A"), (2L, txt(30), "B"),
      (3L, txt(15), "C"), (4L, txt(5), "D"))
      .toDF("doc_id", "text", "source")
    val c = Curation.domainTailCard(d).collect()(0)
    assert(c.getAs[Long]("n_domains") == 4L)
    assert(c.getAs[Long]("total_tokens") == 100L)
    assert(c.getAs[Long]("domains_p50") == 1L &&
      c.getAs[Double]("share_p50") == 0.5)
    assert(c.getAs[Long]("domains_p90") == 3L &&
      c.getAs[Double]("share_p90") == 0.95)
    assert(c.getAs[Long]("domains_p99") == 4L &&
      c.getAs[Double]("share_p99") == 1.0)
  }

  test("cmsEstimate: shard grids merge by cell-wise SUM into the same " +
    "estimates — the streaming transition IS the shard merge") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val full = TextOps.cmsTopK(d).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // the same corpus split across two "shards", grids summed cell-wise
    val dA = Seq((1L, "a a b")).toDF("doc_id", "text")
    val dB = Seq((2L, "a b c")).toDF("doc_id", "text")
    def grid(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(TextOps.tokens(coalesce(col("text"), lit(""))))
        .as("_w"))
      .select(explode(array((0 until 4).map(r =>
        struct(lit(r).as("_r"), TextOps.cmsBucket(r, col("_w"), 256)
          .as("_b"))): _*)).as("_rb"))
      .groupBy(col("_rb._r").as("_r"), col("_rb._b").as("_b"))
      .agg(count(lit(1)).as("_cnt"))
    val merged = grid(dA).unionAll(grid(dB))
      .groupBy("_r", "_b").agg(sum("_cnt").as("_cnt"))
    val top = d.select(explode(TextOps.tokens(col("text"))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).cast("bigint").as("n_exact"))
      .orderBy(col("n_exact").desc, col("_w").asc).limit(20)
    val viaMerge = TextOps.cmsEstimate(merged, top, 4, 256).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(viaMerge == full,
      "sum-merged shard grids must estimate identically to the whole")
  }

  test("cmsTopK: collision-free grid is exact, width-1 grid degenerates " +
    "to the total, overcounts never negative on the fixture corpus") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    // 4x256: three tokens cannot collide enough to inflate the min —
    // est == exact, overcount 0 for all three
    val out = TextOps.cmsTopK(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("a") == ((3L, 3L, 0L)))
    assert(out("b") == ((2L, 2L, 0L)))
    assert(out("c") == ((1L, 1L, 0L)))
    // width 1, depth 1: every token shares the one cell -> est = total
    // mass 6 for everything (the degenerate bound, exactly)
    val deg = TextOps.cmsTopK(d, depth = 1, width = 1).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(deg == Map("a" -> 6L, "b" -> 6L, "c" -> 6L))
    // the one-sided guarantee on real data: collisions only inflate
    val real = TextOps.cmsTopK(s.table("documents")).collect()
    assert(real.length == 20)
    assert(real.forall(_.getLong(3) >= 0L),
      "CMS must never undercount")
    val e = intercept[IllegalArgumentException](
      TextOps.cmsTopK(d, depth = 0))
    assert(e.getMessage.contains("depth"))
  }

  test("hllCard: hand-computed registers on {a,b,c}, duplicate " +
    "idempotence, and sketch accuracy on the fixture corpus") {
    val s = spark
    import s.implicits._
    // md5 registers: a -> (12, rho 1), b -> (146, 1), c -> (74, 1); all
    // distinct -> used 3, v_empty 253; raw E 184.96 <= 2.5m with v > 0
    // -> linear counting 256*ln(256/253) = 3.017717
    val abc = Seq((1L, "a b", "s1"), (2L, "c", "s1"))
      .toDF("doc_id", "text", "source")
    val card = TextOps.hllCard(abc).collect()(0)
    assert(card.getAs[Long]("n_exact") == 3L)
    assert(card.getAs[Long]("v_empty") == 253L)
    assert(card.getAs[Double]("hll_est") == 3.017717)
    assert(card.getAs[Double]("rel_err") == 0.005906)
    // max is idempotent: token multiplicity cannot move a register
    val dup = Seq((1L, "a a a b", "s1"), (2L, "c c", "s1"))
      .toDF("doc_id", "text", "source")
    val card2 = TextOps.hllCard(dup).collect()(0)
    assert(card2.getAs[Double]("hll_est") == 3.017717 &&
      card2.getAs[Long]("v_empty") == 253L,
      "duplicates must not change the sketch")
    // fixture corpus: every source's estimate lands within HLL accuracy
    val real = TextOps.hllCard(s.table("documents")).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val err = math.abs(r.getAs[Double]("rel_err"))
      assert(err < 0.2,
        s"source ${r.getString(0)}: rel_err $err out of sketch range")
    }
    val e = intercept[IllegalArgumentException](
      TextOps.hllCard(abc, regHexChars = 5))
    assert(e.getMessage.contains("regHexChars"))
  }

  test("logisticQuality: one GD step on a one-doc corpus is the " +
    "hand-computed p=0.5 update; two steps pin the HALF_UP lattice tie") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a")).toDF("doc_id", "text")
    // iter 1: score 0, p exactly 0.5, g = -0.5 for token AND intercept
    // buckets, w1 = 0 - 0.5*(-0.5)/1 = 0.25 each -> final score 0.5
    val one = Curation.logisticQuality(d, lit(true), buckets = 64,
      iters = 1, lr = 0.5).collect()(0)
    assert(one.getAs[Long]("n_tokens") == 1L)
    assert(one.getAs[Double]("score") == 0.5)
    assert(one.getAs[Double]("prob") == 0.622459) // round(sigma(0.5), 6)
    assert(one.getAs[Boolean]("predicted"))
    // iter 2: p = round(sigma(0.5),6) = 0.622459, g = -0.377541,
    // w2 = round(0.25 + 0.5*0.377541, 6) = round(0.4387705, 6) — an
    // EXACT half-tie on the 6-dp lattice, HALF_UP -> 0.438771; the
    // final score 2*w2 = 0.877542 pins the rounding mode itself
    val two = Curation.logisticQuality(d, lit(true), buckets = 64,
      iters = 2, lr = 0.5).collect()(0)
    assert(two.getAs[Double]("score") == 0.877542)
    graft.llm.PipelineCaches.clear()
  }

  test("calibrationCard: separable corpus splits into a high and a low " +
    "bin with coherent gaps and an exact ECE total") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "good good good filler", "pos"), (2L, "good good the", "pos"),
      (3L, "filler good good a", "pos"), (4L, "good the good", "pos"),
      (5L, "bad bad bad filler", "neg"), (6L, "bad bad the", "neg"),
      (7L, "filler bad bad a", "neg"), (8L, "bad the bad", "neg"))
      .toDF("doc_id", "text", "src")
    val rows = Curation.calibrationCard(d, col("src") === "pos",
      buckets = 64).collect()
    val binRows = rows.filter(!_.isNullAt(0))
    val totals = rows.filter(_.isNullAt(0))
    assert(totals.length == 1, "exactly one NULL-bin ECE total row")
    assert(binRows.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 9))
    assert(binRows.length >= 2,
      s"separable classes must land in distinct probability bins: " +
        s"${binRows.mkString(";")}")
    binRows.foreach { r =>
      val gap = BigDecimal(r.getDouble(5))
      val expect = BigDecimal(
        math.abs(r.getDouble(3) - r.getDouble(4)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(gap == expect, s"gap identity broken on $r")
    }
    val t = totals(0)
    assert(t.getLong(1) == 8L && t.getLong(2) == 4L)
    val ece = BigDecimal(binRows.map(r =>
        r.getDouble(5) * r.getLong(1)).sum / 8.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(t.getDouble(5) == ece, "total gap must equal the weighted ECE")
    graft.llm.PipelineCaches.clear()
  }

  test("classifierAuc: separable corpus scores 1.0, identical docs tie " +
    "to exactly 0.5, one-class corpus yields NULL") {
    val s = spark
    import s.implicits._
    val sep = Seq(
      (1L, "good good good filler", "pos"), (2L, "good good the", "pos"),
      (3L, "filler good good a", "pos"), (4L, "good the good", "pos"),
      (5L, "bad bad bad filler", "neg"), (6L, "bad bad the", "neg"),
      (7L, "filler bad bad a", "neg"), (8L, "bad the bad", "neg"))
      .toDF("doc_id", "text", "src")
    val a1 = Curation.classifierAuc(sep, col("src") === "pos",
      buckets = 64).collect()(0)
    assert(a1.getAs[Long]("n_pos") == 4L && a1.getAs[Long]("n_neg") == 4L)
    assert(a1.getAs[Double]("auc") == 1.0,
      s"perfect separation must rank perfectly, got $a1")
    graft.llm.PipelineCaches.clear()
    // identical text -> one score for everything -> all-tie half credit:
    // 2U = np*nn exactly, auc exactly 0.5
    val tie = Seq(
      (1L, "same text", true), (2L, "same text", false),
      (3L, "same text", true), (4L, "same text", false))
      .toDF("doc_id", "text", "pos")
    val a2 = Curation.classifierAuc(tie, col("pos")).collect()(0)
    assert(a2.getAs[Long]("u2") == 4L && a2.getAs[Double]("auc") == 0.5)
    graft.llm.PipelineCaches.clear()
    val one = Seq((1L, "a", true), (2L, "b", true)).toDF("doc_id", "text",
      "pos")
    val a3 = Curation.classifierAuc(one, col("pos")).collect()(0)
    assert(a3.isNullAt(a3.fieldIndex("auc")),
      "one-class AUC must be NULL, never a fake 0.5")
    graft.llm.PipelineCaches.clear()
  }

  test("logisticQuality separates a separable corpus and refuses bad " +
    "hyperparameters loudly") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "good good good filler", "pos"), (2L, "good good the", "pos"),
      (3L, "filler good good a", "pos"), (4L, "good the good", "pos"),
      (5L, "bad bad bad filler", "neg"), (6L, "bad bad the", "neg"),
      (7L, "filler bad bad a", "neg"), (8L, "bad the bad", "neg"))
      .toDF("doc_id", "text", "src")
    val out = Curation.logisticQuality(d, col("src") === "pos",
      buckets = 64, iters = 5, lr = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    (1L to 4L).foreach(i => assert(out(i).getAs[Boolean]("predicted"),
      s"doc $i should score positive"))
    (5L to 8L).foreach(i => assert(!out(i).getAs[Boolean]("predicted"),
      s"doc $i should score negative"))
    val minPos = (1L to 4L).map(out(_).getAs[Double]("score")).min
    val maxNeg = (5L to 8L).map(out(_).getAs[Double]("score")).max
    assert(minPos > maxNeg, s"class separation: $minPos vs $maxNeg")
    graft.llm.PipelineCaches.clear()
    val e1 = intercept[IllegalArgumentException](
      Curation.logisticQuality(d, lit(true), iters = 0))
    assert(e1.getMessage.contains("iters"))
    val e2 = intercept[IllegalArgumentException](
      Curation.logisticQuality(d, lit(true), lr = 0.0))
    assert(e2.getMessage.contains("lr"))
    val e3 = intercept[IllegalArgumentException](
      Curation.logisticQuality(d, lit(true), buckets = 0))
    assert(e3.getMessage.contains("buckets"))
    val e4 = intercept[IllegalArgumentException](
      Curation.logisticQuality(d.filter(lit(false)), lit(true)))
    assert(e4.getMessage.contains("empty corpus"))
    graft.llm.PipelineCaches.clear()
  }

  test("sharedSpans catches the offset-shifted repeat that spanDedup's " +
    "non-overlapping segment grid provably misses (r13 verdict task 4: " +
    "the Lee-et-al any-alignment guarantee)") {
    val s = spark
    import s.implicits._
    // docB = 2 filler words + all of docA: every window=3 segment of B
    // is misaligned against A's grid, so spanDedup sees ZERO shared
    // segments at exactly this offset (< window)
    val a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq((1L, a), (2L, s"zq zr $a")).toDF("doc_id", "text")
    val sd = Curation.spanDedup(d, window = 3, minDocs = 2).collect()
    assert(sd.forall(_.getAs[Long]("n_dropped") == 0L),
      "the miss this operator exists to fix: the shifted copy must " +
        "escape the aligned-segment detector")
    // sharedSpans: all 6 of A's stride-1 3-grams occur in B -> one
    // island of run 6 -> span 6 + 2 = 8 = the WHOLE of A
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Curation.sharedSpans(d, cand, k = 3).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_tokens_a") == 8L)
    assert(r.getAs[Long]("n_grams_a") == 6L)
    assert(r.getAs[Long]("n_matched") == 6L)
    assert(r.getAs[Long]("longest_span") == 8L,
      "the full doc is one shared span at a 2-word shift")
    assert(r.getAs[Double]("span_frac") == 1.0)
    graft.llm.PipelineCaches.clear()
  }

  test("sharedSpans: a zero-overlap candidate pair keeps its row with " +
    "span 0, and a mid-doc shared span reports run + k - 1 exactly") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a1 a2 a3 s1 s2 s3 s4 s5 a4 a5"),
      (2L, "b1 b2 s1 s2 s3 s4 s5 b3 b4 b5 b6"),
      (3L, "c1 c2 c3 c4 c5 c6")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Curation.sharedSpans(d, cand, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // pair (1,2): A's grams at s1..s5 positions -> 3 consecutive gram
    // hits (s1 s2 s3)(s2 s3 s4)(s3 s4 s5) -> run 3 -> span 3 + 2 = 5
    val p12 = out((1L, 2L))
    assert(p12.getAs[Long]("n_matched") == 3L)
    assert(p12.getAs[Long]("longest_span") == 5L,
      "the shared 5-token span is reported at its exact token length")
    // pair (1,3): no shared grams -> row preserved, span 0
    val p13 = out((1L, 3L))
    assert(p13.getAs[Long]("n_matched") == 0L)
    assert(p13.getAs[Long]("longest_span") == 0L)
    assert(p13.getAs[Double]("span_frac") == 0.0)
    val e = intercept[IllegalArgumentException](
      Curation.sharedSpans(d, cand, k = 0))
    assert(e.getMessage.contains("k must be"))
    graft.llm.PipelineCaches.clear()
  }

  test("removeSharedSpans cuts the offset-shifted repeat from the " +
    "HIGHER doc only (keep-one at any alignment), leaves sub-threshold " +
    "overlaps and non-candidates untouched with their original text") {
    val s = spark
    import s.implicits._
    val a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq(
      (1L, a),                       // keeper
      (2L, s"zq zr $a"),             // shifted copy -> loses all 8
      (3L, "p1 p2 s1 s2 s3 p3 p4"),  // 3-token overlap with 4 (< min 5)
      (4L, "q1 s1 s2 s3 q2 q3 q4"),
      (5L, "lone  doc   untouched")) // non-candidate, odd whitespace
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Curation.removeSharedSpans(d, cand, k = 3,
      minSpanTokens = 5).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean_text") == a,
      "the keeper (lowest doc_id) is untouched")
    assert(out(1L).getAs[Long]("n_removed") == 0L)
    assert(out(2L).getAs[String]("clean_text") == "zq zr",
      "the shifted copy loses exactly the copied span")
    assert(out(2L).getAs[Long]("n_removed") == 8L)
    // 3-token shared run: span 3+2 = 5? no — grams (s1 s2 s3) is ONE
    // matching gram -> run 1 -> span 1+2 = 3 < 5 -> untouched
    assert(out(4L).getAs[Long]("n_removed") == 0L)
    assert(out(4L).getAs[String]("clean_text") ==
      "q1 s1 s2 s3 q2 q3 q4")
    assert(out(5L).getAs[String]("clean_text") ==
      "lone  doc   untouched",
      "non-candidates keep their original text verbatim, whitespace " +
        "included")
    val e = intercept[IllegalArgumentException](
      Curation.removeSharedSpans(d, cand, k = 3, minSpanTokens = 2))
    assert(e.getMessage.contains("minSpanTokens"))
    graft.llm.PipelineCaches.clear()
  }

  test("removeSharedSpans: a doc that is keeper in one pair and copy " +
    "in another loses only the span shared with its LOWER partner, " +
    "and clamped end-of-doc islands never overflow") {
    val s = spark
    import s.implicits._
    // doc 2 shares "m1..m6" with doc 1 (lower -> 2 loses it) and
    // "t1..t5" with doc 3 (higher -> 2 keeps it; 3 loses it at the
    // very END of its text, exercising the coverage clamp)
    val d = Seq(
      (1L, "m1 m2 m3 m4 m5 m6"),
      (2L, "m1 m2 m3 m4 m5 m6 x1 t1 t2 t3 t4 t5"),
      (3L, "y1 y2 t1 t2 t3 t4 t5")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Curation.removeSharedSpans(d, cand, k = 3,
      minSpanTokens = 5).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") == 0L)
    assert(out(2L).getAs[String]("clean_text") == "x1 t1 t2 t3 t4 t5",
      "doc 2 loses the m-span (lower partner) and keeps the t-span " +
        "(higher partner)")
    assert(out(3L).getAs[String]("clean_text") == "y1 y2",
      "the end-of-doc island is cut exactly to the doc boundary")
    assert(out(3L).getAs[Long]("n_removed") == 5L)
    graft.llm.PipelineCaches.clear()
  }

  test("LrModel store round-trip: save+load+scoreWithLr is row-for-row " +
    "identical to inline logisticQuality, and the audits match (the " +
    "RP-index store convention — the persisted artifact must change " +
    "nothing)") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "good good good filler", "pos"), (2L, "good good the", "pos"),
      (3L, "filler good good a", "pos"), (4L, "good the good", "pos"),
      (5L, "bad bad bad filler", "neg"), (6L, "bad bad the", "neg"),
      (7L, "filler bad bad a", "neg"), (8L, "bad the bad", "neg"))
      .toDF("doc_id", "text", "src")
    val isPos = col("src") === "pos"
    val inline = Curation.logisticQuality(d, isPos, buckets = 64,
      iters = 5, lr = 0.5).collect().map(_.toSeq).sortBy(_.head.toString)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lr_rt")
    try {
      val w = Curation.lrWeights(d, isPos, buckets = 64, iters = 5,
        lr = 0.5)
      Curation.saveLrModel(LrModel(w, 64, 5, 0.5), tmp.toString)
      val loaded = Curation.loadLrModel(s, tmp.toString)
      assert((loaded.buckets, loaded.iters, loaded.lr) == ((64, 5, 0.5)))
      val stored = Curation.scoreWithLr(d, loaded.weights, loaded.buckets)
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(stored.toSeq == inline.toSeq,
        "store round-trip must be bit-identical to inline training")
      // the audits read the same scored relation either way
      val y = d.select(col("doc_id"),
        when(isPos, 1L).otherwise(0L).as("_y"))
      val aucStored = Curation.aucFromScored(
        Curation.scoreWithLr(d, loaded.weights, 64), y).collect()(0)
      val aucInline = Curation.classifierAuc(d, isPos, buckets = 64,
        iters = 5, lr = 0.5).collect()(0)
      assert(aucStored.toSeq == aucInline.toSeq)
      // unseen-bucket policy: scoring NEW docs against the store keeps
      // every token in n_tokens (left join), weight 0 for unseen buckets
      val fresh = Seq((9L, "zzz qqq unseen words")).toDF("doc_id", "text")
      val freshRow = Curation.scoreWithLr(fresh, loaded.weights, 64)
        .collect()(0)
      assert(freshRow.getAs[Long]("n_tokens") == 4L,
        "unseen buckets must not drop token counts")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      graft.llm.PipelineCaches.clear()
    }
  }
}
