package graft.llm

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Properties of the curation operators on arbitrary inputs:
  *
  *  - seqPack partitions each shard's token stream exactly — offsets are a
  *    gap-free cumulative sum in doc_id order and chunk spans follow from
  *    the offsets arithmetically;
  *  - dupGroups equals brute-force connected components: union-find, and
  *    the min-label fixpoint (which IS the component minimum). */
class CurationPropertySpec extends AnyFunSuite {

  private val docsGen: Gen[List[String]] = Gen.listOfN(24,
    Gen.choose(0, 12).map(n => List.fill(n)("w").mkString(" ")))

  test("property_seqpack_offsets_partition_each_shard") {
    val s = SparkTestSession.spark
    import s.implicits._
    val prop = Prop.forAll(docsGen, Gen.choose(2, 16), Gen.choose(1, 4)) {
      (texts, seqLen, nShards) =>
        val df = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val out = TextOps.seqPack(df, seqLen, nShards).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))
        out.groupBy(_._2).forall { case (_, shard) =>
          val ordered = shard.sortBy(_._1)
          val offsetsContiguous = ordered.foldLeft((true, 0L)) {
            case ((ok, expected), (_, _, n, start, _, _)) =>
              (ok && start == expected, expected + n)
          }._1
          // n >= 1 always (an empty string still splits to one token), so
          // the last-chunk recurrence is exactly the implementation's
          val chunksArithmetic = ordered.forall {
            case (_, _, n, start, first, last) =>
              first == start / seqLen && last == (start + n - 1) / seqLen
          }
          offsetsContiguous && chunksArithmetic
        }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("property_chunkdocs_covers_every_token_exactly") {
    val s = SparkTestSession.spark
    import s.implicits._
    val gen = for {
      n <- Gen.choose(1, 60)
      chunkSize <- Gen.choose(1, 12)
      stride <- Gen.choose(1, chunkSize)
    } yield (n, chunkSize, stride)
    val prop = Prop.forAll(gen) { case (n, chunkSize, stride) =>
      val tokens = (0 until n).map(i => s"t$i")
      val df = Seq((1L, tokens.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextOps.chunkDocs(df, chunkSize, stride).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .sortBy(_._1)
      val expectedCount =
        if (n <= chunkSize) 1L
        else math.ceil((n - chunkSize).toDouble / stride).toLong + 1L
      val covered = chunks.flatMap { case (_, start, len, _) =>
        start until (start + len) }.toSet
      chunks.length == expectedCount &&
        covered == (0L until n.toLong).toSet && // every token, no gaps
        chunks.forall { case (idx, start, len, text) =>
          start == idx * stride &&
            text == tokens.slice(start.toInt, (start + len).toInt).mkString(" ")
        }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, result.status.toString)
  }

  private val edgesGen: Gen[List[(Long, Long)]] = Gen.listOfN(12,
    Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))

  test("property_alternating_stars_equal_connected_components") {
    val s = SparkTestSession.spark
    import s.implicits._
    val prop = Prop.forAll(edgesGen) { rawEdges =>
      val nodes = (0L to 7L).toList
      val edges = rawEdges.filter(p => p._1 != p._2)
        .map { case (a, b) => (a.min(b), a.max(b)) }.distinct
      // brute force: union-find over the edge list
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      val expected = nodes.map(n => n -> find(n)).toMap
      // ...and the min-label fixpoint, iterated driver-side
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
      var labels = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        val next = labels.map { case (n, l) =>
          n -> (l +: adj.getOrElse(n, Nil).map(labels)).min
        }
        changed = next != labels
        labels = next
      }
      val got = Curation.dupGroups(
        nodes.toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.llm.PipelineCaches.clear()
      if (got != expected || got != labels) {
        println(s"COUNTEREXAMPLE edges=$edges got=$got expected=$expected " +
          s"min-label=$labels")
      }
      got == expected && got == labels
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(result.passed, result.status.toString)
  }

  test("alternating stars collapse a 64-hop chain (diameter >> rounds)") {
    val s = SparkTestSession.spark
    import s.implicits._
    // a path graph is min-label propagation's worst case: 64 rounds to
    // converge. The star alternation must label all 65 nodes with 0 well
    // inside its maxRounds=100 cap — and a second component + singletons
    // must stay separate.
    val chain = (0L until 64L).map(i => (i, i + 1))
    val other = Seq((100L, 101L), (101L, 102L))
    val nodes = ((0L to 64L) ++ Seq(100L, 101L, 102L, 999L)).toList
    val (labels, rounds) = Curation.dupGroupsCounted(
      nodes.toDF("doc_id"), (chain ++ other).toDF("doc_a", "doc_b"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.llm.PipelineCaches.clear()
    assert((0L to 64L).forall(got(_) == 0L), s"chain not collapsed: $got")
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(got(999L) == 999L)
    // the logarithmic-rounds claim, pinned: ScaleProbe's chain takes 6
    // star rounds at len=64, growing +2 per 4x chain length
    assert(rounds <= 10, s"expected O(log n) rounds for a 64-chain, got $rounds")
  }

  test("hitting the star-round cap raises instead of emitting multi-labels") {
    val s = SparkTestSession.spark
    import s.implicits._
    // a 16-hop chain cannot converge in 1 round; a silent return here
    // would label docs with several conflicting groups
    val chain = (0L until 16L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      Curation.dupGroupsCounted(
        (0L to 16L).toList.toDF("doc_id"),
        chain.toDF("doc_a", "doc_b"), maxRounds = 1)._1
        .collect()
    }
    graft.llm.PipelineCaches.clear()
    assert(e.getMessage.contains("did not converge"))
  }

  test("property_token_budget_self_preserves_mass_and_order") {
    val s = SparkTestSession.spark
    import s.implicits._
    // arbitrary domain labels and token counts: targets must sum back to
    // the relation's own token mass (+-1 rounding per domain), and at
    // alpha < 1 the flattening can only PULL shares toward uniform —
    // the rarest domain's rate >= the commonest domain's rate
    val gen = Gen.listOfN(30, for {
      d <- Gen.oneOf("a", "b", "c", "d")
      n <- Gen.choose(1L, 500L)
    } yield (d, n))
    val prop = Prop.forAll(gen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((d, n), i) => (i.toLong, d, n) }
        .toDF("doc_id", "dom", "n_tok")
      val plan = Sampling.tokenBudgetSelf(df, "dom", "n_tok", alpha = 0.3)
        .collect().map(r => (r.getAs[String]("domain"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("target_tokens"),
          r.getAs[Double]("sampling_rate")))
      val mass = rows.map(_._2).sum
      val massOk = math.abs(plan.map(_._3).sum - mass) <= plan.length
      val sorted = plan.sortBy(_._2)
      val monotone = sorted.zip(sorted.tail).forall {
        case ((_, _, _, rSmall), (_, _, _, rBig)) => rSmall >= rBig - 1e-9
      }
      massOk && monotone
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("property_mad_outlier_median_is_type1_and_flags_are_consistent") {
    val s = SparkTestSession.spark
    import s.implicits._
    val gen = Gen.nonEmptyListOf(Gen.choose(0L, 40L)).map(_.take(40))
    val prop = Prop.forAll(gen) { values =>
      val df = values.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("doc_id", "v")
      val out = Sampling.madOutliers(df, "v").collect()
        .map(r => (r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
      val sorted = values.sorted
      val med = sorted((values.size - 1) / 2) // type-1: smallest v with 2*cum >= n
      val devs = values.map(v => math.abs(v - med)).sorted
      val mad = devs((values.size - 1) / 2)
      out.forall { case (v, z, flag) =>
        if (mad == 0L) z.isEmpty && flag == (v != med)
        else {
          val expected = math.abs(v.toDouble - med) / (1.4826 * mad)
          z.exists(zz => math.abs(zz.asInstanceOf[Double] - expected) < 1e-5) &&
            flag == (math.floor(expected * 1e6 + 0.5) / 1e6 > 3.5)
        }
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("property_pack_plan_bounds_hold") {
    val s = SparkTestSession.spark
    import s.implicits._
    val gen = for {
      texts <- Gen.nonEmptyListOf(
        Gen.choose(0, 20).map(n => List.fill(n)("w").mkString(" ")))
        .map(_.take(25))
      seqLen <- Gen.choose(1, 12)
    } yield (texts, seqLen)
    val prop = Prop.forAll(gen) { case (texts, seqLen) =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val r = TextOps.packPlan(df, seqLen).collect()(0)
      val counts = texts.map(t => t.split(" ", -1).length.toLong)
      val eff = counts.map(math.min(_, seqLen.toLong)).sum
      r.getAs[Long]("n_docs") == counts.size &&
        r.getAs[Long]("total_tokens") == counts.sum &&
        r.getAs[Long]("packed_seqs") == (eff + seqLen - 1) / seqLen &&
        r.getAs[Long]("n_overlong") == counts.count(_ > seqLen) &&
        r.getAs[Long]("overflow_tokens") ==
          counts.map(n => math.max(n - seqLen, 0L)).sum &&
        r.getAs[Double]("pad_waste_pct") >= 0.0 &&
        r.getAs[Double]("pad_waste_pct") < 1.0 &&
        Seq(50, 90, 99).map(p => counts.sorted.apply(
          math.max(((p * counts.size + 99) / 100) - 1, 0))).zip(
          Seq(r.getAs[Long]("p50_tokens"), r.getAs[Long]("p90_tokens"),
            r.getAs[Long]("p99_tokens"))).forall { case (e, g) => e == g }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("property_leakage_split_never_straddles_groups") {
    val s = SparkTestSession.spark
    import s.implicits._
    val gen = Gen.listOfN(30, Gen.choose(0L, 9L))
    val prop = Prop.forAll(gen) { labels =>
      val groups = labels.zipWithIndex
        .map { case (g, i) => (i.toLong, g) }.toDF("doc_id", "dup_group")
      val out = Curation.leakageSafeSplit(groups, 80, 10)
        .collect().map(r => (r.getLong(1), r.getString(3)))
      out.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("reliable-checkpoint mode gives the identical labeling") {
    val s = SparkTestSession.spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    s.sparkContext.setCheckpointDir(dir.toString)
    s.conf.set("spark.graft.cc.reliableCheckpoint", "true")
    try {
      val nodes = (0L to 10L).toList.toDF("doc_id")
      val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
      val got = Curation.dupGroups(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
        5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 10L))
    } finally {
      s.conf.unset("spark.graft.cc.reliableCheckpoint")
    }
  }
}
