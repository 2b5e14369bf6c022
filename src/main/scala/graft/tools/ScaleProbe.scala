// Scaling evidence for the bucketed dedup/similarity paths: runs each
// operator at 1x and 4x the sf0.1 corpus (union with id-shifted copies)
// and prints wall time plus the candidate-pair count. Near-linear growth
// in both confirms the band/bucket joins never degenerate toward all
// pairs. Run: sbt "runMain graft.tools.ScaleProbe"
package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    graft.Tables.register(spark, dir)

    // Perturbed copies: each extra copy is DISTINCT content (suffixed
    // text / affine-shifted vectors), so growth measures organic corpus
    // expansion — identical copies would be true duplicates and their
    // pair count is rightly quadratic in the copy factor.
    def docCopies(df: DataFrame, n: Int): DataFrame =
      (0 until n).map { i =>
        if (i == 0) df
        else {
          // permute the alphabet per copy (seeded): each copy is a
          // disjoint sub-corpus with the original's internal statistics
          // (an appended suffix or filler token would leave copies
          // near-duplicates, which minhash correctly flags). A seeded
          // PERMUTATION, not a rotation, and a different seed base than
          // ScaleUp's replicas: rotations compose into rotations, so
          // probing a ScaleUp-tiled dir with rotated copies would cancel
          // into exact duplicates of existing replicas and the 4x curve
          // would measure planted duplication instead of organic growth.
          val abc = "abcdefghijklmnopqrstuvwxyz"
          val perm = new scala.util.Random(2000L + i)
            .shuffle(abc.toList).mkString
          df.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            translate(col("text"), abc, perm).as("text"))
        }
      }.reduce(_ unionAll _)

    def embCopies(df: DataFrame, n: Int): DataFrame =
      (0 until n).map { i =>
        if (i == 0) df
        else df.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          // hash-seeded sign mask (~half the dims flip, salt 13 — ScaleUp
          // replicas use salt 7): expected cosine vs the original and vs
          // every other copy ~0, far below any near-dup threshold. A
          // modular mask like (j+i)%3 repeats with period 3 and cancels
          // against ScaleUp's replicas, planting exact duplicates.
          expr(s"transform(embedding, (x, j) -> CAST(x * CASE WHEN " +
            s"pmod(hash(j, 13, $i), 2) = 0 THEN -1.0 ELSE 1.0 END AS FLOAT))")
            .as("embedding"))
      }.reduce(_ unionAll _)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val docs = spark.table("documents").select("doc_id", "text").cache()
    val embs = spark.table("embeddings").select("vec_id", "embedding").cache()
    docs.count(); embs.count()

    Seq(1, 4).foreach { mult =>
      val d = docCopies(docs, mult)
      // a FIXED set of 100 positively-scaled planted dups rides along as
      // the corpus grows: found pairs must stay exactly 100 (scaling
      // preserves every hyperplane side → recall 1 at any band width,
      // and the organic corpus' max pairwise cosine is far below 0.95)
      // while time grows ~linearly — the auto band width holds bucket
      // occupancy constant where the fixed 8-bit key saturates at ~2^8
      // buckets and rescored candidates grow quadratically.
      val planted = embs.filter(col("vec_id") < 100).select(
        (col("vec_id") + 777000000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) " +
          "AS FLOAT))").as("embedding"))
      val e = embCopies(embs, mult).unionAll(planted)
      val (nPairs, tPairs) = time(
        graft.llm.Dedup.minhashCandidates(d).count())
      val (nDup, tDup) = time(
        graft.llm.Similarity.cosineNearDupAuto(e, threshold = 0.95).count())
      // scale the fact table too (shifted supplier keys → mult× keys):
      // output must stay exactly k rows per key as the input grows
      val li = spark.table("lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice")
      val liScaled = (0 until mult).map(i => li.withColumn("l_suppkey",
        col("l_suppkey") + lit(i * 10000000L))).reduce(_ unionAll _)
      val (nTop, tTop) = time(graft.plans.TopK.topKPerKey(
        liScaled, Seq("l_suppkey"), Seq(col("l_extendedprice"),
          negate(col("l_orderkey"))), k = 5).count())
      // curation tier: benchmark set stays FIXED while train grows — time
      // must stay ~flat-per-row and the contaminated count constant (the
      // rotated copies share no grams with the benchmark)
      val bench = docs.filter(col("doc_id") < 500)
      val (nCont, tCont) = time(graft.llm.Curation
        .decontaminate(d, bench, k = 5)
        .filter(col("contaminated")).count())
      // dup-group assignment over the candidate graph: output rows =
      // corpus rows (linear by construction); time tracks candidates
      val (nGrp, tGrp) = time {
        val cands = graft.llm.Dedup.minhashCandidates(d)
        graft.llm.Curation.dupGroups(d.select("doc_id"), cands).count()
      }
      // reclaim the operators' persisted intermediates between multiples so
      // the 4x measurement isn't skewed by 1x leftovers
      graft.llm.PipelineCaches.clear()
      println(f"[scale ${mult}x] minhash_pairs: $nPairs%d cand in " +
        f"$tPairs%.1fs | embcos_pairs: $nDup%d in $tDup%.1fs | " +
        f"topk: $nTop%d rows in $tTop%.1fs | contaminated: $nCont%d in " +
        f"$tCont%.1fs | dup_groups: $nGrp%d rows in $tGrp%.1fs")
    }

    // Incremental dedup: a FIXED batch probes an index that grows 1x→4x.
    // The pruned index (rows surviving the batch-band-key semi-join) must
    // stay ~flat — proportional to the batch's bucket overlap, not the
    // index — or the "shuffle is O(matching buckets)" claim is wrong.
    locally {
      val batch = docs.filter(col("doc_id") < 500)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text"))
      Seq(1, 4).foreach { mult =>
        val corpus = docCopies(docs, mult)
        val index = graft.llm.Dedup.signatureIndex(corpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nIndex = index.count()
        val batchKeys = graft.llm.Dedup.signatureIndex(batch)
          .select("band_idx", "band_hash").distinct()
        val nPruned = index.join(broadcast(batchKeys),
          Seq("band_idx", "band_hash"), "left_semi").count()
        val (nCand, tCand) = time(
          graft.llm.Dedup.incrementalCandidates(index, batch).count())
        index.unpersist(blocking = false)
        graft.llm.PipelineCaches.clear()
        println(f"[incremental ${mult}x] index=$nIndex%d rows, " +
          f"pruned-to=$nPruned%d, candidates=$nCand%d in $tCand%.1fs")
      }
    }

    // Range join: points and intervals both grow 1x→4x (disjoint time
    // ranges per copy via a per-copy day offset). Output and time must
    // grow ~linearly — the bucketed equi-join's promise; the nested loop
    // this replaces is quadratic in the multiple.
    locally {
      val ev = spark.table("events").select("event_id", "ts").cache()
      ev.count()
      Seq(1, 4).foreach { mult =>
        val pts = (0 until mult).map(i =>
          ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
            (col("ts") + expr(s"INTERVAL ${i * 40} DAYS")).as("ts")))
          .reduce(_ unionAll _)
        val win = pts.filter(col("event_id") % 499 === 0)
          .select(col("event_id").as("window_id"), col("ts").as("lo"),
            (col("ts") + expr("INTERVAL 36 HOURS")).as("hi"))
        val (n, t) = time(graft.scale.RangeJoin.pointInInterval(
          pts, "ts", win, "lo", "hi", bucketWidthSec = 24 * 3600).count())
        println(f"[range_join ${mult}x] matches=$n%d in $t%.1fs")
      }
    }

    // NUMERIC range join (r16): same promise as the timestamp section —
    // disjoint value bands per copy (values offset by i·1000, bands
    // ±1.0, fractional width 2.5), so output and time must grow
    // ~linearly. Overlapping bands (ScaleUp replicas share ONE value
    // distribution) grow by OUTPUT size instead — documented on
    // q_range_join_rewrite_num's sf1 note, the q_range_join_rewrite
    // precedent.
    locally {
      val ev = spark.table("events").select("event_id", "value").cache()
      ev.count()
      Seq(1, 4).foreach { mult =>
        val pts = (0 until mult).map(i =>
          ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
            (col("value") + lit(i * 1000.0)).as("value")))
          .reduce(_ unionAll _)
        val win = pts.filter(col("event_id") % 997 === 0)
          .select(col("event_id").as("window_id"),
            (col("value") - 1.0).as("lo"), (col("value") + 1.0).as("hi"))
        val (n, t) = time(graft.scale.RangeJoin.pointInIntervalNum(
          pts, "value", win, "lo", "hi", bucketWidth = 2.5).count())
        println(f"[range_join_num ${mult}x] matches=$n%d in $t%.1fs")
      }
    }

    // Seeded IVF: a FIXED query batch probes an index over a corpus
    // growing 1x→4x. Build is a pure projection (linear); search
    // candidates are |corpus| × nProbe / nLists (linear); and probe
    // assignment is a Column expression — the queries are never
    // collected, so nothing here is driver-bound.
    locally {
      Seq(1, 4).foreach { mult =>
        val corpus = embCopies(embs, mult)
        val seeds = (1 to 16).map(_ * 5L)
        val (idx, tBuild) = time {
          val i = graft.llm.Similarity.buildIvfIndexSeeded(corpus, seeds)
          i.assigned.count(); i
        }
        val queries = corpus.filter(col("vec_id") < 32)
        val (n, tSearch) = time(graft.llm.Similarity
          .searchIvf(idx, queries, k = 10, nProbe = 4).count())
        idx.release()
        println(f"[ivf ${mult}x] build=$tBuild%.1fs, " +
          f"search=$n%d rows in $tSearch%.1fs")
      }
    }

    // Priority delivery order: the distributed sort-rank (range partition
    // + per-partition windows + broadcast offsets) must grow ~linearly
    // with the log — a global row_number window would not.
    locally {
      val ev = spark.table("events")
        .select("event_id", "ts", "event_type").cache()
      ev.count()
      Seq(1, 4).foreach { mult =>
        val log = (0 until mult).map(i =>
          ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
            (col("ts") + expr(s"INTERVAL ${i * 40} DAYS")).as("ts"),
            col("event_type"))).reduce(_ unionAll _)
        val (n, t) = time(graft.dml.events.Events.deliveryOrder(log,
          graft.dml.events.Events.priorityOf(col("event_type"),
            Map("error" -> 1, "purchase" -> 2))).count())
        graft.llm.PipelineCaches.clear()
        println(f"[priority ${mult}x] positions=$n%d in $t%.1fs")
      }
    }

    // Semantic dedup: within-cell pair work is Θ(n²/k), so a FIXED cell
    // count goes quadratic as the corpus grows while the occupancy-pinned
    // autoCellCount keeps it ~linear. A fixed set of 100 scaled planted
    // copies must be flagged at EITHER k (cosine cell assignment is
    // exactly scale-invariant, so a copy can never be separated from its
    // source at any cell count).
    locally {
      Seq(1, 4).foreach { mult =>
        val planted = embs.filter(col("vec_id") < 100).select(
          (col("vec_id") + 777000000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) " +
            "AS FLOAT))").as("embedding"))
        val corpus = embCopies(embs, mult).unionAll(planted)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = corpus.count()
        def seedsOf(k: Int): Seq[Long] = {
          val step = math.max(1L, n / k)
          corpus.select("vec_id")
            .filter(pmod(col("vec_id"), lit(step)) === 0)
            .orderBy("vec_id").limit(k)
            .collect().map(_.getLong(0)).toSeq
        }
        def run(tag: String, k: Int): Unit = {
          val (nDup, t) = time(graft.llm.Similarity
            .semanticDedup(corpus, seedsOf(k), threshold = 0.95)
            .filter(col("is_semdup")).count())
          println(f"[semantic ${mult}x $tag k=$k%3d] n=$n%d " +
            f"dups=$nDup%d in $t%.1fs")
        }
        run("fixed", 16)
        run("auto ", graft.llm.Similarity.autoCellCount(n))
        corpus.unpersist(blocking = false)
      }
    }

    // Incremental containment: a FIXED excerpt batch probes a shingle
    // index growing 1x→4x. Only replica 0 shares shingles with the
    // batch (the other replicas are alphabet-permuted), so the pruned
    // index and the pair count must stay ~flat while the index grows —
    // the same O(matching buckets) claim as incremental minhash.
    locally {
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("_w", split(col("text"), " "))
        .select((col("doc_id") + 90000000L).as("doc_id"),
          array_join(slice(col("_w"), lit(1),
            greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
            .as("text"))
      Seq(1, 4).foreach { mult =>
        val corpus = docCopies(docs, mult)
        val index = graft.llm.Dedup.shingleIndex(corpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nIndex = index.count()
        val batchKeys = graft.llm.Dedup.shingleIndex(batch)
          .select("sh").distinct()
        val nPruned = index.join(broadcast(batchKeys), Seq("sh"),
          "left_semi").count()
        val (nPairs, t) = time(graft.llm.Dedup
          .incrementalContainmentPairs(index, batch).count())
        index.unpersist(blocking = false)
        graft.llm.PipelineCaches.clear()
        println(f"[containment_inc ${mult}x] index=$nIndex%d rows, " +
          f"pruned-to=$nPruned%d, pairs=$nPairs%d in $t%.1fs")
      }
    }

    // Paragraph dedup: corpus + per-replica planted paragraph copies
    // grow 1x→4x. The CONSTANT filler paragraph forms a cross-replica
    // exact clique that the exact-first factorization collapses to one
    // representative, so dropped-paragraph counts and wall time must
    // grow ~linearly — the raw-chunk plan measured 92x candidate
    // growth at 10x on exactly this shape.
    locally {
      Seq(1, 4).foreach { mult =>
        val base = docCopies(docs, mult)
        val planted = base.filter(col("doc_id") % 10 === 0)
          .withColumn("_w", split(col("text"), " "))
          .select((col("doc_id") + 500000000L).as("doc_id"),
            concat(array_join(slice(col("_w"), lit(1), lit(8)), " "),
              lit(" zq zr qx qy qz qw qv qu")).as("text"))
        val (nDropped, t) = time(graft.llm.Curation
          .paragraphDedup(base.unionAll(planted), chunkSize = 8)
          .agg(sum("n_dropped")).collect()(0).getLong(0))
        graft.llm.PipelineCaches.clear()
        println(f"[paragraph ${mult}x] dropped=$nDropped%d in $t%.1fs")
      }
    }

    // the O(log n) claim, measured: a path graph is the adversarial case
    // (min-label propagation needs `len` rounds); alternating stars must
    // grow round count logarithmically while labeling everything 0
    locally {
      import spark.implicits._
      Seq(64, 256, 1024, 4096).foreach { len =>
        val nodes = (0L to len.toLong).toDF("doc_id")
        val chain = (0L until len.toLong).map(i => (i, i + 1))
          .toDF("doc_a", "doc_b")
        val ((labels, rounds), t) = time {
          val r = graft.llm.Curation.dupGroupsCounted(nodes, chain)
          (r._1.filter(col("dup_group") === 0L).count(), r._2)
        }
        println(f"[cc chain len=$len%4d] rounds=$rounds%2d " +
          f"(log2=${(math.log(len) / math.log(2)).round}%2d) " +
          f"labeled=$labels%d/${len + 1}%d in $t%.1fs")
      }
    }
    spark.stop()
  }
}
