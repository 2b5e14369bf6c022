package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-skew diagnostic card — the planning read a 100 TB engineer wants
  * BEFORE running a many-to-many join: per hot key, how many rows each
  * side carries and how many output rows that key alone will generate
  * (`n_left × n_right` — the quantity that decides between a plain
  * shuffle join, AQE skew splitting, and salting), plus a NULL-key total
  * row with the exact total output size and the top-N keys' share of it.
  * A join whose top-20 keys own 80% of the output is a salting
  * candidate; one whose total dwarfs both inputs is a blowup about to
  * happen.
  *
  * Exact, not sampled: both sides reduce to key-count tables first
  * (map-side combined), so the whole card costs two partial aggs + a
  * key-keyed join of two count relations — never the data join itself.
  * All arithmetic is integer; the only ratio is the final share.
  */
object JoinSkew {

  /** The actionable half of [[joinSkewCard]]: per hot key, the SALT
    * factor that caps its join output at `targetRows` per task —
    * salt = ceil(out_rows / targetRows), integer arithmetic
    * ((out + target − 1) div target), CAPPED AT n_left (r17 diagnosis
    * fix): the treatment splits the LEFT side's rows across salt
    * buckets, so a factor beyond n_left buys no further split — a key
    * with 1 left row and a huge right side would otherwise price a
    * six-digit salt whose only effect is replicating the right side
    * that many times (measured: a 1×333k key at targetRows 200 priced
    * salt 1667 and exploded the replicated side to 555M rows). Keys
    * with salt 1 need nothing; the ones above are the piles AQE's skew
    * split (whose thresholds this card lets you SET) or a hand-salted
    * join must break up. Same count-table-only cost envelope as the
    * skew card.
    */
  def saltingPlan(left: DataFrame, right: DataFrame, keyCol: String,
      targetRows: Long, topN: Int = 20): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    joinSkewCard(left, right, keyCol, topN)
      .filter(!col("is_total"))
      .select(col("key"), col("n_left"), col("n_right"), col("out_rows"),
        least(expr(s"(out_rows + ${targetRows}L - 1) div ${targetRows}L"),
          col("n_left")).cast("bigint").as("salt"))
  }

  /** Join two per-side count tables into the shared per-key relation
    * (keyCols…, n_left, n_right, out_rows) with one full NULL-SAFE
    * count-table join — keys living on one side only still belong in
    * the totals (they cost scan+shuffle even though they emit
    * nothing), and the NULL key groups of the two sides must meet in
    * ONE row, not two. `cl` carries (keyCols…, _cl); `cr` carries the
    * `_kr_`-renamed keys plus `_cr`. */
  private def joinCounts(cl: DataFrame, cr: DataFrame,
      keyCols: Seq[String]): DataFrame =
    cl.join(cr,
        keyCols.map(c => col(c) <=> col(s"_kr_$c")).reduce(_ && _), "full")
      .select(keyCols.map(c => coalesce(col(c), col(s"_kr_$c")).as(c)) ++
        Seq(coalesce(col("_cl"), lit(0L)).cast("bigint").as("n_left"),
          coalesce(col("_cr"), lit(0L)).cast("bigint").as("n_right")): _*)
      .withColumn("out_rows",
        (col("n_left") * col("n_right")).cast("bigint"))

  /** Shared single-key count relation (key, n_left, n_right, out_rows)
    * via two map-side-combined aggregations over [[joinCounts]] — the
    * committed shape every skew-card oracle replays. */
  private def keyCounts(left: DataFrame, right: DataFrame,
      keyCol: String): DataFrame =
    joinCounts(
      left.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("_cl")),
      right.groupBy(col(keyCol).as("_kr_key")).agg(count(lit(1)).as("_cr")),
      Seq("key"))

  /** [[keyCounts]] over a COMPOSITE key: one row per distinct key
    * TUPLE, keyed by the actual column names. NULL components group
    * null-safely exactly as the single-key form's NULL key does — an
    * AND-of-equalities join emits nothing for them, but their pile
    * still lands on one shuffle partition, which is the number this
    * relation exists to expose. */
  private def keyCountsMulti(left: DataFrame, right: DataFrame,
      keyCols: Seq[String]): DataFrame =
    joinCounts(
      left.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_cl")),
      right.groupBy(keyCols.map(c => col(c).as(s"_kr_$c")): _*)
        .agg(count(lit(1)).as("_cr")),
      keyCols)

  /** EXISTS-style pile probe for ROUTING decisions (the keyed range
    * lift): the key tuples whose exact price
    * `greatest(n_left·n_right, n_left)` reaches `targetRows`, as
    * (keyCols…, n_left, n_right, out_rows). Deliberately NO topN
    * ranking and NO salt cap — a ranking by one statistic with a
    * filter on another can evict the only qualifying key, and an
    * existence question needs no ranking at all. NULL key components
    * are the caller's business (prune them first if the consuming join
    * drops them). */
  def pilesAtOrAbove(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], targetRows: Long): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"keyCols must be non-empty and distinct, got $keyCols")
    keyCountsMulti(left.select(keyCols.map(col): _*),
        right.select(keyCols.map(col): _*), keyCols)
      .filter(greatest(col("out_rows"), col("n_left")) >= targetRows)
      .select(keyCols.map(col) ++ Seq(col("n_left"), col("n_right"),
        col("out_rows")): _*)
  }

  /** The skew card itself. NULL-key semantics (round-14 advice fix): a
    * genuine NULL join key is a first-class skew row — both sides' NULL
    * groups pair
    * null-safely (an equi-join would split them into two phantom rows
    * with out_rows 0, double-counting the totals). Its `out_rows` is
    * reported as n_left × n_right even though an EQUI-join emits zero
    * rows for NULLs, because the skew question this card answers — how
    * many rows land on one shuffle partition — is exactly that product
    * for a null-safe (`<=>`) join and still n_left + n_right of scan
    * skew for an equi-join. The summary row is marked by a dedicated
    * `is_total` column, never by `key IS NULL`. */
  def joinSkewCard(left: DataFrame, right: DataFrame, keyCol: String,
      topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val j = keyCounts(left, right, keyCol)
    val totals = j.agg(
      sum("n_left").cast("bigint").as("n_left"),
      sum("n_right").cast("bigint").as("n_right"),
      sum("out_rows").cast("bigint").as("out_rows"))
    // NULLS LAST so a NULL data key ranks deterministically in BOTH
    // engines (Spark asc defaults nulls-first, DuckDB nulls-last)
    val top = j.orderBy(col("out_rows").desc,
      col("key").asc_nulls_last).limit(topN)
    val topRows = top.crossJoin(broadcast(totals
        .select(col("out_rows").as("_tot"))))
      .select(col("key"), lit(false).as("is_total"),
        col("n_left"), col("n_right"), col("out_rows"),
        when(col("_tot") === 0, lit(null).cast("double"))
          .otherwise(round(col("out_rows").cast("double") /
            col("_tot").cast("double"), 6)).as("out_share"))
    // the summary row: exact totals, and out_share = the top-N keys'
    // cumulative share of the join output (the concentration number
    // that decides the salting question)
    val summary = totals.crossJoin(broadcast(top.agg(
        sum("out_rows").cast("bigint").as("_topsum"))))
      .select(lit(null).cast(topRows.schema("key").dataType).as("key"),
        lit(true).as("is_total"),
        col("n_left"), col("n_right"), col("out_rows"),
        when(col("out_rows") === 0, lit(null).cast("double"))
          .otherwise(round(col("_topsum").cast("double") /
            col("out_rows").cast("double"), 6)).as("out_share"))
    topRows.unionByName(summary)
  }
}
