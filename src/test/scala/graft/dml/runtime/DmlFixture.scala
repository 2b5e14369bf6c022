package graft.dml.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded tabular and event fixtures for the DSL runtime specs: rows with a
  * planted label signal (string label `outcome`, string features `cat` and
  * `tier`, numeric target `y`), optionally shifted in x1/x2, and a typed
  * events table in the `Events.schema` shape. */
object DmlFixture {
  final case class Row(id: Long, x1: Double, x2: Double, x3: Double,
      x4: Double, cat: String, tier: String, amount: Double, rate: Double,
      outcome: String, y: Double)

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  private val Cats = Array("a", "b", "c", "d", "e")
  private val Tiers = Array("gold", "silver", "bronze")
  val EventTypes: Array[String] = Array("order.created", "order.paid",
    "user.login", "order.refund", "user.logout", "deploy.done")
  private val Regions = Array("eu", "us", "ap")

  def rows(seed: Long, n: Int, idBase: Long, shift: Double = 0.0): Seq[Row] = {
    val r = new java.util.Random(seed * 31L + idBase + 7L)
    Seq.tabulate(n) { i =>
      val x1 = r.nextGaussian() + shift
      val x2 = r.nextGaussian() * (1.0 + shift)
      val x3 = r.nextGaussian()
      val x4 = r.nextDouble()
      val cat = Cats(r.nextInt(Cats.length))
      val tier = Tiers(r.nextInt(Tiers.length))
      val amount = math.exp(r.nextGaussian() * 0.5 + 3.0)
      val rate = 0.5 + r.nextDouble()
      val z = 1.5 * x1 - x2 + (if (cat == "a" || cat == "b") 0.8 else -0.4) +
        (if (tier == "gold") 0.3 else 0.0) + 0.5 * r.nextGaussian()
      val outcome = if (z > 0) "yes" else "no"
      val y = 3.0 * x1 + 2.0 * x2 - 0.05 * amount * rate + r.nextGaussian()
      Row(idBase + i, x1, x2, x3, x4, cat, tier, amount, rate, outcome, y)
    }
  }

  def table(spark: SparkSession, seed: Long, n: Int, idBase: Long,
      shift: Double = 0.0): DataFrame = {
    import spark.implicits._
    rows(seed, n, idBase, shift).toDF()
  }

  /** Zipf-free but skewed event types (low indices more frequent); the
    * `props` JSON carries a `region`, absent on every seventh event. */
  def events(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val r = new java.util.Random(seed * 131L + 3L)
    val t0 = 1700000000000L
    Seq.tabulate(n) { i =>
      val t = math.min(EventTypes.length - 1, (r.nextDouble() * r.nextDouble() * 7).toInt)
      val props =
        if (i % 7 == 0) "{}"
        else s"""{"region": "${Regions(r.nextInt(Regions.length))}"}"""
      Ev(i.toLong, new java.sql.Timestamp(t0 + i * 1000L), r.nextInt(500).toLong,
        EventTypes(t), math.exp(r.nextGaussian() + 4.0), props)
    }.toDF()
  }
}
