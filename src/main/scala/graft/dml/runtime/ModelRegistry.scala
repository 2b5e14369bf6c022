package graft.dml.runtime

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.ml.{GraftPipelineAccess, PipelineModel}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dml.{PyJson, Value}

/** Model registry — the `ml_model` composite of the reference
  * (reference/DSL.md:179-188: name, algorithm, version, features, target,
  * performance_metrics JSONB, training_config JSONB, created_at), persisted
  * as a parquet table beside the saved PipelineModels.
  *
  * Layout: `basePath/registry` (parquet, append-only) and
  * `basePath/models/<name>/v<version>`, in exactly the layout of
  * `PipelineModel.write.save`. [[register]] runs the writer's saves (the
  * pipeline metadata and one per stage, each under its own directory)
  * concurrently rather than one after another, through
  * `GraftPipelineAccess`; a model with a stage that cannot be written
  * throws before anything is saved. Both tables are read with their
  * fixed schema, so no read infers one from the parquet footers (a
  * Spark job per read).
  *
  * In-memory slot: the registry keeps, per model name, the latest version
  * this instance registered or loaded, with its fitted `PipelineModel`.
  * Disk stays the source of truth: [[load]] always resolves the version
  * (the latest one, from the registry table, unless named) and uses the
  * slot only when its version is that one — so a TRAIN followed by
  * PREDICT hands the fitted model over without re-reading it, while a
  * version registered by another instance, or an older version asked
  * for by number, is read from disk. [[register]] still writes the model
  * and the registry row before it fills the slot. The slot holds the
  * caller's model object itself: mutating its params after `register`
  * changes what `load` returns.
  */
final class ModelRegistry(spark: SparkSession, basePath: String) {
  import spark.implicits._

  private val registryPath = s"$basePath/registry"
  private val deploymentsPath = s"$basePath/deployments"
  private def modelPath(name: String, version: Int) =
    s"$basePath/models/$name/v$version"

  /** name → (version, model): the latest version seen per name. */
  private val slots = TrieMap.empty[String, (Int, PipelineModel)]

  private def read(path: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(path))) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  def list(): DataFrame = read(registryPath, ModelRegistry.registrySchema)

  /** Latest registered version of `name`, if any. The name's versions
    * (one registry row each) are collected and maxed on the driver: a
    * scan without the exchange, and the extra job, of an aggregate. */
  private def latestVersion(name: String): Option[Int] =
    list().filter($"name" === name).select("version").collect()
      .map(_.getInt(0)).maxOption

  def nextVersion(name: String): Int = latestVersion(name).fold(1)(_ + 1)

  /** Persist the fitted model and append its registry row; returns the
    * assigned version. The row is appended only after every save of the
    * model has finished, and not at all if one failed. The model then
    * fills the name's in-memory slot. */
  def register(report: Trainer.TrainReport): Int = {
    val spec = report.spec
    val version = nextVersion(spec.name)
    graft.scale.Par.runAll(
      GraftPipelineAccess.overwriteSaves(report.model, modelPath(spec.name, version), spark): _*)
    val metricsJson = PyJson.dumps(
      report.metrics.toList.sortBy(_._1).map { case (k, v) => k -> Value.VFloat(v) })
    val configJson = PyJson.dumps(spec.params)
    val row = Seq((spec.name, spec.algorithm, version, spec.features,
      spec.target, metricsJson, configJson, System.currentTimeMillis()))
      .toDF("name", "algorithm", "version", "features", "target",
        "metrics_json", "config_json", "created_at_ms")
    row.write.mode("append").parquet(registryPath)
    slots(spec.name) = (version, report.model)
    version
  }

  /** The model at `version`, else at the latest registered version. The
    * version is always resolved on disk; the in-memory slot answers only
    * when it holds exactly that version. */
  def load(name: String, version: Option[Int] = None): PipelineModel = {
    val v = version.orElse(latestVersion(name)).getOrElse(
      throw new IllegalArgumentException(s"model not found: $name"))
    slots.get(name) match {
      case Some((`v`, model)) => model
      case slot =>
        val model = PipelineModel.load(modelPath(name, v))
        if (slot.forall(_._1 < v)) slots(name) = (v, model)
        model
    }
  }

  /** DEPLOY MODEL … (S3): mark a version as the serving endpoint — a
    * registry-status flip; serving itself is `model.transform` over a
    * stream (SURVEY §2.1 S3). */
  def deploy(name: String, endpoint: String, version: Option[Int] = None): Unit = {
    val v = version.getOrElse(nextVersion(name) - 1)
    if (v < 1) throw new IllegalArgumentException(s"model not found: $name")
    Seq((name, endpoint, v, System.currentTimeMillis()))
      .toDF("name", "endpoint", "version", "deployed_at_ms")
      .write.mode("append").parquet(deploymentsPath)
  }

  /** `WHEN MODEL … THEN rollback` (S6 reactive block, reference
    * DSL.md:136-142): re-deploy the most recent PREVIOUS distinct version
    * on the model's endpoint. Append-only like [[deploy]], so the full
    * deployment history — including the rollback itself — stays
    * auditable. Returns the version rolled back to. */
  def rollback(name: String, endpoint: Option[String] = None): Int = {
    import spark.implicits._
    val deps = deployments().filter($"name" === name)
    val scoped = endpoint.fold(deps)(e => deps.filter($"endpoint" === e))
    val latest = scoped.orderBy($"deployed_at_ms".desc, $"version".desc)
      .select("endpoint").limit(1).collect()
    if (latest.isEmpty)
      throw new IllegalArgumentException(s"no deployments for model: $name")
    val ep = latest.head.getString(0)
    // scope the history to the RESOLVED endpoint before picking the
    // previous version: with endpoint=None on a model serving several
    // endpoints, "previous distinct version" must come from the endpoint
    // being rolled back, not from an interleaved cross-endpoint history
    val hist = deps.filter($"endpoint" === ep)
      .orderBy($"deployed_at_ms".desc, $"version".desc)
      .select("version").collect().map(_.getInt(0))
    val cur = hist.head
    // previous distinct deployment on this endpoint if one exists
    // (kubectl-style toggle on repeated rollback); else the registry's
    // prior version — versions are assigned sequentially, so v(cur−1)
    // exists whenever cur > 1
    val prev = hist.iterator.drop(1).find(_ != cur)
      .orElse(if (cur > 1) Some(cur - 1) else None)
      .getOrElse(throw new IllegalArgumentException(
        s"no previous version to roll back to for: $name"))
    deploy(name, ep, Some(prev))
    prev
  }

  def deployments(): DataFrame = read(deploymentsPath, ModelRegistry.deploymentsSchema)

  /** PREDICT USING MODEL m FROM t STORE RESULTS IN r (S4). */
  def predict(name: String, fromTable: String, storeIn: String): DataFrame = {
    val out = load(name).transform(spark.table(fromTable))
    out.createOrReplaceTempView(storeIn)
    out
  }
}

object ModelRegistry {
  /** The registry table's columns, as [[ModelRegistry.register]] writes them. */
  private val registrySchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("algorithm", StringType),
    StructField("version", IntegerType),
    StructField("features", ArrayType(StringType)),
    StructField("target", StringType),
    StructField("metrics_json", StringType),
    StructField("config_json", StringType),
    StructField("created_at_ms", LongType)))

  /** The deployments table's columns, as [[ModelRegistry.deploy]] writes them. */
  private val deploymentsSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("endpoint", StringType),
    StructField("version", IntegerType),
    StructField("deployed_at_ms", LongType)))
}
