package graft.dml.runtime

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.json4s.JsonAST.JObject
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.{DmlParser, TrainSpec}

/** A stage `PipelineModel.write` cannot save: not `MLWritable`. */
private final class UnwritableStage(override val uid: String) extends Transformer {
  def this() = this(Identifiable.randomUID("unwritable"))
  override def transform(ds: Dataset[_]): DataFrame = ds.toDF()
  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): UnwritableStage = defaultCopy(extra)
}

/** The registry's in-memory slot: the latest version per name is handed
  * to `load` without re-reading it, while disk stays the source of truth
  * for versions named explicitly or registered by another instance. The
  * registry saves a model's stages concurrently into exactly the layout
  * of `PipelineModel.write`. */
class ModelRegistrySpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    DmlFixture.table(s, 23, 600, 0L).createOrReplaceTempView("registry_train")
    DmlFixture.table(s, 23, 300, 700000L).createOrReplaceTempView("registry_score")
    s
  }

  private def fit(name: String, depth: Int): Trainer.TrainReport =
    Trainer.train(spark, DmlParser.parse(
      s"TRAIN MODEL $name USING decision_tree(max_depth=$depth) FROM registry_train " +
        "PREDICT outcome WITH FEATURES(x1, x2, cat)").asInstanceOf[TrainSpec])

  private def scores(m: PipelineModel): Seq[Row] =
    m.transform(spark.table("registry_score"))
      .select(col("id"), col("prediction"), vector_to_array(col("probability")))
      .orderBy("id").collect().toSeq

  private def freshPath() = Files.createTempDirectory("graft-registry-slot").toString

  /** Every file under `root`, by relative path with the unique part of
    * part-file names (`part-00000-<uuid>-c000`) dropped, so two saves of
    * one model name the same files. */
  private def files(root: String): Map[String, Path] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      base.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]{36}(-c\\d+)?", "part-$1") -> p
    }.toMap
    finally walk.close()
  }

  /** A metadata file's JSON without its save timestamp. */
  private def metadata(p: Path): JObject =
    JObject(parse(Files.readString(p)).asInstanceOf[JObject].obj.filterNot(_._1 == "timestamp"))

  test("a registered model is loaded from memory; a second registry on the " +
    "same path loads it from disk and scores identically") {
    val base = freshPath()
    val registry = new ModelRegistry(spark, base)
    val report = fit("slot_handoff", 4)
    assert(registry.register(report) == 1)
    val inMemory = registry.load("slot_handoff")
    assert(inMemory eq report.model)
    val fromDisk = new ModelRegistry(spark, base).load("slot_handoff")
    assert(fromDisk ne report.model)
    assert(fromDisk.uid == report.model.uid)
    assert(scores(fromDisk) == scores(inMemory))
    // PREDICT goes through the same slot
    val predicted = registry.predict("slot_handoff", "registry_score", "slot_handoff_preds")
      .select(col("id"), col("prediction"), vector_to_array(col("probability")))
      .orderBy("id").collect().toSeq
    assert(predicted == scores(inMemory))
  }

  test("load(name, Some(older)) reads the older version from disk") {
    val registry = new ModelRegistry(spark, freshPath())
    val v1 = fit("slot_versions", 2)
    val v2 = fit("slot_versions", 5)
    assert(registry.register(v1) == 1 && registry.register(v2) == 2)
    val older = registry.load("slot_versions", Some(1))
    assert(older ne v1.model)
    assert(older.uid == v1.model.uid)
    assert(scores(older) == scores(v1.model))
    // reading the older version leaves the latest in the slot
    assert(registry.load("slot_versions") eq v2.model)
    assert(registry.load("slot_versions", Some(2)) eq v2.model)
    intercept[IllegalArgumentException](registry.load("slot_missing"))
  }

  test("a version registered by another instance is not shadowed by the slot") {
    val base = freshPath()
    val mine = new ModelRegistry(spark, base)
    val theirs = new ModelRegistry(spark, base)
    val v1 = fit("slot_shared", 2)
    val v2 = fit("slot_shared", 5)
    assert(mine.register(v1) == 1)
    assert(theirs.register(v2) == 2)
    val latest = mine.load("slot_shared")
    assert(latest ne v1.model)
    assert(latest.uid == v2.model.uid)
    assert(scores(latest) == scores(v2.model))
    // the loaded latest version now fills this instance's slot
    assert(mine.load("slot_shared") eq latest)
    assert(mine.nextVersion("slot_shared") == 3)
  }

  test("the registry writes PipelineModel.write's layout: the same files, the " +
    "same metadata but for its timestamp, and the model loads and scores alike") {
    val base = freshPath()
    val registry = new ModelRegistry(spark, base)
    val report = fit("format_pin", 4)
    assert(registry.register(report) == 1)
    val saved = s"$base/models/format_pin/v1"
    val reference = freshPath() + "/model"
    report.model.write.save(reference)

    val (ours, theirs) = (files(saved), files(reference))
    assert(ours.keySet == theirs.keySet)
    // the pipeline's metadata and one directory per stage (indexer,
    // assembler, tree), each with its metadata
    assert(ours.keySet.count(_.endsWith("metadata/part-00000.txt")) == 4)
    ours.keys.filter(_.endsWith("metadata/part-00000.txt")).foreach { k =>
      assert(metadata(ours(k)) == metadata(theirs(k)), k)
    }
    val loaded = PipelineModel.load(saved)
    assert(scores(loaded) == scores(PipelineModel.load(reference)))
    assert(scores(loaded) == scores(report.model))
  }

  test("a model with a stage that cannot be saved throws and appends no " +
    "registry row") {
    val registry = new ModelRegistry(spark, freshPath())
    val report = fit("unwritable", 2)
    val model = new Pipeline().setStages(
      report.model.stages.map(_.asInstanceOf[PipelineStage]) :+ new UnwritableStage)
      .fit(spark.table("registry_train"))
    intercept[UnsupportedOperationException](registry.register(report.copy(model = model)))
    assert(registry.list().count() == 0)
    intercept[IllegalArgumentException](registry.load("unwritable"))
    // a writable model still registers as version 1
    assert(registry.register(report) == 1)
  }
}
