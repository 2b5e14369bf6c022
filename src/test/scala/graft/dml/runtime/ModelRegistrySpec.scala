package graft.dml.runtime

import java.nio.file.Files

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.{DmlParser, TrainSpec}

/** The registry's in-memory slot: the latest version per name is handed
  * to `load` without re-reading it, while disk stays the source of truth
  * for versions named explicitly or registered by another instance. */
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
}
