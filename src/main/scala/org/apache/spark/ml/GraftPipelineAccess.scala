package org.apache.spark.ml

import org.apache.hadoop.fs.Path
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import org.apache.spark.ml.util.{DefaultParamsWriter, FileSystemOverwrite, MLWritable}
import org.apache.spark.sql.SparkSession

/** Compile-time access shim: `PipelineModel.write` saves the pipeline's
  * metadata and then each stage, one after another, through helpers that
  * are `private[ml]`. The saves are independent (each stage writes under
  * its own directory), so a caller may run them concurrently. This shim
  * splits the writer into those saves and changes nothing they write:
  * the same metadata (stage uids in order), the same stage paths, the
  * same per-stage writers, so `PipelineModel.load` reads the result as
  * it reads the writer's. */
object GraftPipelineAccess {

  /** The saves of `model.write.overwrite().save(path)`: the pipeline's
    * metadata first, then one per stage in stage order. Before returning
    * it checks every stage is `MLWritable` (throwing as the writer does)
    * and removes anything already at `path`, so the saves may run in any
    * order. */
  def overwriteSaves(model: PipelineModel, path: String, spark: SparkSession)
      : Seq[() => Unit] = {
    val stages = model.stages.asInstanceOf[Array[PipelineStage]]
    Pipeline.SharedReadWrite.validateStages(stages)
    new FileSystemOverwrite().handleOverwrite(path, true, spark)
    val uids = List("stageUids" -> parse(compact(render(stages.map(_.uid).toSeq))))
    val stagesDir = new Path(path, "stages").toString
    val metadata = () =>
      DefaultParamsWriter.saveMetadata(model, path, spark, None, Some(render(uids)))
    metadata +: stages.toSeq.zipWithIndex.map { case (stage, i) => () =>
      stage.asInstanceOf[MLWritable].write.session(spark).save(
        Pipeline.SharedReadWrite.getStagePath(stage.uid, i, stages.length, stagesDir))
    }
  }
}
