package graft

import graft.lineage.{CellStore, Lineage}
import graft.model.{Synth, Tables}
import graft.ops.{Containment, Tiling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship ingest+query pipeline as a lineage-committed, resumable job
  * (north rule: "resumable from checkpoint with per-partition lineage +
  * metrics"):
  *
  *   stage "index":    derive geotagged images, assign S2 level-16 + H3
  *                     res-9, write cell-clustered (CellStore layout) under
  *                     Lineage bucket commits
  *   stage "spatial":  containment probe + tile manifest over the indexed
  *                     table, again bucket-committed
  *
  * Killing the job between bucket commits and re-running resumes from the
  * last committed bucket (PipelineSpec). Each bucket is one distributed job.
  * Both stages use `runStage`'s default hash units (`rangeBuckets =
  * false`): a unit is a hash bucket of the key, so every unit rescans its
  * whole stage input, and a resume skips the committed units' writes, not
  * the reads of the units it runs. (`rangeBuckets = true`, contiguous cell
  * ranges that prune at the parquet scan, is not used here.) */
object Pipeline {

  def run(spark: SparkSession, sfDir: String, outDir: String,
          runId: String, buckets: Int = 8): Lineage.StageResult = {
    // stage 1: indexed image table (dual cells), cell-clustered
    val images = Tables.images(spark, sfDir)
      .withColumn("hex7_9", graft.functions.S2Expressions.hex7Cell(col("lat"), col("lng"), 9))
      .select("image_id", "lat", "lng", "cell16", "hex7_9")
    val r1 = Lineage.runStage(spark, images, identity,
      runId, "index", s"$outDir/index", "image_id", "cell16", buckets)

    // stage 2: containment + tiling over the committed stage-1 output
    val indexed = Lineage.output(spark, s"$outDir/index")
    val r2 = Lineage.runStage(spark, indexed,
      df => Tiling.pointManifest(
        Containment.containmentProbe(df, Synth.regions), 10, 14),
      runId, "spatial", s"$outDir/spatial", "image_id", "z", buckets)

    Lineage.StageResult(r1.bucketsRun ++ r2.bucketsRun,
      r1.bucketsSkipped ++ r2.bucketsSkipped)
  }

  def manifest(spark: SparkSession, outDir: String): DataFrame =
    Lineage.output(spark, s"$outDir/spatial")

  def metrics(spark: SparkSession, outDir: String): DataFrame =
    Lineage.metrics(spark, s"$outDir/index")
      .unionByName(Lineage.metrics(spark, s"$outDir/spatial"))
}
