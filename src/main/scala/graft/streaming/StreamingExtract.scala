package graft.streaming

import graft.model.Doc
import graft.pipeline.ExtractionPipeline
import graft.sources.DocSources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Incremental extraction as a Structured Streaming job.
  *
  * The reference's closest analogue is Modal's warm autoscaling request loop
  * (modal_gpu.py:81-90) — new work arrives, warm containers process it,
  * nothing is reprocessed. The Spark-native equivalent is a file-source
  * stream with `Trigger.AvailableNow` + a checkpoint: each invocation
  * drains exactly the unprocessed input files and stops, so a cron-driven
  * rerun is a resumable incremental batch (exactly-once per input file).
  */
object StreamingExtract {

  /** Start (or resume) incremental extraction: new parquet files under
    * `inDir` → extracted results appended under `outDir`. Each micro-batch
    * runs the batch job, [[ExtractionPipeline.extract]], with `cfg`. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String,
          cfg: ExtractionPipeline.Config = ExtractionPipeline.Config()): StreamingQuery = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(DocSources.docSchema)
      .option("maxFilesPerTrigger", 64)
      .parquet(inDir)
      .as[Doc]
    ExtractionPipeline.extract(docs, cfg)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
  }
}
