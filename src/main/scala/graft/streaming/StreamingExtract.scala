package graft.streaming

import graft.model.Doc
import graft.pipeline.ExtractionPipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

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

  val docSchema = Encoders.product[Doc].schema

  /** Start (or resume) incremental extraction: new parquet files under
    * `inDir` → extracted results appended under `outDir`. Each micro-batch
    * runs the batch job, [[ExtractionPipeline.extract]], with `cfg`. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String,
          cfg: ExtractionPipeline.Config = ExtractionPipeline.Config()): StreamingQuery = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(docSchema)
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

  /** Windowed failure-rate monitoring with a watermark (the A8 analytics
    * shape, incremental): per 10-second event-time window, docs processed
    * and failure count. */
  def failureRates(results: DataFrame, tsCol: String = "ts"): DataFrame =
    results
      .withWatermark(tsCol, "30 seconds")
      .groupBy(window(col(tsCol), "10 seconds"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(not(col("success")), 1L).otherwise(0L)).as("n_failures"))
      .select(col("window.start").as("window_start"), col("n_docs"), col("n_failures"))

  final case class SourceState(n_docs: Long, n_spans: Long, n_failures: Long)
  final case class SourceUpdate(source: String, n_docs: Long, n_spans: Long,
                                n_failures: Long)

  /** Custom streaming state: running per-source extraction totals via
    * `mapGroupsWithState` — the KeyValueGroupedDataset stateful path for
    * semantics windows can't express (unbounded running counters). Key =
    * doc_id prefix (source system). */
  def runningSourceTotals(results: Dataset[(String, Int, Boolean)])
  : Dataset[SourceUpdate] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[(String, Int, Boolean)],
         state: GroupState[SourceState]) =>
          var s = state.getOption.getOrElse(SourceState(0, 0, 0))
          rows.foreach { case (_, nSpans, success) =>
            s = SourceState(s.n_docs + 1, s.n_spans + nSpans,
              s.n_failures + (if (success) 0 else 1))
          }
          state.update(s)
          SourceUpdate(source, s.n_docs, s.n_spans, s.n_failures)
      }
  }
}
