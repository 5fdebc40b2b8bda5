package graft.pipeline

import graft.corpus.Synth
import graft.kernel.Extract
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, PartitionedFileUtil,
  RangeExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** The distributed extraction job: `Dataset[Doc]` → `Dataset[DocResult]`.
  *
  * Scale design (north rule: partitioning/shuffle/skew explicit, 10^12 docs):
  *  - **Shuffle only when the scan cannot spread the work.** `extract`
  *    reads the input's physical plan at plan time (no job, no option):
  *    a batch input with no exchange whose scan partitions fill the core
  *    slots runs the kernel in its scan tasks, one stage with no exchange.
  *    Spark sizes file splits by bytes and a doc's pages scale with its
  *    bytes, so byte-balanced splits balance kernel cost. Any other input
  *    (under-split, streaming, already exchanged) takes the hash exchange.
  *  - **Hash repartition** into `numPartitions` (P) exchange partitions
  *    by the full-range `hash(doc_id)` ahead of the kernel, so hot
  *    key ranges cannot pile into one partition (the reference's
  *    single-container 1000-image batch is exactly this failure mode,
  *    tests/test_batch_limits.py:195-201). On both paths `partition_id` is
  *    pmod(hash(hash(doc_id)), P), which on this one is the row's exchange
  *    partition.
  *  - **One task per core slot after the exchange**: a narrow coalesce runs
  *    the kernel and its sink in min(P, slots) tasks, each reading
  *    P/slots exchange partitions, so per-task fixed costs (a parquet
  *    sink's per-file setup above all) are paid once per slot, not once
  *    per exchange partition; a sink writes min(P, slots) files per pass.
  *  - **Packed spans across the exchange**: each doc's span array is
  *    shipped as one [[SpanCodec]] blob and unpacked right before the
  *    kernel, so the hash exchange is the job's only shuffle.
  *  - **Executor-warm kernel**: the kernel is a JVM object (lazy-initialized
  *    per executor, like the reference's @modal.enter one-time model load,
  *    modal_gpu.py:92-179); `mapPartitions` amortizes any setup across the
  *    whole partition = the reference's "true batching" (modal_gpu.py:235-240).
  *  - Failures are rows, never exceptions: a bad document can't kill the job
  *    (client.py:217-222 semantics).
  */
object ExtractionPipeline {

  /** @param numPartitions P, the range of `partition_id`; on the exchange
    *                      path also the exchange partitions (the skew
    *                      unit), and the kernel+sink stage runs
    *                      min(P, slots) tasks
    * @param mode          kernel routing mode */
  final case class Config(
      numPartitions: Int = 32,
      mode: String = graft.kernel.Router.LayoutAll)

  /** Deterministic synthetic corpus as a Dataset — embarrassingly parallel,
    * zero shuffle, no stored input (scales to any nDocs). */
  def synthDocs(spark: SparkSession, nDocs: Long,
                seed: Long = Synth.DefaultSeed,
                parallelism: Int = 32): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0L, nDocs, 1L, parallelism).map(id => Synth.docFor(seed, id))
  }

  def extract(docs: Dataset[Doc], cfg: Config = Config()): Dataset[DocResult] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = spark.sparkContext.defaultParallelism
    val opts = Extract.Options(mode = cfg.mode)
    // kernel in place: the scan's own byte-balanced splits already occupy
    // every core slot, so the kernel runs in the scan tasks, with no
    // exchange, no span packing and no second stage. `partition_id` is the
    // same column the exchange path computes.
    if (plannedSplits(docs).exists(_ >= slots))
      return docs.select($"doc_id", $"spans",
          pmod(hash(hash($"doc_id")), lit(cfg.numPartitions)))
        .as[(String, Seq[Span], Int)]
        .mapPartitions(_.map { case (id, spans, pid) =>
          Extract.extractDoc(Doc(id, spans), opts).copy(partition_id = pid)
        })

    // hash repartition: explicit skew defusal for hot doc_id ranges.
    // The partition expression is the FULL-RANGE hash, not
    // pmod(hash, P): repartition's HashPartitioning re-hashes the
    // expression value to pick the partition, so a pre-bucketed [0,P)
    // expression collapses into ~(1-1/e)·P occupied partitions with up to
    // 4x-loaded hot bins (measured at P=64: 37 occupied, max load 4 —
    // idle executors + stragglers at every scale). Hashing first and
    // letting the partitioner mod the re-hashed full-range int keeps all
    // P partitions uniformly loaded.
    val key = hash($"_1")

    // single scan, single shuffle: whole doc through the kernel. The
    // span array crosses the exchange PACKED into one binary blob
    // (SpanCodec): UnsafeRow's ~48 fixed bytes per span struct are a
    // large share of this string-heavy shuffle, and shuffle bytes ride
    // the one shared DRAM bus while pack/unpack CPU scales with cores —
    // measured shuffle-stage wall -26% at 16 cores, -3% at 4
    // (BASELINE.md). Exact round-trip is property-tested; equality with
    // the direct kernel is pinned in PipelineSpec.
    //
    // The coalesce (one task per core slot, see the object doc) makes the
    // task index no partition id: `partition_id` is HashPartitioning's own
    // pmod(murmur3(key), P), the row's exchange partition.
    docs.map(d => (d.doc_id, SpanCodec.pack(d.spans)))
      .repartition(cfg.numPartitions, key)
      .select($"_1", $"_2", pmod(hash(key), lit(cfg.numPartitions)).as("_3"))
      .as[(String, Array[Byte], Int)]
      .coalesce(math.min(cfg.numPartitions, slots))
      .mapPartitions(_.map { case (id, blob, pid) =>
        Extract.extractDoc(Doc(id, SpanCodec.unpack(blob)), opts)
          .copy(partition_id = pid)
      })
  }

  /** The number of tasks `docs`' own plan runs in, read off its physical
    * plan: no RDD is built and no job runs. None for a streaming input, a
    * plan with an exchange, and a leaf other than a file scan or a range.
    * A wrong count costs speed, never rows: both paths of [[extract]] give
    * the same results. */
  private def plannedSplits(docs: Dataset[_]): Option[Int] = {
    def splits(plan: SparkPlan): Option[Int] = plan match {
      case s: FileSourceScanExec if !s.bucketedScan => Some(fileSplits(s))
      case r: RangeExec => Some(r.numSlices)
      case _: Exchange => None
      case c: CoalesceExec => splits(c.child).map(math.min(_, c.numPartitions))
      case u: UnaryExecNode => splits(u.child)
      case _ => None
    }
    if (docs.isStreaming) None else splits(docs.queryExecution.executedPlan)
  }

  /** The scan's task count as `FileSourceScanExec` sizes it: its listed
    * files, split at Spark's max split size and packed into
    * `FilePartition`s. */
  private def fileSplits(scan: FileSourceScanExec): Int = {
    val relation = scan.relation
    val session = relation.sparkSession
    val listing = scan.selectedPartitions
    val maxSplit = FilePartition.maxSplitBytes(session, listing)
    val files = listing.filePartitionIterator.flatMap { p =>
      p.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          relation.fileFormat.isSplitable(session, relation.options, f.getPath),
          maxSplit, p.values)
      }
    }.toSeq.sortBy(-_.length)
    FilePartition.getFilePartitions(session, files, maxSplit).size
  }

  /** Production span dump: results exploded to one row per span with
    * PER-PARTITION ordering only (`sortWithinPartitions`) — no global
    * range-exchange + total sort. The x1 verify query's global
    * `orderBy(doc_id, offset)` exists solely so the DuckDB-compared parquet
    * dump is deterministic; at 100 TB a total sort of every span would be a
    * cluster-wide shuffle with no consumer. All downstream operators key on
    * doc_id, so doc-local ordering is all the pipeline ever needs.
    * PlanSpec asserts this path has no range partitioning and at most the
    * one hash exchange of [[extract]]. */
  def extractSpans(docs: Dataset[Doc], cfg: Config = Config()): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    extract(docs, cfg)
      .select($"doc_id", explode($"spans").as("span"))
      .select($"doc_id", $"span.offset".as("offset"), $"span.kind".as("kind"),
        $"span.media_ref".as("media_ref"), $"span.text".as("text"))
      .sortWithinPartitions("doc_id", "offset")
  }

  /** The one extraction rollup (north rule: per-partition lineage +
    * metrics; FIXTURES.md §5): docs, pages, spans, failures, kernel wall
    * and the doc_id range and failure-code histogram per `key` value
    * (`partition_id` for [[partitionMetrics]], `bucket` for the snapshot
    * lineage). Column aggregates only, so neither the scan nor an exchange
    * carries `spans`: a `(key, failure_code)` partial aggregate, folded per
    * key with the non-empty codes as `map_from_entries`. The partials (at
    * most keys × codes rows) are coalesced into one partition, which the
    * fold's distribution accepts as is: one exchange in all, and its reduce
    * is a single task, not `spark.sql.shuffle.partitions` of them.
    * wall_ms is the summed kernel time — in local mode task wall clock ≈
    * kernel time; at cluster scale attach a SparkListener for stage-level
    * wall times. */
  private[pipeline] def rollup(results: Dataset[_], key: String): DataFrame =
    results.groupBy(col(key), col("failure_code"))
      .agg(count(lit(1)).as("n"), sum("n_pages").as("pages"), sum("n_spans").as("spans"),
        count_if(not(col("success"))).as("failures"),
        sum("kernel_nanos").as("nanos"), min("doc_id").as("id_min"), max("doc_id").as("id_max"))
      .coalesce(1)
      .groupBy(col(key))
      .agg(min("id_min").as("doc_id_min"), max("id_max").as("doc_id_max"),
        sum("n").as("n_docs"), sum("pages").as("n_pages"), sum("spans").as("n_spans"),
        sum("failures").as("n_failures"),
        map_from_entries(collect_list(when(col("failure_code") =!= "",
          struct(col("failure_code"), col("n"))))).as("failure_codes"),
        expr("sum(nanos) div 1000000").as("wall_ms"))

  /** Per-partition metrics of an extraction: [[rollup]] by `partition_id`. */
  def partitionMetrics(results: Dataset[_], snapshotId: Long): Dataset[PartitionMetric] = {
    val spark = results.sparkSession
    import spark.implicits._
    rollup(results, "partition_id").select(lit(snapshotId).as("snapshot_id"), col("*"))
      .as[PartitionMetric]
  }
}
