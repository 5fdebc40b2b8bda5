package graft.pipeline

import graft.corpus.Synth
import graft.kernel.Extract
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The distributed extraction job: `Dataset[Doc]` → `Dataset[DocResult]`.
  *
  * Scale design (north rule: partitioning/shuffle/skew explicit, 10^12 docs):
  *  - **Salted repartition** by the full-range `hash(doc_id) + salt` ahead
  *    of the kernel so hot key ranges cannot pile into one task (the reference's
  *    single-container 1000-image batch is exactly this failure mode,
  *    tests/test_batch_limits.py:195-201).
  *  - **Packed spans across the exchange**: each doc's span array is
  *    shipped as one [[SpanCodec]] blob and unpacked right before the
  *    kernel, so the salting exchange is the job's only shuffle.
  *  - **Executor-warm kernel**: the kernel is a JVM object (lazy-initialized
  *    per executor, like the reference's @modal.enter one-time model load,
  *    modal_gpu.py:92-179); `mapPartitions` amortizes any setup across the
  *    whole partition = the reference's "true batching" (modal_gpu.py:235-240).
  *  - Failures are rows, never exceptions: a bad document can't kill the job
  *    (client.py:217-222 semantics).
  */
object ExtractionPipeline {

  final case class Config(
      numPartitions: Int = 32,
      salt: Int = 0,
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

    // salted repartition: explicit skew defusal for hot doc_id ranges.
    // The partition expression is the FULL-RANGE salted hash, not
    // pmod(hash+salt, P): repartition's HashPartitioning re-hashes the
    // expression value to pick the partition, so a pre-bucketed [0,P)
    // expression collapses into ~(1-1/e)·P occupied partitions with up to
    // 4x-loaded hot bins (measured at P=64: 37 occupied, max load 4 —
    // idle executors + stragglers at every scale). Hashing first and
    // letting the partitioner mod the re-hashed full-range int keeps all
    // P partitions uniformly loaded; the salt still rotates the layout
    // for skew defusal.
    val opts = Extract.Options(mode = cfg.mode)

    // single scan, single shuffle: whole doc through the kernel. The
    // span array crosses the exchange PACKED into one binary blob
    // (SpanCodec): UnsafeRow's ~48 fixed bytes per span struct are a
    // large share of this string-heavy shuffle, and shuffle bytes ride
    // the one shared DRAM bus while pack/unpack CPU scales with cores —
    // measured shuffle-stage wall -26% at 16 cores, -3% at 4
    // (BASELINE.md). Exact round-trip is property-tested; equality with
    // the direct kernel is pinned in PipelineSpec.
    docs.map(d => (d.doc_id, SpanCodec.pack(d.spans)))
      .repartition(cfg.numPartitions, hash($"_1") + lit(cfg.salt))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map { case (id, blob) =>
          Extract.extractDoc(graft.model.Doc(id, SpanCodec.unpack(blob)), opts)
            .copy(partition_id = pid)
        }
      }
  }

  /** Production span dump: results exploded to one row per span with
    * PER-PARTITION ordering only (`sortWithinPartitions`) — no global
    * range-exchange + total sort. The x1 verify query's global
    * `orderBy(doc_id, offset)` exists solely so the DuckDB-compared parquet
    * dump is deterministic; at 100 TB a total sort of every span would be a
    * cluster-wide shuffle with no consumer. All downstream operators key on
    * doc_id, so doc-local ordering is all the pipeline ever needs.
    * PlanSpec asserts this path has exactly one exchange (the salting one)
    * and no range partitioning. */
  def extractSpans(docs: Dataset[Doc], cfg: Config = Config()): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    extract(docs, cfg)
      .select($"doc_id", explode($"spans").as("span"))
      .select($"doc_id", $"span.offset".as("offset"), $"span.kind".as("kind"),
        $"span.media_ref".as("media_ref"), $"span.text".as("text"))
      .sortWithinPartitions("doc_id", "offset")
  }

  /** Per-partition lineage/metrics rollup (north rule; FIXTURES.md §5).
    * wall_ms is the summed kernel time per partition — in local mode task
    * wall clock ≈ kernel time; at cluster scale attach a SparkListener for
    * stage-level wall times. */
  def partitionMetrics(results: Dataset[DocResult], snapshotId: Long): Dataset[PartitionMetric] = {
    val spark = results.sparkSession
    import spark.implicits._
    results
      .groupByKey(_.partition_id)
      .mapGroups { (pid, it) =>
        var nDocs = 0L; var nPages = 0L; var nSpans = 0L; var nFail = 0L
        var nanos = 0L
        var idMin: String = null; var idMax: String = null
        val codes = scala.collection.mutable.Map.empty[String, Long]
        it.foreach { r =>
          nDocs += 1; nPages += r.n_pages; nSpans += r.n_spans
          nanos += r.kernel_nanos
          if (!r.success) nFail += 1
          if (r.failure_code.nonEmpty)
            codes(r.failure_code) = codes.getOrElse(r.failure_code, 0L) + 1
          if (idMin == null || r.doc_id < idMin) idMin = r.doc_id
          if (idMax == null || r.doc_id > idMax) idMax = r.doc_id
        }
        PartitionMetric(snapshotId, pid, idMin, idMax, nDocs, nPages, nSpans,
          nFail, codes.toMap, nanos / 1000000L)
      }
  }
}
