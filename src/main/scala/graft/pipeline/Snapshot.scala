package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.model.{Doc, DocResult}
import graft.sources.DocSources
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Snapshot-manifest checkpointing: resumable extraction runs with
  * per-bucket lineage (north rule: "resumable from checkpoint, snapshot
  * based, per-partition lineage + metrics").
  *
  * No Iceberg runtime ships in this sandbox, so snapshot semantics are
  * realized the way Iceberg realizes them internally: immutable data files
  * plus an atomically-committed JSON manifest listing completed work units.
  * The commit unit is a **doc_id hash bucket** (`pmod(hash(doc_id), B)`):
  *  - commit `k` writes its bucket group's results with
  *    `DocSources.writeResults`, one flat directory `data/snapshot=<k>/`;
  *  - after the group is written, `_snapshot/manifest-<k>.json` records the
  *    completed buckets with lineage (docs/pages/spans/failures/wall_ms);
  *  - manifests are written to a temp file and renamed (atomic on HDFS
  *    and local file systems) — a killed run leaves either a complete
  *    manifest or none. Like the data, they go through Hadoop's
  *    `FileSystem` for `outDir`, so a URI `outDir` (`file:`, `hdfs://`)
  *    keeps data and manifests in one store;
  *  - resume = read manifests, skip completed buckets; the retry reuses
  *    the first uncommitted id `k` and overwrites the whole `snapshot=<k>`
  *    directory a crash left behind (idempotent).
  * At warehouse scale the input table would itself be bucketed by
  * `bucket(doc_id)` so each group prunes at the storage layer; here the
  * filter is evaluated on the scan (documented tradeoff).
  *
  * The reference has no resumability (re-runs start over); this is the
  * Spark-native upgrade demanded by the north rule (SURVEY.md §2.9).
  */
object Snapshot {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class BucketLineage(
      bucket: Int, n_docs: Long, n_pages: Long, n_spans: Long,
      n_failures: Long, wall_ms: Long)

  /** One `manifest-<snapshot_id>.json`, written by `run` and read by
    * [[snapshots]] only. */
  private final case class Manifest(snapshot_id: Long, buckets: Seq[BucketLineage])

  /** The manifest log directory and its file system: the session's Hadoop
    * configuration resolves `outDir` exactly as the data writes do. */
  private def manifestDir(outDir: String): (FileSystem, Path) = {
    val dir = new Path(outDir, "_snapshot")
    (dir.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), dir)
  }

  private def commitManifest(outDir: String, manifest: Manifest): Unit = {
    val (fs, dir) = manifestDir(outDir)
    val tmp = new Path(dir, s".manifest-${manifest.snapshot_id}.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(manifest))
    finally out.close()
    // the rename is the commit point
    val committed = new Path(dir, s"manifest-${manifest.snapshot_id}.json")
    if (!fs.rename(tmp, committed))
      throw new java.io.IOException(s"could not commit manifest $committed")
  }

  final case class RunReport(bucketsRun: Seq[Int], bucketsSkipped: Seq[Int])

  /** Run (or resume) a snapshot-checkpointed extraction over `docs`.
    *
    * @param nBuckets         commit granularity (hash buckets of doc_id)
    * @param bucketsPerCommit buckets processed per snapshot commit
    * @param maxCommits       stop after this many commits (for testing
    *                         kill/resume; <0 = run to completion)
    */
  def run(docs: Dataset[Doc], outDir: String,
          cfg: ExtractionPipeline.Config = ExtractionPipeline.Config(),
          nBuckets: Int = 16, bucketsPerCommit: Int = 4,
          maxCommits: Int = -1): RunReport = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(bucketsPerCommit >= 1, s"bucketsPerCommit must be >= 1, got $bucketsPerCommit")
    val spark = docs.sparkSession
    import spark.implicits._
    val bucket = pmod(hash(col("doc_id")), lit(nBuckets))
    val log = snapshots(outDir)
    val done = log.flatMap(_._2.map(_.bucket)).toSet
    val groups = (0 until nBuckets).filterNot(done.contains).grouped(bucketsPerCommit).toSeq
    val limited = if (maxCommits >= 0) groups.take(maxCommits) else groups
    val firstId = log.lastOption.fold(0L)(_._1 + 1)
    limited.zipWithIndex.foreach { case (bs, i) =>
      val k = firstId + i
      val dir = s"$outDir/data/snapshot=$k"
      DocSources.writeResults(ExtractionPipeline.extract(docs.filter(bucket.isin(bs: _*)), cfg), dir)
      // lineage describes what is durable: the written directory's scalar
      // columns, re-read
      val lineage = ExtractionPipeline.rollup(
          spark.read.schema(DocSources.resultSchema).parquet(dir).withColumn("bucket", bucket),
          "bucket")
        .select("bucket", "n_docs", "n_pages", "n_spans", "n_failures", "wall_ms")
        .as[BucketLineage].collect().toSeq
      commitManifest(outDir, Manifest(k, lineage))
    }
    RunReport(limited.flatten, done.toSeq.sorted)
  }

  /** Read back all committed results: visibility comes from the manifest
    * log, never from what happens to sit in the data directory — a crash
    * between the parquet write and the manifest commit leaves an orphaned
    * `snapshot=K` dir that no reader must see (run() overwrites it on
    * retry). Equal to [[readAt]] of the latest committed id, with one
    * read of the manifest log. */
  def readResults(spark: SparkSession, outDir: String): Dataset[DocResult] =
    readCommitted(spark, outDir, snapshots(outDir).map(_._1))

  /** Iceberg-style time travel: the table as of snapshot `snapshotId`
    * (inclusive). Visibility is defined by the immutable manifest log —
    * later commits simply don't exist for this reader. */
  def readAt(spark: SparkSession, outDir: String, snapshotId: Long): Dataset[DocResult] =
    readCommitted(spark, outDir, snapshots(outDir).map(_._1).filter(_ <= snapshotId))

  /** The results of the `committed` snapshot ids, one manifest-log read
    * done by the caller. Only manifest-committed ids are visible — an
    * isin() on the committed set (not `<= id`) so orphaned data dirs from
    * a crash between the parquet write and the manifest commit never leak
    * into a read. The filter is on the `snapshot=` partition column, so
    * pruning happens at the file listing, never by scanning newer data;
    * the read schema is the written one, so no inference job runs. */
  private def readCommitted(spark: SparkSession, outDir: String,
                            committed: Seq[Long]): Dataset[DocResult] = {
    import spark.implicits._
    if (committed.isEmpty) return spark.emptyDataset[DocResult]
    spark.read.schema(DocSources.resultSchema.add("snapshot", LongType))
      .parquet(s"$outDir/data")
      .filter(col("snapshot").isin(committed: _*))
      .drop("snapshot")
      .as[DocResult]
  }

  /** The manifest log: committed snapshot ids (ascending) with their
    * per-bucket lineage — the audit surface for time travel and resume. */
  def snapshots(outDir: String): Seq[(Long, Seq[BucketLineage])] = {
    val (fs, dir) = manifestDir(outDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.matches("manifest-\\d+\\.json"))
      .map { p =>
        val in = fs.open(p)
        try mapper.readValue(in: java.io.InputStream, classOf[Manifest]) finally in.close()
      }
      .map(m => (m.snapshot_id, m.buckets)).sortBy(_._1)
  }
}
