package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental duplicate-CLUSTER maintenance — the piece that turns the
  * streaming pair detector into a nightly-curation primitive. Batch
  * [[Dedup.duplicateClusters]] answers "what are the clusters of THIS pair
  * table"; a nightly drop needs "fold these NEW pairs into yesterday's
  * labels" without reclustering the corpus-sized pair history.
  *
  * Label store layout under `labelsDir` (the 100-TB contract):
  *
  *  - `assign/batch=N/db=K/` — (doc_id, cluster_id) rows for docs FIRST
  *    seen in the pair graph at drop N, laid out in
  *    `db = pmod(hash(doc_id), DocBuckets)` partition directories. A row
  *    is written once and never rewritten by later drops; a drop's
  *    endpoint lookup partition-prunes to its own doc buckets (the same
  *    pruning contract as [[IncrementalDedup]]'s kb layout, plan-pinned
  *    in StreamingSpec).
  *  - `merges/batch=N/` — (old_label, new_label) rows: cluster roots that
  *    STOPPED being roots at drop N (a new pair bridged their cluster to
  *    a smaller-rooted one), mapped to the surviving root. The merge map
  *    is the small side by construction — it grows with cluster MERGES
  *    since the last compaction, not with docs — and rides as a broadcast
  *    in every resolution join ([[resolveLabels]]). [[compact]] folds it
  *    back into the assignments and resets it, by the batch-store
  *    protocol described at [[IncrementalDedup.compactBatches]] — the
  *    same explicit bounded-small-side contract as the broadcast query
  *    side in `cosineTopK`.
  *
  * Per drop, [[update]] does: (1) look up the drop's pair endpoints in
  * the db-pruned assignment store, (2) resolve stored labels through the
  * broadcast merge map (driver-path-compressed, so one hop suffices),
  * (3) CONTRACT the new pairs to their representative labels and run the
  * two-tier [[Dedup.duplicateClusters]] on that contracted graph — the
  * driver union-find below the declared threshold, the distributed
  * adaptive-pointer-jump tier past it — (4) emit the merge delta for
  * existing roots the contraction dethroned, and (5) emit first-time
  * assignments for new docs. Work is O(new pairs + pruned lookups +
  * merge-map size); the assignment store is never scanned, only probed.
  *
  * Correctness (proven drop-count- and split-invariant in StreamingSpec):
  * every stored label is the minimum doc id of its cluster-so-far, so the
  * contracted node set of a merged component is {existing minima} ∪ {new
  * ids} and its min-label CC root is the GLOBAL component minimum — by
  * induction the N-drop result equals batch `duplicateClusters` over the
  * union of all drops' pairs, for ANY partition of the pairs into drops.
  *
  * Idempotent under replay: both per-batch outputs are overwrite-mode
  * directories keyed by batch id, and every read excludes the batch being
  * (re)written. Merges commit BEFORE assignments: a crash between the two
  * leaves a remap of old labels (consistent — relabeling is valid at any
  * time) rather than new docs labeled with roots the store doesn't know.
  */
object IncrementalClusters {

  /** Assignment-store doc-bucket fan-out; bounded so a drop's bucket set
    * is collectable for literal partition pruning. Coarser than the
    * signature store's KeyBuckets (64) on purpose: assignment rows are
    * two scalars, so a pruned bucket read is tiny either way, while the
    * per-drop partitioned-write commit cost scales with the directory
    * fan-out (measured the dominant update cost at 64). */
  val DocBuckets = 16

  def docBucket(id: Column): Column = pmod(hash(id), lit(DocBuckets))

  /** Fold one drop's candidate pairs (doc_a, doc_b) into the label store.
    * `localSolveMaxPairs` is the contracted-graph tier threshold passed
    * through to [[Dedup.duplicateClusters]].
    *
    * REPLAY OBLIGATION for direct callers: a crash between the
    * merges/batch=N commit and the assign/batch=N commit leaves
    * [[currentLabels]] resolving existing docs to a new-doc cluster id
    * that has no assignment row yet; consistency is restored only by
    * re-running update() with the SAME batchId and pairs. The streaming
    * checkpoint path ([[IncrementalDedup.run]]) replays automatically;
    * direct callers (the d8 harness pattern) must re-invoke the failed
    * batch themselves before trusting currentLabels, or the
    * incremental ≡ batch contract silently stays broken. */
  def update(newPairs: DataFrame, labelsDir: String, batchId: Long,
             localSolveMaxPairs: Long = 2000000L): Unit = {
    val spark = newPairs.sparkSession
    def phase(name: String): Unit = // guide §1.5: label the micro-jobs
      spark.sparkContext.setJobDescription(s"d8 update $batchId: $name")
    IncrementalDedup.withWriterLease(spark, labelsDir) {
      IncrementalDedup.checkFanoutMarker(spark, labelsDir, "doc_buckets", DocBuckets)
      val p = newPairs.select(col("doc_a"), col("doc_b")).persist()
      var endpoints: DataFrame = null
      var looked: DataFrame = null
      var cc: DataFrame = null
      try {
        // persisted: consumed twice (the bucket-set collect below and the
        // `looked` lookup join) — without the persist the endpoint distinct
        // shuffle re-executes once per consumer
        endpoints = p.select(col("doc_a").as("doc_id"))
          .union(p.select(col("doc_b").as("doc_id"))).distinct()
          .withColumn("db", docBucket(col("doc_id"))).persist()
        // the drop's bucket set: bounded (≤ DocBuckets) by construction.
        // Skipped entirely while the store has no assignments yet (the
        // first drop): the pruned lookup below is empty either way, so the
        // bucket-set job would only burn a scheduling round-trip.
        val storeHasAssigns = {
          val assignPath = new org.apache.hadoop.fs.Path(labelsDir, "assign")
          assignPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(assignPath)
        }
        phase("endpoint buckets")
        val dbs =
          if (!storeHasAssigns) Seq.empty[Int]
          else endpoints.select("db").distinct()
            .collect().map(_.getInt(0)).toSeq
        val assigns = prunedAssignments(spark, labelsDir, p, dbs,
          excludeBatch = batchId)
        phase("merge map")
        // stored label (null for first-seen docs) resolved to the CURRENT
        // root; the doc's representative is that root, or itself if unseen
        looked = resolveLabels(spark, labelsDir,
          endpoints.drop("db").join(assigns, Seq("doc_id"), "left"),
          col("batch") =!= batchId)
          .select(col("doc_id"), col("cluster_id").as("stored"),
            coalesce(col("cluster_id"), col("doc_id")).as("rep"))
          .persist()
        // contract pairs to representative labels; intra-cluster pairs
        // vanish, so the CC input holds only genuinely-bridging edges
        val contracted = p
          .join(looked.select(col("doc_id").as("doc_a"), col("rep").as("rep_a")),
            Seq("doc_a"))
          .join(looked.select(col("doc_id").as("doc_b"), col("rep").as("rep_b")),
            Seq("doc_b"))
          .filter(col("rep_a") =!= col("rep_b"))
          .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))
          .distinct()
        phase("contracted CC")
        cc = Dedup.duplicateClusters(contracted,
          localSolveMaxPairs = localSolveMaxPairs).persist()
        // merge delta: existing roots dethroned by the contraction
        val existingReps = looked.filter(col("stored").isNotNull)
          .select(col("rep").as("doc_id")).distinct()
        val deltaM = cc.join(existingReps, Seq("doc_id"))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as("old_label"), col("cluster_id").as("new_label"))
        // one file: the merge map is the operator's declared bounded-small
        // side (it rides as a broadcast), so a single part file per batch
        // is the right shape at any scale
        phase("merge delta write")
        deltaM.coalesce(1).write.mode("overwrite")
          .parquet(s"$labelsDir/merges/batch=$batchId")
        // first-time assignments for docs the store has never seen; the
        // left join is belt only — every new endpoint survives into the
        // contracted graph (its rep is itself and can never equal the
        // other side's rep), so cc covers it
        val newAssign = looked.filter(col("stored").isNull)
          .select(col("doc_id"))
          .join(cc.withColumnRenamed("cluster_id", "cid"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("cluster_id"),
            docBucket(col("doc_id")).as("db"))
        // cluster the write by its partition column first: without this
        // every upstream task writes a file into every db directory it
        // touches (the classic partitionBy small-file explosion — up to
        // tasks × DocBuckets files per drop); hashing on db makes it one
        // file per (db, post-AQE partition), and AQE sizes the partition
        // count to the drop's actual volume
        phase("assign write")
        newAssign.repartition(col("db"))
          .write.partitionBy("db").mode("overwrite")
          .parquet(s"$labelsDir/assign/batch=$batchId")
      } finally {
        spark.sparkContext.setJobDescription(null)
        if (cc != null) cc.unpersist()
        if (looked != null) looked.unpersist()
        if (endpoints != null) endpoints.unpersist()
        p.unpersist(): Unit
      }
    }
  }

  /** The current (doc_id, cluster_id) labels: every assignment resolved
    * through the broadcast merge map ([[resolveLabels]]) — no shuffle of
    * the store for the resolution; the trailing dropDuplicates (scalar
    * pair rows only) absorbs the identical duplicate rows a crashed
    * [[compact]] add-phase can leave behind. */
  def currentLabels(spark: SparkSession, labelsDir: String): DataFrame =
    resolveLabels(spark, labelsDir,
      spark.read.parquet(s"$labelsDir/assign").select("doc_id", "cluster_id"),
      lit(true))
      .dropDuplicates("doc_id", "cluster_id")

  /** Fold merges with batch ≤ `throughBatch` into the assignment store:
    * the base `assign/batch=-(throughBatch+1)` holds every folded
    * assignment resolved through those merges, and the folded merge
    * directories are deleted — the [[IncrementalDedup.compactBatches]]
    * protocol. Later merge batches remain applicable untouched: their
    * old_labels were still roots after `throughBatch`, so folding earlier
    * merges cannot rewrite them. A crash window can only duplicate
    * identical label rows (absorbed by `currentLabels`) or leave folded
    * merges behind (already applied, so applying them again is a no-op),
    * never lose or corrupt a label. */
  def compact(spark: SparkSession, labelsDir: String, throughBatch: Long): Unit =
    IncrementalDedup.compactBatches(spark, labelsDir, s"$labelsDir/assign",
      Seq(s"$labelsDir/merges"), "doc_buckets", DocBuckets, throughBatch) {
      (rows, base) =>
        resolveLabels(spark, labelsDir, rows.select("doc_id", "cluster_id"),
          col("batch") <= throughBatch)
          .dropDuplicates("doc_id", "cluster_id")
          .withColumn("db", docBucket(col("doc_id")))
          // cluster by the partition column (same reason as update's
          // assignment write): this is the store's LARGEST write, and an
          // unclustered partitionBy fans out tasks × DocBuckets part files
          .repartition(col("db"))
          .write.partitionBy("db").mode("overwrite").parquet(base)
    }

  /** The assignment store restricted to previous batches and the given doc
    * buckets ([[IncrementalDedup.prunedBatches]]). */
  private[streaming] def prunedAssignments(spark: SparkSession, labelsDir: String,
                                           idTemplate: DataFrame, dbs: Seq[Int],
                                           excludeBatch: Long): DataFrame =
    IncrementalDedup.prunedBatches(spark, s"$labelsDir/assign", "db", dbs,
      excludeBatch)(idTemplate.select(col("doc_a").as("doc_id"),
      col("doc_a").as("cluster_id")).limit(0))

  /** (doc_id, cluster_id) rows with each nullable `cluster_id` resolved
    * to the CURRENT root: a left join to the path-compressed merge map of
    * the merge batches `keep` selects, as a broadcast (the assignments
    * stay the probe side, never shuffled for it), then
    * `coalesce(new_label, cluster_id)`. The one label resolution of
    * [[currentLabels]], [[compact]]'s base rewrite and [[update]]'s
    * endpoint lookup. */
  private def resolveLabels(spark: SparkSession, labelsDir: String,
                            labeled: DataFrame, keep: Column): DataFrame = {
    val merges = resolvedMerges(spark, labelsDir,
      labeled.schema("cluster_id").dataType, keep)
    labeled
      .join(broadcast(merges.withColumnRenamed("old_label", "cluster_id")),
        Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
  }

  /** The merge map with chains PATH-COMPRESSED on the driver (an old root
    * merged at drop i can point at a root itself merged at drop j > i;
    * compressing once at read means every resolution join is one hop).
    * The collect is the operator's declared bounded-small-side contract —
    * merge entries accumulate per cluster merge between compactions. */
  private def resolvedMerges(spark: SparkSession, labelsDir: String,
                             idType: org.apache.spark.sql.types.DataType,
                             keep: Column): DataFrame = {
    import scala.jdk.CollectionConverters._
    val raw =
      try spark.read.parquet(s"$labelsDir/merges").filter(keep)
        .select("old_label", "new_label").collect()
      catch {
        case _: AnalysisException => Array.empty[org.apache.spark.sql.Row]
      }
    val next = new java.util.HashMap[Any, Any]()
    raw.foreach(r => next.put(r.get(0), r.get(1)))
    // hop bound: a healthy merge map is acyclic (merges always point at a
    // strictly smaller surviving root), so no chain can be longer than the
    // map itself. A corrupted store would otherwise hang the driver in
    // this loop forever — fail loudly instead.
    def find(x: Any): Any = {
      var r = x
      var hops = 0
      while (next.containsKey(r)) {
        hops += 1
        require(hops <= next.size,
          s"cyclic or overlong merge chain in $labelsDir/merges starting " +
            s"at $x (>${next.size} hops) — the merge store is corrupted; " +
            "rebuild it (e.g. recluster from the pair history) before reading")
        r = next.get(r)
      }
      r
    }
    val rows = next.keySet().asScala.toSeq
      .map(k => org.apache.spark.sql.Row(k, find(k)))
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("old_label", idType),
        org.apache.spark.sql.types.StructField("new_label", idType))))
  }
}
