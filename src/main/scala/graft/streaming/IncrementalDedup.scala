package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental near-duplicate detection — the nightly-curation shape.
  *
  * Each run MinHashes ONLY the newly-arrived documents and LSH-joins their
  * banded signatures against the committed signature store, so per-run work
  * is O(new docs × store selectivity), never a re-hash of the corpus. The
  * file source + `Trigger.AvailableNow` + checkpoint make every drop
  * process exactly once (same contract as [[StreamingExtract.run]]); the
  * per-batch outputs land in `batch=<id>` partition directories, so a
  * replayed micro-batch overwrites its own partition instead of
  * double-appending (idempotent under foreachBatch's at-least-once).
  *
  * Store layout (the 100-TB contract): the store persists the BANDED KEYS
  * — one row per (doc, band) with the md5 band key and the signature
  * riding along — laid out in `kb = pmod(hash(key), KeyBuckets)` partition
  * directories under each batch commit. A drop's store join then proceeds
  * in two prunes: (1) partition pruning — only the `kb` directories the
  * new drop's own keys hash into are read at all (a drop touching k
  * distinct band keys reads ≤ min(k, KeyBuckets)/KeyBuckets of the store
  * bytes; `prunedStore` exposes the pruned scan and a test pins the
  * partition filter), then (2) the (band, key) equi-join inside the
  * surviving buckets. Nothing is re-banded: signatures were banded once,
  * at commit time. The pre-round-4 layout stored raw signatures and
  * re-read + re-banded the WHOLE store every drop — O(store) per drop
  * regardless of drop size.
  *
  * Completeness argument (incremental ≡ batch, tested in StreamingSpec):
  * a batch pair (a,b) shares ≥1 band key; let b arrive in the later (or
  * same) drop as a. When b's drop runs, a's banded keys are either in the
  * store — b's identical band key hashes to the same kb bucket, so the
  * pruned join finds the pair — or in the same drop (the in-drop
  * self-join finds it) — and only that run emits it, so the union of
  * per-run outputs has no cross-run duplicates. Signatures are per-doc
  * pure functions, so incremental signatures equal batch signatures.
  *
  * doc_ids are assumed unique across drops; a re-delivered doc_id would
  * meet its own stored signature in the join, so the store join filters
  * `id_n =!= id_o` — the violated assumption degrades to a missing
  * self-pair (harmless) instead of emitting a degenerate (x, x, 1.0) row.
  */
object IncrementalDedup {

  /** Store key-bucket fan-out. Bounded and fixed so a drop's bucket set is
    * collectable (≤ KeyBuckets ints) for literal partition pruning; at
    * 100 TB this is the knob that trades pruning granularity against
    * directory count. */
  val KeyBuckets = 64

  def keyBucket(key: Column): Column = pmod(hash(key), lit(KeyBuckets))

  /** Writer-lease marker enforcing the store's single-writer contract.
    * Underscore-prefixed so parquet reads ignore it (same convention as
    * `_SUCCESS`). */
  private val LeaseName = "_writer.lease"

  /** Run `body` holding the store's writer lease: `create(path,
    * overwrite=false)` is atomic on HDFS-like stores (best-effort
    * check-then-create on the local FS), so an overlapping drop +
    * compaction fails FAST and LOUD instead of interleaving silently.
    * The lease releases on any exit, including exceptions; only a hard
    * JVM kill leaves it behind, and that stale lease must be broken
    * explicitly with [[breakWriterLease]] once the operator confirms no
    * writer is alive — the same manual step HDFS lease recovery requires,
    * because "the holder died" is not machine-decidable from the outside. */
  private[streaming] def withWriterLease[T](spark: SparkSession,
                                            storeDir: String)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val lease = new Path(root, LeaseName)
    val out =
      try fs.create(lease, /* overwrite = */ false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"store writer lease $lease is held: a drop or compaction is " +
              "already writing this store (single-writer contract). If the " +
              "holder crashed, break the stale lease with " +
              "IncrementalDedup.breakWriterLease once no writer is alive.", e)
      }
    // pid write INSIDE the delete-on-exit scope: if the write/close throws
    // (disk full, transient FS error) the lease must not leak — a leaked
    // lease blocks every future writer until a manual break
    try {
      try out.write(s"pid=${ProcessHandle.current().pid()}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      body
    } finally fs.delete(lease, false): Unit
  }

  /** Remove a stale writer lease left by a hard-killed writer. Only call
    * after confirming no drop or compaction is running against the store. */
  def breakWriterLease(spark: SparkSession, storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val lease = new Path(new Path(storeDir), LeaseName)
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lease, false): Unit
  }

  /** Shared fan-out-constant marker: a bucketed store remembers its bucket
    * count in `_<name>` on first commit and REQUIRES it to match on every
    * later write — pruning computes bucket values at read time from the
    * binary's constant, so a store laid out under a different constant
    * would silently MISS rows (wrong results, not slow ones). Mismatch
    * fails loudly; recover by rewriting the store under one constant. */
  private[streaming] def checkFanoutMarker(spark: SparkSession, dir: String,
                                           name: String, value: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(new Path(dir), s"_$name")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val found = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      require(found == value.toString,
        s"store $dir was written with $name=$found but this binary uses " +
          s"$name=$value — pruned reads would silently miss rows; rewrite " +
          "or compact the store under one constant first")
    } else {
      val out = fs.create(marker, true)
      try out.write(value.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** `batch=<id>` subdirectories of `dir` — the listing [[compactBatches]]
    * decides recovery from. */
  private[streaming] def batchDirsOf(fs: org.apache.hadoop.fs.FileSystem,
                                     dir: org.apache.hadoop.fs.Path
                                    ): Map[Long, org.apache.hadoop.fs.Path] =
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(st => st.getPath.getName.stripPrefix("batch=").toLong -> st.getPath)
      .toMap

  /** Shared coverage-label invariant: an existing base covering MORE than
    * `throughBatch` must not be folded under a narrower label — no data
    * would be lost, but "coverage decidable from the directory listing"
    * would lie. Refuse loudly; re-run with a wide-enough throughBatch. */
  private[streaming] def requireCoverage(ids: Set[Long], throughBatch: Long): Unit =
    ids.filter(b => b < 0 && -b - 1 > throughBatch).foreach { b =>
      throw new IllegalArgumentException(
        s"existing compacted base batch=$b covers through ${-b - 1}, beyond " +
          s"throughBatch=$throughBatch; re-run with throughBatch >= ${-b - 1}")
    }

  /** The batch-store compaction protocol, shared by the signature store
    * ([[compactStore]]) and the cluster-label store
    * ([[IncrementalClusters.compact]]). Every `batch=<id>` directory of
    * `dataDir` with id ≤ `throughBatch` — older compacted bases included —
    * is folded into ONE base `batch=-(throughBatch+1)`, written by
    * `writeBase(rows, baseDir)` from the folded batches' rows (the `batch`
    * column dropped). The folded directories are then deleted, together
    * with every `batch=<id>` ≤ `throughBatch` under `alsoFolded` — data
    * the base write consumed, such as the label store's merge map.
    * Nightly drops otherwise accumulate one directory per micro-batch
    * forever; at 100 TB that is millions of small files and a per-drop
    * listing cost that grows without bound.
    *
    * Bases use NEGATIVE batch ids: streaming batch ids are ≥ 0, so a base
    * never collides with a future drop or with a drop's own-batch
    * exclusion ([[prunedBatches]]), and the id −(k+1) encodes "covers
    * everything through k", which makes recovery decidable from the
    * directory listing alone.
    *
    * Crash-safe by ADD-THEN-DELETE under the store's writer lease:
    *  1. the base commits BEFORE any folded directory is deleted. A crash
    *     in between leaves rows present twice (base + source) or folded
    *     data still in place — never a window where committed rows are
    *     missing. Each store's reads absorb the duplicates, and so must
    *     `writeBase`, which meets them on the re-run.
    *  2. re-running is idempotent: a base WITH its `_SUCCESS` job-commit
    *     marker is trusted and only the deletions are finished — exactly
    *     the recovery a crash in step 1 needs; a marker-less base is a
    *     crashed partial write and is deleted and rewritten (its sources
    *     are intact, because deletions only ever follow a committed write).
    * The store's `_<markerName>` fan-out marker is checked first: the base
    * write re-lays the bucket directories, and a mismatched-constant
    * binary would mis-prune every later read. A base that already covers
    * beyond `throughBatch` is refused ([[requireCoverage]]). Run it
    * between drops (the store has a single writer by contract). */
  private[streaming] def compactBatches(spark: SparkSession, storeDir: String,
                                        dataDir: String, alsoFolded: Seq[String],
                                        markerName: String, buckets: Int,
                                        throughBatch: Long)(
                                        writeBase: (DataFrame, String) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    require(throughBatch >= 0, s"throughBatch must be >= 0, got $throughBatch")
    // Hadoop FileSystem, not java.io.File: stores are written through
    // Spark's Hadoop path layer, so they may live behind any supported
    // scheme (file:/ URI, hdfs://, s3a://) — a java.io listing would
    // silently no-op on those and the batch directories would pile up
    val data = new Path(dataDir)
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(data)) withWriterLease(spark, storeDir) {
      checkFanoutMarker(spark, storeDir, markerName, buckets)
      requireCoverage(batchDirsOf(fs, data).keySet, throughBatch)
      val targetId = -(throughBatch + 1)
      val folded = (dataDir +: alsoFolded).flatMap(d => batchDirsOf(fs, new Path(d))
        .collect { case (b, p) if b != targetId && b <= throughBatch => p })
      if (folded.nonEmpty) {
        val target = new Path(data, s"batch=$targetId")
        if (!fs.exists(new Path(target, "_SUCCESS"))) {
          fs.delete(target, true) // a crashed partial write, if any
          // plan-time file listing: the base being written is not part of
          // the read, and no folded dir is touched until the write commits
          writeBase(spark.read.parquet(dataDir)
            .filter(col("batch") <= throughBatch) // older bases too: < 0 ≤ through
            .drop("batch"), target.toString)
        }
        folded.foreach(fs.delete(_, true))
      }
    }
  }

  /** The committed rows of the batch store at `dir`, restricted to batches
    * other than `excludeBatch` (a crashed attempt may have left that
    * batch's own partition behind) and to the given values of the bucket
    * partition column `bucketCol`. The bucket filter is a literal `isin`
    * over a partition column, so the scan lists and reads only the
    * matching bucket directories (partition pruning; plan-pinned in
    * StreamingSpec for both stores). `empty` — the payload columns with no
    * rows — stands in before the first commit. */
  private[streaming] def prunedBatches(spark: SparkSession, dir: String,
                                       bucketCol: String, buckets: Seq[Int],
                                       excludeBatch: Long)(empty: => DataFrame): DataFrame =
    (try Some(spark.read.parquet(dir)) catch { case _: AnalysisException => None })
      .fold(empty)(_.filter(col("batch") =!= excludeBatch)
        .filter(col(bucketCol).isin(buckets: _*))
        .drop("batch", bucketCol))

  /** Start (or resume) incremental dedup: new parquet doc files under
    * `inDir` → near-dup pairs appended under `pairsDir/batch=N` and banded
    * signatures committed under `storeDir/batch=N/kb=K`. With `labelsDir`
    * set, each drop additionally folds its pairs into the incremental
    * cluster-label store ([[IncrementalClusters.update]]), so keeper
    * selection stays current per drop instead of requiring a batch
    * reclustering of the whole pair history. */
  def run(spark: SparkSession, inDir: String, storeDir: String,
          pairsDir: String, checkpointDir: String,
          schema: String = "doc_id BIGINT, text STRING",
          k: Int = 16, bands: Int = 4,
          minEstJaccard: Double = 0.5,
          labelsDir: Option[String] = None): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 64)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, storeDir, pairsDir, k, bands, minEstJaccard)
        // after the pair partition commit: reading the just-written batch
        // partition back cuts the lineage (no re-hash) and makes a replay
        // recompute labels from the identical committed pairs
        labelsDir.foreach { ld =>
          // a drop with zero pairs writes only _SUCCESS — no data file, no
          // schema, and a label no-op by semantics. Check for data files
          // explicitly rather than catching AnalysisException around the
          // whole update: a broad catch would also swallow a real failure
          // (schema drift, unreadable label store) and silently commit a
          // batch whose labels were never folded in — permanently breaking
          // the incremental ≡ batch contract with no surfaced error.
          import org.apache.hadoop.fs.Path
          val batchPath = new Path(s"$pairsDir/batch=$batchId")
          val fs = batchPath.getFileSystem(
            batch.sparkSession.sparkContext.hadoopConfiguration)
          val hasData = fs.exists(batchPath) && fs.listStatus(batchPath)
            .exists(st => st.isFile && !st.getPath.getName.startsWith("_"))
          if (hasData)
            IncrementalClusters.update(
              batch.sparkSession.read.parquet(batchPath.toString),
              ld, batchId)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch: hash + band the new docs, pair them against the
    * kb-pruned committed store and against each other, commit pairs then
    * the banded store partition. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      storeDir: String, pairsDir: String,
                                      k: Int, bands: Int,
                                      minEstJaccard: Double): Unit = {
    val spark = batch.sparkSession
    withWriterLease(spark, storeDir) {
    checkFanoutMarker(spark, storeDir, "key_buckets", KeyBuckets)
    val newBanded = Dedup.bandedSignatureKeys(
      Dedup.minhashSignatures(batch, k), k, bands)
      .withColumn("kb", keyBucket(col("key")))
      .persist()
    try {
      // the new drop's bucket set: bounded by construction (≤ KeyBuckets)
      val kbs = newBanded.select("kb").distinct()
        .collect().map(_.getInt(0)).toSeq
      val oldBanded = prunedStore(spark, storeDir, k, kbs, excludeBatch = batchId)
      val n = newBanded.select(col("band"), col("key"),
        col("doc_id").as("id_n"), col("sig").as("sig_n"))
      val o = oldBanded.select(col("band"), col("key"),
        col("doc_id").as("id_o"), col("sig").as("sig_o"))
      // new × store: either side may hold the smaller doc_id — normalize;
      // id_n =!= id_o guards the doc_id-uniqueness assumption (see above)
      val cross = n.join(o, Seq("band", "key"))
        .filter(col("id_n") =!= col("id_o"))
        .select(
          least(col("id_n"), col("id_o")).as("doc_a"),
          greatest(col("id_n"), col("id_o")).as("doc_b"),
          when(col("id_n") < col("id_o"), col("sig_n")).otherwise(col("sig_o")).as("sig_a"),
          when(col("id_n") < col("id_o"), col("sig_o")).otherwise(col("sig_n")).as("sig_b"))
      // new × new (docs arriving in the same drop)
      val inDrop = n.join(
        newBanded.select(col("band"), col("key"),
          col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("band", "key"))
        .filter(col("id_n") < col("doc_b"))
        .select(col("id_n").as("doc_a"), col("doc_b"),
          col("sig_n").as("sig_a"), col("sig_b"))
      // distinct: a candidate repeats once per agreeing band, and once per
      // copy of a store row — a crash inside compactStore leaves duplicated
      // store rows (see compactBatches' invariant 1)
      val pairs = Dedup.pairsFromCandidates(cross.unionByName(inDrop),
        k, minEstJaccard).distinct()
      // pairs first, then the store commit: a replay after a partial
      // failure rewrites both partitions idempotently
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      newBanded.write.partitionBy("kb")
        .mode("overwrite").parquet(s"$storeDir/batch=$batchId")
    } finally newBanded.unpersist(): Unit
    }
  }

  /** Compact the committed signature store: fold the batch directories
    * with id ≤ `throughBatch` into the kb-partitioned base
    * `batch=-(throughBatch+1)` by the [[compactBatches]] protocol. The
    * base is keyed-deduplicated on (doc_id, band); a crash window's
    * duplicated store rows reach [[processBatch]] as duplicate candidates,
    * which its `distinct()` absorbs. */
  def compactStore(spark: SparkSession, storeDir: String,
                   throughBatch: Long): Unit =
    compactBatches(spark, storeDir, storeDir, Nil, "key_buckets", KeyBuckets,
      throughBatch) { (rows, base) =>
      rows.dropDuplicates("doc_id", "band") // absorb a crashed prior add-phase
        .write.partitionBy("kb").mode("overwrite").parquet(base)
    }

  /** The committed banded store restricted to PREVIOUS batches and to the
    * given key buckets ([[prunedBatches]]); in-drop pairs are generated
    * explicitly. */
  private[streaming] def prunedStore(spark: SparkSession, storeDir: String,
                                     k: Int, kbs: Seq[Int],
                                     excludeBatch: Long): DataFrame =
    prunedBatches(spark, storeDir, "kb", kbs, excludeBatch)(
      spark.range(0).select(
        col("id").as("doc_id"),
        array((0 until k).map(_ => col("id")): _*).as("sig"),
        col("id").cast("int").as("band"),
        col("id").cast("string").as("key")))
}
