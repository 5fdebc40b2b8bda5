package graft.streaming

import graft.model.DocResult
import graft.pipeline.{ExtractionPipeline, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics: AvailableNow incremental extraction is exactly-once
  * per input file and equivalent to the batch pipeline; the incremental
  * dedup and cluster stores equal their batch operators. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Recursive copy — fakes the directories a crashed writer leaves. */
  private def cp_r(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) { dst.mkdirs()
      src.listFiles.foreach(f => cp_r(f, new java.io.File(dst, f.getName))) }
    else java.nio.file.Files.copy(src.toPath, dst.toPath): Unit
  }

  test("AvailableNow file-stream extraction: incremental, exactly-once, batch-equivalent") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"

    val batch1 = ExtractionPipeline.synthDocs(spark, 40, seed = 11, parallelism = 2)
    batch1.write.mode("append").parquet(in)
    val first = StreamingExtract.run(spark, in, out, cp)
    first.awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 40)
    // a streaming input always plans the hash exchange (walked through the
    // micro-batch's adaptive query stages)
    val microBatch = first.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(microBatch) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
    assert(exchanges.size == 1, microBatch)

    // second increment: only the new files are processed on resume
    val batch2 = ExtractionPipeline.synthDocs(spark, 25, seed = 12, parallelism = 2)
      .map(d => d.copy(doc_id = "b2_" + d.doc_id))
    batch2.write.mode("append").parquet(in)
    StreamingExtract.run(spark, in, out, cp).awaitTermination()

    val streamed = spark.read.parquet(out).as[DocResult].collect()
    assert(streamed.length == 65, "each doc extracted exactly once across increments")
    assert(streamed.map(_.doc_id).distinct.length == 65)

    // equivalence with the batch pipeline on the same input
    val batch = ExtractionPipeline
      .extract(spark.read.parquet(in).as[graft.model.Doc])
      .collect()
    def canon(rs: Seq[DocResult]) =
      rs.map(r => (r.doc_id, r.spans, r.failure_code)).sortBy(_._1)
    assert(canon(streamed.toSeq) == canon(batch.toSeq))
  }

  test("incremental MinHash dedup over two drops ≡ batch LSH dedup over the union") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val in = s"$base/in"; val store = s"$base/store"
    val pairs = s"$base/pairs"; val cp = s"$base/cp"

    // two drops (nightly shape); near-dup twins are planted across the
    // corpus so some pairs span the drops and some fall inside one
    val labels = s"$base/labels"
    val drop1 = docs.filter(col("doc_id") % 2 === 0)
    val drop2 = docs.filter(col("doc_id") % 2 === 1)
    drop1.write.mode("append").parquet(in)
    graft.streaming.IncrementalDedup.run(spark, in, store, pairs, cp,
      labelsDir = Some(labels)).awaitTermination()
    val afterDrop1 = spark.read.parquet(store)
    assert(afterDrop1.select("batch").distinct().count() == 1,
      "first run commits exactly one store partition")
    drop2.write.mode("append").parquet(in)
    graft.streaming.IncrementalDedup.run(spark, in, store, pairs, cp,
      labelsDir = Some(labels)).awaitTermination()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val incremental = canon(spark.read.parquet(pairs))
    val batch = canon(graft.ops.Dedup.lshNearDupPairs(
      graft.ops.Dedup.minhashSignatures(docs)))
    assert(batch.nonEmpty, "testdata plants near-dups; the batch baseline must find them")
    assert(incremental == batch,
      s"incremental (${incremental.size}) must equal batch (${batch.size})")
    // end-to-end label maintenance through run(labelsDir=...): the
    // per-drop label store must equal batch clustering of the pair graph
    val streamedLabels = IncrementalClusters.currentLabels(spark, labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchClusters = graft.ops.Dedup.duplicateClusters(
      spark.read.parquet(pairs).select("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedLabels == batchClusters,
      "streamed label store must equal batch duplicateClusters of the pair graph")
    // the second run hashed ONLY drop2: the store grew by exactly its docs
    // (banded layout: one row per (doc, band) in its key's kb directory)
    val store2 = spark.read.parquet(store)
    assert(store2.select("batch").distinct().count() == 2)
    val nSigs = graft.ops.Dedup.minhashSignatures(docs).count()
    assert(store2.count() == nSigs * 4,
      "store holds one banded row per (doc, band), no re-hashing")
    assert(store2.select("doc_id").distinct().count() == nSigs)
    // the store carries its fan-out marker (shared checkFanoutMarker guard)
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(store, "_key_buckets")).trim
      == IncrementalDedup.KeyBuckets.toString)
    // store rows live in the kb directory their key hashes into
    assert(store2.filter(
      col("kb") =!= graft.streaming.IncrementalDedup.keyBucket(col("key")))
      .count() == 0, "kb partition dir must match pmod(hash(key), KeyBuckets)")

    // kb partition pruning: a drop that only touches bucket `kb0` reads
    // only that bucket's directories — the scan carries a partition filter
    // on kb (pruning happens at the file listing, before any IO) and
    // returns exactly the rows the full store holds for that bucket
    val kb0 = store2.select("kb").limit(1).collect()(0).getInt(0)
    val pruned = IncrementalDedup.prunedStore(spark, store, 16, Seq(kb0),
      excludeBatch = 999L)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"), planStr)
    assert(planStr.matches("(?s).*PartitionFilters:\\s*\\[[^\\]]*kb[^\\]]*\\].*"),
      s"kb must be a partition (pruning) filter, not a data filter:\n$planStr")
    assert(pruned.count() == store2.filter(col("kb") === kb0).count())
  }

  test("store compaction between drops: merged base, idempotent recovery, incremental ≡ batch") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val in = s"$base/in"; val store = s"$base/store"
    val pairs = s"$base/pairs"; val cp = s"$base/cp"
    def drop(i: Int): Unit = {
      docs.filter(col("doc_id") % 3 === i).write.mode("append").parquet(in)
      IncrementalDedup.run(spark, in, store, pairs, cp).awaitTermination()
    }
    def dirIds = new java.io.File(store).listFiles
      .filter(_.getName.startsWith("batch=")).map(_.getName.stripPrefix("batch=").toLong)
      .toSet
    drop(0); drop(1)
    IncrementalDedup.compactStore(spark, store, throughBatch = 1)
    assert(dirIds == Set(-2L), s"batches 0,1 merged into the -2 base: $dirIds")
    // the base carries every committed signature row, kb layout intact
    val compacted = spark.read.parquet(store)
    assert(compacted.filter(
      col("kb") =!= IncrementalDedup.keyBucket(col("key"))).count() == 0)
    // a third drop joins against the compacted base + finds cross-drop pairs
    drop(2)
    assert(dirIds == Set(-2L, 2L))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val batch = canon(graft.ops.Dedup.lshNearDupPairs(
      graft.ops.Dedup.minhashSignatures(docs)))
    assert(canon(spark.read.parquet(pairs)) == batch,
      "compaction must not change the incremental ≡ batch equivalence")
    // crash recovery: duplicate the base into a fake leftover source dir
    // (the state an add-phase crash leaves), re-compact — the keyed dedup
    // absorbs the duplicates and the leftover is deleted
    cp_r(new java.io.File(s"$store/batch=-2"), new java.io.File(s"$store/batch=0"))
    val nRows = spark.read.parquet(store).drop("batch")
      .dropDuplicates("doc_id", "band").count()
    // and a crashed PARTIAL target (no _SUCCESS job-commit marker): it
    // must be treated as garbage and rewritten, never trusted — trusting
    // it would delete the sources and lose committed signatures
    val partial = new java.io.File(s"$store/batch=-3/kb=0")
    partial.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(partial, "part-junk.parquet").toPath, "not parquet")
    IncrementalDedup.compactStore(spark, store, throughBatch = 2)
    assert(dirIds == Set(-3L), s"full compaction leaves only the -3 base: $dirIds")
    assert(spark.read.parquet(store).count() == nRows,
      "keyed dedup absorbs the crash-duplicated rows")
    // idempotent: a second run is a no-op
    IncrementalDedup.compactStore(spark, store, throughBatch = 2)
    assert(dirIds == Set(-3L))
    // a drop processed while an add-phase crash's leftover copy is still
    // in the store meets every stored row twice (and a near-copy collides
    // in several bands): its pairs must still come out once each
    cp_r(new java.io.File(s"$store/batch=-3"), new java.io.File(s"$store/batch=0"))
    docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text"))
      .write.mode("append").parquet(in)
    IncrementalDedup.run(spark, in, store, pairs, cp).awaitTermination()
    val copyPairs = spark.read.parquet(s"$pairs/batch=3").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(copyPairs.exists(_._2 >= 1000000L), "near-copies must pair with stored docs")
    assert(copyPairs.size == copyPairs.distinct.size,
      "duplicated store rows must not duplicate a drop's pairs")
  }

  test("incremental cluster maintenance: N drops ≡ batch d7, split-invariant, replay-safe, compactable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val allPairs = graft.ops.Dedup.lshNearDupPairs(
      graft.ops.Dedup.minhashSignatures(docs))
      .select("doc_a", "doc_b").persist()
    assert(allPairs.count() > 10, "testdata must plant enough near-dup pairs")
    val batchLabels = graft.ops.Dedup.duplicateClusters(allPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def labelsOf(dir: String) = IncrementalClusters.currentLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val base = java.nio.file.Files.createTempDirectory("graft-incclu").toString
    val l3 = s"$base/l3"
    (0 to 2).foreach { i =>
      IncrementalClusters.update(
        allPairs.filter(pmod(col("doc_b"), lit(3)) === i), l3, i)
    }
    assert(labelsOf(l3) == batchLabels,
      "3-drop incremental labels must equal batch duplicateClusters")
    // replaying the last micro-batch (at-least-once delivery) is a no-op
    IncrementalClusters.update(
      allPairs.filter(pmod(col("doc_b"), lit(3)) === 2), l3, 2)
    assert(labelsOf(l3) == batchLabels, "replayed drop must not change labels")
    // a DIFFERENT split converges to the identical labels (split invariance)
    val l2 = s"$base/l2"
    (0 to 1).foreach { i =>
      IncrementalClusters.update(
        allPairs.filter(pmod(col("doc_a"), lit(2)) === i), l2, i)
    }
    assert(labelsOf(l2) == batchLabels, "split choice must not matter")
    // promote-past-threshold: threshold 0 forces every contracted-graph CC
    // through the DISTRIBUTED adaptive-pointer-jump tier — the 100-TB
    // configuration — end-to-end through the label store
    val l0 = s"$base/l0"
    (0 to 1).foreach { i =>
      IncrementalClusters.update(
        allPairs.filter(pmod(col("doc_a"), lit(2)) === i), l0, i,
        localSolveMaxPairs = 0)
    }
    assert(labelsOf(l0) == batchLabels,
      "forced-distributed contracted CC must produce identical labels")

    // currentLabels' scale contract: the merge map joins as a BROADCAST
    // over the assignment scan — no sort-merge shuffle of the store. Use
    // a store with a GUARANTEED non-empty merge map (drop 1 dethrones
    // drop 0's root 10 with the smaller id 1); an empty map would let
    // Catalyst eliminate the join entirely and prove nothing.
    val lplan = s"$base/lplan"
    IncrementalClusters.update(Seq((10L, 11L)).toDF("doc_a", "doc_b"), lplan, 0)
    IncrementalClusters.update(Seq((1L, 10L)).toDF("doc_a", "doc_b"), lplan, 1)
    val planLabels = IncrementalClusters.currentLabels(spark, lplan)
    val labelsPlan = planLabels.queryExecution.executedPlan.toString
    assert(labelsPlan.contains("BroadcastHashJoin"), labelsPlan)
    assert(!labelsPlan.contains("SortMergeJoin"),
      s"label resolution must not shuffle the store:\n$labelsPlan")
    assert(planLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 10L -> 1L, 11L -> 1L))

    // endpoint lookups partition-prune the assignment store by doc bucket
    val template = allPairs.limit(1)
    val pruned = IncrementalClusters.prunedAssignments(spark, l3, template,
      Seq(0, 1), excludeBatch = 999L)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.matches("(?s).*PartitionFilters:\\s*\\[[^\\]]*db[^\\]]*\\].*"),
      s"db must be a partition (pruning) filter:\n$planStr")

    // a crashed PARTIAL base (no _SUCCESS job-commit marker) must be
    // rewritten, never trusted — trusting it would delete the sources
    val partial = new java.io.File(s"$l3/assign/batch=-3/db=0")
    partial.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(partial, "part-junk.parquet").toPath, "not parquet")
    // compaction folds merges into a single assignment base; labels unchanged
    IncrementalClusters.compact(spark, l3, throughBatch = 2)
    def subdirs(p: String) = Option(new java.io.File(p).listFiles)
      .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    assert(subdirs(s"$l3/assign") == Set("batch=-3"), subdirs(s"$l3/assign").toString)
    assert(subdirs(s"$l3/merges").isEmpty, "folded merge dirs must be deleted")
    assert(labelsOf(l3) == batchLabels, "compaction must not change labels")
    // idempotent re-run
    IncrementalClusters.compact(spark, l3, throughBatch = 2)
    assert(labelsOf(l3) == batchLabels)
    // and new drops keep working against the compacted base: replay the
    // full pair set as one more drop — still a no-op on labels
    IncrementalClusters.update(allPairs, l3, 3)
    assert(labelsOf(l3) == batchLabels)
    // a crash between the base commit and the deletions leaves folded merge
    // dirs behind (lplan holds the merge 10 → 1): they are already applied,
    // so labels hold, and a re-run finishes the deletions
    val lplanLabels = Map(1L -> 1L, 10L -> 1L, 11L -> 1L)
    val mergesKept = new java.io.File(s"$base/lplan-merges")
    cp_r(new java.io.File(s"$lplan/merges"), mergesKept)
    IncrementalClusters.compact(spark, lplan, throughBatch = 1)
    assert(subdirs(s"$lplan/assign") == Set("batch=-2"), subdirs(s"$lplan/assign").toString)
    assert(subdirs(s"$lplan/merges").isEmpty, "folded merge dirs must be deleted")
    cp_r(mergesKept, new java.io.File(s"$lplan/merges"))
    assert(subdirs(s"$lplan/merges").contains("batch=1"))
    assert(labelsOf(lplan) == lplanLabels, "leftover folded merges must not change labels")
    IncrementalClusters.compact(spark, lplan, throughBatch = 1)
    assert(subdirs(s"$lplan/merges").isEmpty, "re-run must delete leftover folded merges")
    assert(subdirs(s"$lplan/assign") == Set("batch=-2"), subdirs(s"$lplan/assign").toString)
    assert(labelsOf(lplan) == lplanLabels)
    allPairs.unpersist(): Unit
  }

  test("incremental clusters property: random graphs × random splits ≡ batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    (1 to 3).foreach { trial =>
      // ~60 nodes, ~70 random edges: several non-trivial components
      val pairs = (0 until 70).map { _ =>
        val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val pdf = pairs.toDF("doc_a", "doc_b")
      val want = graft.ops.Dedup.duplicateClusters(pdf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // random assignment of each pair to one of k drops, k ∈ {2,3,4}
      val k = 2 + rnd.nextInt(3)
      val tagged = pairs.map(p => (p._1, p._2, rnd.nextInt(k)))
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-incprop$trial").toString + "/l"
      (0 until k).foreach { drop =>
        val dp = tagged.filter(_._3 == drop).map(t => (t._1, t._2))
        if (dp.nonEmpty)
          IncrementalClusters.update(dp.toDF("doc_a", "doc_b"), dir, drop)
      }
      val got = IncrementalClusters.currentLabels(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want,
        s"trial $trial (k=$k): incremental ${got.size} ≠ batch ${want.size}")
    }
  }

  test("label store refuses a DocBuckets mismatch loudly (silent mis-pruning hazard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-dbmark").toString
    val dir = s"$base/labels"
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    IncrementalClusters.update(pairs, dir, 0)
    // marker written on first commit
    val marker = java.nio.file.Path.of(dir, "_doc_buckets")
    assert(java.nio.file.Files.readString(marker).trim
      == IncrementalClusters.DocBuckets.toString)
    // a store from a binary with a different fan-out must be rejected —
    // pruned lookups under the wrong constant silently MISS rows.
    // (Drop the Hadoop local-FS checksum sidecar when editing raw.)
    def setMarker(v: String): Unit = {
      java.nio.file.Files.deleteIfExists(java.nio.file.Path.of(dir, "._doc_buckets.crc"))
      java.nio.file.Files.writeString(marker, v): Unit
    }
    setMarker("64")
    val e = intercept[IllegalArgumentException] {
      IncrementalClusters.update(pairs.filter(col("doc_a") > 2), dir, 1)
    }
    assert(e.getMessage.contains("doc_buckets"), e.getMessage)
    // and the refusal released the writer lease
    setMarker(IncrementalClusters.DocBuckets.toString)
    IncrementalClusters.update(pairs.filter(col("doc_a") > 2), dir, 1)
  }

  test("a hand-corrupted cyclic merge store fails fast instead of hanging the driver") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cyc").toString
    val dir = s"$base/labels"
    IncrementalClusters.update(Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), dir, 0)
    // corrupt the store: a merge CYCLE (5→6, 6→5) can never be produced by
    // update() — merges always point at a strictly smaller surviving root —
    // but a corrupted store must trip the hop bound, not loop forever
    Seq((5L, 6L), (6L, 5L)).toDF("old_label", "new_label")
      .write.mode("overwrite").parquet(s"$dir/merges/batch=1")
    val e = intercept[IllegalArgumentException] {
      IncrementalClusters.currentLabels(spark, dir).collect()
    }
    assert(e.getMessage.contains("cyclic or overlong merge chain"), e.getMessage)
  }

  test("writer lease: overlapping writers fail fast, lease releases on exit, stale lease breakable") {
    val base = java.nio.file.Files.createTempDirectory("graft-lease").toString
    val store = s"$base/store"
    // a held lease makes the second writer fail fast — including a real
    // compaction attempt (the overlap the single-writer contract forbids)
    IncrementalDedup.withWriterLease(spark, store) {
      val e = intercept[IllegalStateException] {
        IncrementalDedup.withWriterLease(spark, store) { fail("second writer must not run") }
      }
      assert(e.getMessage.contains("single-writer"), e.getMessage)
      val e2 = intercept[IllegalStateException] {
        IncrementalDedup.compactStore(spark, store, throughBatch = 0)
      }
      assert(e2.getMessage.contains("lease"), e2.getMessage)
    }
    // released on normal exit: acquiring again succeeds
    IncrementalDedup.withWriterLease(spark, store) { () }
    // released on exceptional exit too
    intercept[RuntimeException] {
      IncrementalDedup.withWriterLease(spark, store) { throw new RuntimeException("boom") }
    }
    IncrementalDedup.withWriterLease(spark, store) { () }
    // a hard-killed writer's stale lease blocks until broken explicitly
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(store, "_writer.lease"), "pid=dead\n")
    intercept[IllegalStateException] {
      IncrementalDedup.withWriterLease(spark, store) { () }
    }
    IncrementalDedup.breakWriterLease(spark, store)
    IncrementalDedup.withWriterLease(spark, store) { () }
  }

  test("compactStore refuses to narrow an existing base's coverage label") {
    val base = java.nio.file.Files.createTempDirectory("graft-cov").toString
    val store = s"$base/store"
    // an existing base batch=-3 declares coverage through 2; compacting
    // through 1 would fold it under a narrower label — must refuse loudly
    assert(new java.io.File(s"$store/batch=-3").mkdirs())
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.compactStore(spark, store, throughBatch = 1)
    }
    assert(e.getMessage.contains("covers through 2"), e.getMessage)
    // and the refusal released the lease (a retry with a wide-enough
    // throughBatch is not blocked)
    IncrementalDedup.withWriterLease(spark, store) { () }
    // the label store shares the refusal (and the lease release)
    val labels = s"$base/labels"
    assert(new java.io.File(s"$labels/assign/batch=-3").mkdirs())
    val e2 = intercept[IllegalArgumentException] {
      IncrementalClusters.compact(spark, labels, throughBatch = 1)
    }
    assert(e2.getMessage.contains("covers through 2"), e2.getMessage)
    IncrementalDedup.withWriterLease(spark, labels) { () }
  }
}
