package graft.pipeline

import graft.corpus.Synth
import graft.kernel.Extract
import graft.model.{Doc, DocResult, FailureCodes, PartitionMetric, Span}
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-correctness properties (SURVEY.md §5): extraction is
  * partitioning-invariant and equal to the direct kernel, the hash
  * exchange never loses or duplicates docs, and checkpoint resume ≡ cold run. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def canon(rs: Seq[DocResult]): Seq[(String, Seq[Span], Boolean, String, Int, Int)] =
    rs.map(r => (r.doc_id, r.spans, r.success, r.failure_code, r.n_spans, r.n_pages))
      .sortBy(_._1)

  test("pipeline result is independent of partitioning") {
    import spark.implicits._
    // one scan partition takes the exchange at P = 3 and 11; four fill the
    // slots and run the kernel in place at P = 8
    val docs = ExtractionPipeline.synthDocs(spark, 120, seed = 7, parallelism = 1).cache()
    val a = ExtractionPipeline.extract(docs,
      ExtractionPipeline.Config(numPartitions = 3)).collect().toSeq
    val b = ExtractionPipeline.extract(docs,
      ExtractionPipeline.Config(numPartitions = 11)).collect().toSeq
    val c = ExtractionPipeline.extract(
      ExtractionPipeline.synthDocs(spark, 120, seed = 7, parallelism = 4),
      ExtractionPipeline.Config(numPartitions = 8)).collect().toSeq
    assert(canon(a) == canon(b))
    assert(canon(c) == canon(a))
    assert(a.size == 120)
    docs.unpersist()
  }

  test("SpanCodec round-trips exactly: unicode, null fields, any offsets") {
    val rnd = new scala.util.Random(31)
    val pool = Seq("plain ascii", "देवनागरी पाठ 😀", "𐀀 supplementary ｡",
      "", null, "tab\tnl\nquote\"back\\slash", "x" * 5000)
    def randSpan(): Span =
      if (rnd.nextInt(10) == 0) null // parquet admits null elements
      else Span(
        Seq("text", "media", "Table", "Weird-kind", "", null)(rnd.nextInt(6)),
        pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)),
        rnd.nextInt() // any int, including negative
      )
    (0 until 200).foreach { _ =>
      val spans = Vector.fill(rnd.nextInt(40))(randSpan())
      val back = SpanCodec.unpack(SpanCodec.pack(spans))
      assert(back == spans, s"roundtrip diverged for $spans")
    }
    val nulls = Vector(null, Span("text", "t", "", 0), null)
    assert(SpanCodec.unpack(SpanCodec.pack(nulls)) == nulls)
    // degenerate forms: null and empty both decode to empty (extractDoc
    // maps both to the same EMPTY_DOC result)
    assert(SpanCodec.unpack(SpanCodec.pack(null)) == Vector.empty)
    assert(SpanCodec.unpack(SpanCodec.pack(Vector.empty)) == Vector.empty)
    // extreme offsets survive the zigzag varint
    for (off <- Seq(Int.MinValue, Int.MaxValue, -1, 0)) {
      val s = Vector(Span("text", "t", "", off))
      assert(SpanCodec.unpack(SpanCodec.pack(s)) == s)
    }
    // corrupt blobs fail loudly instead of decoding to other spans: every
    // kind byte past the four the encoder writes, a truncated blob, and a
    // string length running past the end
    val good = SpanCodec.pack(Vector(Span("text", "abc", "", 0)))
    for (kind <- 4 to 255) {
      val bad = good.clone(); bad(1) = kind.toByte
      val e = intercept[IllegalArgumentException](SpanCodec.unpack(bad))
      assert(e.getMessage.contains("unknown span kind"), e.getMessage)
    }
    intercept[IllegalArgumentException](SpanCodec.unpack(good.dropRight(1)))
    val overrun = good.clone(); overrun(2) = 100.toByte
    intercept[IllegalArgumentException](SpanCodec.unpack(overrun))
  }

  /** The number of exchanges in the plan `extract` gives `docs`. */
  private def exchanges(results: org.apache.spark.sql.Dataset[_]): Int =
    "Exchange hashpartitioning".r.findAllIn(results.queryExecution.executedPlan.toString).size

  test("exchange path ≡ direct kernel on the synthetic corpus") {
    // one scan partition on four core slots: the exchange path
    val docs = ExtractionPipeline.synthDocs(spark, 200, seed = 13, parallelism = 1).cache()
    val direct = docs.collect().map(d => Extract.extractDoc(d)).toSeq
    val results = ExtractionPipeline.extract(docs, ExtractionPipeline.Config(numPartitions = 5))
    assert(exchanges(results) == 1)
    val exchanged = results.collect().toSeq
    assert(canon(exchanged) == canon(direct))
    assert(exchanged.size == 200)
    docs.unpersist()
  }

  test("in-place kernel path ≡ direct kernel on a well-split synthetic corpus") {
    val docs = ExtractionPipeline.synthDocs(spark, 200, seed = 13, parallelism = 4)
    val direct = docs.collect().map(d => Extract.extractDoc(d)).toSeq
    val results = ExtractionPipeline.extract(docs, ExtractionPipeline.Config(numPartitions = 5))
    assert(exchanges(results) == 0)
    val inPlace = results.collect().toSeq
    assert(canon(inPlace) == canon(direct))
    assert(inPlace.size == 200)
  }

  /** Reading a corpus and planning its extraction start no job; the pass
    * over a well-split corpus is one job: scan, kernel and sink. */
  test("building readDocs + extract starts no job, and a well-split pass runs one") {
    import graft.sources.DocSources
    val base = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val docs = ExtractionPipeline.synthDocs(spark, 300, seed = 19, parallelism = 16)
    docs.write.parquet(s"$base/corpus")
    val cfg = ExtractionPipeline.Config(numPartitions = 32)
    assert(SparkTestSession.jobsStarted {
      ExtractionPipeline.extract(DocSources.readDocs(spark, s"$base/corpus"), cfg): Unit
    } == 0)
    assert(SparkTestSession.jobsStarted {
      DocSources.writeResults(
        ExtractionPipeline.extract(DocSources.readDocs(spark, s"$base/corpus"), cfg), s"$base/out")
    } == 1)
    val written = spark.read.schema(DocSources.resultSchema).parquet(s"$base/out")
      .as[DocResult](org.apache.spark.sql.Encoders.product[DocResult]).collect().toSeq
    assert(canon(written) == canon(docs.collect().map(d => Extract.extractDoc(d)).toSeq))
  }

  /** `readDocs` reads with the `Doc` schema; a corpus that does not have
    * it fails on the driver, before any task, naming the column. */
  test("readDocs fails before any task on a missing or mistyped column, and ignores extras") {
    import graft.sources.DocSources
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-read").toString
    val good = Seq(Doc("d1", Seq(Span("text", "# Title", "", 0))), Doc("d2", Seq.empty))
    good.toDF().drop("doc_id").write.parquet(s"$base/no-id")
    good.toDF().drop("spans").write.parquet(s"$base/no-spans")
    Seq(("d1", "# Title")).toDF("doc_id", "spans").write.parquet(s"$base/string-spans")
    good.toDF().withColumn("lang", lit("en")).write.parquet(s"$base/extra")
    for ((dir, column) <- Seq("no-id" -> "doc_id", "no-spans" -> "spans",
        "string-spans" -> "spans")) {
      var msg = ""
      assert(SparkTestSession.jobsStarted {
        msg = intercept[IllegalArgumentException](
          DocSources.readDocs(spark, s"$base/$dir")).getMessage
      } == 0, dir)
      assert(msg.contains(s"column $column "), s"$dir: $msg")
    }
    assert(DocSources.readDocs(spark, s"$base/extra").collect().sortBy(_.doc_id).toSeq == good)
  }

  test("unreadable span input is one KERNEL_ERROR row per doc, equal to the direct kernel") {
    import spark.implicits._
    // parquet admits each of these nulls, and the kernel cannot read them:
    // each must cost its own doc a failure row, never the job
    val docs = Seq(
      Doc("null-text", Seq(Span("text", null, "", 0))),
      Doc("null-media-ref", Seq(Span("text", "# Title", "", 0), Span("media", "", null, 1))),
      Doc("null-element", Seq(Span("text", "# Title", "", 0), null)))
    val direct = docs.map(d => Extract.extractDoc(d))
    direct.foreach { r =>
      assert(r.failure_code == FailureCodes.KernelError && !r.success && r.spans.isEmpty,
        s"${r.doc_id}: $r")
    }
    val piped = ExtractionPipeline.extract(docs.toDS(),
      ExtractionPipeline.Config(numPartitions = 2)).collect().toSeq
    assert(canon(piped) == canon(direct))
  }

  test("partition_id occupies every value in [0, P) with balanced load") {
    // pmod(hash(hash(doc_id)), P) must hit all P values with near-uniform
    // load: a collapse to ~(1-1/e)P occupied values with up to 4x hot bins
    // would skew every per-partition metric. One scan partition on four
    // core slots: the exchange path.
    val docs = ExtractionPipeline.synthDocs(spark, 1024, seed = 9, parallelism = 1)
    val loads = ExtractionPipeline.extract(docs,
      ExtractionPipeline.Config(numPartitions = 8))
      .groupByKey(_.partition_id)(org.apache.spark.sql.Encoders.scalaInt)
      .mapGroups { (pid, it) => (pid, it.size) }(
        org.apache.spark.sql.Encoders.product[(Int, Int)])
      .collect().toMap
    assert(loads.keySet == (0 until 8).toSet,
      s"all 8 partitions must be occupied: $loads")
    // binomial(1024, 1/8): mean 128, sd ~10.6 — 4 sd bounds are loose
    // enough to be deterministic-stable yet catch any collapse/hot bin
    assert(loads.values.forall(n => n > 85 && n < 171),
      s"partition loads must be near-uniform: $loads")
  }

  /** The per-partition rollup as it was first written: a typed fold over
    * each partition's rows — the reference the column aggregate must equal. */
  private def typedRollup(rs: Seq[DocResult], snapshotId: Long): Set[PartitionMetric] =
    rs.groupBy(_.partition_id).map { case (pid, group) =>
      val codes = group.map(_.failure_code).filter(_.nonEmpty)
        .groupBy(identity).map { case (c, cs) => c -> cs.size.toLong }
      PartitionMetric(snapshotId, pid, group.map(_.doc_id).min, group.map(_.doc_id).max,
        group.size.toLong, group.map(_.n_pages.toLong).sum, group.map(_.n_spans.toLong).sum,
        group.count(!_.success).toLong, codes, group.map(_.kernel_nanos).sum / 1000000L)
    }.toSet

  test("partition metrics sum to corpus totals") {
    val docs = ExtractionPipeline.synthDocs(spark, 200, seed = 3, parallelism = 4)
    val results = ExtractionPipeline.extract(docs,
      ExtractionPipeline.Config(numPartitions = 6)).cache()
    val m = ExtractionPipeline.partitionMetrics(results, snapshotId = 1).collect()
    val rs = results.collect()
    assert(m.map(_.n_docs).sum == rs.length)
    assert(m.map(_.n_spans).sum == rs.map(_.n_spans.toLong).sum)
    assert(m.map(_.n_pages).sum == rs.map(_.n_pages.toLong).sum)
    assert(m.map(_.n_failures).sum == rs.count(!_.success))
    // the corpus must exercise the histogram: warn-level TRUNCATED rows
    assert(m.exists(_.failure_codes.contains(FailureCodes.Truncated)),
      m.map(_.failure_codes).mkString("; "))
    assert(m.toSet == typedRollup(rs.toSeq, snapshotId = 1))
    results.unpersist()
  }

  /** The buckets the manifest log lists as committed. */
  private def committedBuckets(dir: String): Set[Int] =
    Snapshot.snapshots(dir).flatMap(_._2.map(_.bucket)).toSet

  test("snapshot resume equals cold run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val coldDir = java.nio.file.Files.createTempDirectory("graft-cold").toString
    val docs = ExtractionPipeline.synthDocs(spark, 100, seed = 5, parallelism = 4).cache()
    val cfg = ExtractionPipeline.Config(numPartitions = 4)
    // a bucket or commit count below 1 is refused
    for ((nb, per) <- Seq((0, 2), (-1, 2), (8, 0)))
      intercept[IllegalArgumentException](
        Snapshot.run(docs, dir, cfg, nBuckets = nb, bucketsPerCommit = per))

    // cold run in one go
    Snapshot.run(docs, coldDir, cfg, nBuckets = 8, bucketsPerCommit = 8)
    // interrupted run: 1 commit (2 buckets), then resume
    val first = Snapshot.run(docs, dir, cfg, nBuckets = 8, bucketsPerCommit = 2, maxCommits = 1)
    assert(first.bucketsRun.size == 2)
    assert(committedBuckets(dir).size == 2)
    val second = Snapshot.run(docs, dir, cfg, nBuckets = 8, bucketsPerCommit = 2)
    assert(second.bucketsSkipped.toSet == first.bucketsRun.toSet)

    val resumed = canon(Snapshot.readResults(spark, dir).collect().toSeq)
    val cold = canon(Snapshot.readResults(spark, coldDir).collect().toSeq)
    assert(resumed == cold)
    assert(resumed.size == 100)

    // time travel: snapshot 0 sees exactly the first commit's docs, the
    // latest snapshot sees everything, and the manifest log matches
    val log = Snapshot.snapshots(dir)
    assert(log.map(_._1) == log.map(_._1).sorted && log.nonEmpty)
    val at0 = Snapshot.readAt(spark, dir, 0).collect()
    assert(at0.length == log.head._2.map(_.n_docs).sum,
      s"snapshot 0 row count vs its manifest lineage")
    assert(at0.length < 100, "older snapshot must not see later commits")
    assert(canon(Snapshot.readAt(spark, dir, log.last._1).collect().toSeq) == cold)
    assert(log.flatMap(_._2).map(_.n_docs).sum == 100)
    // lineage totals equal the totals of what readResults sees; wall_ms is
    // truncated per bucket, so it may fall short by < 1 ms per bucket
    val lineage = log.flatMap(_._2)
    val all = Snapshot.readResults(spark, dir).collect()
    assert(lineage.map(_.bucket).sorted == (0 until 8))
    assert(lineage.map(_.n_pages).sum == all.map(_.n_pages.toLong).sum)
    assert(lineage.map(_.n_spans).sum == all.map(_.n_spans.toLong).sum)
    assert(lineage.map(_.n_failures).sum == all.count(!_.success))
    val totalMs = all.map(_.kernel_nanos).sum / 1000000L
    assert(lineage.map(_.wall_ms).sum <= totalMs && lineage.map(_.wall_ms).sum > totalMs - 8)
    docs.unpersist()
  }

  test("a crash between a commit's data write and its manifest is invisible, " +
    "and the resume equals a cold run") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-crash").toString
    val coldDir = Files.createTempDirectory("graft-cold").toString
    val docs = ExtractionPipeline.synthDocs(spark, 100, seed = 5, parallelism = 4).cache()
    val cfg = ExtractionPipeline.Config(numPartitions = 4)
    Snapshot.run(docs, coldDir, cfg, nBuckets = 8, bucketsPerCommit = 8)
    Snapshot.run(docs, dir, cfg, nBuckets = 8, bucketsPerCommit = 2, maxCommits = 1)
    // the state a crash leaves after commit 1's parquet write and before its
    // manifest rename: data under snapshot=1, no manifest-1.json
    val committed = Paths.get(dir, "data", "snapshot=0")
    val orphan = Paths.get(dir, "data", "snapshot=1")
    val walk = Files.walk(committed)
    try walk.iterator().asScala.foreach(p =>
      Files.copy(p, orphan.resolve(committed.relativize(p).toString)))
    finally walk.close()
    assert(canon(Snapshot.readResults(spark, dir).collect().toSeq) ==
      canon(Snapshot.readAt(spark, dir, 0).collect().toSeq))

    // the retry reuses the uncommitted id 1 and overwrites snapshot=1
    Snapshot.run(docs, dir, cfg, nBuckets = 8, bucketsPerCommit = 2)
    val resumed = canon(Snapshot.readResults(spark, dir).collect().toSeq)
    assert(resumed == canon(Snapshot.readResults(spark, coldDir).collect().toSeq))
    assert(resumed.map(_._1).distinct.size == 100 && resumed.size == 100)
    assert(Snapshot.snapshots(dir).flatMap(_._2).map(_.bucket).sorted == (0 until 8))
    docs.unpersist()
  }

  /** A commit is one `DocSources.writeResults` directory: its write sorts
    * nothing, `data/snapshot=<k>/` holds part files only, at most one per
    * core slot, and `readAt(k)` reads back exactly the committed rows. */
  test("a snapshot commit is one flat, unsorted results directory that readAt reads back") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-flat").toString
    val docs = ExtractionPipeline.synthDocs(spark, 100, seed = 9, parallelism = 4).cache()
    val cfg = ExtractionPipeline.Config(numPartitions = 8)
    val commit0 = s"$dir/data/snapshot=0"
    val (sorts, plan) = SparkTestSession.writeSorts(commit0) {
      Snapshot.run(docs, dir, cfg, nBuckets = 8, bucketsPerCommit = 4): Unit
    }
    assert(sorts.isEmpty, s"the commit write sorts its rows:\n$plan")
    val subdirs = SparkTestSession.visibleSubdirs(commit0)
    assert(subdirs.isEmpty, s"commit 0 is not flat: ${subdirs.mkString(", ")}")
    val parts = new java.io.File(commit0).list().count(_.startsWith("part-"))
    assert(parts >= 1 && parts <= math.min(cfg.numPartitions, spark.sparkContext.defaultParallelism),
      s"$parts part files in commit 0")

    val log = Snapshot.snapshots(dir)
    assert(log.map(_._1) == Seq(0L, 1L))
    val at0 = Snapshot.readAt(spark, dir, 0).collect().sortBy(_.doc_id).toSeq
    assert(at0 == spark.read.parquet(commit0).as[DocResult].collect().sortBy(_.doc_id).toSeq)
    val buckets0 = log.head._2.map(_.bucket)
    assert(buckets0.sorted == (0 until 4))
    val subset = docs.filter(pmod(hash(col("doc_id")), lit(8)).isin(buckets0: _*))
    assert(canon(at0) == canon(ExtractionPipeline.extract(subset, cfg).collect().toSeq))
    assert(at0.size.toLong == log.head._2.map(_.n_docs).sum && at0.size < 100)
    docs.unpersist()
  }

  /** The manifest log's on-disk JSON as it has always been written (the
    * key names and order of `{snapshot_id, buckets: [{bucket, n_docs,
    * n_pages, n_spans, n_failures, wall_ms}]}`, pretty-printed): such a log
    * reads back with its lineage, and a fresh commit writes the same keys. */
  test("the manifest format is read back as written and a fresh commit keeps its keys") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-manifest").toString
    val log = java.nio.file.Paths.get(dir, "_snapshot")
    Files.createDirectories(log)
    Files.writeString(log.resolve("manifest-0.json"),
      """{
        |  "snapshot_id" : 0,
        |  "buckets" : [ {
        |    "bucket" : 3,
        |    "n_docs" : 12,
        |    "n_pages" : 31,
        |    "n_spans" : 140,
        |    "n_failures" : 1,
        |    "wall_ms" : 7
        |  }, {
        |    "bucket" : 0,
        |    "n_docs" : 9,
        |    "n_pages" : 20,
        |    "n_spans" : 88,
        |    "n_failures" : 0,
        |    "wall_ms" : 4
        |  } ]
        |}""".stripMargin)
    Files.writeString(log.resolve("manifest-1.json"),
      """{
        |  "snapshot_id" : 1,
        |  "buckets" : [ {
        |    "bucket" : 1,
        |    "n_docs" : 10,
        |    "n_pages" : 10,
        |    "n_spans" : 50,
        |    "n_failures" : 2,
        |    "wall_ms" : 0
        |  } ]
        |}""".stripMargin)
    Files.writeString(log.resolve(".manifest-2.tmp"), "{ torn")
    assert(Snapshot.snapshots(dir) == Seq(
      0L -> Seq(Snapshot.BucketLineage(3, 12, 31, 140, 1, 7),
        Snapshot.BucketLineage(0, 9, 20, 88, 0, 4)),
      1L -> Seq(Snapshot.BucketLineage(1, 10, 10, 50, 2, 0))))
    assert(committedBuckets(dir) == Set(0, 1, 3))

    val fresh = Files.createTempDirectory("graft-manifest").toString
    val docs = ExtractionPipeline.synthDocs(spark, 20, seed = 13, parallelism = 2)
    Snapshot.run(docs, fresh, ExtractionPipeline.Config(numPartitions = 2),
      nBuckets = 2, bucketsPerCommit = 2)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keys(dir: String): (Seq[String], Seq[Seq[String]]) = {
      val root = mapper.readTree(new java.io.File(dir, "_snapshot/manifest-0.json"))
      (root.fieldNames().asScala.toSeq,
        root.get("buckets").elements().asScala.map(_.fieldNames().asScala.toSeq).toSeq)
    }
    val (top, perBucket) = keys(fresh)
    assert(top == keys(dir)._1)
    assert(perBucket.size == 2 && perBucket.forall(_ == keys(dir)._2.head))
    assert(committedBuckets(fresh) == Set(0, 1))
  }

  /** A URI `outDir` names one store: its manifests land next to its data
    * under the directory the URI names, nothing appears in the working
    * directory, and a read through the URI equals one through the plain
    * path. */
  test("a file: URI snapshot store keeps its manifests with its data") {
    import java.nio.file.{Files, Paths}
    val cwd = new java.io.File(".").getCanonicalFile
    val before = cwd.list().toSet
    val tmp = Files.createTempDirectory("graft-uri").toString
    val uri = "file:" + tmp
    val docs = ExtractionPipeline.synthDocs(spark, 40, seed = 17, parallelism = 2)
    Snapshot.run(docs, uri, ExtractionPipeline.Config(numPartitions = 2),
      nBuckets = 4, bucketsPerCommit = 2)
    assert(Files.isRegularFile(Paths.get(tmp, "_snapshot", "manifest-0.json")))
    val stray = cwd.list().toSet -- before
    assert(stray.isEmpty, s"created in the working directory: ${stray.mkString(", ")}")
    assert(Snapshot.snapshots(uri).map(_._1) == Seq(0L, 1L))
    val viaUri = canon(Snapshot.readResults(spark, uri).collect().toSeq)
    assert(viaUri.size == 40)
    assert(viaUri == canon(Snapshot.readResults(spark, tmp).collect().toSeq))
  }

  test("markdown sink writes a doc_id header, then one line per span") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-md").toString
    val spans = Seq(Span("Title", "Report", "", 0),
      Span("Picture", "", "synth://img/1,2,3,4", 1), Span("Text", "body", "", 2))
    graft.sources.DocSources.writeMarkdown(
      Seq(DocResult("doc-7", spans, success = true, "", 3, 1, 0, 0L)).toDS(), dir)
    val lines = spark.read.text(dir).as[String].collect().toSeq
    assert(lines == Seq("doc-7", "Report", "![](synth://img/1,2,3,4)", "body"))
  }

  test("synth corpus is deterministic and heavy-tailed") {
    val a = (0L until 500L).map(Synth.docFor(Synth.DefaultSeed, _))
    val b = (0L until 500L).map(Synth.docFor(Synth.DefaultSeed, _))
    assert(a == b)
    val sizes = a.map(_.spans.size)
    assert(sizes.max > 20, s"expected a heavy tail, max=${sizes.max}")
    assert(sizes.count(_ <= 6) > 350, "most docs should be small")
  }
}
