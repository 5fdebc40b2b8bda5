package perfbench

import graft.SparkEntry
import graft.analytics.Scoring
import graft.corpus.{Fixtures, FromTable}
import graft.kernel.Extract
import graft.model.{Doc, DocResult, Kinds}
import graft.ops.Dedup
import graft.pipeline.{ExtractionPipeline, Snapshot}
import graft.sources.DocSources
import graft.streaming.IncrementalClusters
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Outcome of one output check: operations checked, operations that failed,
  * and a line per failure kind. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String]) {
  def +(o: Check): Check = Check(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

object Check {
  val empty: Check = Check(0, 0, Nil)
}

/** Per-document reference digests from direct kernel calls, and the compare
  * against a pipeline's output. */
object Ref {

  def digest(r: DocResult): Long = {
    val md = MessageDigest.getInstance("MD5")
    def put(s: String): Unit = {
      md.update(Option(s).getOrElse("\u0000").getBytes(UTF_8)); md.update(0x1f.toByte)
    }
    r.spans.foreach { s => put(s.kind); put(s.text); put(s.media_ref); put(s.offset.toString) }
    put(r.failure_code); put(r.success.toString); put(r.n_pages.toString); put(r.n_spans.toString)
    ByteBuffer.wrap(md.digest()).getLong
  }

  /** doc_id -> digest of `Extract.extractDoc`, and the total page count. */
  def reference(docs: Seq[Doc], threads: Int): (Map[String, Long], Long) = {
    val parts = docs.grouped(math.max(1, (docs.size + threads - 1) / threads)).toSeq
    val res = Await.result(Future.sequence(parts.map(p => Future(p.map { d =>
      val r = Extract.extractDoc(d)
      (d.doc_id, digest(r), r.n_pages.toLong)
    }))), Duration.Inf).flatten
    (res.map(t => t._1 -> t._2).toMap, res.map(_._3).sum)
  }

  /** Every reference doc must appear exactly once with its digest; a doc the
    * reference does not know is a failure too. */
  def compare(what: String, ref: Map[String, Long], got: Seq[(String, Long)]): Check = {
    val byId = got.groupBy(_._1)
    val missing = ref.keys.count(k => !byId.contains(k))
    val dup = byId.count(_._2.size > 1)
    val wrong = byId.count { case (k, v) => ref.get(k).exists(d => v.exists(_._2 != d)) }
    val extra = byId.keys.count(k => !ref.contains(k))
    val failed = missing + dup + wrong + extra
    val notes = Seq("missing" -> missing, "duplicated" -> dup, "digest mismatch" -> wrong,
      "unexpected doc" -> extra).collect { case (n, c) if c > 0 => s"$what: $c $n" }
    Check(ref.size + extra, failed, notes)
  }

  def readBack(spark: SparkSession, results: org.apache.spark.sql.Dataset[DocResult]): Seq[(String, Long)] = {
    import spark.implicits._
    results.map(r => (r.doc_id, digest(r))).collect().toSeq
  }

  /** The comparator must flag a dropped, a duplicated, a changed and a
    * foreign doc; returns the number of these it missed. */
  def selfCheck(): Int = {
    val ref = Map("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L)
    val clean = compare("toy", ref, ref.toSeq).failed == 0
    val cases = Seq(
      ref.toSeq.filterNot(_._1 == "a"),
      ref.toSeq :+ ("b" -> 2L),
      ref.toSeq.map { case (k, v) => if (k == "c") k -> (v + 1) else k -> v },
      ref.toSeq :+ ("z" -> 9L))
    (if (clean) 0 else 1) + cases.count(g => compare("toy", ref, g).failed != 1)
  }
}

/** One workload: input generation (untimed), one extraction pass over a
  * parquet corpus of docs — `readDocs` → `extract` (32 partitions) →
  * `writeResults` — and the check of its output doc by doc against direct
  * `Extract.extractDoc` calls. Subclasses write the corpus and may add a
  * golden check and, for traced runs, a probe of further layers. */
abstract class Workload(work: String, threads: Int) {
  protected val parts = 32
  protected val corpus = s"$work/corpus"
  private val out = s"$work/out"
  private var reference = (Map.empty[String, Long], 0L)
  protected def ref: Map[String, Long] = reference._1
  private var errors = Vector.empty[String]

  /** Writes the input docs as parquet to `corpus`. */
  protected def writeCorpus(spark: SparkSession): Unit
  /** Checks made once per run besides the pass output. */
  def golden(spark: SparkSession): Check = Check.empty
  /** Traced runs only: layer calls outside the pass, with their checks. */
  def probe(spark: SparkSession, rec: Recorder): (Map[String, Double], Check) = (Map.empty, Check.empty)

  def pages: Long = reference._2
  /** The first 2,000 input docs, read again from the corpus. */
  def sample(spark: SparkSession): Seq[Doc] = DocSources.readDocs(spark, corpus).collect().toSeq.take(2000)
  /** The operations that errored since the last call. */
  def errorCheck: Check = {
    val c = Check(0, errors.size, errors)
    errors = Vector.empty
    c
  }

  /** Writes the corpus and computes the reference digests. The docs are
    * not kept, so the heap measured at the end holds little of the
    * benchmark's own data. */
  def prepare(spark: SparkSession): Unit = {
    writeCorpus(spark)
    reference = Ref.reference(DocSources.readDocs(spark, corpus).collect().toSeq, threads)
  }

  def pass(spark: SparkSession): Unit =
    op(spark, "extract") {
      DocSources.writeResults(ExtractionPipeline.extract(DocSources.readDocs(spark, corpus),
        ExtractionPipeline.Config(numPartitions = parts)), out)
    }: Unit

  def check(spark: SparkSession): Check =
    Ref.compare("output", ref, Ref.readBack(spark, Workload.results(spark, out)))

  /** Full scan of the input through the sources layer. */
  def scan(spark: SparkSession): Unit =
    DocSources.readDocs(spark, corpus).write.format("noop").mode("overwrite").save()

  /** Kernel and sink numbers read from the last pass's output. */
  def extras(spark: SparkSession): Map[String, Double] = {
    val (bytes, files) = Workload.sinkSize(out)
    Workload.kernelNumbers(spark, Workload.results(spark, out)) ++
      Map("sink.bytes_written" -> bytes.toDouble, "sink.files_written" -> files.toDouble)
  }

  /** Runs `body` as operation `name`: its Spark jobs carry `name` as their
    * job group, and an exception is counted as a failed operation. */
  protected def op(spark: SparkSession, name: String)(body: => Unit): (String, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: $e")
      errors :+= s"$name errored: ${e.getClass.getSimpleName}"
    } finally sc.clearJobGroup()
    name -> (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  def apply(name: String, work: String, data: String, seed: Long, threads: Int): Workload =
    name match {
      case "extract-synth" => new ExtractSynth(work, seed, threads)
      case "extract-table" => new ExtractTable(work, data, threads)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Bytes and parquet part files under a sink directory. */
  def sinkSize(dir: String): (Long, Long) = {
    val parts = walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    (parts.map(_.length).sum, parts.size.toLong)
  }

  /** Bytes of every file under a directory. */
  def treeBytes(dir: String): Long = walk(new java.io.File(dir)).map(_.length).sum

  /** A `writeResults` directory read back as results (`success` is its
    * partition column, inferred as a string). */
  def results(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[DocResult] =
    spark.read.parquet(dir)
      .withColumn("success", org.apache.spark.sql.functions.col("success").cast("boolean"))
      .as(org.apache.spark.sql.Encoders.product[DocResult])

  def kernelNumbers(spark: SparkSession, results: org.apache.spark.sql.Dataset[DocResult]): Map[String, Double] = {
    import spark.implicits._
    val rows = results.map(r => (r.kernel_nanos, r.n_pages.toLong, r.n_spans.toLong, r.failure_code)).collect()
    val codes = rows.map(_._4).filter(_.nonEmpty).groupBy(identity).map { case (c, v) =>
      s"kernel.failure_code.$c" -> v.length.toDouble }
    codes ++ Map(
      "kernel.cpu_s" -> rows.map(_._1).sum / 1e9,
      "kernel.pages" -> rows.map(_._2).sum.toDouble,
      "kernel.spans_out" -> rows.map(_._3).sum.toDouble)
  }
}

/** The paper's headline: the seeded Synth corpus (heavy-tailed page counts;
  * layout-JSON, markdown and HTML pages). The corpus is the shortest prefix
  * of the seed's doc stream that holds `targetPages` pages, so every seed
  * brings the same amount of work despite the heavy tail. Traced runs add
  * snapshot commits over the same corpus. */
final class ExtractSynth(work: String, seed: Long, threads: Int) extends Workload(work, threads) {
  private val targetPages = 12000

  protected def writeCorpus(spark: SparkSession): Unit = {
    import spark.implicits._
    val perDoc = ExtractionPipeline.synthDocs(spark, targetPages.toLong, seed)
      .map(_.spans.count(_.kind != Kinds.MediaKind)).collect()
    val n = perDoc.scanLeft(0)(_ + _).indexWhere(_ >= targetPages) - 1
    require(n >= 0, s"seed $seed: no prefix holds $targetPages pages")
    ExtractionPipeline.synthDocs(spark, n + 1L, seed, parallelism = 16)
      .write.mode("overwrite").parquet(corpus)
  }

  /** The golden fixtures through the pipeline, scored by `spanVerdicts`. */
  override def golden(spark: SparkSession): Check = {
    import spark.implicits._
    val res = ExtractionPipeline.extract(Fixtures.inputDocs.toDS(),
      ExtractionPipeline.Config(numPartitions = 4))
    val verdicts = Scoring.spanVerdicts(res, Fixtures.expected.values.toSeq.toDS())
      .select("doc_id", "verdict").as[(String, String)].collect()
    val bad = verdicts.filter(_._2 != "PASS")
    Check(verdicts.length, bad.length, bad.map { case (d, v) => s"golden $d: $v" }.toSeq)
  }

  /** A `Snapshot.run` interrupted after half its commits, the resume that
    * finishes it, and `readResults`. The manifests must list every bucket
    * exactly once and the resumed result must equal the reference. */
  override def probe(spark: SparkSession, rec: Recorder): (Map[String, Double], Check) = {
    val buckets = 8
    val perCommit = 2
    val cfg = ExtractionPipeline.Config(numPartitions = parts)
    val dir = s"$work/snapshot"
    Workload.rm(new java.io.File(dir))
    rec.reset()
    val input = DocSources.readDocs(spark, corpus)
    val ops = Seq(
      op(spark, "snapshot.run") {
        Snapshot.run(input, dir, cfg, buckets, perCommit, maxCommits = buckets / perCommit / 2): Unit
      },
      op(spark, "snapshot.resume") { Snapshot.run(input, dir, cfg, buckets, perCommit): Unit },
      op(spark, "snapshot.readback") {
        Snapshot.readResults(spark, dir).write.format("noop").mode("overwrite").save()
      }).toMap
    val commitJobs = rec.jobList.filter(j => j.op == "snapshot.run" || j.op == "snapshot.resume")
    val commits = Snapshot.snapshots(dir)
    val listed = commits.flatMap(_._2.map(_.bucket)).sorted
    val cover = if (listed == (0 until buckets)) Check(1, 0, Nil)
      else Check(1, 1, Seq(s"snapshot manifests list buckets ${listed.mkString(",")}"))
    val check = cover + Ref.compare("snapshot resumed result", ref,
      Ref.readBack(spark, Snapshot.readResults(spark, dir)))
    val busy = Summaries.busy(commitJobs, 0L, Long.MaxValue)
    (Map(
      "pipeline.snapshot.commits" -> commits.size.toDouble,
      "pipeline.snapshot.run_s" -> ops("snapshot.run"),
      "pipeline.snapshot.resume_s" -> ops("snapshot.resume"),
      "pipeline.snapshot.readback_s" -> ops("snapshot.readback"),
      "pipeline.snapshot.jobs_s" -> busy,
      "pipeline.snapshot.driver_s" ->
        math.max(0.0, ops("snapshot.run") + ops("snapshot.resume") - busy)), check)
  }
}

/** Short single-page docs (`FromTable.docFromRow` over the generated
  * `documents` texts, about 0.5 KB a page): per-doc costs, small span arrays
  * through the codec, and every page-source type on short text. Traced runs
  * add probes over the small tables in `<data>/dedup`: the dedup queries
  * (`ops`) and the streaming cluster store (`streaming`), whose results the
  * runner compares with DuckDB, and the analytics queries (`analytics`),
  * which have no oracle and are compared pass to pass. */
final class ExtractTable(work: String, data: String, threads: Int) extends Workload(work, threads) {
  val queries: Seq[String] = Seq("d2_ngram_jaccard", "d4_lsh_pairs", "c2_semantic_curation")
  val analytics: Seq[String] = Seq("x4_golden_verdicts", "x5_field_outcomes", "x6_field_scores")
  val streaming = "d8_incremental_clusters"
  private val tables = s"$data/dedup"
  private val dump = s"$work/dump"

  protected def writeCorpus(spark: SparkSession): Unit =
    FromTable.docs(spark, data).write.mode("overwrite").parquet(corpus)

  /** AQE is on for the probes, as the analytics battery runs them. */
  override def probe(spark: SparkSession, rec: Recorder): (Map[String, Double], Check) = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val (q, check) = queryProbe(spark, rec)
      (q ++ streamingProbe(spark, rec), check)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dumpTo(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")

  /** Each query three times: captured (dedup results written for the DuckDB
    * check, analytics rows collected), timed through the noop sink, and
    * captured again. The two captures of an analytics query must agree, and
    * x4's verdicts on the golden fixtures must all be PASS. */
  private def queryProbe(spark: SparkSession, rec: Recorder): (Map[String, Double], Check) = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dump))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(s"$dump/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) || k == streaming }.asJava)
    val all = queries ++ analytics
    def run(sink: (DataFrame, String) => Unit) =
      all.map(q => op(spark, q) { sink(SparkEntry.queries(q)(spark, tables), q) }).toMap
    val rows = scala.collection.mutable.Map.empty[String, Vector[Seq[Row]]]
    def capture(df: DataFrame, q: String): Unit =
      if (analytics.contains(q)) rows(q) = rows.getOrElse(q, Vector.empty) :+ df.collect().toSeq
      else dumpTo(df, q)
    run(capture)
    rec.reset()
    val walls = run((df, _) => noop(df))
    val perQuery = Summaries.perOp(rec.taskList)
    val exch = all.map(q => s"query.$q.exchanges" ->
      Plans.exchanges(SparkEntry.queries(q)(spark, tables)).toDouble)
    run(capture)
    val unstable = analytics.filter(q => rows.get(q).exists(v =>
      v.size == 2 && v(0).map(_.toString).sorted != v(1).map(_.toString).sorted))
    val notPass = rows.get("x4_golden_verdicts").flatMap(_.lastOption).toSeq.flatten
      .filter(_.getAs[String]("verdict") != "PASS").map(r => s"x4_golden_verdicts: ${r.getAs[String]("doc_id")} not PASS")
    val check = Check(analytics.size, unstable.size + (if (notPass.nonEmpty) 1 else 0),
      unstable.map(q => s"$q: rows differ pass to pass") ++ notPass)
    val geo = math.exp(walls.values.map(math.log).sum / walls.size)
    (perQuery ++ exch ++ walls.map { case (q, t) => s"query.${q}_s" -> t } +
      ("query.geomean_s" -> geo), check)
  }

  /** The streaming layer as the d8 query drives it: the d4 pair graph split
    * into three drops, each folded into a fresh label store by
    * `IncrementalClusters.update`, then `currentLabels`. The query itself
    * puts its store outside the working directory, so this calls the layer
    * directly with the store in the run's directory, under the same
    * settings (AQE off, 8 shuffle partitions around the updates). Run twice:
    * the first result is written for the DuckDB check (d8's oracle), the
    * second is timed. The store left behind by one run is measured, then
    * deleted. */
  private def streamingProbe(spark: SparkSession, rec: Recorder): Map[String, Double] = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val store = s"$work/d8-store"
    def once(sink: DataFrame => Unit): Double = {
      Workload.rm(new java.io.File(store))
      op(spark, streaming) {
        val pairs = Dedup.lshNearDupPairs(Dedup.minhashSignatures(
          spark.read.parquet(s"$tables/documents.parquet"))).select("doc_a", "doc_b").persist()
        val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
        try {
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          spark.conf.set("spark.sql.shuffle.partitions", "8")
          (0 to 2).foreach { i =>
            IncrementalClusters.update(pairs.filter(pmod(col("doc_b"), lit(3)) === i), store, i)
          }
        } finally {
          pairs.unpersist()
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
        }
        sink(IncrementalClusters.currentLabels(spark, store))
      }._2
    }
    once(dumpTo(_, streaming))
    rec.reset()
    val wall = once(noop)
    val jobs = rec.jobList.count(_.op == streaming)
    val stats = Summaries.perOp(rec.taskList.filter(_.op == streaming))
    val retainedMb = Workload.treeBytes(store) / (1024.0 * 1024.0)
    Workload.rm(new java.io.File(store))
    stats ++ Map(s"query.${streaming}_s" -> wall, s"query.$streaming.jobs" -> jobs.toDouble,
      "streaming.store_mb_retained" -> retainedMb)
  }
}
