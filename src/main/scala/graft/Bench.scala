package graft

import graft.pipeline.ExtractionPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark driver. Two phases, one JSON line on stdout:
  *
  *  1. **Scaling** (BASELINE.json contract): the identical extraction job —
  *     same in-pipeline synthetic corpus, same partition count — at
  *     `local[N]` and `local[4N]` (default N=2: see the DRAM-ceiling note
  *     in BASELINE.md), each level in its OWN child JVM
  *     with `-XX:ActiveProcessorCount=N` so GC/JIT/common-pool threads are
  *     sized to the simulated core count (otherwise the JVM quietly uses
  *     all 32 host cores for GC and the levels are not comparable).
  *     Per level: 2 full warmup runs (C2 compilation), then 9 interleaved
  *     lo/hi pass-pairs (SPARK_GRAFT_BENCH_PASSES) with declared-noise
  *     pairs discarded and replaced (bounded by
  *     SPARK_GRAFT_BENCH_MAX_EXTRA). Efficiency = ratio of per-level
  *     minimum walls / core ratio, target ≥ 0.8.
  *  2. **Headline queries**: every SparkEntry query against
  *     $SPARK_GRAFT_SF_DIR at local[$SPARK_GRAFT_CPUS], forced through the
  *     noop sink so projections/joins actually execute.
  */
object Bench {

  /** `aqeDefault`: the scaling-level workers run with AQE OFF — the
    * extraction pass runs the kernel in the tasks of 64 uniform synthetic
    * partitions and folds one count, so AQE has nothing to adapt, while its
    * per-query-stage materialize + replan barrier adds ~0.3-0.5 s of driver-
    * side latency per shuffle boundary that does NOT scale with cores
    * (measured: hi-level wall 7.0 → 5.8 s, lo 23.9 → 21.7 s; component
    * A/B shows the shuffle stage scaling at ~1.0 without the barrier vs
    * 0.74 with it). A constant per-pass cost inflates the N-core/4N-core
    * ratio's denominator share, understating true engine scaling — and on
    * a real cluster the same job is long enough that the barrier
    * amortizes away. The analytics battery keeps AQE on (its joins
    * genuinely benefit from runtime re-planning and skew handling). */
  private[graft] def session(cpus: Int, app: String,
                             aqeDefault: String = "true"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.sql.shuffle.partitions", math.max(cpus, 32).toString)
      // shuffle bytes ride the one shared DRAM bus on this box (tmpfs local
      // dirs): zstd halves the shuffle volume vs lz4 for a little extra CPU
      // — CPU is the resource that scales with cores, the bus is not, so
      // the trade directly improves multi-core scaling; bigger file buffers
      // cut syscall/page-fault churn on the same path
      .config("spark.io.compression.codec", "zstd")
      .config("spark.io.compression.zstd.level", "1")
      .config("spark.shuffle.file.buffer", "256k")
      .config("spark.sql.adaptive.enabled", aqeDefault)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // keep AQE active INSIDE cached plans: by default Spark compiles the
      // plan under an InMemoryRelation without AQE (so the cache's output
      // partitioning can't change), which silently cost d7's persisted
      // pair pipeline the 2.5x AQE win on the banded self-join at the 10x
      // corpus (14.8s -> 36.5s). Nothing here depends on cache output
      // partitioning staying fixed.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.cleaner.periodicGC.interval", "20s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JDK17 module opens required by Spark outside spark-submit (same list
    * as build.sbt / org.apache.spark.launcher.JavaModuleOptions). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** One interactive scaling-level worker: a child JVM hard-pinned to
    * exactly `level` host cores (`taskset -c from-(from+level-1)`) that
    * runs one full extraction pass per "pass" command on stdin.
    *
    * Pinning: `-XX:ActiveProcessorCount` alone only *sizes* thread pools —
    * it does not stop the "2-core" JVM's GC/JIT/OS threads from borrowing
    * the 30 idle host cores, which inflates low-level throughput ~8%
    * (measured) and understates the scaling ratio. Pinning makes each
    * level a faithful N-core machine. The two levels get DISJOINT core
    * sets when the box is big enough, so the momentarily-idle JVM cannot
    * perturb the measuring one. */
  private final class LevelWorker(level: Int, pinFrom: Int, docs: Long, parts: Int) {
    private val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // resolve taskset from PATH, not a hardcoded location — silently
    // unpinned levels would quietly inflate the low-level throughput ~8%
    private val tasksetBin = (sys.env.getOrElse("PATH", "").split(':').toSeq :+ "/usr/bin")
      .map(dir => new _root_.java.io.File(dir, "taskset"))
      .find(_.canExecute).map(_.getAbsolutePath)
    if (tasksetBin.isEmpty)
      System.err.println("[bench] WARNING: taskset not found — levels run " +
        "UNPINNED; scaling efficiency will be overstated on idle hosts")
    private val taskset = tasksetBin.toSeq.flatMap(t =>
      Seq(t, "-c", s"$pinFrom-${pinFrom + level - 1}"))
    private val cmd = taskset ++ Seq(javaBin, s"-XX:ActiveProcessorCount=$level",
      s"-Xmx${sys.env.getOrElse("SPARK_GRAFT_WORKER_MEM", "48g")}",
      "-XX:G1HeapRegionSize=32m", // monster docs allocate multi-MB arrays;
      // bigger regions keep them out of the humongous-fragmentation path
      "-Dspark.ui.enabled=false") ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.BenchWorker", level.toString, docs.toString, parts.toString)
    private val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    private val proc = pb.start()
    private val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    private val out = new java.io.PrintWriter(proc.getOutputStream, true)

    private def await(prefix: String): String = {
      var line = in.readLine()
      while (line != null && !line.startsWith(prefix)) line = in.readLine()
      require(line != null, s"level $level worker died (wanted $prefix)")
      line
    }
    await("READY")

    def warmup(): Unit = { out.println("warmup"); await("OK"): Unit }

    /** One timed pass: (wall_sec, pages, docs, spans). */
    def pass(): (Double, Long, Long, Long) = {
      out.println("pass")
      val kv = await("PASS ").stripPrefix("PASS ").split("\\s+")
        .map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap
      (kv("wall").toDouble, kv("pages").toLong, kv("docs").toLong, kv("spans").toLong)
    }

    /** Graceful quit with a hard-kill fallback: a worker that died mid-run
      * (OOM) or hangs on shutdown must not leak a pinned 48g JVM for the
      * rest of the bench process lifetime. */
    def quit(): Unit = {
      try {
        out.println("quit")
        if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
          proc.destroyForcibly(): Unit
      } catch { case _: Throwable => proc.destroyForcibly(): Unit }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Default pair N=2 vs 4N=8: on this single 32-core box the extraction
    // workload saturates DRAM bandwidth above ~8-16 cores (string-heavy
    // kernel), so 8→32 measures the memory bus, not the engine; 2→8 stays
    // in the CPU-bound regime a real multi-node cluster would see at any
    // size. Both pairs are reported in BASELINE.md.
    val nLo = sys.env.getOrElse("SPARK_GRAFT_N_LO", "2").toInt
    val nHi = sys.env.getOrElse("SPARK_GRAFT_N_HI", "8").toInt
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "300000").toLong
    // task granularity: nHi*8 tasks (8 waves at the high level) — big
    // enough tasks that the single-threaded DAGScheduler dispatch loop
    // stays off the critical path (512 micro-tasks cost ~1-2s of pure
    // driver time), small enough that stragglers level out. Measured A/B:
    // 128 parts leaves the high level's wall unchanged (7.26 -> 7.21 s) but
    // slows the LOW level 17% on pure per-task overhead — which would
    // inflate the efficiency ratio for free; the throughput-optimal config
    // is the honest one, so 64 stays.
    val parts = nHi * 8
    val tScale0 = System.nanoTime()

    // ---- phase 1: scaling, measured as INTERLEAVED PASS-PAIRS ----
    // Running all low-level passes then all high-level passes makes the
    // efficiency ratio hostage to hypervisor noisy-neighbor windows that
    // last minutes: the two levels sample different environments and the
    // ratio of their bests is meaningless when one level's whole window was
    // slow (observed: adjacent identical passes at 11s and 81s). Instead
    // both pinned worker JVMs stay alive (disjoint core sets when the box
    // allows, so the idle one cannot perturb the measuring one) and passes
    // alternate lo,hi,lo,hi,... — each adjacent pair samples the same noise
    // environment. Headline efficiency = ratio of per-level minimum walls
    // (see below); per-pair efficiencies are reported alongside.
    //
    // SPARK_GRAFT_BENCH_SKIP_SCALING=1: battery-only mode for ad-hoc runs
    // against alternative sf dirs (e.g. the 10x scale-confidence corpus);
    // the output then carries "scaling_skipped":true and NO scaling keys,
    // so a battery-only record can never be mistaken for a full-protocol
    // run.
    val skipScaling = sys.env.get("SPARK_GRAFT_BENCH_SKIP_SCALING").contains("1")
    // Noise-window rejection (declared up front, symmetric): host noise is
    // additive and non-negative, so a pass wall more than `noiseK`× the
    // minimum observed for the IDENTICAL deterministic job is measuring a
    // hypervisor noisy-neighbor window, not the engine. A pair with either
    // wall noise-flagged is excluded from the per-pair efficiency stats —
    // an inflated lo wall overstates the pair's efficiency, an inflated hi
    // wall understates it; both directions are rejected — and one
    // replacement pair runs per discard (bounded by maxExtra). The
    // headline min-wall estimator is unaffected either way (a discarded
    // pass can never hold a minimum).
    val noiseK = 2.5
    val allPairs = scala.collection.mutable.ArrayBuffer
      .empty[((Double, Long, Long, Long), (Double, Long, Long, Long))]
    def validIdx: Seq[Int] =
      if (allPairs.isEmpty) Seq.empty
      else {
        val minLo = allPairs.map(_._1._1).min
        val minHi = allPairs.map(_._2._1).min
        allPairs.indices.filter(i =>
          allPairs(i)._1._1 <= noiseK * minLo && allPairs(i)._2._1 <= noiseK * minHi)
      }
    if (!skipScaling) {
      val pinHi = if (nLo + nHi <= Runtime.getRuntime.availableProcessors()) nLo else 0
      val loW = new LevelWorker(nLo, 0, benchDocs, parts)
      val hiW = new LevelWorker(nHi, pinHi, benchDocs, parts)
      try {
        // 9 pairs: per-level minima over 9 interleaved passes tolerate
        // several noise-hit passes (measured pass spread on this sandbox is
        // wide — hypervisor neighbors), and the pair-median criterion needs
        // enough clean pairs to be meaningful
        val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "9").toInt
        val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA", "4").toInt
        // hard wall-clock cap on the scaling phase: replacement pairs must
        // not be able to push the whole bench past an external runner's
        // timeout — a bounded record with a couple of noise pairs beats a
        // killed run with none. 9 planned pairs cost ~360 s incl. warmups;
        // the cap only bites when noise already forced extras.
        val maxScaleSec = 420
        (1 to 2).foreach { _ => loW.warmup(); hiW.warmup() } // C2 compilation
        var i = 0
        while ((i < passes || validIdx.size < passes) && i < passes + maxExtra &&
               (i < passes || (System.nanoTime() - tScale0) / 1e9 < maxScaleSec)) {
          val lo = loW.pass()
          val hi = hiW.pass()
          allPairs += ((lo, hi))
          i += 1
          System.err.println(f"[bench] pair $i: lo=${lo._1}%.2fs hi=${hi._1}%.2fs " +
            f"eff=${(lo._1 / hi._1) / (nHi.toDouble / nLo)}%.4f " +
            f"(valid ${validIdx.size}/${allPairs.size})")
        }
      } finally { loW.quit(); hiW.quit() }
    }

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    // same page count both levels ⇒ efficiency = wall ratio / core ratio.
    // Headline = ratio of per-level MINIMUM walls over ALL passes:
    // hypervisor noise is additive and non-negative, so the min over k
    // interleaved passes is a consistent estimator of each level's
    // noise-free wall (and both minima sample the same overall window
    // thanks to the pairing). Per-pair efficiencies (over the noise-
    // filtered pairs) are emitted alongside; note an unfiltered pair
    // median is systematically biased DOWN by short noise bubbles — a
    // +2 s bubble costs a 6 s pass 33% but a 22 s pass 9%, so the pair
    // ratio degrades whenever the high level is hit.
    val keep = validIdx
    // degenerate guard: under perfectly anti-correlated noise every pair
    // can end up flagged (each inflated on one side relative to the other
    // pairs' minima) — per-pair stats are garbage in that regime, but the
    // run must still emit its record (the min-wall headline is unaffected),
    // so fall back to the unfiltered pairs rather than crash on empty stats
    val pairs = if (keep.nonEmpty) keep.map(allPairs)
                else allPairs.toSeq
    val discarded = allPairs.size - (if (keep.nonEmpty) keep.size else allPairs.size)
    val (nPages, nDocs, nSpans) =
      if (allPairs.isEmpty) (0L, 0L, 0L)
      else (allPairs.head._1._2, allPairs.head._1._3, allPairs.head._1._4)
    val effPairs = pairs.map { case (lo, hi) => (lo._1 / hi._1) / (nHi.toDouble / nLo) }
    val wallLo = if (allPairs.isEmpty) 1.0 else allPairs.map(_._1._1).min
    val wallHi = if (allPairs.isEmpty) 1.0 else allPairs.map(_._2._1).min
    val eff = (wallLo / wallHi) / (nHi.toDouble / nLo)
    val tpLo = nPages / wallLo
    val tpHi = nPages / wallHi
    val scaleSec = (System.nanoTime() - tScale0) / 1e9

    // ---- phase 2: headline queries on the sf dir ----
    val spark = session(cpus, "graft-bench-queries")
    // untimed session warmup: without it the alphabetically-first query
    // (d1) absorbs all one-time costs — codegen compiler init, first-job
    // scheduler paths, parquet footer reads — and reads ~6s for a 0.5s
    // aggregation. Steady-state per-query numbers are the useful ones.
    // warmup failures must not abort the whole bench (a bad sf dir already
    // marks individual queries -1.0 below; the warmup is best-effort)
    try {
      spark.range(1000000L).selectExpr("count(distinct id)").collect()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("count(md5(text))").collect()
      // compile the expression palette the first queries use (higher-order
      // filters, big CASE chains, semi-join codegen) on a tiny slice —
      // otherwise whichever query sorts first absorbs ~5-7s of one-time
      // codegen that misreads as operator cost
      val w = spark.read.parquet(s"$sfDir/documents.parquet").limit(256)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.qualityLabelCol(col("text")).as("q"),
          graft.ops.TextAnalysis.langIdCol(col("text")).as("l"),
          md5(col("text").cast("binary")).as("h"))
      w.join(w.groupBy("h").agg(min("doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi").count()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] warmup failed (continuing): ${e.getMessage}")
    }
    // two passes, best-of-2 per query: pass 1 pays each query's one-time
    // Janino/JIT compilation of its generated stages (~6s for the largest
    // plans — a per-plan cost no generic warmup can precompile), pass 2 is
    // the steady-state number an analytics deployment sees. queryWall
    // accumulates both passes (including failed attempts).
    val queryTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var queryWall = 0.0
    // SPARK_GRAFT_BENCH_ONLY=d7_dup_clusters,d4_lsh_pairs — ad-hoc subset
    // runs for isolating one query's cost; SPARK_GRAFT_BENCH_ONLY=none
    // skips the battery entirely (scaling-only runs). Never set by the
    // driver.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    (1 to 2).foreach { _ =>
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          queryWall += sec
          // best valid time wins; a success always displaces an earlier
          // failure marker (and a later failure never erases a valid time)
          queryTimes(name) =
            math.min(queryTimes.get(name).filter(_ >= 0).getOrElse(Double.MaxValue), sec)
        } catch {
          case e: Throwable =>
            queryWall += (System.nanoTime() - t0) / 1e9 // failed time is still spent
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            if (!queryTimes.get(name).exists(_ >= 0)) queryTimes(name) = -1.0
        }
      }
    }
    spark.stop()

    def f(d: Double) = "%.4f".format(d)
    val extras =
      // allPairs can be empty without skipScaling (SPARK_GRAFT_BENCH_PASSES=0):
      // emit the skipped marker instead of crashing on median(empty) after
      // the whole query battery already ran
      if (skipScaling || allPairs.isEmpty) Seq(""""scaling_skipped":true""")
      else Seq(
        s""""extract_wall_sec_n$nLo":${f(wallLo)}""",
        s""""extract_wall_sec_n$nHi":${f(wallHi)}""",
        s""""pages_per_sec_n$nLo":${f(tpLo)}""",
        s""""pages_per_sec_n$nHi":${f(tpHi)}""",
        s""""docs_per_sec_n$nLo":${f(nDocs / wallLo)}""",
        s""""docs_per_sec_n$nHi":${f(nDocs / wallHi)}""",
        s""""spans_per_sec_n$nHi":${f(nSpans / wallHi)}""",
        s""""scaling_efficiency":${f(eff)}""",
        s""""scaling_efficiency_median_pair":${f(median(effPairs))}""",
        s""""scaling_efficiency_best_pair":${f(effPairs.max)}""",
        s""""scaling_efficiency_worst_pair":${f(effPairs.min)}""",
        s""""scaling_pairs":${effPairs.length}""",
        s""""scaling_pairs_discarded":$discarded""",
        s""""median_wall_sec_n$nLo":${f(median(pairs.map(_._1._1)))}""",
        s""""median_wall_sec_n$nHi":${f(median(pairs.map(_._2._1)))}""",
        s""""bench_docs":${benchDocs}""",
        s""""bench_pages":${nPages}""")
    val qs = (queryTimes.map { case (k, v) => s""""$k":${f(v)}""" } ++ extras)
      .mkString("{", ",", "}")
    val total = queryWall + scaleSec
    println(s"""{"metric":"pages_per_sec@N=$nHi","value":${f(tpHi)},"unit":"pages/sec","total_sec":${f(total)},"queries":$qs,"sf":"$sfDir"}""")
  }
}

/** Child-JVM worker: one pinned scaling level, driven over stdin by
  * [[Bench.LevelWorker]]. Commands: `warmup` (untimed pass → "OK"),
  * `pass` (timed pass → "PASS wall=.. pages=.. docs=.. spans=.."),
  * `quit`. Each pass rebuilds the Dataset from scratch — re-collecting a
  * cached DataFrame would let AQE reuse the already-materialized shuffle
  * stages and silently skip the generate+shuffle work being measured.
  * Args: `<level> <docs> <parts>`; the corpus is generated in-pipeline
  * (`ExtractionPipeline.synthDocs`), so both levels see identical docs. */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val Array(levelS, docsS, partsS) = args
    val level = levelS.toInt
    val parts = partsS.toInt
    val spark = Bench.session(level, s"graft-bench-l$level", aqeDefault = "false")

    def onePass(): (Double, Long, Long, Long) = {
      val docs = ExtractionPipeline.synthDocs(spark, docsS.toLong, parallelism = parts)
      val t0 = System.nanoTime()
      val row = ExtractionPipeline.extract(docs,
        ExtractionPipeline.Config(numPartitions = parts))
        .agg(count(lit(1)), sum("n_pages"), sum("n_spans"))
        .collect()(0)
      ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1), row.getLong(2))
    }
    def gcPause(): Unit = { System.gc(); Thread.sleep(300) }

    println("READY")
    System.out.flush()
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var done = false
    while (!done) {
      stdin.readLine() match {
        case null | "quit" => done = true
        case "warmup" =>
          onePass(); gcPause()
          println("OK"); System.out.flush()
        case "pass" =>
          val (wall, nDocs, nPages, nSpans) = onePass()
          gcPause() // settle the heap BEFORE handing the bus to the peer
          println(s"PASS wall=$wall pages=$nPages docs=$nDocs spans=$nSpans")
          System.out.flush()
        case other =>
          System.err.println(s"[bench-l$level] unknown command: $other")
      }
    }
    spark.stop()
  }
}
