package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in one JVM.
  *
  *   perfbench.Main --workload W --seed N --seconds T --trace 0|1
  *     --work DIR --data DIR --out FILE --hi CPUS --pin-hi LIST --pin-lo LIST
  *     --taskset PATH|none
  *
  * Phases: a `local[hi]` session pinned to `hi` cores (its start plus the
  * warm-up passes are the set-up time; input generation in between is not),
  * timed passes of the identical job on all `hi` cores (each after a
  * `HostProbe`, to read host speed) and, with every
  * thread of the same warm session re-pinned by `taskset`, on one core, then
  * traced passes when asked. The output of a warm-up pass, of the last
  * timed pass and of the last traced pass is checked, and an operation that
  * errors in any phase counts as failed. The numbers go to `--out` as JSON
  * for the runner.
  */
object Main {

  private def now(): Double = System.nanoTime() / 1e9

  /** Passes of the set-up after input generation: the kernel and Spark's
    * generated code keep getting faster for about this many passes. The
    * first output check runs before the last `settlePasses` of them: the
    * pass right after a check is about a fifth slower. */
  private val warmupPasses = 8
  private val settlePasses = 2

  /** The extraction job's session; AQE is off as in `graft.Bench`'s scaling
    * workers (a fixed two-stage job gives it nothing to adapt). */
  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.io.compression.zstd.level", "1")
      .config("spark.shuffle.file.buffer", "256k")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Re-pin every thread of this JVM; threads started later inherit it.
    * taskset fails when a thread exits while it walks the thread list, so
    * it retries. */
  private def pin(taskset: String, cpus: String): Unit =
    if (taskset != "none") {
      val pid = ProcessHandle.current().pid().toString
      def attempt() = new ProcessBuilder(taskset, "-a", "-p", "-c", cpus, pid)
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor() == 0
      var tries = 1
      while (!attempt()) {
        require(tries < 20, s"taskset -a -p -c $cpus failed")
        tries += 1
        Thread.sleep(100)
      }
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Timed passes, interleaved so that slow spells on the host fall on
    * both core counts alike: rounds of three passes on all `hi` cores, each
    * right after a host probe on `hi` threads, and one pass with every
    * thread pinned to one core, until `budget` seconds have gone and at
    * least `minRounds` rounds ran. Ends pinned to `hi` cores.
    * Returns (walls on hi cores, walls on one core, probe walls). */
  private def interleaved(w: Workload, spark: SparkSession, budget: Double, minRounds: Int,
                          taskset: String, pinHi: String, pinLo: String, hi: Int)
      : (Seq[Double], Seq[Double], Seq[Double]) = {
    val hiWalls = Vector.newBuilder[Double]
    val loWalls = Vector.newBuilder[Double]
    val probes = Vector.newBuilder[Double]
    def timed(): Double = { val s = now(); w.pass(spark); now() - s }
    val t0 = now()
    var n = 0
    while (n < minRounds || now() - t0 < budget) {
      (1 to 3).foreach { _ => probes += HostProbe.once(hi); hiWalls += timed() }
      pin(taskset, pinLo)
      loWalls += timed()
      pin(taskset, pinHi)
      n += 1
    }
    (hiWalls.result(), loWalls.result(), probes.result())
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tStart = now()
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val hi = a("hi").toInt
    val work = a("work")
    val w = Workload(a("workload"), work, a("data"), a("seed").toLong, hi)
    val out = new java.util.LinkedHashMap[String, Any]()
    val jvmCpus = Runtime.getRuntime.availableProcessors()

    // ---- set-up at local[hi]: session start + warm-up (generation excluded)
    val t0 = now()
    val spark = session(hi, work)
    val sessionS = now() - t0
    val tg = now()
    w.prepare(spark)
    val genS = now() - tg
    val tw = now()
    (1 to warmupPasses - settlePasses).foreach(_ => w.pass(spark))
    val tc = now()
    var check = w.check(spark) + w.golden(spark)
    val checkHiS = now() - tc
    (1 to settlePasses).foreach(_ => w.pass(spark))
    val setupS = sessionS + (now() - tw) - checkHiS

    // ---- timed passes on hi cores and on one core, interleaved
    val tm = now()
    // the first probes build the probe's array and get its code compiled
    (1 to 5).foreach(_ => HostProbe.once(hi))
    val (hiWalls, loWalls, probes) =
      interleaved(w, spark, seconds, 3, a("taskset"), a("pin-hi"), a("pin-lo"), hi)
    val measureS = now() - tm
    HostProbe.release()
    check = check + w.check(spark) + w.errorCheck

    // ---- traced passes: listener + per-operation spans, drained per pass.
    // Each traced pass is paired with an untraced one, in alternating order,
    // so the overhead is not swamped by the session still warming up.
    val layers = new java.util.LinkedHashMap[String, Any]()
    if (trace) {
      val rec = new Recorder(spark)
      val perPass = Vector.newBuilder[Map[String, Double]]
      val overheads = Vector.newBuilder[Double]
      def plain(): Double = { val s = now(); w.pass(spark); now() - s }
      def traced(): Double = {
        rec.attach()
        rec.reset()
        val s = System.currentTimeMillis()
        w.pass(spark)
        val e = System.currentTimeMillis()
        perPass += Summaries.pass(rec.taskList, rec.jobList, s, e)
        rec.detach()
        (e - s) / 1000.0
      }
      (1 to 3).foreach { i =>
        overheads += (if (i % 2 == 1) { val p = plain(); traced() - p } else { val t = traced(); t - plain() })
      }
      check = check + w.check(spark)
      rec.attach()
      val (probed, probeCheck) = w.probe(spark, rec)
      check = check + probeCheck
      probed.foreach { case (k, v) => layers.put(k, v) }
      rec.detach()
      val passes = perPass.result()
      passes.flatMap(_.keys).distinct.sorted.foreach { k =>
        layers.put(k, passes.map(_.getOrElse(k, 0.0)).sum / passes.size)
      }
      layers.put("trace.overhead_s", Summaries.median(overheads.result()))
      val ts = now(); w.scan(spark); layers.put("sources.scan_s", now() - ts)
      val ex = w.extras(spark)
      ex.foreach { case (k, v) => layers.put(k, v) }
      ex.get("kernel.cpu_s").foreach(k =>
        layers.put("kernel.share", k / math.max(1e-9, layers.get("stage.executor_cpu_s").asInstanceOf[Double])))
      val sample = w.sample(spark)
      (Micro.codec(sample, 0.3) ++ Micro.kernel(sample, 0.3)).foreach { case (k, v) => layers.put(k, v) }
      check = check + w.errorCheck
    }
    // collector pause time of the whole run, before the explicit collection
    if (trace) layers.put("jvm.gc_s", java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0)
    // heap still live after a full collection, with the session open; of
    // the benchmark's own data only the reference digests are still held
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    spark.stop()

    val selfMissed = Ref.selfCheck()
    if (selfMissed > 0) check = check + Check(0, 0, Seq(s"self-check: comparator missed $selfMissed toy faults"))

    out.put("walls_hi", hiWalls.asJava)
    out.put("walls_lo", loWalls.asJava)
    out.put("probes", probes.asJava)
    out.put("session_s", sessionS)
    out.put("setup_s", setupS)
    out.put("generate_s", genS)
    out.put("warmup_passes", warmupPasses)
    out.put("pages", w.pages)
    out.put("attempted", check.attempted)
    out.put("failed", check.failed)
    out.put("notes", check.notes.asJava)
    out.put("self_check_ok", selfMissed == 0)
    out.put("peak_rss_mb", peakRssMb())
    out.put("retained_heap_mb", retainedMb)
    out.put("layers", layers)
    out.put("env", Map(
      "jvm_cpus" -> jvmCpus.toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString).asJava)
    out.put("jvm_s", now() - tStart)
    out.put("phases", Map("session" -> sessionS, "generate" -> genS, "setup" -> setupS,
      "first_check" -> checkHiS, "measure" -> measureS).asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(a("out")), out)
    // lingering non-daemon pool threads must not hold the process open
    System.exit(0)
  }
}
