package graft

/** Extra (non-contract) measurement mains for optimization rounds — the
  * guide §1.4 noop-sink isolation harness. NOT part of the driver's bench
  * contract (`graft.Bench` is frozen); numbers from here are cited in
  * OPTIMIZATION_r*.md only.
  *
  * Usage:
  *   graft.BenchExtra iso <sfDir> <n> <query>[,<query>...]
  *     — run each named SparkEntry query n times through the noop sink,
  *       print per-run seconds (same session config as the bench battery).
  *   graft.BenchExtra explain-final <sfDir> <outDir> <query>[,...]
  *     — run each query through a drain first, then write its FINAL
  *       adaptive plan to <outDir>/<query>.final.txt
  *
  * Pre-execution plans come from `graft.Plans`; per-job wall times from
  * perfbench's traced runs (job-group spans).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = args(1)
    val spark = Bench.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, s"graft-extra-$mode")

    mode match {
      case "iso" =>
        val n = args(2).toInt
        val names = args(3).split(',').toSeq
        // same battery warmup as Bench phase 2
        spark.range(1000000L).selectExpr("count(distinct id)").collect()
        spark.read.parquet(s"$sfDir/documents.parquet")
          .selectExpr("count(md5(text))").collect()
        names.foreach { name =>
          (1 to n).foreach { i =>
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            println(f"$name run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
          }
        }
      case "explain-final" =>
        // execute through the noop sink first, then print the FINAL
        // adaptive plan — AQE's runtime exchange/stage reuse (ReusedExchange,
        // ReusedQueryStage) is invisible in the pre-execution plan
        val outDir = args(2)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        args(3).split(',').foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          // drain THIS QueryExecution's plan (a .write would clone it and
          // the clone's final plan is not visible on df)
          df.queryExecution.executedPlan.execute()
            .foreachPartition((it: Iterator[_]) => it.foreach(_ => ()))
          val txt = "== Final adaptive plan (after execution) ==\n" +
            df.queryExecution.executedPlan.toString
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name.final.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"wrote $outDir/$name.final.txt")
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
