package graft

import graft.pipeline.{ExtractionPipeline, Snapshot}
import graft.sources.DocSources
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the extraction job:
  *
  * {{{
  * spark-submit --class graft.Main ocrdeploymentspark.jar \
  *   extract    --in <docs.parquet> --out <dir> [--partitions P] \
  *              [--mode prompt_layout_all_en]
  *   resumable  --in <docs.parquet> --out <dir> [--buckets B] [--per-commit K] \
  *              [--partitions P] [--mode M]
  *   stream     --in <dir> --out <dir> --checkpoint <dir> [--mode M]
  *   synth      --out <dir> [--docs N] [--partitions P]
  * }}}
  *
  * `--partitions P` (default: 4 × core slots) is the number of hash
  * exchange partitions, the skew unit and the range of `partition_id`. The
  * kernel and the sink run min(P, slots) tasks, so `extract` writes
  * min(P, slots) result files and `resumable` at most that many per
  * commit. For `synth` it is the generator's task count.
  *
  * Flags are checked before the session is built: an unknown flag, a flag
  * without a value, a count that is not a number ≥ 1 or a missing required
  * flag fails at once. On a cluster the session comes from spark-submit
  * (master/executors from the submit conf); `local[32]` is only the
  * sandbox fallback.
  */
object Main {

  private final case class Subcommand(required: Set[String], optional: Set[String])

  private val Subcommands: Map[String, Subcommand] = Map(
    "extract" -> Subcommand(Set("in", "out"), Set("partitions", "mode")),
    "resumable" -> Subcommand(Set("in", "out"),
      Set("buckets", "per-commit", "partitions", "mode")),
    "stream" -> Subcommand(Set("in", "out", "checkpoint"), Set("mode")),
    "synth" -> Subcommand(Set("out"), Set("docs", "partitions")))

  private val NumericFlags = Set("partitions", "buckets", "per-commit", "docs")

  /** A checked command line: the subcommand and its `--name value` flags. */
  private[graft] final case class Args(cmd: String, flags: Map[String, String]) {
    def req(name: String): String = flags(name) // presence checked by `parse`
    def opt(name: String): Option[String] = flags.get(name)
  }

  private[graft] def parse(args: Array[String]): Args = {
    require(args.nonEmpty,
      s"subcommand required: ${Subcommands.keys.toSeq.sorted.mkString("|")}")
    val cmd = args(0)
    val sub = Subcommands.getOrElse(cmd,
      throw new IllegalArgumentException(s"unknown subcommand $cmd"))
    val known = sub.required ++ sub.optional
    @annotation.tailrec
    def flags(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: tail =>
          val name = k.stripPrefix("--")
          require(k.startsWith("--") && known(name), s"unknown flag '$k' for " +
            s"subcommand $cmd (known: ${known.toSeq.sorted.map("--" + _).mkString(" ")})")
          tail match {
            case v :: more if !v.startsWith("--") =>
              require(!NumericFlags(name) ||
                v.toLongOption.exists(n => n >= 1 && (name == "docs" || n.isValidInt)),
                s"flag $k needs a number >= 1, got '$v'")
              flags(more, acc + (name -> v))
            case _ => throw new IllegalArgumentException(s"flag $k needs a value")
          }
      }
    val parsed = flags(args.toList.tail, Map.empty)
    sub.required.toSeq.sorted.foreach { name =>
      require(parsed.contains(name), s"missing required flag --$name for subcommand $cmd")
    }
    Args(cmd, parsed)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .master(sys.props.getOrElse("spark.master",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = ExtractionPipeline.Config(
      numPartitions = a.opt("partitions").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism * 4),
      mode = a.opt("mode").getOrElse(graft.kernel.Router.LayoutAll))

    a.cmd match {
      case "extract" =>
        val out = a.req("out")
        DocSources.writeResults(
          ExtractionPipeline.extract(DocSources.readDocs(spark, a.req("in")), cfg), out)
        // metrics from the written output's scalar columns (re-running the
        // extraction would cost more than this pruned scan)
        ExtractionPipeline.partitionMetrics(
          spark.read.schema(DocSources.resultSchema).parquet(out), snapshotId = 0)
          .write.mode("overwrite").parquet(s"$out/_metrics")
      case "resumable" =>
        val report = Snapshot.run(
          DocSources.readDocs(spark, a.req("in")),
          a.req("out"), cfg,
          nBuckets = a.opt("buckets").map(_.toInt).getOrElse(64),
          bucketsPerCommit = a.opt("per-commit").map(_.toInt).getOrElse(8))
        println(s"resumable run: ran=${report.bucketsRun.mkString(",")} " +
          s"skipped=${report.bucketsSkipped.mkString(",")}")
      case "stream" =>
        graft.streaming.StreamingExtract.run(spark, a.req("in"),
          a.req("out"), a.req("checkpoint"), cfg)
          .awaitTermination()
      case "synth" =>
        ExtractionPipeline.synthDocs(spark, a.opt("docs").map(_.toLong).getOrElse(100000L),
            parallelism = cfg.numPartitions)
          .write.mode("overwrite").parquet(a.req("out"))
    }
    spark.stop()
  }
}
