package graft

import graft.pipeline.{ExtractionPipeline, SparkTestSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression checks: the plans that must hold at 100 TB —
  * pushdown reaching the scan, small dims broadcast, single shuffle in the
  * extraction pipeline — asserted, not eyeballed. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q9 allow-list filter is pushed to the parquet scan") {
    val p = planOf("q9_source_allowlist")
    assert(p.contains("PushedFilters: [In(source"), p.take(800))
  }

  test("q9 scan is pruned to the two needed columns") {
    val p = planOf("q9_source_allowlist")
    assert(p.contains("ReadSchema: struct<lang:string,source:string>"), p.take(800))
  }

  test("q2 dimension joins are broadcast, not shuffled") {
    val p = planOf("q2_nation_order_stats")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "no SMJ expected for dims:\n" + p.take(1200))
  }

  test("s1 query side is broadcast") {
    val p = planOf("s1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1200))
  }

  // The exchange pins below run on an under-split input (one scan
  // partition on four core slots): only such an input takes the exchange.
  test("extraction pipeline has exactly one shuffle (the doc_id hash exchange)") {
    import spark.implicits._
    val docs = ExtractionPipeline.synthDocs(spark, 100, parallelism = 1)
    val results = ExtractionPipeline.extract(docs)
    val plan = results.queryExecution.executedPlan.toString
    val exchanges = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n${plan.take(1500)}")
  }

  test("production span dump has no global sort: one exchange, no range partitioning") {
    import spark.implicits._
    val docs = ExtractionPipeline.synthDocs(spark, 100, parallelism = 1)
    val plan = ExtractionPipeline.extractSpans(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      "sortWithinPartitions must not add a range exchange:\n" + plan.take(1500))
    val exchanges = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected only the hash exchange, plan:\n${plan.take(1500)}")
  }

  test("q12 star join broadcasts the small dimensions") {
    val p = planOf("q12_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("d9 occurrence count is map-side combinable and its joins shuffle scalars only") {
    val p = planOf("d9_dup_spans")
    // partial_count before the exchange = the (hash, count) partials the
    // docstring promises; no shingle TEXT may cross any exchange (only
    // the 60-bit hash, doc_id, pos)
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("SortMergeJoin") || !p.contains("_2#"),
      "join keys must be the scalar hash, not shingle text")
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("shingle")), exchanges.mkString("\n"))
  }

  test("q1 aggregation is a partial/final hash agg over a pruned scan") {
    val p = planOf("q1_lineitem_rollup")
    assert(p.contains("HashAggregate"))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_returnflag:string,l_linestatus:string>")
      || p.contains("l_returnflag"), p.take(900))
  }

  /** AQE wraps the tree in AdaptiveSparkPlanExec whose children are not
    * traversable pre-execution — inspect the static physical plan instead. */
  private def staticPlan(df: => org.apache.spark.sql.Dataset[_]): SparkPlan = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  /** P = 32 on the local[4] session, for an input of one scan partition:
    * the one exchange hashes `doc_id` into min(P, slots) = 4 partitions,
    * the kernel and the sink run in those 4 tasks, and `partition_id`
    * still ranges over P, pmod(hash(hash(doc_id)), P). */
  test("extraction at P = 32 shuffles into min(P, slots) = 4 kernel+sink tasks") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val parts = 32
    val slots = spark.sparkContext.defaultParallelism
    assert(slots == 4)
    val docs = ExtractionPipeline.synthDocs(spark, 200, seed = 5, parallelism = 1)
    val results = ExtractionPipeline.extract(docs,
      ExtractionPipeline.Config(numPartitions = parts))
    val plan = staticPlan(results)
    val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"expected the hash exchange only:\n$plan")
    assert(exchanges.head.numPartitions == math.min(parts, slots))
    assert(plan.execute().getNumPartitions == math.min(parts, slots))

    val rows = results.collect()
    assert(rows.length == 200 && rows.map(_.partition_id).toSet.size > slots)
    assert(results.where(col("partition_id") =!=
      pmod(hash(hash(col("doc_id"))), lit(parts))).isEmpty)

    val dir = java.nio.file.Files.createTempDirectory("graft-slots").toString
    graft.sources.DocSources.writeResults(results, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == math.min(parts, slots), files.map(_.getName).mkString(", "))
  }

  /** An input whose scan partitions fill the core slots runs the kernel in
    * its scan tasks: no exchange, as many kernel+sink tasks as scan
    * partitions, and `partition_id` the same column the exchange path
    * computes, pmod(hash(hash(doc_id)), P). */
  test("a well-split input runs the kernel in its scan tasks, with no exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val parts = 32
    val docs = ExtractionPipeline.synthDocs(spark, 200, seed = 5, parallelism = 4)
    val cfg = ExtractionPipeline.Config(numPartitions = parts)
    val results = ExtractionPipeline.extract(docs, cfg)
    val plan = staticPlan(results)
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty, s"exchange in:\n$plan")
    assert(plan.execute().getNumPartitions == 4)
    val rows = results.collect()
    assert(rows.length == 200 && rows.map(_.partition_id).toSet.size > 4)
    assert(results.where(col("partition_id") =!=
      pmod(hash(hash(col("doc_id"))), lit(parts))).isEmpty)

    val spans = ExtractionPipeline.extractSpans(docs, cfg).queryExecution.executedPlan.toString
    assert(!"Exchange".r.findFirstIn(spans).isDefined, s"the span dump shuffles:\n$spans")

    val dir = java.nio.file.Files.createTempDirectory("graft-inplace").toString
    graft.sources.DocSources.writeResults(results, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, files.map(_.getName).mkString(", "))
  }

  /** The split count of a parquet scan is read off its file listing with
    * Spark's own sizing: the kernel runs in exactly the scan's tasks when
    * they fill the slots, and a one-file corpus still takes the exchange. */
  test("a parquet corpus takes the in-place path exactly when its scan splits fill the slots") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.sources.DocSources
    val base = java.nio.file.Files.createTempDirectory("graft-splits").toString
    val synth = ExtractionPipeline.synthDocs(spark, 400, seed = 21, parallelism = 16)
    synth.write.parquet(s"$base/many")
    synth.coalesce(1).write.parquet(s"$base/one")
    val cfg = ExtractionPipeline.Config(numPartitions = 8)
    def exchangesAndTasks(dir: String): (Int, Int, Int) = {
      val scanTasks = DocSources.readDocs(spark, dir).queryExecution.executedPlan
        .execute().getNumPartitions
      val plan = staticPlan(ExtractionPipeline.extract(DocSources.readDocs(spark, dir), cfg))
      (plan.collect { case e: ShuffleExchangeLike => e }.size, scanTasks,
        plan.execute().getNumPartitions)
    }
    val (manyExchanges, manyScan, manyKernel) = exchangesAndTasks(s"$base/many")
    assert(manyScan >= spark.sparkContext.defaultParallelism)
    assert(manyExchanges == 0 && manyKernel == manyScan, (manyExchanges, manyScan, manyKernel))
    val (oneExchanges, oneScan, oneKernel) = exchangesAndTasks(s"$base/one")
    assert(oneScan == 1 && oneExchanges == 1 && oneKernel == 4,
      (oneExchanges, oneScan, oneKernel))
  }

  test("x3 rollup is a column aggregate: no MapGroups, no exchange carries spans") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapGroupsExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = staticPlan(SparkEntry.queries("x3_partition_metrics")(spark, sf))
    assert(plan.collect { case m: MapGroupsExec => m }.isEmpty, s"typed rollup in:\n$plan")
    val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size >= 2, s"hash exchange + aggregate exchanges expected:\n$plan")
    // the extraction's doc_id hash exchange carries each doc's spans to the
    // kernel; no rollup exchange may
    val (extraction, rollups) = exchanges.partition(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("doc_id")
      case _ => false
    })
    assert(extraction.size == 1, s"expected one doc_id hash exchange:\n$plan")
    rollups.foreach { e =>
      assert(!e.output.exists(_.name == "spans"), s"exchange carries spans:\n$e")
    }
  }

  test("the extraction rollup has one exchange, and its reduce is one task") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    val results = (0 until 40).map(i => graft.model.DocResult(f"d$i%03d", Seq.empty,
      success = i % 7 != 0, if (i % 7 == 0) "EMPTY_DOC" else "", 0, 1, i % 5, 1000L)).toDS()
    val metrics = ExtractionPipeline.partitionMetrics(results, snapshotId = 0)
    val plan = staticPlan(metrics)
    val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"the fold must not shuffle again:\n$plan")
    assert(staticPlan(SparkEntry.queries("x3_partition_metrics")(spark, sf))
      .collect { case e: ShuffleExchangeLike => e }.size == 2,
      "x3: the hash exchange and the one rollup exchange")
    assert(plan.execute().getNumPartitions == 1)
    assert(metrics.collect().map(_.n_docs).sum == 40)
  }

  /** `writeResults` writes the `DocResult` schema flat: no `partitionBy`, so
    * the write plan sorts nothing, the directory holds only part files, and
    * the rows read back as `DocResult`s equal the written ones, `success`
    * the boolean column it is in memory. */
  test("metrics over a writeResults directory scan no spans and equal in-memory metrics") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    // the synth slice's only failure code is warn-level TRUNCATED: an empty
    // doc adds a `success = false` row
    val docs = ExtractionPipeline.synthDocs(spark, 200, seed = 11, parallelism = 4)
      .union(Seq(graft.model.Doc("empty-doc", Seq.empty)).toDS())
    val results = ExtractionPipeline.extract(docs,
      ExtractionPipeline.Config(numPartitions = 6)).cache()
    val (sorts, plan) = SparkTestSession.writeSorts(dir) {
      graft.sources.DocSources.writeResults(results, dir)
    }
    assert(sorts.isEmpty, s"the results write sorts its rows:\n$plan")
    val subdirs = SparkTestSession.visibleSubdirs(dir)
    assert(subdirs.isEmpty, s"writeResults is not flat: ${subdirs.mkString(", ")}")
    val written = results.collect().sortBy(_.doc_id).toSeq
    assert(written.exists(!_.success))
    assert(spark.read.parquet(dir).as[graft.model.DocResult].collect().sortBy(_.doc_id).toSeq ==
      written)

    val fromDir = ExtractionPipeline.partitionMetrics(spark.read.parquet(dir), snapshotId = 0)
    val scans = staticPlan(fromDir).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(!s.requiredSchema.fieldNames.contains("spans"),
        s"metrics scan reads spans: ${s.requiredSchema.simpleString}")
    }
    val inMemory = ExtractionPipeline.partitionMetrics(results, snapshotId = 0).collect()
    assert(inMemory.exists(_.n_failures > 0))
    assert(fromDir.collect().sortBy(_.partition_id).toSeq == inMemory.sortBy(_.partition_id).toSeq)
    results.unpersist()
  }

  /** The banded pair operators emit each pair exactly once from the one
    * (band, key) self-join, so nothing downstream of that join may shuffle
    * or aggregate on the pair ids (the trailing `distinct` shuffle is gone),
    * and no exchange downstream of it may carry an array column: shuffling
    * the full embedding/signature arrays per candidate pair was the
    * dominant d5 cost at the 10x corpus (~0.5 KB/pair). */
  private def noPairShuffleAfterBandJoin(name: String, idA: String, idB: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = staticPlan(SparkEntry.queries(name)(spark, sf))
    val bandJoins = plan.collect {
      case j: SortMergeJoinExec
        if j.leftKeys.flatMap(_.references.map(_.name)) == Seq("band", "key") => j
    }
    assert(bandJoins.size == 1, s"$name: expected one (band, key) merge join:\n$plan")
    val join = bandJoins.head
    // both join sides read ONE (band, key) exchange: the upstream runs once
    assert(join.collect { case r: ReusedExchangeExec => r }.size == 1,
      s"$name: the band join's second side must reuse the first's exchange:\n$plan")
    val downstream = plan.collect {
      case n if n.find(_ eq join).isDefined && !(n eq join) => n
    }
    val pairIds = Set(idA, idB)
    downstream.foreach {
      case e: ShuffleExchangeLike =>
        e.outputPartitioning match {
          case h: HashPartitioning =>
            assert(!h.expressions.flatMap(_.references).exists(r => pairIds(r.name)),
              s"$name: exchange hash-partitions on the pair ids:\n$e")
          case _ =>
        }
        val arrays = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"$name: exchange downstream of the band join shuffles arrays: " +
            arrays.map(_.name).mkString(", "))
      case agg: BaseAggregateExec =>
        assert(!agg.groupingExpressions.flatMap(_.references).exists(r => pairIds(r.name)),
          s"$name: aggregate groups on the pair ids:\n$agg")
      case _ =>
    }
  }

  test("d5 pair dedup shuffles ids only, never the embedding arrays") {
    noPairShuffleAfterBandJoin("d5_embedding_neardup", "id_a", "id_b")
  }

  test("d4 pair dedup shuffles ids only, never the signature arrays") {
    noPairShuffleAfterBandJoin("d4_lsh_pairs", "doc_a", "doc_b")
  }

  test("d6 pair dedup needs no shuffle after the band join") {
    noPairShuffleAfterBandJoin("d6_simhash_pairs", "doc_a", "doc_b")
  }
}
