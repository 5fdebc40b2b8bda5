package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

/** One shared local session for all Spark-backed specs. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE inside cached plans (see Bench.session): persisted iterative
      // operators (d7) must not lose AQE under their InMemoryRelation
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Runs `write` and returns the executed plan of its parquet write into
    * `dir` with the `SortExec`s in it. The plan comes from a
    * `QueryExecutionListener`; the write runs under AQE, so its query
    * stages are walked for the command. */
  def writeSorts(dir: String)(write: => Unit): (Seq[SortExec], SparkPlan) = {
    val writePlan = Promise[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "command" && aqe.find(qe.executedPlan) {
              case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
                c.outputPath.toString.endsWith(dir)
              case _ => false
            }.isDefined) writePlan.trySuccess(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus delivers asynchronously: unregister once it has
    spark.listenerManager.register(listener)
    val plan = try {
      write
      Await.result(writePlan.future, Duration(30, "s"))
    } finally spark.listenerManager.unregister(listener)
    (aqe.collect(plan) { case s: SortExec => s }, plan)
  }

  /** The Spark jobs `body` starts on this thread. The listener bus
    * delivers events in order, so once a marker job run after `body` has
    * been seen, every job `body` started has been seen too. */
  def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val marker = s"$group-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def inGroup(g: String)(run: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try run finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count(): Unit)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(marker)) {
        assert(System.nanoTime() < deadline, "the marker job was never seen")
        Thread.sleep(5)
      }
    } finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == group)
  }

  /** The subdirectories of `dir`, hidden `_`/`.` ones left out. */
  def visibleSubdirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName)
}
