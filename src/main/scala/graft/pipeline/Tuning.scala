package graft.pipeline

import graft.model.Doc
import org.apache.spark.sql.Dataset

/** A9: batch/partition-limit probing (reference tests/test_batch_limits.py:
  * 149-239 — iterate batch sizes, record wall time, report the argmin of
  * time-per-item). In Spark the "batch size" knob is the partition count of
  * the extraction stage; the probe is a driver-side loop (inherently
  * sequential — each candidate is a full job), the argmin a one-liner.
  * The kernel stage runs min(P, slots) tasks whatever P is, so a candidate
  * P varies only the salted exchange's granularity, not the task count;
  * and the probe times `count()`, not a pass into a sink. */
object Tuning {

  final case class ProbeResult(numPartitions: Int, wallSec: Double,
                               nDocs: Long, docsPerSec: Double)

  def probePartitioning(docs: Dataset[Doc], candidates: Seq[Int],
                        base: ExtractionPipeline.Config = ExtractionPipeline.Config())
  : Seq[ProbeResult] =
    candidates.map { p =>
      val t0 = System.nanoTime()
      val n = ExtractionPipeline.extract(docs, base.copy(numPartitions = p)).count()
      val wall = (System.nanoTime() - t0) / 1e9
      ProbeResult(p, wall, n, n / wall)
    }

  /** Fastest configuration = argmin wall (O4 top-1). */
  def best(results: Seq[ProbeResult]): ProbeResult = results.minBy(_.wallSec)
}
