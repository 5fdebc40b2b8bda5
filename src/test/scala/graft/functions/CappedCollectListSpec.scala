package graft.functions

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The capped collect aggregate is the scale guard of the d2 candidate
  * generator (round-6 rework): a group past the cap must come back as a
  * cap+1-sized truncated list (the overflow signal the size filter drops),
  * a group at or under the cap must come back COMPLETE — on every path,
  * including multi-partition partial/merge, which is where an uncapped
  * buffer would blow up. */
class CappedCollectListSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("groups at or under the cap keep complete lists; groups past it truncate to cap+1") {
    import spark.implicits._
    // key k appears k times: sizes 1..8 under caps below
    val rows = (1 to 8).flatMap(k => (1 to k).map(i => (k, i.toLong)))
    val df = rows.toDF("k", "v").repartition(7) // force partial/merge paths
    val out = df.groupBy("k")
      .agg(CappedCollectList(struct(col("v")), 4).as("ds"))
      .select(col("k"), size(col("ds")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    (1 to 4).foreach(k => assert(out(k) == k, s"group $k must be complete"))
    (5 to 8).foreach(k => assert(out(k) == 5, s"group $k must truncate to cap+1"))
  }

  test("complete groups hold exactly the group's values (any order)") {
    import spark.implicits._
    val df = Seq((1, 10L), (1, 20L), (1, 30L), (2, 7L))
      .toDF("k", "v").repartition(5)
    val out = df.groupBy("k")
      .agg(CappedCollectList(struct(col("v")), 64).as("ds"))
      .select(col("k"), col("ds.v").as("vs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).sorted).toMap
    assert(out(1) == Seq(10L, 20L, 30L))
    assert(out(2) == Seq(7L))
  }

  test("serialize returns a private array: a second serialize leaves the first intact") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    import scala.collection.mutable.ArrayBuffer
    // sizes around every power-of-two boundary of the projection's buffer
    (1 to 64).foreach { n =>
      val agg = CappedCollectList(BoundReference(0, LongType, nullable = false), 100)
      val first = ArrayBuffer[Any]((0 until n).map(_.toLong): _*)
      val bytes = agg.serialize(first)
      agg.serialize(ArrayBuffer[Any]((0 until n).map(i => -1L - i): _*))
      assert(agg.deserialize(bytes) == first, s"$n elements: first result overwritten")
    }
  }

  test("d2 equivalence: capped path ≡ count-prepass + anti-join reference on a hot-key corpus") {
    import spark.implicits._
    // 12 docs share one boilerplate shingle (df > cap 8); unique tails
    // keep other shingles rare. The capped operator must produce the same
    // pairs as the reference two-pass formulation.
    val docs = (0 until 12).map(i =>
      (i.toLong, s"alpha beta gamma delta tail$i tail${i}b tail${i}c")) ++
      Seq((100L, "alpha beta gamma delta shared tail100 x"),
          (101L, "alpha beta gamma delta shared tail100 x"))
    val df = docs.toDF("doc_id", "text").repartition(5)
    val capped = graft.ops.Dedup.ngramJaccardPairs(df, minJaccard = 0.2, maxDocFreq = 8)
      .orderBy("doc_a", "doc_b").collect().toSeq
    // reference: explicit df-count prepass + hot-shingle drop + full lists
    val rows = graft.ops.Dedup.shingleRows(df)
    val hot = rows.groupBy("shingle").count().filter(col("count") > 8).select("shingle")
    val kept = rows.join(hot, Seq("shingle"), "left_anti")
    val a = kept.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("shingle"))
    val b = kept.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("shingle"))
    val ref = a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b").agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "n_common", "jaccard")
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(capped == ref)
  }
}
