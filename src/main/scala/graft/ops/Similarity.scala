package graft.ops

import graft.corpus.Synth
import graft.functions.VecMath
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with the small query side broadcast
  * (no shuffle of the corpus). Scale path: random-hyperplane LSH buckets —
  * the corpus is bucketed once by signature, queries probe only their
  * bucket, turning the scan into an equi-join. Dot products are native
  * codegen expressions ([[graft.functions.VecMath]]), not UDFs.
  */
object Similarity {

  /** Sequential-order double dot product as a tight-loop UDF. Kept ONLY as
    * the test baseline for [[graft.functions.VecDot]] (the native codegen
    * expression the operators actually use — same strict left-to-right
    * summation, bit-identical results, but no per-call Seq[Float]
    * deserialization and no codegen break). */
  val dotUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Seq[Float], b: Seq[Float]) =>
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }

  /** Euclidean norm column via the same strict summation (native codegen). */
  def normCol(emb: Column): Column = VecMath.vecNorm(emb)

  /** A join key for [[topKByCosine]]: its column name, the corpus row's
    * one key and the query row's probe keys (an array, exploded). */
  private final case class ProbeKey(name: String, corpus: Column, probes: Column)

  /** The one cosine top-k ranker behind s1–s5: for each query vector, the
    * k nearest corpus vectors (excluding itself). The query side is
    * broadcast; without a key every corpus row is scored (cross join),
    * with one only the corpus rows sharing a probe key (equi-join). Ranking
    * is deterministic (cosine desc, then vec_id). Output ranks only — FP
    * noise in the similarity value itself stays out of the contract. */
  private def topKByCosine(corpus: DataFrame, queries: DataFrame, k: Int,
                           key: Option[ProbeKey]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = col("embedding")
    val c = corpus.select(Seq(col("vec_id").as("neighbor_id"), emb.as("c_emb"),
      normCol(emb).as("c_norm")) ++ key.map(p => p.corpus.as(p.name)): _*)
    val q = queries.select(Seq(col("vec_id").as("query_id"), emb.as("q_emb"),
      normCol(emb).as("q_norm")) ++ key.map(p => explode(p.probes).as(p.name)): _*)
    val joined = key.fold(c.crossJoin(broadcast(q)))(p => c.join(broadcast(q), Seq(p.name)))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        VecMath.vecDot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("query_id") ++ key.map(_.name) ++ Seq("rank", "neighbor_id")).map(col): _*)
  }

  /** Brute-force cosine top-k over the whole corpus (s1). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKByCosine(corpus, queries, k, None)

  /** Deterministic random hyperplanes: component j of plane p is a unit
    * normal-ish value from splitmix64 (seeded, reproducible cluster-wide). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, j) =>
      val u = (Synth.splitmix64(seed ^ (p * 1000003L + j)) >>> 11) * 1.1102230246251565e-16
      u * 2.0 - 1.0
    }

  /** Sign-random-projection LSH signature (one int bucket key per vector).
    * Each plane dot is a native [[graft.functions.VecDotConst]] — the
    * previous `aggregate(zip_with(...))` form materialized a dim-element
    * struct array per plane per row (planes × dim structs/row); the
    * compiled loop reads the ArrayData in place. Same left-to-right double
    * sum, so bucket signs (and every oracle) are unchanged. */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    signBits(planeDots(emb, planes))

  private def planeDots(emb: Column, planes: Array[Array[Double]]): IndexedSeq[Column] =
    planes.toIndexedSeq.map(VecMath.vecDotConst(emb, _))

  /** Bit i set iff plane dot i is ≥ 0. */
  private def signBits(dots: IndexedSeq[Column]): Column =
    dots.zipWithIndex.map { case (d, i) => when(d >= 0, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ + _)

  /** Deterministic random coarse-quantizer centers for IVF (same splitmix64
    * scheme as `hyperplanes`, different stream). Data-independent on
    * purpose: the DuckDB oracle must reproduce cell assignment from
    * literals alone. K-means-trained centers (`trainedCenters`) are the
    * production upgrade — training moves recall, never correctness, and
    * slots into the identical assignment expression. */
  def ivfCenters(k: Int, dim: Int, seed: Long): Array[Array[Double]] =
    hyperplanes(k, dim, seed ^ 0x1BF52L)

  /** Lloyd's k-means on a deterministic bounded sample — the IVF
    * index-training phase. Driver-side by design: ANN indexes train on
    * samples even at 100 TB; assignment of the full corpus stays
    * distributed. The sample is drawn in SEEDED HASH ORDER
    * (`md5(seed || vec_id)`), not a vec_id prefix: a prefix is whatever
    * the ingest happened to load first (one crawl slice, one language,
    * one day) and trains unrepresentative centers at scale, while the
    * hash order is an unbiased deterministic shuffle — same sample every
    * run, executed as a distributed top-N (TakeOrderedAndProject), never
    * a full sort. */
  def trainedCenters(corpus: DataFrame, k: Int, iters: Int = 5,
                     sampleN: Int = 512,
                     seed: Long = Synth.DefaultSeed): Array[Array[Double]] = {
    val sample = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(md5(concat_ws("_", lit(seed), col("vec_id"))), col("vec_id"))
      .limit(sampleN)
      .collect().map(_.getSeq[Float](1).toArray.map(_.toDouble))
    require(sample.length >= k, s"need >= $k sample vectors")
    var centers = sample.take(k).map(_.clone())
    val dim = sample(0).length
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centers = centers.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else sums(c).map(_ / counts(c))
      }
    }
    centers
  }

  /** IVF cell id (1-based): index of the nearest center by squared L2.
    * |v|² is constant per row, so ranking uses −2·v·c + |c|² — one
    * VecDotConst per center, first-min tie-break (array_position), shared
    * exactly with the oracle's (dist, cid) row_number. */
  def ivfCellCol(emb: Column, centers: Array[Array[Double]]): Column = {
    val arr = array(centerDists(emb, centers): _*)
    array_position(arr, array_min(arr)).cast("int")
  }

  /** Squared L2 from `emb` to each center, less the row constant |v|². */
  private def centerDists(emb: Column, centers: Array[Array[Double]]): IndexedSeq[Column] =
    centers.toIndexedSeq.map { c =>
      VecMath.vecDotConst(emb, c.map(-2.0 * _)) + lit(c.map(x => x * x).sum)
    }

  /** The `nprobe` nearest cell ids (1-based), ordered nearest-first: the
    * per-center distance structs sort by (dist, cell) — the same first-min
    * tie-break as [[ivfCellCol]], whose result is always element 1. */
  def ivfProbeCellsCol(emb: Column, centers: Array[Array[Double]],
                       nprobe: Int): Column = {
    require(nprobe >= 1 && nprobe <= centers.length,
      s"nprobe must be in [1, ${centers.length}], got $nprobe")
    val dists = centerDists(emb, centers).zipWithIndex.map { case (d, i) =>
      struct(d.as("dist"), lit(i + 1).as("cell"))
    }
    transform(slice(array_sort(array(dists: _*)), 1, nprobe), x => x("cell"))
  }

  /** IVF ANN top-k: corpus partitioned into `nCenters` inverted lists by
    * nearest center; each query scans only its `nprobe` nearest lists
    * (equi-join on cell after exploding the probe set). The second classic
    * ANN family next to sign-projection LSH — at scale the inverted lists
    * are the partition/bucket layout and `nCenters` grows with corpus size
    * (cells stay bounded).
    *
    * `nprobe` is the recall knob: with nprobe=1 a query vector near a
    * Voronoi boundary loses true neighbors that quantized into the adjacent
    * cell; probing the p nearest cells recovers them at p× the in-list scan
    * cost — still nprobe/nCenters of the corpus, never a full scan. A
    * corpus vector lives in exactly one list, so the probe union needs no
    * dedup before ranking.
    *
    * `dim` MUST equal the embedding width: center dots use min-length
    * prefix semantics, so a wider corpus would silently be cell-assigned
    * on the first `dim` components only (recall collapse, no error). */
  def ivfAnnTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCenters: Int = 16, dim: Int = 64,
                 seed: Long = Synth.DefaultSeed,
                 centersOverride: Option[Array[Array[Double]]] = None,
                 nprobe: Int = 1): DataFrame = {
    val centers = centersOverride.getOrElse(ivfCenters(nCenters, dim, seed))
    val emb = col("embedding")
    topKByCosine(corpus, queries, k, Some(ProbeKey("cell",
      ivfCellCol(emb, centers), ivfProbeCellsCol(emb, centers, nprobe))))
  }

  /** Multi-probe bucket set, nearest-first: element 1 is the base
    * [[lshBucket]] signature; elements 2..nprobe flip the sign bits with
    * the smallest |margin| (the planes the vector sits closest to — the
    * classic multi-probe LSH perturbation order). Flipping the
    * least-confident bit reaches the bucket a boundary vector's true
    * neighbors most likely quantized into. Margin ties break on plane
    * index (the struct's mask field is monotone in it). */
  def lshProbeBucketsCol(emb: Column, planes: Array[Array[Double]],
                         nprobe: Int): Column = {
    require(nprobe >= 1 && nprobe <= planes.length + 1,
      s"nprobe must be in [1, ${planes.length + 1}], got $nprobe")
    val dots = planeDots(emb, planes)
    val base = signBits(dots)
    if (nprobe == 1) array(base)
    else {
      val margins = dots.zipWithIndex.map { case (d, i) =>
        struct(abs(d).as("m"), lit(1 << i).as("mask"))
      }
      val flips = slice(array_sort(array(margins: _*)), 1, nprobe - 1)
      concat(array(base), transform(flips, f => base.bitwiseXOR(f("mask"))))
    }
  }

  /** LSH-bucketed ANN: corpus and queries hash to sign-projection buckets;
    * each query searches only its `nprobe` buckets (equi-join on bucket key
    * after exploding the probe set — base bucket plus the lowest-|margin|
    * single-bit flips, see [[lshProbeBucketsCol]]). With `nPlanes` = 8 →
    * 256 buckets ⇒ ~256/nprobe× less work than brute force, at recall
    * traded by bucket granularity; `nprobe` is the recall knob for boundary
    * vectors. Probe buckets are distinct by construction (distinct XOR
    * masks), so the union needs no dedup before ranking. `dim` MUST equal
    * the embedding width (plane dots use min-length prefix semantics — a
    * wider corpus would silently bucket on the first `dim` components). */
  def lshAnnTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nPlanes: Int = 8, dim: Int = 64,
                 seed: Long = Synth.DefaultSeed,
                 nprobe: Int = 1): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val emb = col("embedding")
    topKByCosine(corpus, queries, k, Some(ProbeKey("bucket",
      lshBucket(emb, planes), lshProbeBucketsCol(emb, planes, nprobe))))
  }
}
