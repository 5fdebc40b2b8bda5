package graft.ops

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic sanity for the training-data ops over the driver testdata. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private object SparkTestSessionImport { lazy val spark = SparkTestSession.spark }
  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("ngram jaccard finds the planted near-duplicate pairs and they agree with simhash") {
    val jac = Dedup.ngramJaccardPairs(docs, minJaccard = 0.5).collect()
    assert(jac.nonEmpty, "testdata plants near-dups; d2 must find them")
    assert(jac.forall(r => r.getAs[Double]("jaccard") >= 0.5))
    val sim = Dedup.simhashPairs(docs, maxHamming = 6).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val jacPairs = jac.map(r => (r.getAs[Long]("doc_a").toString, r.getAs[Long]("doc_b").toString))
    val overlap = jacPairs.count(sim.contains)
    assert(overlap >= jacPairs.length / 2,
      s"simhash should rediscover most jaccard dups: $overlap/${jacPairs.length}")
  }

  test("d2 capped explode path ≡ uncapped self-join path when no shingle is hot") {
    // the two candidate generators must agree exactly wherever the cap
    // doesn't bite: max document frequency of any shingle in this corpus
    // is far below 1000, so capped(1000) and uncapped see identical
    // candidate sets — pins the collect_list+slice explosion against the
    // reference self-join form
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val capped = canon(Dedup.ngramJaccardPairs(docs, minJaccard = 0.3, maxDocFreq = 1000))
    val uncapped = canon(Dedup.ngramJaccardPairs(docs, minJaccard = 0.3, maxDocFreq = 0))
    assert(capped.nonEmpty)
    assert(capped == uncapped)
  }

  test("duplicateTokenSpans finds pasted boilerplate runs, merges overlaps, sees within-doc repeats") {
    import SparkTestSessionImport.spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique1 tail1"), // boiler head
      (2L, "head2 alpha beta gamma delta epsilon zeta tail2"),   // same boiler, shifted
      (3L, "totally distinct words nothing shared here at all"), // clean
      (4L, "rep rep rep rep rep rep rep")                        // within-doc repetition
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateTokenSpans(docs, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // doc 1: dup shingles at pos 0,1 -> merged [0,6); doc 2: pos 1,2 ->
    // [1,7); doc 4: the 5-token shingle "rep..." occurs at pos 0,1,2 of
    // the SAME doc (count 3 >= 2) -> [0,7); doc 3: nothing
    assert(got == Seq((1L, 0, 6, 6), (2L, 1, 7, 6), (4L, 0, 7, 7)), got.toString)
  }

  test("LSH candidates superset check: every high-jaccard pair appears in LSH pairs") {
    val sigs = Dedup.minhashSignatures(docs)
    val lsh = Dedup.lshNearDupPairs(sigs, minEstJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = Dedup.ngramJaccardPairs(docs, minJaccard = 0.9).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(strong.nonEmpty)
    val found = strong.count(lsh.contains)
    assert(found >= strong.length * 0.8,
      s"LSH recall too low on ~identical docs: $found/${strong.length}")
  }

  test("d4/d5/d6 emit each banded pair exactly once, equal to join + filter + distinct") {
    import org.apache.spark.sql.DataFrame
    import SparkTestSessionImport.spark.implicits._
    // the reference shape: every band in which a pair collides emits it,
    // and a trailing distinct removes the repeats
    def allBands(banded: DataFrame, id: String, payload: String*): DataFrame = {
      def side(s: String) = banded.select(col("band") +: col("key") +:
        (id +: payload).map(c => col(c).as(s"${c}_$s")): _*)
      side("a").join(side("b"), Seq("band", "key"))
        .filter(col(s"${id}_a") < col(s"${id}_b"))
    }
    def check(op: String, got: DataFrame, reference: DataFrame): Unit = {
      val rows = got.collect().toSeq.map(_.toSeq.toString)
      assert(rows.nonEmpty, s"$op found no pairs")
      assert(rows.size == rows.distinct.size, s"$op emitted a pair twice")
      assert(rows.sorted == reference.distinct().collect().toSeq.map(_.toSeq.toString).sorted,
        s"$op differs from join + filter + distinct")
    }
    // d4: MinHash md5 band keys
    val sigs = Dedup.minhashSignatures(docs)
    val d4Candidates = allBands(Dedup.bandedSignatureKeys(sigs), "doc_id", "sig")
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("sig_a"), col("sig_b"))
    val nPairs = d4Candidates.select("doc_a", "doc_b").distinct().count()
    assert(d4Candidates.count() > nPairs, "corpus must have multi-band collisions")
    check("d4", Dedup.lshNearDupPairs(sigs), Dedup.pairsFromCandidates(d4Candidates))
    // d6: four 15-bit SimHash slices
    val sims = docs.select(col("doc_id").cast("string"), col("text")).as[(String, String)]
      .map { case (id, text) =>
        (id, Dedup.simhash60(Option(text).getOrElse("").toLowerCase
          .split("\\s+").toSeq.filter(_.nonEmpty)))
      }.toDF("doc", "sh")
    val simBanded = sims.select(col("doc"), col("sh"), posexplode(array((0 until 4).map(b =>
      shiftright(col("sh"), b * 15).bitwiseAND(lit(0x7fffL))): _*)).as(Seq("band", "key")))
    check("d6", Dedup.simhashPairs(docs, maxHamming = 6),
      allBands(simBanded, "doc", "sh")
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming")))
    // d5: hyperplane-sign buckets, 8 bands × 4 bits (the d5 query's shape)
    val planes = Similarity.hyperplanes(32, 64, graft.corpus.Synth.DefaultSeed)
    val embBanded = emb.select(col("vec_id").as("id"), col("embedding").as("e"),
      Similarity.normCol(col("embedding")).as("n"),
      posexplode(array((0 until 8).map(b =>
        Similarity.lshBucket(col("embedding"), planes.slice(b * 4, b * 4 + 4))): _*))
        .as(Seq("band", "key")))
    check("d5", Dedup.embeddingNearDupsBanded(emb, minCosine = 0.45, bitsPerBand = 4),
      allBands(embBanded, "id", "e", "n")
        .filter(graft.functions.VecMath.vecDot(col("e_a"), col("e_b")) /
          (col("n_a") * col("n_b")) >= 0.45)
        .select("id_a", "id_b"))
  }

  test("exact dedup keeps one keeper per hash and conserves doc count") {
    val d = Dedup.exactDedup(docs).collect()
    assert(d.map(_.getAs[Long]("n_docs")).sum == docs.count())
  }

  test("brute-force top-k and LSH ANN agree on bucketed neighbors") {
    val brute = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(brute.length == 40) // 8 queries × k
    // rank 1 per query is unique and not the query itself
    val top1 = brute.filter(_._2 == 1)
    assert(top1.length == 8)
    assert(top1.forall { case (q, _, n) => q != n })
    val ann = Similarity.lshAnnTopK(emb, emb.filter(col("vec_id") < 8), k = 5).collect()
    assert(ann.nonEmpty)
  }

  test("single-pass gate columns agree with the DataFrame operators (no drift)") {
    val viaOps = TextAnalysis.qualityScore(docs).select("doc_id", "quality_label")
      .join(TextAnalysis.langId(docs).select("doc_id", "lang_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val viaCols = docs.select(col("doc_id"),
      TextAnalysis.qualityLabelCol(col("text")),
      TextAnalysis.langIdCol(col("text")))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(viaCols == viaOps)
  }

  test("language ID picks en for the synthetic corpus (en markers present)") {
    val l = TextAnalysis.langId(docs).groupBy("lang_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(l.getOrElse("en", 0L) > 0)
  }

  test("quality score ratios are bounded and labels assigned") {
    val q = TextAnalysis.qualityScore(docs).collect()
    q.foreach { r =>
      val pr = r.getAs[Double]("punct_ratio")
      val sr = r.getAs[Double]("stopword_ratio")
      assert(pr >= 0 && pr <= 1)
      assert(sr >= 0 && sr <= 1)
      assert(Set("ok", "too_short", "suspicious").contains(r.getAs[String]("quality_label")))
    }
  }

  test("media decode stub preserves synthesized metadata") {
    val meta = Multimodal.decodeStub(Multimodal.synthMediaTable(docs.select("doc_id")))
      .collect()
    assert(meta.length == docs.count())
    assert(meta.forall(m => m.n_bytes == 128 && m.phash.length == 32))
    assert(meta.forall(m => m.width >= 64 && m.height >= 64))
  }

  test("real PNG render + bbox crop roundtrip (F8)") {
    val png = Multimodal.renderPng(seed = 7, width = 200, height = 120)
    assert(png.length > 100)
    val crop = Multimodal.cropRegion(png, 50, 30, 150, 90)
    assert(crop.isDefined)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(crop.get))
    assert(img.getWidth == 100 && img.getHeight == 60)
    // deterministic: same seed -> same bytes
    assert(Multimodal.renderPng(7, 200, 120).toSeq == png.toSeq)
    // degenerate boxes rejected
    assert(Multimodal.cropRegion(png, 190, 110, 500, 500).isDefined) // clamped
    assert(Multimodal.cropRegion(png, 300, 300, 400, 400).isEmpty)
    assert(Multimodal.cropRegion(Array[Byte](1, 2, 3), 0, 0, 10, 10).isEmpty)
  }

  test("distributed chart crop over real rasters") {
    import SparkTestSessionImport.spark.implicits._
    val rows = (0L until 12L).map { i =>
      (i, Multimodal.renderPng(i, 160, 160), 10, 10, 110, 90)
    }
    val ds = SparkTestSessionImport.spark.createDataset(rows)
    val out = Multimodal.cropCharts(ds).collect()
    assert(out.length == 12)
    assert(out.forall { case (_, w, h, b) => w == 100 && h == 80 && b.length > 50 })
  }

  test("maxDocFreq cap defuses a boilerplate hot shingle without touching clean corpora") {
    import SparkTestSessionImport.spark.implicits._
    // 300 docs all sharing one boilerplate sentence + unique tails: every
    // shingle inside the boilerplate has df=300, so the uncapped self-join
    // materializes all ~45k pairs — the 10^12-row failure shape at corpus
    // scale. With the cap, those shingles are anti-joined away and the
    // candidate set collapses to zero.
    val boiler = "terms and conditions apply to this document"
    val dirty = (0 until 300)
      .map(i => (i.toLong, s"$boiler unique$i tail$i token$i"))
      .toDF("doc_id", "text")
    // uncapped is the explicit opt-in (maxDocFreq = 0) since round 5: the
    // DEFAULT must never be the configuration that detonates here
    val uncapped = Dedup.ngramJaccardPairs(dirty, minJaccard = 0.05, maxDocFreq = 0).count()
    assert(uncapped == 300L * 299 / 2,
      s"uncapped boilerplate corpus must pair everything: $uncapped")
    val capped = Dedup.ngramJaccardPairs(dirty, minJaccard = 0.05, maxDocFreq = 50).count()
    assert(capped == 0, s"capped boilerplate corpus must produce no candidates: $capped")
    // the DEFAULT (finite cap) also defuses it — df=300 > DefaultMaxDocFreq
    assert(Dedup.ngramJaccardPairs(dirty, minJaccard = 0.05).count() == 0,
      "default cap must drop the 300-doc boilerplate shingles")
    // clean corpus (testdata max shingle df ≈ 7 at sf0.001): cap is a no-op
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).sortBy(p => (p._1, p._2))
    assert(pairs(Dedup.ngramJaccardPairs(docs, 0.5, maxDocFreq = 64)).toSeq ==
      pairs(Dedup.ngramJaccardPairs(docs, 0.5)).toSeq)
  }

  test("banded embedding LSH: exact subset of brute force, full recall on planted near-dups") {
    import SparkTestSessionImport.spark.implicits._
    // 40 random base vectors, each with a tiny-perturbation twin at
    // cosine ≈ 0.9995 — the near-dup regime the operator targets
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).flatMap { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * i, v.toSeq), (2L * i + 1, dup.toSeq))
    }.toDF("vec_id", "embedding")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val brute = asSet(Dedup.embeddingNearDups(rows, minCosine = 0.95))
    val banded = asSet(Dedup.embeddingNearDupsBanded(rows, minCosine = 0.95))
    assert(brute.size == 40, s"plant produced ${brute.size} true pairs")
    assert(banded.subsetOf(brute), "banded must never invent pairs (exact cosine in-bucket)")
    val recall = banded.size.toDouble / brute.size
    assert(recall >= 0.9, s"banded recall on near-identical twins: $recall")
  }

  test("chunked two-phase running peak ≡ single-window sweep line (W1 scale path)") {
    import org.apache.spark.sql.expressions.Window
    // integral values: the chunked decomposition re-associates the
    // summation, which is exact for integers at any association — so
    // equality here is exact, not tolerance-based
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("value", floor(col("value") * 100).cast("double"))
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baseline = events.withColumn("rs", sum("value").over(w))
      .groupBy("event_type").agg(max("rs").as("peak"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // hour chunks: monotone in ts, so (chunk, in-chunk order) = global order
    val chunked = Windows.chunkedRunningPeak(events,
      date_trunc("hour", col("ts")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(chunked == baseline, s"chunked $chunked vs window $baseline")
    // the decomposition is real: multiple chunks per type were combined
    val nChunks = events.select(date_trunc("hour", col("ts"))).distinct().count()
    assert(nChunks > 1, "test data must span multiple chunks")
  }

  test("chunked running peak property: random integer series, random chunk widths") {
    import SparkTestSessionImport.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // 400 rows, 3 types, duplicate timestamps included (ties broken by id),
    // signed integral values so peaks move up AND down
    val rows = (0 until 400).map { i =>
      (s"t${rnd.nextInt(3)}", rnd.nextInt(50).toLong, i.toLong,
        (rnd.nextInt(21) - 10).toDouble)
    }
    val df = rows.toDF("event_type", "ts", "event_id", "value")
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("rs", sum("value").over(w))
      .groupBy("event_type").agg(max("rs").as("peak"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // chunk widths from degenerate (one giant chunk) to per-row
    for (width <- Seq(1, 3, 7, 50)) {
      val got = Windows.chunkedRunningPeak(df, floor(col("ts") / width),
        ts = "ts", tie = "event_id")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == want, s"chunk width $width: $got vs $want")
    }
  }

  test("duplicateClusters computes connected components with min-label keepers (both tiers)") {
    import SparkTestSessionImport.spark.implicits._
    // chain, pair, and a cycle — plus transitivity across the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    // small-graph tier (driver union-find: the default path here)
    val local = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == want)
    // distributed tier (forced via threshold 0)
    val dist = Dedup.duplicateClusters(pairs, localSolveMaxPairs = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == want)
  }

  test("duplicateClusters pointer jumping: a 64-edge path converges in <= 12 rounds") {
    import SparkTestSessionImport.spark.implicits._
    // a path graph is the worst case for plain min-propagation (needs
    // diameter=64 rounds); label doubling must settle it in O(log d) — the
    // maxIters=12 bound makes the require() the assertion. Threshold 0
    // forces the distributed tier (the local tier would trivially absorb
    // 64 pairs).
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs, maxIters = 12,
      localSolveMaxPairs = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 65)
    assert(got.forall(_._2 == 0L), "every node labels to the path minimum")
  }

  test("duplicateClusters: local union-find tier ≡ distributed label tier on a random graph") {
    import SparkTestSessionImport.spark.implicits._
    val rnd = new scala.util.Random(42)
    // ~120 nodes, ~150 random edges: many non-trivial components
    val pairs = (0 until 150).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.duplicateClusters(pairs))
    val dist = asMap(Dedup.duplicateClusters(pairs, localSolveMaxPairs = 0))
    assert(local == dist, "the two tiers must partition identically")
    assert(local.nonEmpty)
  }

  test("duplicateClusters tiers agree on string ids where UTF-8 and UTF-16 orders diverge") {
    import SparkTestSessionImport.spark.implicits._
    // U+FF61 is a single BMP char (UTF-8: EF BD A1); U+10000 is a surrogate
    // pair (UTF-8: F0 90 80 80). String.compareTo (UTF-16 code units) says
    // U+10000 < U+FF61, but Spark's UTF8String min() (unsigned UTF-8 bytes)
    // says U+FF61 < U+10000 — the keeper choice must follow the
    // distributed tier's binary order in BOTH tiers
    val lo = "｡"         // UTF-8-smaller
    val hi = "𐀀"   // U+10000: UTF-16-smaller
    val hi2 = "𐀁"  // U+10001: chains the component past one edge
    val pairs = Seq((lo, hi), (hi, hi2)).toDF("doc_a", "doc_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = asMap(Dedup.duplicateClusters(pairs))
    val dist = asMap(Dedup.duplicateClusters(pairs, localSolveMaxPairs = 0))
    assert(local == dist, s"tier keeper divergence: local=$local dist=$dist")
    assert(local.values.toSet == Set(lo), "keeper must be the UTF-8-minimal id")
  }

  test("IVF ANN with trained k-means centers finds planted twins as top-1") {
    import SparkTestSessionImport.spark.implicits._
    val rnd = new scala.util.Random(21)
    val rows = (0 until 40).flatMap { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * i, v.toSeq), (2L * i + 1, dup.toSeq))
    }.toDF("vec_id", "embedding")
    val trained = Similarity.trainedCenters(rows, k = 8, iters = 5, sampleN = 80)
    val queries = rows.filter(col("vec_id") % 2 === 0)
    val top1 = Similarity.ivfAnnTopK(rows, queries, k = 1,
      centersOverride = Some(trained)).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // a twin at cosine ≈ 0.9995 should land in the same Voronoi cell and
    // be the nearest in-cell neighbor for nearly every query
    val hits = top1.count { case (q, n) => n == q + 1 }
    assert(hits >= 36, s"trained IVF twin recall: $hits/40")
    // untrained random centers still produce a valid partition (every query
    // returns from its own cell, never itself)
    val rand = Similarity.ivfAnnTopK(rows, queries, k = 3).collect()
    assert(rand.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("multi-probe ANN: nprobe=2 recall strictly above nprobe=1, subset of brute, probe order sane") {
    val queries = emb.filter(col("vec_id") < 32)
    val truth = Similarity.cosineTopK(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): (Double, Set[(Long, Long)]) = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (truth.count(got.contains).toDouble / truth.size, got)
    }
    // IVF: probing the 2 nearest cells recovers boundary-vector neighbors
    val (ivf1, _) = recall(Similarity.ivfAnnTopK(emb, queries, k = 5, nprobe = 1))
    val (ivf2, _) = recall(Similarity.ivfAnnTopK(emb, queries, k = 5, nprobe = 2))
    assert(ivf2 > ivf1, s"IVF nprobe=2 recall $ivf2 must beat nprobe=1 $ivf1")
    // LSH: planted twins at cosine ≈ 0.9995 (the near-dup regime the
    // operator targets — on uniform random vectors the true top-5 are
    // ~orthogonal and bucket recall is noise at any nprobe). A twin that
    // straddles one hyperplane differs in exactly that sign bit, and it is
    // the lowest-|margin| bit — the bucket nprobe=2 probes first.
    import SparkTestSessionImport.spark.implicits._
    val rnd = new scala.util.Random(7)
    val planted = (0 until 200).flatMap { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * i, v.toSeq), (2L * i + 1, dup.toSeq))
    }.toDF("vec_id", "embedding")
    val evens = planted.filter(col("vec_id") % 2 === 0)
    def twinRecall(nprobe: Int): Double = {
      val got = Similarity.lshAnnTopK(planted, evens, k = 5, nprobe = nprobe)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (0 until 200).count(i => got.contains((2L * i, 2L * i + 1))) / 200.0
    }
    val (lsh1, lsh2) = (twinRecall(1), twinRecall(2))
    assert(lsh2 > lsh1, s"LSH nprobe=2 twin recall $lsh2 must beat nprobe=1 $lsh1")
    assert(lsh2 >= 0.95, s"nprobe=2 should recover nearly all straddling twins: $lsh2")
    // probe-set structure: element 1 of the probe set IS the nprobe=1
    // assignment (first-min tie-break shared with ivfCellCol/lshBucket),
    // and probe elements are distinct
    val centers = Similarity.ivfCenters(16, 64, graft.corpus.Synth.DefaultSeed)
    val planes = Similarity.hyperplanes(8, 64, graft.corpus.Synth.DefaultSeed)
    emb.limit(100).select(
      Similarity.ivfProbeCellsCol(col("embedding"), centers, 3).as("cells"),
      Similarity.ivfCellCol(col("embedding"), centers).as("cell1"),
      Similarity.lshProbeBucketsCol(col("embedding"), planes, 3).as("buckets"),
      Similarity.lshBucket(col("embedding"), planes).as("bucket1"))
      .collect().foreach { r =>
        val cells = r.getSeq[Int](0)
        assert(cells.head == r.getInt(1) && cells.distinct.size == 3, s"ivf probes $cells")
        val buckets = r.getSeq[Int](2)
        assert(buckets.head == r.getInt(3) && buckets.distinct.size == 3, s"lsh probes $buckets")
      }
  }

  test("binaryFile PNG ingestion round-trip decodes the rendered dimensions") {
    val dir = graft.sources.DocSources.pngFixtureDir(0L until 8L)
    val rows = graft.sources.DocSources
      .readBinaryMedia(SparkTestSessionImport.spark, dir, "*.png").collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val path = r.getAs[String]("path")
      val id = "doc_(\\d+)\\.png".r.findFirstMatchIn(path).get.group(1).toLong
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("content")))
      assert(img.getWidth == (id % 48 + 16).toInt, s"$path width")
      assert(img.getHeight == (id / 7 % 48 + 16).toInt, s"$path height")
    }
    // corrupt bytes in the dir must drop the row, not kill the job
    // (the m3 query's decode guard; errors are rows/skips, never exceptions)
    import SparkTestSessionImport.spark.implicits._
    val bad = java.nio.file.Files.createTempDirectory("graft_badpng")
    java.nio.file.Files.write(bad.resolve("doc_00000.png"),
      graft.ops.Multimodal.renderPng(0, 20, 20))
    java.nio.file.Files.write(bad.resolve("doc_00001.png"),
      Array[Byte](1, 2, 3, 4, 5))
    val decoded = graft.sources.DocSources
      .readBinaryMedia(SparkTestSessionImport.spark, bad.toString, "*.png")
      .select(col("content")).as[Array[Byte]]
      .mapPartitions(_.flatMap(b =>
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
          .map(i => (i.getWidth, i.getHeight))))
      .collect()
    assert(decoded.toSeq == Seq((20, 20)), s"corrupt file must be skipped: ${decoded.toSeq}")
  }

  test("real JPEG q85 re-encode + optimize (P7): bounded dims, quality ordering, graceful garbage") {
    // webp is genuinely absent from JDK ImageIO (the reference's WebP path,
    // client.py:113-123, is a format tag only) — documented delta
    val fmts = javax.imageio.ImageIO.getWriterFormatNames.map(_.toLowerCase).toSet
    assert(fmts.contains("jpeg") && fmts.contains("png"))
    val big = Multimodal.renderPng(seed = 3, width = 1600, height = 900)
    val opt = Multimodal.optimizeImage(big, maxSide = 1280, quality = 0.85f)
    assert(opt.isDefined)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(opt.get))
    assert(img.getWidth == 1280 && img.getHeight == 720, s"${img.getWidth}x${img.getHeight}")
    // decoded as JPEG, and lower quality compresses harder on noisy pixels
    val q30 = Multimodal.optimizeImage(big, maxSide = 1280, quality = 0.3f).get
    assert(q30.length < opt.get.length,
      s"q30 ${q30.length} must be smaller than q85 ${opt.get.length}")
    // small images are not upscaled
    val small = Multimodal.renderPng(5, 100, 50)
    val sOpt = Multimodal.optimizeImage(small).get
    val sImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(sOpt))
    assert(sImg.getWidth == 100 && sImg.getHeight == 50)
    // garbage bytes → None, never an exception
    assert(Multimodal.optimizeImage(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("resizeFit never exceeds the bounding box and preserves aspect direction") {
    val r = Multimodal.resizeFit(Multimodal.synthMediaTable(docs.select("doc_id")))
      .collect()
    r.foreach { row =>
      val (w, h) = (row.getAs[Int]("width"), row.getAs[Int]("height"))
      val (rw, rh) = (row.getAs[Int]("resized_w"), row.getAs[Int]("resized_h"))
      assert(rw <= 1280 && rh <= 1280)
      if (w <= 1280 && h <= 1280) assert(rw == w && rh == h)
      else assert(rw == 1280 || rh == 1280 || math.max(rw, rh) >= 1279)
    }
  }

  test("persisting queries leave no cached plans behind (no cross-run result caching)") {
    // The bench re-runs every query in one session; a leaked persist would
    // let pass 2 read pass 1's cache — result caching across runs, which
    // the measurement contract forbids. Every operator that persists
    // (duplicateClusters' pair probe, d8's harness + update internals)
    // must unpersist on every path. d8's temp label store must be gone too
    // once the query returns: other runs may hold graft_d8_* dirs of their
    // own, so compare listings rather than expect none.
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val storeRoots = Seq(new java.io.File("/dev/shm"),
      new java.io.File(System.getProperty("java.io.tmpdir")))
    def d8Stores(): Set[String] = storeRoots.flatMap(r => Option(r.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("graft_d8_")).map(_.getPath).toSet
    val storesBefore = d8Stores()
    cm.clearCache()
    Seq("d7_dup_clusters", "c2_semantic_curation", "d8_incremental_clusters")
      .foreach { q =>
        graft.SparkEntry.queries(q)(spark, sf)
          .write.format("noop").mode("overwrite").save()
        assert(cm.isEmpty, s"$q leaked cached plans")
      }
    val leaked = d8Stores() -- storesBefore
    assert(leaked.isEmpty, s"d8 left its label store behind: $leaked")
  }
}
