package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding near-dup.
  *
  * Scale shapes:
  *  - exact dedup = one hash aggregation on a 16-byte key (shuffle of
  *    (hash, id) pairs only — never the text);
  *  - n-gram Jaccard joins on *shingle* (the classic candidate-pair
  *    generator); common-shingle counts are map-side combinable;
  *  - MinHash (d4), SimHash (d6) and embedding (d5) near-dup candidates
  *    all come from ONE banded self-join, [[bandedPairs]], on band keys
  *    (md5 of signature slices; 15-bit SimHash slices — Hamming ≤ 3 ⇒
  *    some band exact-matches by pigeonhole; hyperplane-sign buckets), so
  *    O(n²) similarity becomes equi-joins that emit each pair once.
  */
object Dedup {

  /** Normalized content hash (the exact-dedup key). */
  def contentHash(text: Column): Column = md5(lower(trim(text)).cast("binary"))

  /** Exact dedup: one row per distinct content hash with the keeper
    * (minimum doc_id — deterministic) and the duplicate count. */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_docs"))

  /** Positional word `n`-gram shingles of a text column, single pass:
    * element i is tokens i until i + n ([[TextAnalysis.words]] tokens,
    * joined with single spaces), so the array index is the position.
    *
    * NOT a higher-order-function expression: CollapseProject inlines the
    * tokenizing `split()` into every `element_at` inside the lambda, so the
    * HOF form re-tokenizes each document ~3×#shingles times (measured 30s+
    * on 5k docs), and a `slice(toks, pos+1, n)` per exploded row would
    * retain the full token array on every row. The UDF tokenizes once per
    * row. */
  private val positionalShinglesUdf = udf { (text: String, n: Int) =>
    val toks = TextAnalysis.words(text)
    if (toks.length < n) Array.empty[String]
    else {
      val out = new Array[String](toks.length - n + 1)
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = sb.toString
        i += 1
      }
      out
    }
  }.asNondeterministic()
  // ^ the function IS pure — asNondeterministic is the guide-§4.4 pin that
  // stops the optimizer substituting it into derived filters and pushing
  // those below the spread exchange: without it the executed plan
  // evaluated the tokenize+shingle UDF THREE times per row (twice inside a
  // scan-stage Filter on the single input split, once in the projection)

  /** Distinct word `n`-gram shingles in first-occurrence order — the same
    * set and order as the DuckDB oracle's. */
  def shingles(text: Column, n: Int = 3): Column =
    array_distinct(positionalShinglesUdf(text, lit(n)))

  /** Exploded (doc_id, shingle, n_shingles) — the self-join input. */
  def shingleRows(docs: DataFrame, textCol: String = "text", n: Int = 3): DataFrame = {
    val withSh = docs.select(col("doc_id"), shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
    withSh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
  }

  /** Pairwise n-gram Jaccard over candidate pairs that share ≥1 shingle
    * (pairs with zero overlap are never materialized). Returns pairs with
    * jaccard ≥ `minJaccard`, doc_a < doc_b.
    *
    * `maxDocFreq` is the scale guard on candidate generation: the
    * candidate count is Σ df(s)² over shingles, so one boilerplate
    * shingle shared by 10⁶ docs alone yields 10¹² candidate rows.
    * Shingles with document frequency above the cap are dropped (they
    * carry no discriminative signal — the same reason MinHashLSH
    * implementations cap band sizes). `n_common` then counts only
    * non-ubiquitous shared shingles, so jaccard is a conservative
    * underestimate for boilerplate-heavy pairs; `n_a`/`n_b` stay the true
    * distinct-shingle counts.
    *
    * The capped path (the production configuration) generates candidates
    * from ONE tokenize pass and ONE shuffle: groupBy(shingle) with the
    * capped collect aggregate ([[graft.functions.CappedCollectList]]) —
    * every buffer, map-side partials included, holds at most cap+1
    * (doc_id, n_sh) entries, so a 10⁶-doc boilerplate shingle costs cap+1
    * slots (and at most cap+1 shuffled entries per map partition) instead
    * of an unbounded list — then explode in-list pair combinations
    * (posexplode × suffix slice). A cap+1-sized result IS the
    * "df > maxDocFreq" overflow signal, so the
    * `size(ds) BETWEEN 2 AND cap` filter reproduces the hot-shingle drop
    * of the earlier df-count pre-pass + broadcast anti-join exactly
    * (equivalence pinned in CappedCollectListSpec), without that design's
    * second tokenize pass and second shuffle. Per-shingle pair work stays
    * ≤ cap²/2 (no skew). Collect order is partition-nondeterministic, so
    * pairs normalize to (least, greatest) — the unordered pair SET per
    * shingle is order-invariant. The uncapped path keeps the self-join
    * (an unbounded shingle would make any collected list a memory hazard
    * there).
    *
    * The DEFAULT is capped ([[DefaultMaxDocFreq]]): the quadratic
    * uncapped self-join is the explicit opt-in `maxDocFreq = 0` — an
    * API whose default detonates on the first boilerplate-heavy corpus
    * is a hazard, and callers who truly want exact Jaccard on a corpus
    * they know is clean can say so. */
  val DefaultMaxDocFreq = 256

  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
                        textCol: String = "text", n: Int = 3,
                        maxDocFreq: Int = DefaultMaxDocFreq): DataFrame = {
    require(maxDocFreq >= 0 && maxDocFreq != Int.MaxValue,
      s"maxDocFreq must be >= 0 (0 = the uncapped opt-in), got $maxDocFreq. " +
        "Int.MaxValue — the pre-round-5 uncapped sentinel — is rejected " +
        "loudly: it would silently select the capped collect_list path with " +
        "an unbounded per-shingle buffer, the exact OOM the cap guards " +
        "against; pass 0 for the uncapped self-join")
    val allRows = shingleRows(docs, textCol, n)
    val candidates =
      if (maxDocFreq == 0) {
        val a = allRows.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("shingle"))
        val b = allRows.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("shingle"))
        // merge self-join: one exchange, reused by both sides, spill-safe
        // under hot-shingle skew (see bandedPairs — a broadcast side would
        // re-run the shingle UDF)
        a.join(b.hint("merge"), Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "n_a", "doc_b", "n_b")
      } else {
        // ONE pass, ONE shuffle, bounded buffers: the capped collect
        // aggregate ([[graft.functions.CappedCollectList]]) retains at
        // most cap+1 (doc_id, n_sh) entries per shingle on every path —
        // map-side partials included, which also caps the shuffled bytes
        // per hot shingle — and a cap+1-sized result IS the
        // "df > maxDocFreq" signal, so the size filter below reproduces
        // the hot-shingle drop exactly. The pre-round-6 shape needed a
        // separate df-count pre-pass + broadcast anti-join to bound the
        // collect_list buffer, which cost a second full tokenize+shingle
        // UDF pass and a second shuffle (the optimizer pushes anti-joins
        // below repartitions, so exchange reuse cannot deduplicate them).
        val grouped = allRows
          .groupBy("shingle")
          .agg(graft.functions.CappedCollectList(
            struct(col("doc_id"), col("n_sh")), maxDocFreq).as("ds"))
          .filter(size(col("ds")).between(2, maxDocFreq))
        grouped
          .select(col("ds"), posexplode(col("ds")))
          .withColumn("other",
            explode(slice(col("ds"), col("pos") + lit(2), lit(maxDocFreq))))
          .select(
            least(col("col.doc_id"), col("other.doc_id")).as("doc_a"),
            when(col("col.doc_id") < col("other.doc_id"), col("col.n_sh"))
              .otherwise(col("other.n_sh")).as("n_a"),
            greatest(col("col.doc_id"), col("other.doc_id")).as("doc_b"),
            when(col("col.doc_id") < col("other.doc_id"), col("other.n_sh"))
              .otherwise(col("col.n_sh")).as("n_b"))
      }
    candidates
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Repeated-substring spans (Lee et al. '22 "Deduplicating Training Data"
    * shape): every maximal token range covered by `k`-token shingles that
    * occur at least `minOccurrences` times in the corpus — the exact
    * SUBSTRING-level duplication the document-level operators (d1-d7)
    * cannot see (a boilerplate paragraph pasted into otherwise-unique
    * docs). Output: (doc_id, start_tok, end_tok, n_tokens), token ranges
    * half-open, overlapping/adjacent hits merged per doc.
    *
    * Scale shape: the positional shingle rows shuffle once into the
    * occurrence count (map-side combinable — (hash, count) partials, never
    * text); duplicated positions join back on the 60-bit hash (scalar
    * columns only); the interval merge windows per doc_id, so its
    * parallelism is the document count and per-partition state is one
    * doc's hit list. No driver-side collection anywhere. The shingle hash
    * is the md5-prefix scheme shared bit-for-bit with the DuckDB oracle. */
  def duplicateTokenSpans(docs: DataFrame, k: Int = 5,
                          minOccurrences: Int = 2,
                          textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE exchange feeds both consumers of the positional-shingle rows:
    // hash-partitioning on the 60-bit hash lets the occurrence count and
    // the duplicated-position join both run exchange-free on the
    // co-partitioned rows, and exchange reuse materializes the shingle
    // UDF + md5 map stage ONCE (the pre-round-6 diamond recomputed it for
    // the count branch and again for the join branch — guide §2.4). The
    // exchange still carries only (doc_id, pos, h) scalars, never text.
    val sh = docs
      .select(col("doc_id"),
        posexplode(positionalShinglesUdf(col(textCol), lit(k))).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("shingle").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .repartition(col("h"))
    val dup = sh.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minOccurrences)
      .select("h")
    val hits = sh.join(dup, Seq("h")).select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev_max_end",
        max(col("pos") + lit(k)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1)
          .otherwise(0))
      .withColumn("grp", sum("new_grp").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("start_tok"), (max("pos") + lit(k)).as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("n_tokens"))
  }

  /** MinHash signatures: k 61-bit min-hashes per document — the compressed
    * similarity sketch (Broder '97). One md5 per shingle, expanded to the k
    * hash functions by Kirsch-Mitzenmacher double hashing
    * h_i = h1 + i·h2 (h1 = 60-bit, h2 = 56-bit md5 halves — no int64
    * overflow, shared bit-for-bit with the DuckDB oracle). One groupBy,
    * k min() aggregates. */
  def minhashSignatures(docs: DataFrame, k: Int = 16,
                        textCol: String = "text", n: Int = 3): DataFrame = {
    val rows = shingleRows(docs, textCol, n)
      .withColumn("__md5", md5(col("shingle").cast("binary")))
      .withColumn("__h1", conv(substring(col("__md5"), 1, 15), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(col("__md5"), 16, 14), 16, 10).cast("long"))
    rows.groupBy("doc_id")
      .agg(min(col("__h1")).as("mh00"),
        (1 until k).map(i =>
          min(col("__h1") + lit(i.toLong) * col("__h2")).as(f"mh$i%02d")): _*)
  }

  private def signatureArray(k: Int): Column =
    array((0 until k).map(i => col(f"mh$i%02d")): _*)

  /** The MinHash band keys of a signature row: band b is the md5 of the
    * comma-joined signature slice [b·k/bands, (b+1)·k/bands). */
  private def signatureBandKeys(k: Int, bands: Int): Column = {
    val rowsPerBand = k / bands
    array((0 until bands).map { b =>
      md5(concat_ws(",", (0 until rowsPerBand).map(r =>
        col(f"mh${b * rowsPerBand + r}%02d")): _*).cast("binary"))
    }: _*)
  }

  /** Banded LSH keys for a signature table: one row per (doc, band) with
    * the md5 band key and the full signature array riding along — the
    * incremental signature store's format. */
  def bandedSignatureKeys(signatures: DataFrame, k: Int = 16,
                          bands: Int = 4): DataFrame =
    signatures.select(col("doc_id"), signatureArray(k).as("sig"),
      posexplode(signatureBandKeys(k, bands)).as(Seq("band", "key")))

  /** Candidate pairs of rows whose band keys agree in at least one band —
    * the one banded self-join behind d4, d5 and d6. `keys` is the row's
    * band-key array (evaluated on `rows`). Output: `<id>_a`, `<id>_b` with
    * `<id>_a < <id>_b`, and each `payload` column as `<p>_a`, `<p>_b`.
    *
    * Each pair comes out EXACTLY ONCE, with no `distinct`: every row carries
    * its whole key array through the join, and a candidate is kept only in
    * the lowest band whose keys agree. A pair that collides in several
    * bands is thus never materialized more than once, and no shuffle on the
    * pair ids follows the join.
    *
    * `posexplode` over the key array, not a union of per-band selects:
    * union branches are independent subtrees, so the union form re-executes
    * the whole upstream (scan, kernel, signature aggregation) once per band.
    *
    * MERGE hint on the self-join: without it the planner broadcasts one
    * side, and a BroadcastExchange can never reuse the other side's
    * shuffle — so the entire upstream pipeline executes twice, once per
    * join side. With both sides shuffled on (band, key) the two exchanges
    * canonicalize equal and exchange reuse materializes the pipeline ONCE;
    * at corpus scale a broadcast of the banded corpus is impossible anyway.
    * Sort-merge over shuffled-hash deliberately: measured equal-or-faster
    * here, and SMJ spills gracefully where a skewed hot band key would OOM
    * a shuffled-hash build side. */
  private def bandedPairs(rows: DataFrame, id: String, keys: Column,
                          payload: String*): DataFrame = {
    val cols = id +: payload
    val banded = rows.select(cols.map(col) :+ keys.as("keys"): _*)
      .select(col("*"), posexplode(col("keys")).as(Seq("band", "key")))
    def side(s: String) = banded.select(col("band") +: col("key") +:
      (cols :+ "keys").map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b").hint("merge"), Seq("band", "key"))
      .filter(col(s"${id}_a") < col(s"${id}_b") &&
        array_position(zip_with(col("keys_a"), col("keys_b"), _ === _), true) ===
          col("band") + 1)
      .select(cols.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** Similarity gate over (doc_a, doc_b, sig_a, sig_b) candidate rows
    * (doc_a < doc_b): estimated similarity = fraction of agreeing
    * signature positions. */
  def pairsFromCandidates(candidates: DataFrame, k: Int = 16,
                          minEstJaccard: Double = 0.5): DataFrame =
    candidates
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          (b: Column) => b)).cast("double") / lit(k), 6))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("doc_a", "doc_b", "est_jaccard")

  /** LSH candidate pairs from banded MinHash signatures: `bands` bands of
    * `k/bands` rows; docs sharing any band key become candidates. */
  def lshNearDupPairs(signatures: DataFrame, k: Int = 16, bands: Int = 4,
                      minEstJaccard: Double = 0.5): DataFrame =
    pairsFromCandidates(
      bandedPairs(signatures.withColumnRenamed("doc_id", "doc")
        .withColumn("sig", signatureArray(k)),
        "doc", signatureBandKeys(k, bands), "sig"),
      k, minEstJaccard)

  /** 60-bit SimHash over whitespace tokens (Charikar '02): per-bit majority
    * vote of token hashes. Token hash = first 15 hex chars of md5 (60 bits)
    * — the same md5-prefix scheme as `minhashSignatures`, shared bit-for-bit
    * with the DuckDB oracle (`('0x'||substr(md5(t),1,15))::BIGINT`). Pure
    * Scala kernel (bit twiddling is clearer and faster than 60 column
    * expressions). */
  def simhash60(tokens: Seq[String]): Long = {
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    tokens.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 bytes big-endian = hex chars 1..16; >>> 4 keeps chars 1..15
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h = h >>> 4
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * via 4×15-bit band equi-join (pigeonhole: ham ≤ 3 ⇒ ≥1 band equal;
    * ham 4..maxHamming pairs are found iff some band happens to match —
    * standard LSH recall semantics, reproduced exactly by the oracle). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sims = docs.select(col("doc_id").cast("string"), col(textCol)).as[(String, String)]
      .map { case (id, text) =>
        (id, simhash60(TextAnalysis.words(text)))
      }.toDF("doc", "sh")
    bandedPairs(sims, "doc", array((0 until 4).map(b =>
      shiftright(col("sh"), b * 15).bitwiseAND(lit(0x7fffL))): _*), "sh")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Duplicate clusters from a candidate-pair table: connected components
    * by iterative min-label propagation with ADAPTIVE POINTER JUMPING.
    *
    * Every round each node adopts the smallest label in its closed
    * neighborhood (one shuffle: neighbor join + min aggregation). Near-dup
    * components are shallow — real corpora settle in 3-4 plain rounds — so
    * the first `jumpFromRound` rounds run ONLY that cheap step. If the
    * labels still haven't converged (a deep component: long chains of
    * chained near-dups), the label-doubling jump engages: after
    * propagation each node shortcuts to its label's label, making the
    * known-min horizon roughly double per round — O(log diameter) total, a
    * 64-edge path settles in ~10 rounds, not 64 (property-tested). Labels
    * are always node ids of the same component, so the jump lookup
    * `label → label(label)` is a total inner join.
    *
    * Convergence is detected WITHOUT an extra join: the propagation
    * aggregation carries each node's previous label through as
    * `min(label) over the single self row`, so "any node changed?" is a
    * filter-count on the (checkpointed) round output. A zero-change
    * propagation round means every label is the min over its closed
    * neighborhood — by induction outward from each component's minimum
    * node, that fixpoint IS the component minimum — so stopping there is
    * exact, and the jump (which only relabels to an equal-or-smaller
    * label) is the identity at that point.
    *
    * Pairs → clusters is what dedup actually needs: the cluster id doubles
    * as the deterministic keeper (min doc_id). Per plain round: one
    * shuffle job + a cached scalar count. Jump rounds add the one
    * self-join job.
    *
    * Like every serious CC implementation (GraphX/GraphFrames do the
    * same), the operator is TWO-TIER: near-dup pair graphs are a small
    * fraction of the corpus, so below `localSolveMaxPairs` the pairs are
    * collected and solved by driver-side union-find — exact, zero
    * iterative shuffle rounds, bounded by the declared threshold (the
    * same explicit-contract style as `cosineTopK`'s broadcast query
    * side; 2×10⁶ collected pair Rows ≈ 200 MB driver heap, well inside
    * any real driver and sized so dup-clique blowups — e.g. replicated
    * short docs — still resolve locally). At 100 TB the LSH pair
    * table runs to billions of rows, the count check fails, and the
    * distributed label loop engages. Both tiers produce identical output
    * (equality-tested), and the pairs input is persisted so the sizing
    * count never re-executes the upstream pipeline. Sessions should set
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`
    * (graft sessions do): Spark otherwise compiles cached plans WITHOUT
    * AQE, silently costing the persisted pair pipeline its adaptive
    * join optimizations (measured 2.5x on the 10x corpus).
    *
    * Input: (doc_a, doc_b) candidate pairs. Output: (doc_id, cluster_id)
    * for every doc appearing in a pair. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 30,
                        jumpFromRound: Int = 3,
                        localSolveMaxPairs: Long = 2000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val p = pairs.select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // sizing count, then (small tier) a collect of the CACHED pairs. A
    // fused count+capped-collect probe was tried in round 6 and reverted:
    // it saved only one cache-read job (~0.03-0.05 s, within local noise)
    // while shipping up to cap+1 collected pairs from EVERY map partition
    // to one reducer — a real regression at corpus scale, where the
    // count's bytes-per-partition is what makes the sizing check free.
    val nPairs = p.count()
    if (nPairs <= localSolveMaxPairs) {
      val rows: Seq[(Any, Any)] = p.collect().toSeq.map(r => (r.get(0), r.get(1)))
      val out = localClusters(pairs.sparkSession, rows, p.schema("doc_a").dataType)
      p.unpersist()
      return out
    }
    // edges are re-joined every round and each round's labels feed the
    // next: without persistence each action would re-execute the ENTIRE
    // upstream (e.g. the full MinHash pipeline) once per round — measured
    // 59s vs 4s on the d7 battery query. localCheckpoint also truncates
    // the per-round lineage so plan analysis doesn't deepen with rounds.
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    var labels = nodes.withColumn("label", col("doc_id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // smallest label among self + neighbors; `prev` = the self row's
      // label (every node has exactly one), fused into the same shuffle
      val prop = labels.select(col("doc_id"), col("label"), lit(true).as("self"))
        .union(edges
          .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
          .select(col("dst").as("doc_id"), col("label"), lit(false).as("self")))
        .groupBy("doc_id")
        .agg(min("label").as("label"),
          min(when(col("self"), col("label"))).as("prev"))
        .localCheckpoint(true)
      val changed = prop.filter(col("label") =!= col("prev")).count() // cached
      labels.unpersist() // bound cached label copies to 2, not maxIters
      converged = changed == 0
      if (converged || i < jumpFromRound) {
        labels = prop.select("doc_id", "label")
      } else {
        // deep component: engage the pointer jump — label := label(label)
        val next = prop
          .join(prop.select(col("doc_id").as("label"), col("label").as("jmp")),
            Seq("label"))
          .select(col("doc_id"), col("jmp").as("label"))
          .localCheckpoint(true)
        prop.unpersist()
        labels = next
      }
      i += 1
    }
    edges.unpersist()
    p.unpersist()
    // an unconverged exit would return an inconsistent partition (a node's
    // label only reflects part of its component) — silently-wrong dedup
    // clusters are worse than a loud failure, so refuse
    require(converged,
      s"duplicateClusters did not converge in $maxIters rounds (component " +
        s"diameter exceeds ~2^$maxIters); raise maxIters")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Driver-side union-find for the small-graph tier of
    * [[duplicateClusters]]: exact connected components with path
    * compression, min-id cluster labels. Ids are treated as opaque
    * `Comparable` values (long or string doc ids both work), so the
    * output schema mirrors the input's id type exactly. Takes the
    * already-collected pair rows (round 6: the sizing probe carries them
    * back in its own job, so this never re-collects). */
  private def localClusters(spark: org.apache.spark.sql.SparkSession,
                            pairs: Seq[(Any, Any)],
                            idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.jdk.CollectionConverters._
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    // strings compare by UTF-8 byte order, NOT Comparable.compareTo:
    // Spark's distributed min("label") orders UTF8String by unsigned UTF-8
    // bytes, while String.compareTo orders by UTF-16 code units — for ids
    // containing supplementary-plane characters the two disagree (e.g.
    // U+FF61 sorts before U+10000 in UTF-8 but after it in UTF-16), and
    // the tiers would pick different keepers
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val minOfRoot = new java.util.HashMap[Any, Any]()
    parent.keySet().asScala.foreach { k =>
      val r = find(k)
      val cur = minOfRoot.get(r)
      if (cur == null || lt(k, cur)) minOfRoot.put(r, k)
    }
    val rows = parent.keySet().asScala.toSeq.map { k =>
      org.apache.spark.sql.Row(k, minOfRoot.get(find(k)))
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /** Embedding cosine near-duplicates, banded sign-projection LSH — the
    * production operator. `bands` independent bucket keys of `bitsPerBand`
    * random hyperplane signs each; vectors sharing any band key become
    * candidates (equi-join per band, never a cross join), then the exact
    * cosine filter runs inside buckets only. Recall for a pair at angle θ is
    * 1-(1-p^r)^b with p = 1-θ/π — near-identical vectors (the near-dup
    * regime) collide with probability →1; see the OpsSpec recall test vs
    * brute force. At 100 TB raise `bitsPerBand` (bucket count 2^r) so
    * per-bucket populations stay bounded; `bands` buys recall linearly. */
  /** The `bitsPerBand` bucket-population knob chosen from corpus size:
    * smallest bit count keeping expected per-band bucket population at or
    * under `targetBucketPop` (in-bucket work is quadratic in population, so
    * an unraised knob at 10x corpus costs ~100x — measured 47x on the 10x
    * scale-confidence corpus before this). Recall stays high in the
    * near-dup regime: at cosine 0.95, P(band match) = (1-θ/π)^bits ≈ 0.43
    * even at bits=8, and 8 bands put overall recall ≈ 0.99. */
  def autoBitsPerBand(n: Long, targetBucketPop: Int = 64, minBits: Int = 4): Int = {
    var bits = minBits
    while ((n >> bits) > targetBucketPop && bits < 24) bits += 1
    bits
  }

  def embeddingNearDupsBanded(embeddings: DataFrame, minCosine: Double,
                              bands: Int = 8, bitsPerBand: Int = 4,
                              dim: Int = 64,
                              seed: Long = graft.corpus.Synth.DefaultSeed): DataFrame = {
    val planes = Similarity.hyperplanes(bands * bitsPerBand, dim, seed)
    val bandKeys = array((0 until bands).map { b =>
      Similarity.lshBucket(col("e"), planes.slice(b * bitsPerBand, (b + 1) * bitsPerBand))
    }: _*)
    bandedPairs(embeddings.select(col("vec_id").as("id"), col("embedding").as("e"),
      Similarity.normCol(col("embedding")).as("n")), "id", bandKeys, "e", "n")
      .withColumn("cosine",
        graft.functions.VecMath.vecDot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b")
  }

  /** Embedding cosine near-duplicates, brute force: all pairs with cosine ≥
    * minCosine via cross join. Exact — kept as the TEST ORACLE for the
    * banded operator's recall; never the production path (quadratic). */
  def embeddingNearDups(embeddings: DataFrame, minCosine: Double): DataFrame = {
    val withNorm = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.normCol(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("nrm").as("n_a"))
    val b = withNorm.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("nrm").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.VecMath.vecDot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b")
  }
}
