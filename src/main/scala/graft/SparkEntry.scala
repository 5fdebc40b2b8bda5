package graft

import graft.analytics.Scoring
import graft.corpus.{Fixtures, FromTable}
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.ExtractionPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — flagship entry + one query per implemented operator
  * (SURVEY.md §2) with ANSI-SQL DuckDB oracles where SQL can express the
  * semantics; kernel-dependent queries (x-series) are rows-only checked.
  *
  * Conventions shared with every oracle: floating outputs rounded to ≤6
  * decimals, deterministic ORDER BY, and column names identical on both
  * sides (the driver compare hashes by sorted column name).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a small-file table across the session's cores before a
    * compute-heavy per-row kernel (shingling, md5 hashing, regex scoring):
    * a sub-128MB parquet file arrives as ONE scan split, so without this
    * every downstream tokenize/hash pass runs single-threaded regardless
    * of the core count (guide §2.5, input-skew: "one huge unsplittable
    * file — repartition immediately after the read"). Hash-partitioned on
    * the row key (deterministic, no round-robin pre-sort) and sized from
    * the session's default parallelism, never a constant, so the same
    * query on a real many-split corpus just re-buckets to the cluster
    * width. Results are unaffected: every consumer aggregates, joins or
    * re-sorts downstream. */
  private def spread(df: DataFrame, key: String = "doc_id"): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** bitsPerBand for the embedding-LSH queries (d5, c2): PINNED to 4 — the
    * oracle twins' literal constant — so the oracle-checked queries stay in
    * lockstep at every sf. Scale batteries opt into the corpus-sized
    * `autoBitsPerBand` knob via SPARK_GRAFT_D5_BITS=auto (or an explicit
    * bit count), which also keeps the sizing count() out of the bench's
    * timed region for the oracle path. */
  private def embLshBits(emb: DataFrame): Int =
    sys.env.get("SPARK_GRAFT_D5_BITS") match {
      case Some("auto")          => Dedup.autoBitsPerBand(emb.count())
      case Some(n) if n.nonEmpty => n.toInt
      case _                     => 4
    }

  /** d8's child session for the pair build and the per-drop updates: AQE
    * off and 8 shuffle partitions on this session only, so the caller's
    * conf is never touched. Each update is ~10 fixed-shape micro-stages over an
    * already-tiny pair delta — nothing to adapt, while AQE's
    * per-query-stage materialize+replan barrier costs ~0.2-0.5 s × every
    * boundary (the same argument as the scaling workers, Bench.session);
    * without AQE's coalescing, the micro-shuffles are sized to the delta
    * (a handful of tasks), not the session-wide analytics default. A real
    * nightly drop is one update over millions of pairs, where AQE earns
    * its barriers. */
  private def d8UpdateSession(s: SparkSession): SparkSession = {
    val ds = s.newSession()
    ds.conf.set("spark.sql.adaptive.enabled", "false")
    ds.conf.set("spark.sql.shuffle.partitions", "8")
    ds
  }

  /** Clustering tier threshold for the d7/c2 queries: default 2×10⁶ pairs
    * (the operator default); SPARK_GRAFT_D7_LOCAL_MAX overrides for scale
    * batteries (=0 forces the distributed adaptive-jump tier — the
    * configuration a 100 TB corpus would run) in BOTH queries, so a
    * forced-distributed battery never silently measures the driver
    * union-find in one of them. */
  private def d7LocalMax: Long =
    sys.env.get("SPARK_GRAFT_D7_LOCAL_MAX").map(_.toLong).getOrElse(2000000L)

  /** Flagship: full extraction over the golden fixtures + the sf0.001
    * documents-derived corpus, exploded to spans. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val docs = FromTable.docs(spark, "/root/testdata/sf0.001")
      .union(Fixtures.inputDocs.toDS())
    ExtractionPipeline.extract(docs, ExtractionPipeline.Config(numPartitions = 8))
      .select($"doc_id", $"success", $"failure_code", explode($"spans").as("span"))
      .select($"doc_id", $"span.offset", $"span.kind", $"span.media_ref", $"span.text",
        $"success", $"failure_code")
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / rollup shapes (SURVEY.md §2.4) ----
    "q1_lineitem_rollup" -> ((s, d) => {
      // Big SUMs run in exact DECIMAL, rounded, then cast back to double
      // (here and in q2/q12): a double sum of millions of rows is only
      // reproducible to ~2e-14 relative across summation orders, and
      // round(x, 4) on a 1e9-scale sum asks for 14 significant digits —
      // at sf0.1 the Spark partial-agg order vs DuckDB's actually flipped
      // q12's 4th decimal. Decimal summation is associative (exact), so
      // Spark and DuckDB agree bit-for-bit at ANY corpus size; the final
      // double cast keeps the dumped schema unchanged. AVGs stay double:
      // dividing by the count shrinks them to ~9 significant digits,
      // far inside double determinism.
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity").cast("decimal(12,2)")), 4)
            .cast("double").as("sum_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_nation_order_stats" -> ((s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(12,2)")), 4)
            .cast("double").as("total_price"), // exact decimal sum: see q1
          round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy("n_name")
    }),
    "q3_price_buckets" -> ((s, d) => {
      t(s, d, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "lo")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("hi"))
        .groupBy("bucket").agg(count(lit(1)).as("n_orders"))
        .orderBy("bucket")
    }),
    "q4_running_peak" -> ((s, d) => {
      // SCALE BOUND (documented, accepted): the window partitions by
      // event_type (~5 distinct values), so at 100x corpus this is 5
      // single-task total sorts — faithful to SURVEY W1's sweep-line
      // semantics and oracle-pinned, but NOT the shape to run over a
      // 100 TB fact table. The scale path is IMPLEMENTED as
      // ops/Windows.chunkedRunningPeak (chunked two-phase prefix sum whose
      // parallelism grows with type x time-chunk; OpsSpec proves exact
      // equivalence on integral values). It is kept OUT of this
      // oracle-checked query on purpose: re-associating the double
      // summation changes FP rounding at the 4th decimal in edge cases,
      // which would break the bit-exact DuckDB lockstep this battery
      // guarantees.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("rs", sum("value").over(w))
        .groupBy("event_type").agg(round(max("rs"), 4).as("peak"))
        .orderBy("event_type")
    }),
    "q4b_chunked_peak" -> ((s, d) => {
      // W1's 100-TB scale path under its OWN green oracle row: on
      // integer-cast values (exact cents) the chunked re-association is
      // exact, so the DuckDB window twin locks bit-for-bit — the FP
      // caveat that keeps chunkedRunningPeak out of q4 vanishes. The
      // operator's parallelism grows with type × day-chunk instead of
      // pinning each type's history to one task (see ops/Windows).
      import graft.ops.Windows
      Windows.chunkedRunningPeak(
        t(s, d, "events")
          .withColumn("value", floor(col("value") * 100).cast("long")),
        chunkCol = date_trunc("day", col("ts")))
        .select(col("event_type"), col("peak"))
        .orderBy("event_type")
    }),
    "q5_latest_events" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),
    "q6_top_docs" -> ((s, d) => {
      t(s, d, "documents").select("doc_id", "n_chars")
        .orderBy(col("n_chars").desc, col("doc_id")).limit(10)
    }),
    "q7_event_users" -> ((s, d) => {
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),
    "q8_props_key" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
        .groupBy("event_type")
        .agg(round(avg("k"), 6).as("avg_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),
    "q9_source_allowlist" -> ((s, d) => {
      // P4: document-format allow-list filter (run_batch_benchmark.py:476-502)
      t(s, d, "documents")
        .filter(col("source").isin("src1", "src3", "src5", "src7", "src9"))
        .groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "lang")
    }),
    "q10_len_buckets" -> ((s, d) => {
      // A5: length-bucket rollup (analyze_failures.py:93-125)
      t(s, d, "documents")
        .withColumn("len_bucket",
          when(col("n_chars") < 100, "0-99")
            .when(col("n_chars") < 250, "100-249")
            .when(col("n_chars") < 400, "250-399")
            .otherwise("400+"))
        .groupBy("len_bucket")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 6).as("avg_chars"))
        .orderBy("len_bucket")
    }),
    "q11_union_distinct" -> ((s, d) => {
      // E3: union + distinct across sides (compare_prompting_results.py:137)
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")
    }),
    "q12_region_revenue" -> ((s, d) => {
      // multi-way star join: facts shuffle once on the join key, every
      // dimension small enough to broadcast is broadcast (AQE confirms)
      spread(t(s, d, "lineitem"), "l_orderkey")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        // exact revenue on LONGS (see q1 for why double sums can't be used):
        // the data is exactly 2-decimal, so the exact decimal term
        // ext*(1-disc) equals the integer ext_c*(100-disc_c) at scale 1e-4
        // (the round() only strips the double representation error of the
        // 2-decimal inputs, < 1e-7 of an integer). Summation runs in TWO
        // exact phases: per-(group, input partition) partials stay LONG —
        // a partition would need ~10^10 max-value rows to overflow 2^63,
        // orders of magnitude past any maxPartitionBytes split — and only
        // the #groups×#partitions partial rows widen to decimal at the
        // final aggregation, which removes the per-row BigDecimal
        // accumulator the round-4 profile paid 1.4 s for. Decimal/integer
        // summation is associative, so the total — and the round→::DOUBLE
        // emitted value — is bit-identical to the oracle's decimal sum at
        // ANY corpus size (re-verified at sf0.01 and sf0.1).
        .withColumn("rev_c", round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .groupBy(col("r_name"), spark_partition_id().as("__pid"))
        .agg(count(lit(1)).as("n1"), sum("rev_c").as("s1"))
        .groupBy("r_name")
        .agg(sum("n1").as("n_items"),
          round((sum(col("s1").cast("decimal(38,0)")) / lit(10000))
            .cast("decimal(38,4)"), 4)
            .cast("double").as("revenue"))
        .orderBy("r_name")
    }),
    "q13_part_type_stats" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("p_type")
    }),
    "q14_hourly_events" -> ((s, d) => {
      // event-time tumbling window (epoch-aligned, UTC session TZ);
      // window(ts, '1 hour').start ≡ DuckDB date_trunc('hour', ts)
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
        .select(col("w.start").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("hour", "event_type")
    }),
    // ---- routing / grounding (P5/P2 as whole-corpus queries) ----
    "r1_smart_routing" -> ((s, d) => {
      import graft.ops.Routing
      t(s, d, "documents").select(col("doc_id"))
        .withColumn("format", Routing.formatOf(col("doc_id")))
        .withColumn("quality", Routing.qualityOf(col("doc_id")))
        .withColumn("route", Routing.routeOf(col("format"), col("quality")))
        .withColumn("allowed", Routing.allowedOf(col("format")).cast("int"))
        .groupBy("format", "quality", "route", "allowed")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("format", "quality")
    }),
    "r2_grounding_check" -> ((s, d) => {
      import graft.ops.Routing
      t(s, d, "documents").select(col("doc_id"))
        .withColumn("mode", Routing.routeOf(
          Routing.formatOf(col("doc_id")), Routing.qualityOf(col("doc_id"))))
        .withColumn("bbox_len", Routing.bboxLenOf(col("doc_id")))
        .withColumn("failure_code",
          Routing.groundingFailure(col("mode"), col("bbox_len")))
        .select("doc_id", "mode", "bbox_len", "failure_code")
        .orderBy("doc_id")
    }),
    // ---- text analysis ----
    "t1_token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(t(s, d, "documents")).orderBy("doc_id")),
    "t2_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(spread(t(s, d, "documents"))).orderBy("doc_id")),
    "t3_langid" -> ((s, d) =>
      TextAnalysis.langId(spread(t(s, d, "documents"))).orderBy("doc_id")),
    "t4_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(t(s, d, "documents")).orderBy("doc_id")),
    "t5_rolling_fingerprint" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, TextAnalysis.rollingHash(TextAnalysis.words(text))) }
        .toDF("doc_id", "rolling_fp").orderBy("doc_id")
    }),
    "t6_regex_tokens" -> ((s, d) =>
      TextAnalysis.regexTokens(spread(t(s, d, "documents"))).orderBy("doc_id")),
    // ---- dedup ----
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents")).orderBy("content_hash")),
    "d2_ngram_jaccard" -> ((s, d) =>
      // maxDocFreq=64: the scale guard on the shingle self-join (shingles
      // shared by >64 docs are dropped from candidate generation; the
      // oracle CTE applies the same cap)
      Dedup.ngramJaccardPairs(spread(t(s, d, "documents")), minJaccard = 0.5,
        maxDocFreq = 64)
        .orderBy("doc_a", "doc_b")),
    "d3_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(spread(t(s, d, "documents"))).orderBy("doc_id")),
    "d4_lsh_pairs" -> ((s, d) =>
      Dedup.lshNearDupPairs(Dedup.minhashSignatures(spread(t(s, d, "documents"))))
        .orderBy("doc_a", "doc_b")),
    "d5_embedding_neardup" -> ((s, d) => {
      // banded sign-projection LSH (equi-join per band) — the scale-safe
      // production operator; the oracle reproduces the identical bucketing
      // from the same hyperplane literals, so results hash-match exactly.
      // bitsPerBand pinned to the oracle constant via embLshBits (sf0.1
      // has 2000 embeddings, where the auto knob would pick 5 and
      // silently diverge from the 4-bit oracle).
      val emb = t(s, d, "embeddings")
      Dedup.embeddingNearDupsBanded(emb, minCosine = 0.45,
        bitsPerBand = embLshBits(emb))
        .orderBy("id_a", "id_b")
    }),
    "d6_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(spread(t(s, d, "documents")), maxHamming = 6)
        .orderBy("doc_a", "doc_b")),
    "d7_dup_clusters" -> ((s, d) =>
      // pairs → connected components → (doc, cluster keeper): what a
      // curation pipeline actually consumes; oracle = recursive CTE over
      // the identical d4 pair graph. Two-tier operator: at driver sf the
      // pair graph is tiny, so the declared-threshold union-find tier
      // answers without iterative shuffle rounds; the distributed
      // adaptive-pointer-jump tier (property-tested) engages when the
      // pair table outgrows the driver — both produce identical output
      // (equality-tested in OpsSpec). SPARK_GRAFT_D7_LOCAL_MAX overrides
      // the tier threshold for scale batteries (=0 forces the distributed
      // tier, the configuration a 100 TB corpus would run).
      Dedup.duplicateClusters(
        Dedup.lshNearDupPairs(Dedup.minhashSignatures(spread(t(s, d, "documents")))),
        localSolveMaxPairs = d7LocalMax)
        .orderBy("doc_id")),
    "d9_dup_spans" -> ((s, d) =>
      // substring-level duplication (Lee et al. '22 shape): maximal token
      // ranges covered by 5-token shingles occurring ≥2 times anywhere in
      // the corpus — boilerplate the document-level dedups can't see
      Dedup.duplicateTokenSpans(spread(t(s, d, "documents")), k = 5)
        .orderBy("doc_id", "start_tok")),
    "d8_incremental_clusters" -> ((s, d) => {
      // incremental duplicate-CLUSTER maintenance as a battery query: the
      // d4 pair graph is split into three deterministic "drops"
      // (pmod(doc_b, 3)), folded one drop at a time into a fresh label
      // store (IncrementalClusters.update — endpoint lookups db-pruned,
      // contracted-graph CC through the same two-tier solver as d7), and
      // the final resolved labels are emitted. Incremental ≡ batch for ANY
      // split is the operator's contract (StreamingSpec proves it), so the
      // oracle is d7's recursive-CTE component labeling VERBATIM. The
      // local temp store is an artifact of this verification harness;
      // production stores live wherever the stream commits them.
      import graft.streaming.IncrementalClusters
      val ds = d8UpdateSession(s)
      val pairs = Dedup.lshNearDupPairs(Dedup.minhashSignatures(spread(t(ds, d, "documents"))))
        .select("doc_a", "doc_b").persist()
      // fresh per-invocation store: a fixed shared path would let two
      // concurrent runs against the same sf dir delete each other's
      // in-progress store (and its writer lease) mid-update. The labels are
      // collected into a local frame (one row per clustered doc), so the
      // store lives only as long as this call. tmpfs when the host has it:
      // the harness store does six parquet commits (rename-heavy) per run,
      // and /tmp is disk-backed here while the shuffle dirs already ride
      // /dev/shm (Bench.session)
      val shm = java.nio.file.Paths.get("/dev/shm")
      val dir = (if (java.nio.file.Files.isDirectory(shm))
        java.nio.file.Files.createTempDirectory(shm, "graft_d8_")
      else java.nio.file.Files.createTempDirectory("graft_d8_")).toString
      // unpersist and delete in the finally: a failed update must leak
      // neither the persisted pair frame nor the store
      try {
        (0 to 2).foreach { i =>
          IncrementalClusters.update(pairs.filter(pmod(col("doc_b"), lit(3)) === i),
            dir, i, localSolveMaxPairs = d7LocalMax)
        }
        val labels = IncrementalClusters.currentLabels(s, dir)
        s.createDataFrame(java.util.Arrays.asList(labels.collect(): _*), labels.schema)
          .orderBy("doc_id")
      } finally {
        pairs.unpersist()
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }),
    "c1_curation" -> ((s, d) => {
      // composite curation pipeline: quality gate ∧ language gate ∧
      // exact-dedup keeper, rolled up per source — the end-to-end shape a
      // training-data pipeline runs nightly. Single pass: all gates are
      // column expressions over ONE scan; the only join is the keeper
      // semi-join against the content-hash aggregate (previously three
      // derived-DataFrame joins = four scans of the corpus, 11s → ~2s)
      // `__spread_pin` (spark_partition_id ≥ 0, i.e. always true) pins the
      // quality/language gate ABOVE the spread exchange: without it the
      // optimizer substitutes the scoring aliases into the filter and
      // pushes it below the repartition, so the expensive scoring runs
      // inside the single-split scan task again (guide §4.4 —
      // nondeterminism blocks the reorder; the conjunct never changes the
      // result)
      val enriched = spread(t(s, d, "documents")).select(
        col("doc_id"), col("source"), col("n_chars"),
        TextAnalysis.qualityLabelCol(col("text")).as("quality_label"),
        TextAnalysis.langIdCol(col("text")).as("lang_id"),
        Dedup.contentHash(col("text")).as("content_hash"),
        spark_partition_id().as("__spread_pin"))
      val keepers = enriched.groupBy("content_hash")
        .agg(min("doc_id").as("doc_id"))
      enriched
        .filter(col("quality_label") === "ok" && col("lang_id") === "en" &&
          col("__spread_pin") >= 0)
        .join(keepers, Seq("doc_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 6).as("avg_chars"))
        .orderBy("source")
    }),
    "c2_semantic_curation" -> ((s, d) => {
      // semantic (embedding-space) curation composite: banded-LSH near-dup
      // pairs → connected components → drop every non-keeper (cluster id =
      // min vec_id doubles as the keeper), roll up the surviving docs per
      // source. Chains three production operators end-to-end the way a
      // semantic-dedup pass actually runs. Scale shape: pairs from banded
      // equi-joins only; the cluster non-keeper set is a tiny anti-join
      // side (broadcast); the embedding-coverage semi-join shuffles ids
      // only. Oracle = d5's pair CTE + a recursive-CTE component labeling
      // (same lockstep-by-construction pattern as d7).
      val emb = t(s, d, "embeddings")
      val pairs = Dedup.embeddingNearDupsBanded(emb, minCosine = 0.45,
        bitsPerBand = embLshBits(emb))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val nonKeepers = Dedup.duplicateClusters(pairs,
        localSolveMaxPairs = d7LocalMax)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      t(s, d, "documents")
        .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .join(nonKeepers, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 6).as("avg_chars"))
        .orderBy("source")
    }),
    // ---- similarity search ----
    "s1_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),
    "s2_lsh_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshAnnTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),
    "s3_ivf_ann" -> ((s, d) => {
      // IVF inverted-list ANN (nprobe=1) with the deterministic random
      // coarse quantizer — the oracle reproduces cell assignment from the
      // same center literals; k-means-trained centers are exercised (recall
      // vs brute) in OpsSpec
      val emb = t(s, d, "embeddings")
      Similarity.ivfAnnTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),
    "s4_ivf_multiprobe" -> ((s, d) => {
      // the recall knob: each query probes its 2 nearest inverted lists —
      // boundary vectors recover neighbors that quantized across the
      // Voronoi edge (the oracle reproduces the probe set as rn <= 2 over
      // the same (dist, cid) ordering)
      val emb = t(s, d, "embeddings")
      Similarity.ivfAnnTopK(emb, emb.filter(col("vec_id") < 8), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    "s5_lsh_multiprobe" -> ((s, d) => {
      // multi-probe LSH: base bucket + the lowest-|margin| single-bit flip
      val emb = t(s, d, "embeddings")
      Similarity.lshAnnTopK(emb, emb.filter(col("vec_id") < 8), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // ---- multimodal ----
    "m1_media_meta" -> ((s, d) => {
      Multimodal.decodeStub(
        Multimodal.synthMediaTable(spread(t(s, d, "documents")).select("doc_id")))
        .toDF().orderBy("media_id")
    }),
    "m2_media_resize" -> ((s, d) => {
      Multimodal.resizeFit(
        Multimodal.synthMediaTable(t(s, d, "documents").select("doc_id")))
        .orderBy("media_id")
    }),
    "m4_frame_sample" -> ((s, d) => {
      Multimodal.sampleFrames(
        Multimodal.synthMediaTable(spread(t(s, d, "documents")).select("doc_id")))
        .orderBy("media_id", "frame_idx")
    }),
    "m3_binary_ingest" -> ((s, d) => {
      // real end-to-end binary ingestion (client.py:42-86 shape): render
      // genuine PNGs to a fixture dir (idempotent), read them back through
      // the binaryFile source, decode with the executor-side ImageIO codec,
      // emit metadata. Dimensions derive from doc_id by a fixed formula the
      // DuckDB oracle recomputes; the decode round-trip proves the bytes
      // are real images, not tags. Fixture ids come from the corpus (same
      // `doc_id < 40` predicate as the oracle), not a hardcoded range.
      import s.implicits._
      val ids = t(s, d, "documents").select("doc_id")
        .filter(col("doc_id") < 40)
        .collect().map(_.getLong(0)).sorted.toSeq // bounded fixture setup
      val dir = graft.sources.DocSources.pngFixtureDir(ids)
      graft.sources.DocSources.readBinaryMedia(s, dir, "*.png")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.png", 1)
          .cast("long").as("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // undecodable bytes → row dropped, never an exception
          // (ImageIO.read returns null on garbage)
          it.flatMap { case (id, bytes) =>
            Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
              .map(img => (id, img.getWidth, img.getHeight))
          }
        }
        .toDF("media_id", "width", "height")
        .orderBy("media_id")
    }),
    // ---- extraction pipeline (kernel-dependent: rows-only checks) ----
    "x1_extract_spans" -> ((s, d) =>
      // VERIFICATION SHAPE: the trailing global orderBy exists only so the
      // parquet dump the driver hashes is deterministic; the production
      // path stops at extractSpans' sortWithinPartitions (PlanSpec pins
      // its single-exchange plan).
      ExtractionPipeline.extractSpans(FromTable.docs(s, d),
        ExtractionPipeline.Config(numPartitions = 16)).orderBy("doc_id", "offset")),
    "x2_kind_histogram" -> ((s, d) => {
      import s.implicits._
      ExtractionPipeline.extract(FromTable.docs(s, d),
        ExtractionPipeline.Config(numPartitions = 16))
        .select(explode($"spans.kind").as("kind"))
        .groupBy("kind").agg(count(lit(1)).as("n_spans"))
        .orderBy("kind")
    }),
    "x3_partition_metrics" -> ((s, d) => {
      val results = ExtractionPipeline.extract(FromTable.docs(s, d),
        ExtractionPipeline.Config(numPartitions = 8))
      ExtractionPipeline.partitionMetrics(results, snapshotId = 0)
        .toDF().drop("failure_codes") // map column: scalars only for the dump
        .orderBy("partition_id")
    }),
    "x4_golden_verdicts" -> ((s, _) => {
      import s.implicits._
      val results = ExtractionPipeline.extract(Fixtures.inputDocs.toDS(),
        ExtractionPipeline.Config(numPartitions = 2))
      Scoring.spanVerdicts(results, Fixtures.expected.values.toSeq.toDS())
        .select("doc_id", "spans_match", "failure_match", "verdict")
        .orderBy("doc_id")
    }),
    "x5_field_outcomes" -> ((s, _) => {
      import s.implicits._
      // golden truth vs a deterministically perturbed extraction: exercises
      // match / mismatch / missing / extra + array length classes
      val gt = Fixtures.ex000TruthJsonRaw
      val perturbed = gt
        .replace("\\\"ranking\\\":1", "\\\"ranking\\\":9")
        .replace("\\\"nation\\\":\\\"Italy\\\"", "\\\"country\\\":\\\"Italy\\\"")
      Scoring.fieldOutcomes(Seq(
        ("ex000_self", gt, gt),
        ("ex000_perturbed", gt, perturbed)).toDS())
        .toDF().orderBy("doc_id", "path", "outcome")
    }),
    "x6_field_scores" -> ((s, _) => {
      import s.implicits._
      val gt = Fixtures.ex000TruthJsonRaw
      val perturbed = gt.replace("\\\"ranking\\\":1", "\\\"ranking\\\":9")
      Scoring.scores(Scoring.fieldOutcomes(Seq(
        ("ex000_self", gt, gt),
        ("ex000_perturbed", gt, perturbed)).toDS()))
        .toDF().orderBy("doc_id")
    }))

  // ------------------------------------------------------------ oracle SQL

  /** One hyperplane as a DuckDB DOUBLE[] literal. Double.toString is the
    * shortest exact round-trip decimal; DuckDB's strtod parse restores the
    * identical bits, so dot-product *signs* (all the bucketing consumes)
    * match the Spark expressions bit-for-bit. */
  private def planeSql(plane: Array[Double]): String =
    plane.mkString("[", ",", "]::DOUBLE[]")

  /** VALUES rows `(band, bit, plane)` for banded sign-projection LSH —
    * the same planes `Dedup.embeddingNearDupsBanded` derives. */
  private def bandedPlanesSql(bands: Int, bitsPerBand: Int, dim: Int,
                              seed: Long): String = {
    val planes = Similarity.hyperplanes(bands * bitsPerBand, dim, seed)
    (0 until bands).flatMap { b =>
      (0 until bitsPerBand).map { r =>
        s"($b, $r, ${planeSql(planes(b * bitsPerBand + r))})"
      }
    }.mkString(",\n   ")
  }

  /** DuckDB twins of every SQL-expressible query above. Shared determinism
    * rules: md5-derived 60-bit hashes (`('0x'||substr(md5(x),1,15))::BIGINT`
    * ≡ Spark `conv(substr(md5(x),1,15),16,10)`), round(…, ≤6), ORDER BY.
    * Composite queries (d7, c1) embed the base oracles as CTE subqueries so
    * the twins stay in lockstep by construction. */
  def oracleSql: Map[String, String] = {
    val base = baseOracleSql
    // connected components of the d4 pair graph via a recursive CTE:
    // reach = every (doc, label-of-a-node-that-reaches-doc); component
    // id = min reachable label (edges are symmetric). Shared VERBATIM by
    // d7 (batch clustering) and d8 (incremental cluster maintenance) —
    // incremental ≡ batch is d8's contract, so its oracle IS d7's.
    val d7Sql =
      s"""WITH RECURSIVE pairs AS (
         |${base("d4_lsh_pairs")}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
         |reach(doc_id, label) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.doc_id = e.src)
         |SELECT doc_id, min(label) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin
    base ++ Map(
      "d7_dup_clusters" -> d7Sql,
      "d8_incremental_clusters" -> d7Sql,
      "c2_semantic_curation" ->
        s"""WITH RECURSIVE pairs AS (
           |${base("d5_embedding_neardup")}),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
           |reach(vec_id, label) AS (
           |  SELECT vec_id, vec_id FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.vec_id = e.src),
           |clusters AS (SELECT vec_id, min(label) AS cluster_id FROM reach GROUP BY 1),
           |nonkeep AS (SELECT vec_id FROM clusters WHERE vec_id <> cluster_id)
           |SELECT source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
           |FROM documents d
           |WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
           |  AND d.doc_id NOT IN (SELECT vec_id FROM nonkeep)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "c1_curation" ->
        s"""WITH q AS (SELECT doc_id FROM (
           |${base("t2_quality")}) WHERE quality_label = 'ok'),
           |l AS (SELECT doc_id FROM (
           |${base("t3_langid")}) WHERE lang_id = 'en'),
           |k AS (SELECT min(doc_id) AS doc_id FROM documents
           |  GROUP BY md5(lower(trim(text))))
           |SELECT source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
           |FROM documents
           |JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN k USING (doc_id)
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q1_lineitem_rollup" ->
      // big sums in exact DECIMAL then ::DOUBLE — lockstep with the Spark
      // side's decimal summation (double sums reassociate; see the q1
      // query comment)
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | round(sum(CAST(l_quantity AS DECIMAL(12,2))),4)::DOUBLE AS sum_qty,
        | round(avg(l_extendedprice),4) AS avg_price
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_nation_order_stats" ->
      """SELECT n_name, count(*) AS n_orders,
        | round(sum(CAST(o_totalprice AS DECIMAL(12,2))),4)::DOUBLE AS total_price,
        | round(avg(o_totalprice),4) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_price_buckets" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'lo'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'hi' END AS bucket, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_running_peak" ->
      """SELECT event_type, round(max(rs),4) AS peak FROM (
        | SELECT event_type, sum(value) OVER (PARTITION BY event_type
        |   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
        | FROM events) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4b_chunked_peak" ->
      // integer-cents twin of q4: the plain global window is the oracle
      // for the chunked two-phase decomposition (exact ⇒ equal)
      """SELECT event_type, max(rs) AS peak FROM (
        | SELECT event_type, sum(v) OVER (PARTITION BY event_type
        |   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
        | FROM (SELECT event_type, ts, event_id, floor(value*100)::BIGINT AS v FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_latest_events" ->
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q6_top_docs" ->
      "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10",
    "q7_event_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_props_key" ->
      """SELECT event_type, round(avg(TRY_CAST(regexp_extract(props,'"k": (\d+)',1) AS INT)),6) AS avg_k,
        | max(TRY_CAST(regexp_extract(props,'"k": (\d+)',1) AS INT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "t1_token_count" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_quality" ->
      s"""WITH base AS (
         | SELECT doc_id, length(text) AS n_chars,
         |  len(list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
         |  len(list_filter(regexp_split_to_array(text,'\\s+'),
         |        x -> x IN (${TextAnalysis.EnStopwords.map("'" + _ + "'").mkString(",")}))) AS stop_hits
         | FROM documents)
         |SELECT doc_id, n_chars, n_tokens,
         | round(punct::DOUBLE / greatest(n_chars,1), 6) AS punct_ratio,
         | round(digits::DOUBLE / greatest(n_chars,1), 6) AS digit_ratio,
         | round(stop_hits::DOUBLE / greatest(n_tokens,1), 6) AS stopword_ratio,
         | round((n_chars - n_tokens + 1)::DOUBLE / greatest(n_tokens,1), 6) AS mean_token_len,
         | CASE WHEN n_tokens < 10 THEN 'too_short'
         |      WHEN round(stop_hits::DOUBLE / greatest(n_tokens,1), 6) < 0.01 THEN 'suspicious'
         |      WHEN round((n_chars - n_tokens + 1)::DOUBLE / greatest(n_tokens,1), 6) > 12.0 THEN 'suspicious'
         |      ELSE 'ok' END AS quality_label
         |FROM base ORDER BY doc_id""".stripMargin,
    "t3_langid" -> {
      val markerScore = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        s"len(list_filter(toks, x -> x IN (${ms.map("'" + _ + "'").mkString(",")}))) AS score_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val maxExpr = s"greatest(${langs.map("score_" + _).mkString(",")})"
      val pick = langs.reverse.foldLeft("'und'") { (els, lang) =>
        s"CASE WHEN score_$lang = $maxExpr AND $maxExpr > 0 THEN '$lang' ELSE $els END"
      }
      s"""WITH toksd AS (
         | SELECT doc_id, text, CASE WHEN length(trim(lower(text))) = 0 THEN []
         |  ELSE regexp_split_to_array(trim(lower(text)),'\\s+') END AS toks
         | FROM documents),
         |scored AS (SELECT doc_id, text,
         |  $markerScore
         | FROM toksd)
         |SELECT doc_id, ${langs.map("score_" + _).mkString(", ")},
         | CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |      ELSE $pick END AS lang_id
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "t4_fingerprint" ->
      "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents ORDER BY doc_id",
    "d1_exact_dedup" ->
      """SELECT md5(lower(trim(text))) AS content_hash,
        | min(doc_id) AS keeper_doc_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "d2_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), x -> x <> '') AS toks
        | FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(toks)-2),
        |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        | FROM toks WHERE len(toks) >= 3),
        |r0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
        |hot AS (SELECT shingle FROM r0 GROUP BY shingle HAVING count(*) > 64),
        |r AS (SELECT * FROM r0 WHERE shingle NOT IN (SELECT shingle FROM hot))
        |SELECT doc_a, doc_b, n_common, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common,
        |  round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
        | FROM r a JOIN r b USING (shingle) WHERE a.doc_id < b.doc_id
        | GROUP BY 1, 2, a.n_sh, b.n_sh)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "d3_minhash_sig" -> {
      val mins = (0 until 16).map(i =>
        s"min(h1 + $i * h2) AS mh${"%02d".format(i)}").mkString(",\n  ")
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(trim(lower(text)),'\\s+'), x -> x <> '') AS toks
         | FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   generate_series(1, len(toks)-2),
         |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         | FROM toks WHERE len(toks) >= 3),
         |r AS (SELECT doc_id, md5(unnest(sh)) AS m FROM sh),
         |h AS (SELECT doc_id, ('0x' || substr(m,1,15))::BIGINT AS h1,
         |             ('0x' || substr(m,16,14))::BIGINT AS h2 FROM r)
         |SELECT doc_id,
         |  $mins
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "d4_lsh_pairs" -> {
      // same signature pipeline as d3, then 4 bands × 4 rows: band key =
      // md5 of the comma-joined slice (Spark: md5(concat_ws(",",...)))
      val mins = (0 until 16).map(i =>
        s"min(h1 + $i * h2) AS mh${"%02d".format(i)}").mkString(",\n  ")
      val sigList = (0 until 16).map(i => f"mh$i%02d").mkString(", ")
      val bandKeys = (0 until 4).map { b =>
        val slice = (0 until 4).map(r => f"mh${b * 4 + r}%02d").mkString(", ")
        s"md5(concat_ws(',', $slice)) AS band_$b"
      }.mkString(",\n  ")
      val bandUnion = (0 until 4).map(b =>
        s"SELECT doc_id, sig, $b AS band, band_$b AS key FROM sigl")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(trim(lower(text)),'\\s+'), x -> x <> '') AS toks
         | FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   generate_series(1, len(toks)-2),
         |   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         | FROM toks WHERE len(toks) >= 3),
         |r AS (SELECT doc_id, md5(unnest(sh)) AS m FROM sh),
         |h AS (SELECT doc_id, ('0x' || substr(m,1,15))::BIGINT AS h1,
         |             ('0x' || substr(m,16,14))::BIGINT AS h2 FROM r),
         |sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
         |sigl AS (SELECT doc_id, [$sigList] AS sig,
         |  $bandKeys FROM sig),
         |banded AS ($bandUnion),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, est_jaccard FROM (
         | SELECT doc_a, doc_b, round(len(list_filter(generate_series(1,16),
         |    i -> sig_a[i] = sig_b[i]))::DOUBLE / 16, 6) AS est_jaccard
         | FROM cand)
         |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
    },
    "d5_embedding_neardup" -> {
      // identical banded sign-projection LSH as embeddingNearDupsBanded
      // (bands=8, bitsPerBand=4, dim=64, seed=DefaultSeed) — hyperplanes
      // embedded as exact round-trip literals, then exact cosine in-bucket
      val cosAB =
        """(list_sum(list_transform(generate_series(1, len(e_a)),
          |    i -> e_a[i]::DOUBLE * e_b[i]::DOUBLE))
          |  / (sqrt(list_sum(list_transform(generate_series(1, len(e_a)),
          |      i -> e_a[i]::DOUBLE * e_a[i]::DOUBLE)))
          |   * sqrt(list_sum(list_transform(generate_series(1, len(e_b)),
          |      i -> e_b[i]::DOUBLE * e_b[i]::DOUBLE)))))""".stripMargin
      s"""WITH planes(band, bit, w) AS (VALUES
         |   ${bandedPlanesSql(8, 4, 64, graft.corpus.Synth.DefaultSeed)}),
         |keys AS (SELECT vec_id, embedding, band,
         |   sum(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)),
         |       i -> embedding[i]::DOUBLE * w[i])) >= 0
         |     THEN (1 << bit) ELSE 0 END)::INT AS key
         |  FROM embeddings CROSS JOIN planes GROUP BY vec_id, embedding, band),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.embedding AS e_a, b.embedding AS e_b
         |  FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
         |  WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b FROM cand
         |WHERE $cosAB >= 0.45
         |ORDER BY id_a, id_b""".stripMargin
    },
    "s1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  list_sum(list_transform(generate_series(1, len(q_emb)),
        |    i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
        |  / (sqrt(list_sum(list_transform(generate_series(1, len(q_emb)),
        |      i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE)))
        |   * sqrt(list_sum(list_transform(generate_series(1, len(c_emb)),
        |      i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE)))) AS cos
        | FROM c CROSS JOIN q WHERE neighbor_id <> query_id)
        |SELECT query_id, rank, neighbor_id FROM (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        | FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "m1_media_meta" ->
      """SELECT media_id, ('0x' || substr(h,1,3))::INT + 64 AS width,
        | ('0x' || substr(h,4,3))::INT + 64 AS height,
        | CASE WHEN ('0x' || substr(h,7,1))::INT % 3 = 0 THEN 'png'
        |      WHEN ('0x' || substr(h,7,1))::INT % 3 = 1 THEN 'jpeg'
        |      ELSE 'webp' END AS format,
        | length(repeat(h, 4)) AS n_bytes,
        | md5(repeat(h, 4)) AS phash
        |FROM (SELECT doc_id AS media_id, md5(doc_id::VARCHAR) AS h FROM documents)
        |ORDER BY media_id""".stripMargin,
    "m2_media_resize" ->
      """WITH m AS (SELECT doc_id AS media_id, md5(doc_id::VARCHAR) AS h FROM documents),
        |mm AS (SELECT media_id, repeat(h,4) AS content,
        |  ('0x' || substr(h,1,3))::INT + 64 AS width,
        |  ('0x' || substr(h,4,3))::INT + 64 AS height FROM m)
        |SELECT media_id, width, height,
        | floor(width * least(1280.0/width, 1280.0/height, 1.0))::INT AS resized_w,
        | floor(height * least(1280.0/width, 1280.0/height, 1.0))::INT AS resized_h,
        | length(to_base64(content::BLOB)) AS b64_len
        |FROM mm ORDER BY media_id""".stripMargin,
    "q9_source_allowlist" ->
      """SELECT source, lang, count(*) AS n_docs FROM documents
        |WHERE source IN ('src1','src3','src5','src7','src9')
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q10_len_buckets" ->
      """SELECT CASE WHEN n_chars < 100 THEN '0-99'
        |            WHEN n_chars < 250 THEN '100-249'
        |            WHEN n_chars < 400 THEN '250-399'
        |            ELSE '400+' END AS len_bucket,
        | count(*) AS n_docs, round(avg(n_chars),6) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q12_region_revenue" ->
      """SELECT r_name, count(*) AS n_items,
        | round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * (1 - CAST(l_discount AS DECIMAL(4,2)))), 4)::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_part_type_stats" ->
      """SELECT p_type, count(*) AS n_items,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(avg(l_extendedprice), 4) AS avg_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "r1_smart_routing" -> {
      val fmts = graft.ops.Routing.Formats.map("'" + _ + "'").mkString(",")
      val quals = graft.ops.Routing.Qualities.map("'" + _ + "'").mkString(",")
      val allowed = graft.kernel.Router.AllowedFormats.toSeq.sorted
        .map("'" + _ + "'").mkString(",")
      s"""WITH base AS (SELECT doc_id,
         |  ([$fmts])[(doc_id % 10) + 1] AS format,
         |  ([$quals])[(doc_id % 3) + 1] AS quality
         | FROM documents)
         |SELECT format, quality,
         | CASE WHEN format IN ('TABLE','PHOTO_TABLE','WEB_TABLE','SCANNED_TABLE') THEN
         |        CASE WHEN quality = 'PHOTO' THEN 'prompt_layout_all_en'
         |             ELSE 'prompt_layout_only_en' END
         |      WHEN format IN ('FORM','SCANNED_FORM') THEN 'prompt_grounding_ocr'
         |      WHEN format = 'PHOTO_RECEIPT' THEN 'prompt_layout_all_en'
         |      ELSE 'prompt_ocr' END AS route,
         | CASE WHEN format IN ($allowed) THEN 1 ELSE 0 END AS allowed,
         | count(*) AS n_docs
         |FROM base GROUP BY 1,2,3,4 ORDER BY 1,2""".stripMargin
    },
    "r2_grounding_check" -> {
      val fmts = graft.ops.Routing.Formats.map("'" + _ + "'").mkString(",")
      val quals = graft.ops.Routing.Qualities.map("'" + _ + "'").mkString(",")
      s"""WITH base AS (SELECT doc_id,
         |  ([$fmts])[(doc_id % 10) + 1] AS format,
         |  ([$quals])[(doc_id % 3) + 1] AS quality,
         |  CASE WHEN doc_id % 7 = 0 THEN 0
         |       WHEN doc_id % 11 = 0 THEN 3 ELSE 4 END AS bbox_len
         | FROM documents),
         |m AS (SELECT doc_id, bbox_len,
         | CASE WHEN format IN ('TABLE','PHOTO_TABLE','WEB_TABLE','SCANNED_TABLE') THEN
         |        CASE WHEN quality = 'PHOTO' THEN 'prompt_layout_all_en'
         |             ELSE 'prompt_layout_only_en' END
         |      WHEN format IN ('FORM','SCANNED_FORM') THEN 'prompt_grounding_ocr'
         |      WHEN format = 'PHOTO_RECEIPT' THEN 'prompt_layout_all_en'
         |      ELSE 'prompt_ocr' END AS mode
         | FROM base)
         |SELECT doc_id, mode, bbox_len,
         | CASE WHEN mode = 'prompt_grounding_ocr' AND bbox_len <> 4
         |      THEN 'BBOX_REQUIRED' ELSE '' END AS failure_code
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "m4_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, md5(doc_id::VARCHAR) AS h FROM documents),
        |d AS (SELECT media_id, ('0x' || substr(h,9,2))::INT % 60 + 1 AS duration_s FROM m),
        |n AS (SELECT media_id, duration_s, least(duration_s, 8) AS n_frames FROM d),
        |f AS (SELECT media_id, duration_s, n_frames,
        |   unnest(generate_series(0, n_frames - 1)) AS frame_idx FROM n)
        |SELECT media_id, duration_s, n_frames, frame_idx,
        | (frame_idx * duration_s * 1000) // n_frames AS frame_ts_ms,
        | md5(media_id::VARCHAR || '_' || frame_idx::VARCHAR) AS frame_ref
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "m3_binary_ingest" ->
      """SELECT doc_id AS media_id,
        | (doc_id % 48 + 16)::INT AS width,
        | ((doc_id // 7) % 48 + 16)::INT AS height
        |FROM documents WHERE doc_id < 40 ORDER BY media_id""".stripMargin,
    "t5_rolling_fingerprint" ->
      // Karp-Rabin over tokens: Java-long wraparound arithmetic reproduced
      // mod 2^64 in HUGEINT, then converted to signed
      """WITH toks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), x -> x <> '') AS toks
        | FROM documents),
        |th AS (SELECT doc_id, list_transform(toks, t ->
        |   list_reduce(list_prepend(1125899906842597::HUGEINT,
        |       list_transform(regexp_split_to_array(t, ''), c -> unicode(c)::HUGEINT)),
        |     (acc, c) -> (acc * 31 + c) % 18446744073709551616::HUGEINT)) AS hs
        | FROM toks),
        |rh AS (SELECT doc_id,
        |   list_reduce(list_prepend(0::HUGEINT, hs),
        |     (acc, x) -> (acc * 1000003 + x) % 18446744073709551616::HUGEINT) AS h
        | FROM th)
        |SELECT doc_id, (CASE WHEN h >= 9223372036854775808::HUGEINT
        |   THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS rolling_fp
        |FROM rh ORDER BY doc_id""".stripMargin,
    "d9_dup_spans" ->
      // positional 5-shingle md5-prefix hashes -> global occurrence >= 2 ->
      // per-doc interval merge (identical window arithmetic to the operator)
      """WITH toks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), x -> x <> '') AS toks
        | FROM documents),
        |sh AS (SELECT doc_id, i - 1 AS pos,
        |   ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')),1,15))::BIGINT AS h
        |  FROM toks, unnest(generate_series(1, len(toks)-4)) t(i)),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, pos FROM sh JOIN dup USING (h)),
        |m AS (SELECT doc_id, pos,
        |   max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        | FROM hits),
        |g AS (SELECT doc_id, pos,
        |   sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        | FROM m)
        |SELECT doc_id, min(pos) AS start_tok, max(pos) + 5 AS end_tok,
        | max(pos) + 5 - min(pos) AS n_tokens
        |FROM g GROUP BY doc_id, grp ORDER BY doc_id, start_tok""".stripMargin,
    "d6_simhash_pairs" ->
      // md5-prefix 60-bit token hashes -> per-bit majority vote -> 4×15-bit
      // banded equi-join -> Hamming ≤ 6 (bit-for-bit the Scala kernel)
      """WITH toks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), x -> x <> '') AS toks
        | FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, b.b AS b,
        |   sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN range(60) b(b) GROUP BY 1,2),
        |sim0 AS (SELECT doc_id,
        |   sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
        |  FROM bits GROUP BY 1),
        |sims AS (SELECT d.doc_id::VARCHAR AS doc_id, coalesce(s.simhash, 0) AS simhash
        |  FROM documents d LEFT JOIN sim0 s ON d.doc_id = s.doc_id),
        |banded AS (SELECT doc_id, simhash, b.band AS band,
        |   (simhash >> (b.band * 15)) & 32767 AS key
        |  FROM sims CROSS JOIN range(4) b(band)),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |  WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        | SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming FROM pairs)
        |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin,
    "t6_regex_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_runs,
        | len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
        | len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_marks,
        | len(regexp_extract_all(text, '[A-Za-z]+'))
        |  + len(regexp_extract_all(text, '[0-9]+'))
        |  + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s3_ivf_ann" -> {
      // same random coarse centers as Similarity.ivfCenters(16, 64, seed);
      // dist = -2·v·c + |c|² (|v|² constant per row), first-min tie on cid
      val centers = Similarity.ivfCenters(16, 64, graft.corpus.Synth.DefaultSeed)
      val centerRows = centers.zipWithIndex.map { case (c, i) =>
        val w = c.map(-2.0 * _)
        val c2 = c.map(x => x * x).sum
        s"(${i + 1}, $c2, ${planeSql(w)})"
      }.mkString(",\n   ")
      s"""WITH centers(cid, c2, w) AS (VALUES
         |   $centerRows),
         |d AS (SELECT vec_id, embedding, cid,
         |   list_sum(list_transform(generate_series(1, len(embedding)),
         |     i -> embedding[i]::DOUBLE * w[i])) + c2 AS dist
         |  FROM embeddings CROSS JOIN centers),
         |a AS (SELECT vec_id, embedding, cid AS cell FROM (
         |   SELECT vec_id, embedding, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |   FROM d) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, cell FROM a WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb, cell FROM a),
         |scored AS (SELECT query_id, c.cell AS cell, neighbor_id,
         |   list_sum(list_transform(generate_series(1, len(q_emb)),
         |     i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
         |   / (sqrt(list_sum(list_transform(generate_series(1, len(q_emb)),
         |       i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE)))
         |    * sqrt(list_sum(list_transform(generate_series(1, len(c_emb)),
         |       i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE)))) AS cos
         |  FROM c JOIN q ON c.cell = q.cell WHERE neighbor_id <> query_id)
         |SELECT query_id, cell, rank, neighbor_id FROM (
         | SELECT query_id, cell, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "s2_lsh_ann" -> {
      // single 8-plane sign-projection bucket (Similarity.lshAnnTopK
      // defaults), query side vec_id < 8, rank = cosine desc within bucket
      val planes = Similarity.hyperplanes(8, 64, graft.corpus.Synth.DefaultSeed)
      val planeRows = planes.zipWithIndex
        .map { case (p, i) => s"($i, ${planeSql(p)})" }.mkString(",\n   ")
      s"""WITH planes(p, w) AS (VALUES
         |   $planeRows),
         |eb AS (SELECT vec_id, embedding,
         |   sum(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)),
         |       i -> embedding[i]::DOUBLE * w[i])) >= 0
         |     THEN (1 << p) ELSE 0 END)::INT AS bucket
         |  FROM embeddings CROSS JOIN planes GROUP BY vec_id, embedding),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM eb WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb, bucket FROM eb),
         |scored AS (SELECT query_id, c.bucket AS bucket, neighbor_id,
         |   list_sum(list_transform(generate_series(1, len(q_emb)),
         |     i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
         |   / (sqrt(list_sum(list_transform(generate_series(1, len(q_emb)),
         |       i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE)))
         |    * sqrt(list_sum(list_transform(generate_series(1, len(c_emb)),
         |       i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE)))) AS cos
         |  FROM c JOIN q ON c.bucket = q.bucket WHERE neighbor_id <> query_id)
         |SELECT query_id, bucket, rank, neighbor_id FROM (
         | SELECT query_id, bucket, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "s4_ivf_multiprobe" -> {
      // s3's cell assignment, but the query side keeps its 2 nearest cells
      // (rn <= 2 over the same (dist, cid) ordering = Spark's struct sort);
      // corpus vectors still live in exactly one inverted list (rn = 1)
      val centers = Similarity.ivfCenters(16, 64, graft.corpus.Synth.DefaultSeed)
      val centerRows = centers.zipWithIndex.map { case (c, i) =>
        val w = c.map(-2.0 * _)
        val c2 = c.map(x => x * x).sum
        s"(${i + 1}, $c2, ${planeSql(w)})"
      }.mkString(",\n   ")
      s"""WITH centers(cid, c2, w) AS (VALUES
         |   $centerRows),
         |d AS (SELECT vec_id, embedding, cid,
         |   list_sum(list_transform(generate_series(1, len(embedding)),
         |     i -> embedding[i]::DOUBLE * w[i])) + c2 AS dist
         |  FROM embeddings CROSS JOIN centers),
         |r AS (SELECT vec_id, embedding, cid,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb, cid AS cell
         |  FROM r WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, cid AS cell
         |  FROM r WHERE vec_id < 8 AND rn <= 2),
         |scored AS (SELECT query_id, c.cell AS cell, neighbor_id,
         |   list_sum(list_transform(generate_series(1, len(q_emb)),
         |     i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
         |   / (sqrt(list_sum(list_transform(generate_series(1, len(q_emb)),
         |       i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE)))
         |    * sqrt(list_sum(list_transform(generate_series(1, len(c_emb)),
         |       i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE)))) AS cos
         |  FROM c JOIN q ON c.cell = q.cell WHERE neighbor_id <> query_id)
         |SELECT query_id, cell, rank, neighbor_id FROM (
         | SELECT query_id, cell, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "s5_lsh_multiprobe" -> {
      // s2's bucketing, plus per-query the bucket with the lowest-|margin|
      // sign bit flipped (row_number over (abs(dot), p) = Spark's struct
      // sort on (m, mask) since 1<<p is monotone in p)
      val planes = Similarity.hyperplanes(8, 64, graft.corpus.Synth.DefaultSeed)
      val planeRows = planes.zipWithIndex
        .map { case (p, i) => s"($i, ${planeSql(p)})" }.mkString(",\n   ")
      s"""WITH planes(p, w) AS (VALUES
         |   $planeRows),
         |pd AS (SELECT vec_id, embedding, p,
         |   list_sum(list_transform(generate_series(1, len(embedding)),
         |     i -> embedding[i]::DOUBLE * w[i])) AS dot
         |  FROM embeddings CROSS JOIN planes),
         |eb AS (SELECT vec_id, embedding,
         |   sum(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END)::INT AS bucket
         |  FROM pd GROUP BY vec_id, embedding),
         |m AS (SELECT vec_id, p AS flip_p,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY abs(dot), p) AS rn FROM pd),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM eb WHERE vec_id < 8
         |  UNION ALL
         |  SELECT eb.vec_id, eb.embedding, xor(eb.bucket, (1 << m.flip_p))::INT
         |  FROM eb JOIN m ON eb.vec_id = m.vec_id AND m.rn = 1 WHERE eb.vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb, bucket FROM eb),
         |scored AS (SELECT query_id, c.bucket AS bucket, neighbor_id,
         |   list_sum(list_transform(generate_series(1, len(q_emb)),
         |     i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
         |   / (sqrt(list_sum(list_transform(generate_series(1, len(q_emb)),
         |       i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE)))
         |    * sqrt(list_sum(list_transform(generate_series(1, len(c_emb)),
         |       i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE)))) AS cos
         |  FROM c JOIN q ON c.bucket = q.bucket WHERE neighbor_id <> query_id)
         |SELECT query_id, bucket, rank, neighbor_id FROM (
         | SELECT query_id, bucket, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    })
}
