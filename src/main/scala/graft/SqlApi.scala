package graft

import graft.kernel.{Extract, Router}
import graft.model.{Doc, Span}
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.size
import org.apache.spark.sql.graft.ColumnBridge

/** The pure-SQL surface: one call registers graft's kernel and native
  * functions on a session, so `spark.sql(...)` users can run every pipeline
  * shape without touching the Scala API (SURVEY §2.10's SQL-facing
  * variant). Deterministic, errors-as-data — same kernels the typed
  * pipeline uses.
  *
  * `extract_spans` takes the span arrays as parallel field slices because
  * SQL callers already have them as `spans.kind`, `spans.text`, … — no
  * struct re-encoding needed:
  * {{{
  *   SELECT doc_id, posexplode(extract_spans(
  *     doc_id, spans.kind, spans.text, spans.media_ref, spans.offset))
  *   FROM docs
  * }}}
  */
object SqlApi {

  def registerAll(spark: SparkSession): Unit = {
    // native codegen expression — planned directly, not a UDF wrapper
    ColumnBridge.registerExpression(spark, "vec_dot", { exprs =>
      require(exprs.length == 2,
        s"vec_dot requires exactly 2 arguments (two array<float>), got ${exprs.length}")
      functions.VecDot(exprs(0), exprs(1))
    })

    // extraction kernel: 1 doc → reading-ordered output spans. Errors are
    // data: null or length-mismatched field slices degrade to defaults for
    // the missing fields instead of throwing from inside a task.
    // offsets is Seq[java.lang.Integer], not Seq[Int]: a null ELEMENT in a
    // SQL array<int> would make the primitive encoder throw from inside the
    // task, contradicting the errors-as-data contract — boxed elements let
    // null offsets degrade to the positional default like null slices do
    spark.udf.register("extract_spans",
      (docId: String, kinds: Seq[String], texts: Seq[String],
       refs: Seq[String], offsets: Seq[java.lang.Integer]) => {
        def at(xs: Seq[String], i: Int): String =
          if (xs != null && i < xs.size && xs(i) != null) xs(i) else ""
        val n = if (kinds == null) 0 else kinds.size
        val spans = (0 until n).map { i =>
          val off =
            if (offsets != null && i < offsets.size && offsets(i) != null)
              offsets(i).intValue
            else i
          Span(at(kinds, i), at(texts, i), at(refs, i), off)
        }
        Extract.extractDoc(Doc(docId, spans)).spans
      })

    // headline dedup/text operators as NATIVE SQL functions: the builder
    // splices the same composed codegen'd column expression the battery
    // operators plan (Dedup.contentHash, TextAnalysis.*Col) into the
    // caller's plan — not a UDF wrapper, so predicate pushdown and
    // whole-stage codegen see straight through them. Each is the exact
    // d1/t1/t2/t3/t4 shape, so the battery's DuckDB oracles pin them
    // transitively (SqlApiSpec asserts SQL ≡ operator per function).
    def registerColumnFn(name: String)(fn: Column => Column): Unit =
      ColumnBridge.registerExpression(spark, name, { exprs =>
        require(exprs.length == 1, s"$name requires exactly 1 argument")
        ColumnBridge.expression(fn(ColumnBridge.column(exprs.head)))
      })
    registerColumnFn("content_hash")(Dedup.contentHash)      // d1/t4 key
    registerColumnFn("token_count")(t => size(TextAnalysis.tokens(t))) // t1
    registerColumnFn("quality_label")(TextAnalysis.qualityLabelCol)    // t2
    registerColumnFn("lang_id")(TextAnalysis.langIdCol)                // t3

    // sketches / fingerprints (same tokenization as the battery operators)
    spark.udf.register("simhash60", (text: String) => Dedup.simhash60(TextAnalysis.words(text)))
    spark.udf.register("rolling_fp",
      (text: String) => TextAnalysis.rollingHash(TextAnalysis.words(text)))

    // routing (P5) and prompt resolution (P1) for SQL-side dispatch
    spark.udf.register("optimal_prompt_mode",
      (format: String, quality: String) => Router.optimalPromptMode(format, quality))
    spark.udf.register("resolve_prompt", (mode: String) => Router.resolvePrompt(mode))
  }
}
