package graft.sources

import graft.model.{Doc, DocResult}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY.md §2.1).
  *
  *  - S1/S2: raw page/image files come in through Spark's `binaryFile`
  *    source as opaque bytes + path metadata (the clean-room stand-in for
  *    the PDF/image rasterizer front door).
  *  - S3: corpus tables are parquet reads (`readDocs`).
  *  - S4/S5: result sinks — flat parquet of the `DocResult` schema for the
  *    batch results, markdown-ish text per doc (the reference's save_result
  *    shape, client.py:487-511), JSON metrics.
  */
object DocSources {

  /** The one read schema of a Doc table: the `Doc` encoder's. */
  val docSchema: StructType = Encoders.product[Doc].schema

  /** The schema `writeResults` writes: the read schema of every results
    * directory the program wrote itself. */
  val resultSchema: StructType = Encoders.product[DocResult].schema

  /** S3: the Doc table (columnar parquet; pruning + pushdown apply), read
    * with [[docSchema]], so no schema-inference job runs. A declared schema
    * reads a missing column as nulls, so the first file's footer is checked
    * on the driver: a `doc_id` or `spans` column that is missing or of
    * another type fails here, before any task, naming the column. Other
    * columns are ignored. */
  def readDocs(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    val docs = spark.read.schema(docSchema).parquet(path)
    docs.inputFiles.headOption.foreach(requireDocColumns(spark, path, _))
    docs.as[Doc]
  }

  private def requireDocColumns(spark: SparkSession, path: String, file: String): Unit = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(new java.net.URI(file)), spark.sparkContext.hadoopConfiguration))
    val found = try new ParquetToSparkSchemaConverter(SQLConf.get)
        .convert(reader.getFileMetaData.getSchema)
      finally reader.close()
    docSchema.foreach { want =>
      val got = found.find(_.name == want.name).map(_.dataType.catalogString)
      require(got.contains(want.dataType.catalogString),
        s"readDocs $path: column ${want.name} must be ${want.dataType.catalogString}, " +
          s"but $file has ${got.getOrElse("no such column")}")
    }
  }

  /** S1/S2: binary media files → (path, length, content, base64) rows.
    * Whole files as opaque bytes; decode happens in ops.Multimodal. */
  def readBinaryMedia(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"),
        col("content"), base64(col("content")).as("content_b64"))

  /** S1/S2 fixture bootstrap: deterministic PNG page rasters (one per id,
    * `doc_<id>.png`, dims `(id%48+16, (id/7)%48+16)` — the formula the
    * DuckDB oracle recomputes) written once to a content-addressed tmp dir.
    * Returns the dir. Idempotent: the `_SUCCESS` marker skips rewrites, so
    * re-running a query battery costs one stat() call. */
  def pngFixtureDir(ids: Seq[Long]): String = {
    // content-digest key (not hashCode): a 32-bit hash collision between two
    // different id sets would silently reuse a stale PNG set and make the
    // ingest query diverge from its oracle with no error
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(ids.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dir = new java.io.File(s"/tmp/graft_png_fixtures_${digest}_${ids.size}")
    val marker = new java.io.File(dir, "_SUCCESS")
    if (!marker.exists()) {
      dir.mkdirs()
      ids.foreach { id =>
        val w = (id % 48 + 16).toInt
        val h = (id / 7 % 48 + 16).toInt
        java.nio.file.Files.write(
          new java.io.File(dir, f"doc_$id%05d.png").toPath,
          graft.ops.Multimodal.renderPng(id, w, h))
      }
      java.nio.file.Files.write(marker.toPath, Array.empty[Byte])
    }
    dir.getAbsolutePath
  }

  /** S5: batch-result parquet sink: the `DocResult` schema in one flat
    * directory, `success` an ordinary boolean column. Failure triage is a
    * pushed-down `success = false` filter on its row-group statistics; a
    * `partitionBy` here would sort whole rows, spans included, before the
    * write, for a directory layout no reader prunes on. */
  def writeResults(results: Dataset[DocResult], outDir: String): Unit =
    results.write.mode(SaveMode.Overwrite).parquet(outDir)

  /** S5: per-doc markdown text sink — one line per span, reading order,
    * mirroring the reference's OCR-text markdown dump. */
  def writeMarkdown(results: Dataset[DocResult], outDir: String): Unit = {
    val spark = results.sparkSession
    import spark.implicits._
    results
      .map(r => r.doc_id + "\n" +
        r.spans.map(s => if (s.kind == "Picture") s"![](${s.media_ref})" else s.text)
          .mkString("\n"))
      .write.mode(SaveMode.Overwrite).text(outDir)
  }
}
