package graft.io

import java.time.Instant

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.config.FileType

/** Ports-and-adapters IO seam (SURVEY.md §2.1 S1/S24-S27, §3 entry point 2).
  *
  * Mirrors the reference's `IOBase` / `IOWrapper` / `FakeIOWrapper` triple
  * (reference: src/polars_pipe/adapters/io_pl.py:18-133) — the abstraction
  * is what makes the golden end-to-end tests hermetic (fixed guid + frozen
  * clock + in-memory storage).
  */
trait GraftIO {
  /** `options` mirrors the reference's `**kwargs` passthrough to every scan
    * function (reference: adapters/io_pl.py:28-56, io_funcs.py:32-34) —
    * "this CSV is tab-separated", "parse these timestamps" — forwarded
    * verbatim to the underlying Spark reader, AFTER the format defaults so
    * user options win. */
  def read(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String] = Map.empty): DataFrame
  /** Sink twin of the `options` passthrough ("write zstd parquet"). */
  def write(df: DataFrame, path: String, fileType: String, targetSizeGb: Double = 1.0,
      options: Map[String, String] = Map.empty): Unit
  def writeText(text: String, path: String): Unit
  def newGuid(): String
  def now(): Instant

  /** The files materially backing `path` — the unit of the incremental
    * manifest (round 17): a periodic crawl drops new files into the same
    * source directory, and an incremental run processes only those not
    * yet recorded. Sorted, so manifest diffs are deterministic. */
  def listFiles(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String] = Map.empty): Seq[String]

  /** Read an explicit file subset of a source (the incremental-run scan:
    * only the not-yet-processed files of [[listFiles]]). `files` must be
    * non-empty — the caller decides what an empty batch means. `schema`,
    * when given, pins the read types (round 17 advice: schema-INFERRED
    * formats would otherwise re-infer from only the batch's files and can
    * resolve different types per batch, diverging from the full-source
    * read); callers pass the full source's resolved schema. */
  def readFiles(spark: SparkSession, files: Seq[String], fileType: String,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None): DataFrame
}

/** Real filesystem-backed IO on Spark's native sources/sinks. */
class SparkIO extends GraftIO {

  /** The one source-format dispatch behind [[read]] and [[readFiles]]:
    * format defaults first, caller options AFTER — `sep`, `header`,
    * `inferSchema` etc. from the config override the house defaults. */
  private def reader(spark: SparkSession, fileType: String,
      options: Map[String, String]): DataFrameReader = {
    val format = fileType.toLowerCase
    if (!FileType.data.contains(format))
      throw new IllegalArgumentException(s"unsupported source file type '$format'")
    val defaults =
      if (format == FileType.Csv) Map("header" -> "true", "inferSchema" -> "true")
      else Map.empty[String, String]
    spark.read.format(format).options(defaults).options(options)
  }

  /** Lazy scan dispatch on file type (reference: adapters/io_pl.py:28-36,
    * io_funcs.py:23-27 — parquet/csv lazy, json eager-then-lazy; every Spark
    * read is lazy natively). */
  override def read(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String]): DataFrame =
    reader(spark, fileType, options).load(path)

  /** Chunked sink: ~`targetSizeGb` per output file (reference:
    * adapters/io_pl.py:65-92 slices + recomputes the whole plan per chunk —
    * a driver-side loop we deliberately collapse into ONE distributed
    * partitioned write via `maxRecordsPerFile`: no extra count scan, no
    * recomputation, and Spark's `part-NNNNN-<uuid>` naming matches the
    * reference's scheme by construction).
    *
    * Rows-per-file is estimated from the schema's per-row width
    * (fixed-size fields at their Catalyst `defaultSize`, which also
    * approximates typical string/binary widths) — same spirit as the
    * reference's sampled `estimated_size()/height`, without an extra scan.
    */
  override def write(df: DataFrame, path: String, fileType: String, targetSizeGb: Double,
      options: Map[String, String]): Unit = {
    val rowBytes = math.max(8, df.schema.fields.map(_.dataType.defaultSize).sum)
    val maxRecords = math.max(1L, (targetSizeGb * 1024 * 1024 * 1024).toLong / rowBytes)
    val format = fileType.toLowerCase
    if (!FileType.data.contains(format))
      throw new IllegalArgumentException(s"unsupported sink file type '$format'")
    // caller options AFTER the defaults, so e.g. `compression: zstd`, a
    // custom maxRecordsPerFile or `header: false` from the config wins
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecords)
      .options(if (format == FileType.Csv) Map("header" -> "true") else Map.empty[String, String])
      .options(options)
      .format(format).save(path)
  }

  override def writeText(text: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text)
  }

  override def newGuid(): String = java.util.UUID.randomUUID().toString
  override def now(): Instant = Instant.now()

  /** Real listing rides the source relation Spark already resolves for
    * `path` (`DataFrame.inputFiles` — partition-pruned, glob-expanded,
    * format-aware), so the manifest unit is exactly what a full read
    * would scan. */
  override def listFiles(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String]): Seq[String] =
    read(spark, path, fileType, options).inputFiles.toSeq.sorted

  override def readFiles(spark: SparkSession, files: Seq[String], fileType: String,
      options: Map[String, String], schema: Option[StructType]): DataFrame = {
    require(files.nonEmpty, "readFiles: empty file list")
    val base = reader(spark, fileType, options)
    // an explicit schema silences inferSchema entirely (Spark skips the
    // inference scan when one is supplied) — the caller's full-source types
    // win over anything a lone batch would have inferred
    schema.fold(base)(base.schema(_)).load(files: _*)
  }
}

/** In-memory IO double for hermetic tests: fixed guid, frozen clock,
  * `path -> DataFrame` storage (reference: adapters/io_pl.py:113-133 —
  * guid "abc-123", clock 2025-10-16T12:00Z). */
class FakeIO(
    val guid: String = "abc-123",
    val frozenNow: Instant = Instant.parse("2025-10-16T12:00:00Z")
) extends GraftIO {
  val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  val texts = scala.collection.mutable.LinkedHashMap.empty[String, String]

  override def read(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String]): DataFrame =
    frames.getOrElse(path, throw new java.io.FileNotFoundException(path))

  override def write(df: DataFrame, path: String, fileType: String, targetSizeGb: Double,
      options: Map[String, String]): Unit =
    // materialize like a real sink would, so lazy bugs don't hide
    frames.put(path, df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(df.collect(): _*)),
      StructType(df.schema.fields)))

  override def writeText(text: String, path: String): Unit = texts.put(path, text)
  override def newGuid(): String = guid
  override def now(): Instant = frozenNow

  /** A "directory" in the fake store is the set of registered paths under
    * `path/` (or the exact path itself) — enough to model a crawl adding
    * files between runs. */
  override def listFiles(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String]): Seq[String] =
    frames.keys.filter(k => k == path || k.startsWith(path + "/")).toSeq.sorted

  override def readFiles(spark: SparkSession, files: Seq[String], fileType: String,
      options: Map[String, String], schema: Option[StructType]): DataFrame = {
    // `schema` is a no-op here: fake frames are registered pre-typed, the
    // exact analogue of a self-describing source
    require(files.nonEmpty, "readFiles: empty file list")
    files.map(f => frames.getOrElse(f, throw new java.io.FileNotFoundException(f)))
      .reduce(_.unionByName(_))
  }
}
