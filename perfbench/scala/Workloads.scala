package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three benchmark workloads: each one's YAML config (the way users
  * call `runPipeline`) and the checks its artifacts must pass.
  *
  * A check has two halves. `observe` reads one call's artifacts and returns
  * named facts about them; it fails the call outright when an intrinsic
  * property is broken (e.g. an output id that was never an input id).
  * `expected` computes with plain Spark what those facts must equal; it
  * runs once per run, after the timed calls, so it cannot warm them. */
final case class Inputs(dir: String, facts: Facts) {
  def src: String = s"$dir/src"
  def eval: String = s"$dir/eval"
}

trait Workload {
  def name: String
  def idCol: String
  def yaml(in: Inputs, dstRoot: String): String
  def observe(spark: SparkSession, in: Inputs, outRoot: String): Map[String, Any]
  def expected(spark: SparkSession, in: Inputs): Map[String, Any]
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlLineitem, OrderedEvents, CurationDocs)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n"))

  /** Row count of a parquet artifact; 0 when the directory is absent
    * (the pipeline skips the error sink when no row is invalid). */
  def rows(spark: SparkSession, path: String): Long =
    if (new java.io.File(path).isDirectory) spark.read.parquet(path).count() else 0L

  /** Order-free fingerprint of a frame: row count and the xor of per-row
    * `xxhash64` over `cols` (callers cast them so that engine and reference
    * agree on types). */
  def fingerprint(df: DataFrame, cols: Seq[Column]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The describe artifacts' `count` + `null_count` of `col` must equal the
    * data they describe. */
  def statsRows(spark: SparkSession, statsPath: String, col0: String): Long = {
    val st = spark.read.parquet(statsPath)
    val byStat = st.collect().map(r => r.getAs[String]("statistic") -> r.getAs[String](col0)).toMap
    byStat("count").toLong + byStat("null_count").toLong
  }

  def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Checks common to every workload: transformed rows vs. the post
    * describe, valid rows vs. the pre describe, error rows vs. planted. */
  def baseObserve(spark: SparkSession, w: Workload, in: Inputs,
      outRoot: String): Map[String, Any] = {
    val out = rows(spark, s"$outRoot/transformed_data")
    val err = rows(spark, s"$outRoot/error_records")
    val post = statsRows(spark, s"$outRoot/desc_stats/post_transform", w.idCol)
    val pre = statsRows(spark, s"$outRoot/desc_stats/pre_transform", w.idCol)
    require(post == out, s"post-transform describe counts $post rows, data has $out")
    require(pre == in.facts.rows - err,
      s"pre-transform describe counts $pre rows, expected ${in.facts.rows} - $err")
    require(err == in.facts.invalidRows, s"error records $err != planted ${in.facts.invalidRows}")
    require(new java.io.File(s"$outRoot/config/config.yaml").isFile, "config artifact missing")
    Map("rows_out" -> out, "rows_invalid" -> err)
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object EtlLineitem extends Workload {
  val name = "etl_lineitem"
  val idCol = "l_orderkey"

  def yaml(in: Inputs, dst: String): String =
    s"""process_name: bench_etl
       |src_path: ${in.src}
       |dst_root: $dst
       |validation:
       |  qty_positive:
       |    - l_quantity
       |    - gt
       |    - 0
       |  price_not_null:
       |    - l_extendedprice
       |    - is_not_null
       |  tax_le:
       |    - l_tax
       |    - le
       |    - 0.08
       |transformations:
       |  dedupe_cols:
       |    - "*"
       |  unnest_cols:
       |    - l_dims
       |  filter_exprs:
       |    not_rail:
       |      - l_shipmode
       |      - ne
       |      - rail
       |    qty_le:
       |      - l_quantity
       |      - le
       |      - 45
       |  fill_map:
       |    l_discount: 0.0
       |    l_comment: none
       |  recast_map:
       |    l_linenumber: Int64
       |    l_suppkey: Int32
       |  clip_map:
       |    l_extendedprice:
       |      - 0.0
       |      - 100000.0
       |  new_col_map:
       |    revenue:
       |      fn_name: mul_cols
       |      fn_kwargs:
       |        cols:
       |          - l_quantity
       |          - l_extendedprice
       |    mean_price:
       |      fn_name: mean
       |      fn_kwargs:
       |        col: l_extendedprice
       |    ship_year:
       |      fn_name: dt_year
       |      fn_kwargs:
       |        col: l_shipdate
       |  rename_map:
       |    l_returnflag: return_flag
       |    l_linestatus: line_status
       |  nest_cols:
       |    ship:
       |      - l_shipmode
       |      - l_shipinstruct
       |  drop_cols:
       |    - l_comment
       |select_cols: "*"
       |""".stripMargin

  def observe(spark: SparkSession, in: Inputs, outRoot: String): Map[String, Any] =
    Workloads.baseObserve(spark, this, in, outRoot)

  /** Plain-Spark reference: validation keeps a row unless a rule evaluates
    * to false (a null comparison passes, as in the pipeline); exact raw
    * duplicates collapse; the filters see trimmed lower-case strings. */
  def expected(spark: SparkSession, in: Inputs): Map[String, Any] = {
    val raw = spark.read.parquet(in.src)
    val valid = raw.filter(coalesce(col("l_quantity") > 0, lit(true)) &&
      col("l_extendedprice").isNotNull && coalesce(col("l_tax") <= 0.08, lit(true)))
    val invalid = raw.count() - valid.count()
    Workloads.require(invalid == in.facts.invalidRows,
      s"plain-Spark invalid count $invalid != planted ${in.facts.invalidRows}")
    val out = valid.dropDuplicates()
      .filter(lower(trim(col("l_shipmode"))) =!= "rail" && col("l_quantity") <= 45).count()
    Map("rows_out" -> out, "rows_invalid" -> invalid)
  }
}

object OrderedEvents extends Workload {
  val name = "ordered_events"
  val idCol = "id"
  private val ordered = "order_by:\n  - ts\n  - id"

  /** One `new_col_map` entry; each kwarg may span lines (2-space steps). */
  private def derive(out: String, fn: String, kwargs: String*): String =
    (Seq(s"    $out:", s"      fn_name: $fn", "      fn_kwargs:") ++
      kwargs.flatMap(_.split("\n")).map("        " + _)).mkString("\n")

  def yaml(in: Inputs, dst: String): String =
    s"""process_name: bench_events
       |src_path: ${in.src}
       |dst_root: $dst
       |validation:
       |  amount_not_null:
       |    - amount
       |    - is_not_null
       |transformations:
       |  new_col_map:
       |${derive("cum_amount", "cum_sum", "col: amount", ordered)}
       |${derive("roll_amount", "rolling_sum", "col: amount", "window_size: 20", ordered)}
       |${derive("type_run", "rle_id", "col: type", ordered)}
       |${derive("tie_rank", "rank", "order_by:\n  - tie")}
       |${derive("seq", "row_number", ordered)}
       |${derive("hour_mean", "rolling_mean_by", "col: amount", "by: ts", "window_size: 1h")}
       |${derive("prev_value", "shift", "col: value", "n: 1", ordered)}
       |${derive("value_diff", "diff", "col: value", ordered)}
       |select_cols: "*"
       |""".stripMargin

  private val derived = Seq("cum_amount", "roll_amount", "type_run", "tie_rank", "seq",
    "hour_mean", "prev_value", "value_diff")

  private def print(df: DataFrame): (Long, Long) = Workloads.fingerprint(df,
    col("id") +: derived.map { c =>
      if (Set("hour_mean", "prev_value", "value_diff")(c)) col(c).cast("double")
      else col(c).cast("long")
    })

  def observe(spark: SparkSession, in: Inputs, outRoot: String): Map[String, Any] = {
    val (n, h) = print(spark.read.parquet(s"$outRoot/transformed_data"))
    Workloads.baseObserve(spark, this, in, outRoot) + ("derive_hash" -> h) + ("rows_hashed" -> n)
  }

  /** The same derive specs as single-partition `Window` evaluations. */
  def expected(spark: SparkSession, in: Inputs): Map[String, Any] = {
    val raw = spark.read.parquet(in.src)
    val w = Window.orderBy(col("ts"), col("id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevType = lag(col("type"), 1).over(w)
    val ref = raw
      .withColumn("cum_amount", sum(col("amount")).over(run))
      .withColumn("roll_amount", sum(col("amount")).over(w.rowsBetween(-19, Window.currentRow)))
      .withColumn("chg", when(prevType.isNull, lit(0L))
        .otherwise((!(col("type") <=> prevType)).cast("long")))
      .withColumn("type_run", sum(col("chg")).over(run))
      .withColumn("tie_rank", rank().over(Window.orderBy(col("tie"))))
      .withColumn("seq", row_number().over(w))
      .withColumn("hour_mean", avg(col("amount")).over(
        Window.orderBy(col("ts")).rangeBetween(-3599, Window.currentRow)))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("value_diff", col("value") - lag(col("value"), 1).over(w))
    val (n, h) = print(ref)
    Map("rows_out" -> n, "rows_invalid" -> 0L, "derive_hash" -> h, "rows_hashed" -> n)
  }
}

object CurationDocs extends Workload {
  val name = "curation_docs"
  val idCol = "doc_id"
  val budget = 4096L

  def yaml(in: Inputs, dst: String): String =
    s"""process_name: bench_docs
       |src_path: ${in.src}
       |dst_root: $dst
       |validation:
       |  text_not_null:
       |    - text
       |    - is_not_null
       |custom_transformations:
       |  quality_filter:
       |    text_col: text
       |    min_tokens: 10
       |    max_punct_ratio: 0.3
       |  clean_text:
       |    text_col: text
       |  fuzzy_dedup:
       |    id_col: doc_id
       |    text_col: text
       |    shingle_k: 3
       |    num_hashes: 64
       |    bands: 16
       |  decontaminate:
       |    id_col: doc_id
       |    text_col: text
       |    eval_path: ${in.eval}
       |    threshold: 0.8
       |  lang_id:
       |    text_col: text
       |  text_stats:
       |    text_col: text
       |  pack_sequences:
       |    id_col: doc_id
       |    token_col: n_tokens
       |    partition_col: lang_pred
       |    budget: $budget
       |select_cols: "*"
       |""".stripMargin

  def observe(spark: SparkSession, in: Inputs, outRoot: String): Map[String, Any] = {
    val out = spark.read.parquet(s"$outRoot/transformed_data")
    val ids = spark.read.parquet(in.src).select(col("doc_id"))
    val stray = out.join(ids, Seq("doc_id"), "left_anti").count()
    Workloads.require(stray == 0, s"$stray output doc ids are not input ids")
    val banned = (in.facts.evalOverlapIds ++ in.facts.shortIds).map(Long.box)
    val leaked = out.filter(col("doc_id").isin(banned: _*)).count()
    Workloads.require(leaked == 0, s"$leaked eval-overlap or too-short docs kept")
    // each pack: offsets inside the budget, and the tokens of every doc that
    // starts in it, bar the last one, fit the budget
    val last = Window.partitionBy(col("lang_pred"), col("bin")).orderBy(col("bin_offset").desc)
    val over = out
      .withColumn("is_last", row_number().over(last) === 1)
      .groupBy(col("lang_pred"), col("bin"))
      .agg(sum(when(!col("is_last"), col("n_tokens")).otherwise(lit(0L))).as("full"),
        min(col("bin_offset")).as("lo"), max(col("bin_offset")).as("hi"))
      .filter(col("full") > budget || col("lo") < 0 || col("hi") >= budget).count()
    Workloads.require(over == 0, s"$over packs exceed the token budget $budget")
    val (_, h) = Workloads.fingerprint(out, Seq(col("doc_id"), col("bin"), col("bin_offset")))
    Workloads.baseObserve(spark, this, in, outRoot) + ("pack_hash" -> h)
  }

  /** Output must not depend on the call: the cold call's packs are the
    * reference for every warm one (set by the caller). */
  def expected(spark: SparkSession, in: Inputs): Map[String, Any] =
    Map("rows_invalid" -> in.facts.invalidRows)
}
