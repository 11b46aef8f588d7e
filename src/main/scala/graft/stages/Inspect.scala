package graft.stages

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Descriptive statistics (SURVEY.md §2.1, S8).
  *
  * The reference vstacks `lf.describe()` (count, null_count, mean, std, min,
  * 25/50/75%, max — all cast to string) with custom per-column stats
  * (`null_proportion`, `n_unique`), extensible via a name -> (col ->
  * aggregate-expression) registry (reference: src/polars_pipe/core/
  * inspect.py:6-48).
  *
  * We do NOT chase Spark's `df.summary()` output formatting (SURVEY.md
  * §7.4-5) — instead ALL statistics for ALL columns are computed in ONE
  * distributed `df.agg(...)` pass (a single scan + partial aggregation, no
  * per-column jobs), the 1-row result is collected (it is #cols × #stats
  * scalars — tiny at any data scale), and reshaped driver-side into the
  * stats frame: one row per statistic, one column per data column, all
  * values strings.
  */
object Inspect {

  type StatFn = String => Column

  /** `null_proportion` guards its divisor: describing an EMPTY frame (a
    * no-new-files incremental run's sinks) must yield null, not an ANSI
    * DIVIDE_BY_ZERO. */
  private def nullProportion(c: String): Column = {
    val n = count(lit(1))
    when(n > 0, (n - count(col(c))).cast(DoubleType) / n)
  }

  /** Custom stats beyond describe's core set (reference: inspect.py:19-26).
    * `n_unique` is the fixed-memory `approx_count_distinct` sketch BY
    * DEFAULT (round 16): one exact `countDistinct` per column in a single
    * agg pass makes Catalyst Expand the scan — one duplicated input row
    * per distinct aggregate, a wide-table cost multiplier — and exact
    * distinct is itself an executor-OOM path at 100 TB cardinality.
    * [[exactCustomStats]] restores the exact count where small-data
    * exactness matters (tests, oracles). */
  val defaultCustomStats: Seq[(String, StatFn)] = Seq(
    "null_proportion" -> (c => nullProportion(c)),
    "n_unique" -> (c => approx_count_distinct(col(c)))
  )

  /** Exact-distinct variant — the `exactQuantiles = true` companion. */
  val exactCustomStats: Seq[(String, StatFn)] = Seq(
    "null_proportion" -> (c => nullProportion(c)),
    "n_unique" -> (c => countDistinct(col(c)))
  )

  private val coreStats: Seq[String] =
    Seq("count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max")

  /** @param exactQuantiles exact `percentile` interpolates and is
    *   value-exact, but its memory grows with the number of DISTINCT values
    *   per column — at 100 TB that is an executor-OOM path for high-cardinality
    *   columns. The DEFAULT is the fixed-memory `approx_percentile` sketch
    *   (single-pass, bounded error, returns a real data value); flip the
    *   switch where small-data exactness matters (tests, oracles). The
    *   switch also picks the custom-stat set when `customStats` is not
    *   given: approx `n_unique` by default, [[exactCustomStats]] when
    *   exact — one flag, one memory contract. */
  def describe(
      df: DataFrame,
      customStats: Option[Seq[(String, StatFn)]] = None,
      exactQuantiles: Boolean = false
  ): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val fields = df.schema.fields.toSeq
    val custom = customStats.getOrElse(
      if (exactQuantiles) exactCustomStats else defaultCustomStats)
    val statNames = coreStats ++ custom.map(_._1)

    def quantile(name: String, p: Double): Column =
      if (exactQuantiles) expr(s"percentile(`$name`, $p)")
      else expr(s"approx_percentile(`$name`, $p, 10000)")

    def isNumeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    def orderable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
      case _ => false
    }

    // One flat aggregate: stats × columns, each cast to string.
    val aggExprs: Seq[Column] = fields.flatMap { f =>
      val c = col(f.name)
      val numeric = isNumeric(f.dataType)
      def num(e: Column): Column = if (numeric) e.cast(StringType) else lit(null).cast(StringType)
      def ord(e: Column): Column =
        if (orderable(f.dataType)) e.cast(StringType) else lit(null).cast(StringType)
      val core = Seq(
        count(c).cast(StringType), // non-null count, like polars describe
        (count(lit(1)) - count(c)).cast(StringType),
        num(avg(c)),
        num(stddev_samp(c)),
        ord(min(c)),
        num(quantile(f.name, 0.25)),
        num(quantile(f.name, 0.5)),
        num(quantile(f.name, 0.75)),
        ord(max(c))
      )
      val customCols = custom.map { case (_, fn) => fn(f.name).cast(StringType) }
      core ++ customCols
    }

    val flat: Row = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val nStats = statNames.length
    val rows: Seq[Row] = statNames.zipWithIndex.map { case (stat, si) =>
      Row.fromSeq(stat +: fields.indices.map(ci => flat.get(ci * nStats + si)))
    }
    val outSchema = StructType(
      StructField("statistic", StringType, nullable = false) +:
        fields.map(f => StructField(f.name, StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)
  }
}
