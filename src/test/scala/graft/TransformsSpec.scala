package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{DeriveSpec, RuleSpec}
import graft.stages.Transforms

class TransformsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("addHashCol is deterministic, idempotent, and null-distinct") {
    val df = Seq(("a", Some(1)), ("a", None), ("b", Some(1))).toDF("s", "i")
    val hashed = Transforms.addHashCol(df)
    assert(hashed.columns.contains("sys_col_row_hash"))
    // idempotent: second application adds nothing / changes nothing
    val twice = Transforms.addHashCol(hashed)
    assert(twice.columns.count(_ == "sys_col_row_hash") == 1)
    val hashes = hashed.select("sys_col_row_hash").as[Long].collect()
    assert(hashes.distinct.length == 3, "rows differing only by null must hash differently")
    // deterministic across evaluations
    val again = Transforms.addHashCol(df).select("sys_col_row_hash").as[Long].collect()
    assert(hashes.sorted.sameElements(again.sorted))
  }

  test("addProcessCols stamps lineage literals") {
    val df = Seq(1, 2).toDF("x")
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2025-10-16T12:00:00Z"))
    val out = Transforms.addProcessCols("ingest", "abc-123", "/src/p.parquet", ts)(df)
    val row = out.head()
    assert(out.columns.toSeq == Seq("x", "sys_col_ingest_guid", "sys_col_ingest_src_path",
      "sys_col_ingest_datetime"))
    assert(row.getString(1) == "abc-123" && row.getString(2) == "/src/p.parquet")
  }

  test("normaliseStrCols lowercases+strips non-sys string cols only") {
    val df = Seq((" A B ", "X", 1)).toDF("s", "sys_col_keep", "i")
      .withColumnRenamed("sys_col_keep", "sys_col_tag")
    val out = Transforms.normaliseStrCols(df)
    val row = out.head()
    assert(row.getString(0) == "a b" && row.getString(1) == "X" && row.getInt(2) == 1)
  }

  test("standardiseColNames no-ops on case-insensitive collisions") {
    val ok = Seq((1, 2)).toDF(" A ", "B")
    assert(Transforms.standardiseColNames(ok).columns.toSeq == Seq("a", "b"))
    val clash = Seq((1, 2)).toDF("A", "a ")
    assert(Transforms.standardiseColNames(clash).columns.toSeq == Seq("A", "a "))
  }

  test("nest/unnest round-trips preserving position") {
    val df = Seq((1, "x", 2.0)).toDF("a", "b", "c")
    val nested = Transforms.nestCols(Seq("nb" -> Seq("b", "c")))(df)
    assert(nested.columns.toSeq == Seq("a", "nb"))
    val flat = Transforms.unnestCols(Seq("nb"))(nested)
    assert(flat.columns.toSeq == Seq("a", "b", "c"))
    assert(flat.head() == Row(1, "x", 2.0))
  }

  test("clip composes least/greatest; fill uses coalesce semantics") {
    val df = Seq(Some(5), Some(50), None).toDF("v")
    val clipped = Transforms.clipCols(Seq("v" -> (10, 20)))(df)
      .select("v").collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(clipped.toSet == Set(Some(10), Some(20), None))
    val filled = Transforms.fillNullsPerCol(Seq("v" -> -1))(df)
      .select("v").as[Int].collect()
    assert(filled.toSet == Set(5, 50, -1))
  }

  test("deriveNewCols: whole-frame aggregates broadcast without a single-partition window") {
    val df = Seq(1, 2, 3, 4).toDF("v")
    val out = Transforms.deriveNewCols(Seq(
      "m" -> DeriveSpec("mean", Map("col" -> "v")),
      "mx" -> DeriveSpec("max", Map("col" -> "v")),
      "double_v" -> DeriveSpec("mul", Map("col" -> "v", "value" -> 2))))(df)
    val rows = out.select("v", "m", "mx", "double_v").collect()
    assert(rows.forall(r => r.getDouble(1) == 2.5 && r.getInt(2) == 4))
    assert(rows.map(r => r.getInt(3)).sorted.sameElements(Array(2, 4, 6, 8)))
    // plan must not contain a Window (the scalable rewrite uses agg+join)
    assert(!out.queryExecution.optimizedPlan.toString.contains("windowspecdefinition"))
  }

  test("derive: aggregate over an earlier derived column; overwrite keeps position") {
    val df = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    val out = Transforms.deriveNewCols(Seq(
      "v2" -> DeriveSpec("mul", Map("col" -> "v", "value" -> 2)),
      "mean_v2" -> DeriveSpec("mean", Map("col" -> "v2")), // agg over derived
      "v" -> DeriveSpec("add", Map("col" -> "v", "value" -> 1)) // overwrite
    ))(df)
    assert(out.columns.toSeq == Seq("id", "v", "v2", "mean_v2"), "no dup cols, order kept")
    val rows = out.orderBy("id").collect()
    assert(rows(0).getAs[Double]("v2") == 20.0 && rows(0).getAs[Double]("mean_v2") == 30.0)
    assert(rows(0).getAs[Double]("v") == 11.0, "overwrite applied")
  }

  test("ColumnBridge.references sees through opaque column nodes") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge.references
    assert(references(col("a") + col("b.c")) == Set("a", "b"))
    assert(references(sum(col("x")).over(Window.partitionBy(col("p")).orderBy(col("o")))) ==
      Set("x", "p", "o"))
    // lambda variables are not columns
    assert(references(transform(col("arr"), e => e + col("k"))) == Set("arr", "k"))
    // a custom expression's children are opaque nodes of their own
    assert(references(graft.sparkext.RangeBucketId(Seq(col("t"), col("u") * 2),
      Seq(Seq(1L, 2L)), desc = false)) == Set("t", "u"))
  }

  test("derive: an aggregate over an earlier aggregate's output runs after it") {
    // batched into one agg pass, max(m) would read the alias m inside the
    // same aggregate (LATERAL_COLUMN_ALIAS_IN_AGGREGATE_FUNC)
    val df = Seq(1, 2, 3, 4).toDF("v")
    val out = Transforms.deriveNewCols(Seq(
      "m" -> DeriveSpec("mean", Map("col" -> "v")),
      "mm" -> DeriveSpec("max", Map("col" -> "m"))))(df)
    assert(out.select("m", "mm").distinct().collect().toSeq == Seq(Row(2.5, 2.5)))
  }

  test("derive: whole-frame aggregate may overwrite an existing column") {
    val df = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    val out = Transforms.deriveNewCols(Seq(
      "v" -> DeriveSpec("mean", Map("col" -> "v"))))(df)
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.select("v").collect().map(_.getDouble(0)).toSeq == Seq(15.0, 15.0))
  }

  test("derive: an aggregate overwriting the column an earlier winsorize clips runs after it") {
    // both entries share one agg pass; the clip reads the OLD v
    val df = (1 to 10).map(i => (i, i.toDouble)).toDF("id", "v")
    val entries = Seq(
      "w" -> DeriveSpec("winsorize", Map("col" -> "v", "lower" -> 0.1, "upper" -> 0.9)),
      "v" -> DeriveSpec("mean", Map("col" -> "v")))
    val fused = Transforms.deriveNewCols(entries)(df)
    val inOrder = entries.foldLeft(df)((acc, e) => Transforms.deriveNewCols(Seq(e))(acc))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "v", "w").orderBy("id").collect().toSeq
    assert(rows(fused) == rows(inOrder))
    assert(fused.columns.toSeq == Seq("id", "v", "w"))
  }

  test("filterRows AND-folds rules; dedupe subsets") {
    val df = Seq((1, "a"), (2, "a"), (5, "b")).toDF("v", "g")
    val f = Transforms.filterRows(Seq(
      RuleSpec("pos", "v", "gt", Some(1)), RuleSpec("grp", "g", "eq", Some("a"))))(df)
    assert(f.collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(Transforms.deduplicateRows(Seq("g"))(df).count() == 2)
    assert(Transforms.deduplicateRows(Seq("*"))(df).count() == 3)
  }

  test("finalSelect puts sys cols last in original relative order") {
    val df = Seq((1, "g", 2, "p")).toDF("a", "sys_col_g", "b", "sys_col_p")
    val out = Transforms.finalSelect(Seq("b", "a"))(df)
    assert(out.columns.toSeq == Seq("b", "a", "sys_col_g", "sys_col_p"))
  }
}
