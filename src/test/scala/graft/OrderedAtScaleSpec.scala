package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.config.DeriveSpec
import graft.expr.OrderedAtScale
import graft.stages.Transforms

/** Round 16: the two-level decomposition behind GLOBAL (no partition_by)
  * ordered derive fns. Pins (a) VALUE-identity against the same fn run in
  * its per-key windowed form over one constant key (the exact semantics a
  * global window would give), and (b) the PLAN property the whole exercise
  * exists for: no WindowExec with an empty partition spec anywhere. */
class OrderedAtScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Messy fixture: ties in the order key (via t % groups), nulls in the
    * value column, spread over several input partitions so range buckets
    * are genuinely exercised (shuffle.partitions = 4 → 4 buckets). */
  private def fixture(n: Int = 400): DataFrame =
    spark.range(n.toLong)
      .select(
        (col("id") % 97).as("t"), // ties: ~4 rows share each t
        col("id").as("uid"), // unique tie-break
        when(col("id") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("id") % 13).as("v"))
      .repartition(7)

  private def derive(specs: (String, DeriveSpec)*)(df: DataFrame) =
    Transforms.deriveNewCols(specs)(df)

  /** The fn under its GLOBAL form vs the SAME fn per-key-windowed over a
    * constant key (bit-identical semantics to a global window, without
    * relying on the code path under test). */
  private def check(fn: String, kwargs: Map[String, Any], castTo: String = ""): Unit = {
    val df = fixture().withColumn("one", lit(1))
    val global = derive("out" -> DeriveSpec(fn, kwargs))(df)
    val windowed = derive("out" -> DeriveSpec(fn,
      kwargs + ("partition_by" -> Seq("one"))))(df)
    def canon(d: DataFrame) = {
      val o = if (castTo.isEmpty) col("out") else col("out").cast(castTo)
      d.select(col("uid"), o.as("out")).orderBy("uid").collect().toSeq
    }
    assert(canon(global) == canon(windowed), s"$fn: global two-level != windowed")
  }

  test("cum_sum/cum_min/cum_max/cum_count/cum_prod: global == windowed (ties + nulls)") {
    for (fn <- Seq("cum_sum", "cum_min", "cum_max", "cum_count"))
      check(fn, Map("col" -> "v", "order_by" -> Seq("t", "uid")))
    // product over powers of two: exact in binary64 at any association
    // order (the recombined prefix multiplies in bucket order, which can
    // differ from a sequential scan by ulps for general doubles)
    val df = fixture(60).withColumn("p",
      when(col("v").isNull, lit(null).cast("double")).otherwise(lit(2.0)))
      .withColumn("one", lit(1))
    val g = derive("out" -> DeriveSpec("cum_prod",
      Map("col" -> "p", "order_by" -> Seq("t", "uid"))))(df)
    val w = derive("out" -> DeriveSpec("cum_prod",
      Map("col" -> "p", "order_by" -> Seq("t", "uid"), "partition_by" -> Seq("one"))))(df)
    def canon(d: DataFrame) =
      d.select(col("uid"), col("out")).orderBy("uid").collect().toSeq
    assert(canon(g) == canon(w))
  }

  test("rank/dense_rank/row_number/percent_rank/cume_dist/ntile/avg_rank: global == windowed") {
    // rank/dense_rank are tie-deterministic; row_number (like any engine's)
    // needs a unique order
    for (fn <- Seq("rank", "dense_rank"))
      check(fn, Map("order_by" -> Seq("t")), castTo = "long")
    check("row_number", Map("order_by" -> Seq("t", "uid")), castTo = "long")
    check("row_number", Map("order_by" -> Seq("t", "uid"), "desc" -> true), castTo = "long")
    check("percent_rank", Map("order_by" -> Seq("t")))
    check("cume_dist", Map("order_by" -> Seq("t")))
    check("ntile", Map("n" -> 7, "order_by" -> Seq("t", "uid")), castTo = "long")
    check("ntile", Map("n" -> 3, "order_by" -> Seq("t", "uid")), castTo = "long")
    check("avg_rank", Map("order_by" -> Seq("t")))
  }

  test("cumulative_eval global: sum/min/max/count/product/mean/first/last == windowed") {
    for (agg <- Seq("sum", "min", "max", "count", "mean"))
      check("cumulative_eval",
        Map("col" -> "v", "agg" -> agg, "order_by" -> Seq("t", "uid")), castTo = "double")
    // first/last take dedicated global shapes (whole-frame agg / identity)
    check("cumulative_eval",
      Map("col" -> "v", "agg" -> "first", "order_by" -> Seq("t", "uid")), castTo = "long")
    check("cumulative_eval",
      Map("col" -> "v", "agg" -> "last", "order_by" -> Seq("t", "uid")), castTo = "long")
    check("cumulative_eval",
      Map("col" -> "v", "agg" -> "first", "order_by" -> Seq("t", "uid"),
        "desc" -> true), castTo = "long")
  }

  test("rolling sum/min/max/mean global == windowed (tail exchange at bucket boundaries)") {
    // window sizes straddling the per-bucket row count so boundary rows
    // genuinely read prior-bucket tails
    for (k <- Seq(2, 5, 150)) {
      check("rolling_sum", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
        "window_size" -> k))
      check("rolling_min", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
        "window_size" -> k))
      check("rolling_max", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
        "window_size" -> k))
      check("rolling_mean", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
        "window_size" -> k), castTo = "double")
    }
    // k = 1 short-circuit: the frame is the row itself
    check("rolling_sum", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
      "window_size" -> 1))
    // desc order flips the tail direction
    check("rolling_sum", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
      "window_size" -> 7, "desc" -> true))
  }

  test("rolling std/var/median/quantile/skew/kurtosis global == windowed BITWISE " +
    "(raw-value head+tail exchange, FrameStats fold)") {
    // the FrameStats fold replicates Spark's CentralMomentAgg updates and
    // percentile interpolation exactly, so even these non-decomposable
    // aggregates compare with plain == (no rounding)
    for (k <- Seq(2, 5, 150)) {
      for (fn <- Seq("rolling_std", "rolling_var", "rolling_median",
        "rolling_skew", "rolling_kurtosis"))
        check(fn, Map("col" -> "v", "order_by" -> Seq("t", "uid"), "window_size" -> k))
      check("rolling_quantile", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
        "window_size" -> k, "quantile" -> 0.25))
    }
    check("rolling_median", Map("col" -> "v", "order_by" -> Seq("t", "uid"),
      "window_size" -> 7, "desc" -> true))
    // k = 1: the frame is the row — var/std/skew/kurt degenerate to NULL,
    // median is the row itself
    val one = derive(
      "m" -> DeriveSpec("rolling_median",
        Map("col" -> "v", "order_by" -> Seq("t", "uid"), "window_size" -> 1)),
      "s" -> DeriveSpec("rolling_std",
        Map("col" -> "v", "order_by" -> Seq("t", "uid"), "window_size" -> 1)))(fixture(40))
    assert(one.filter(col("s").isNotNull).count() == 0)
    assert(one.filter(col("v").isNotNull && col("m") =!= col("v").cast("double")).count() == 0)
  }

  test("rolling moment BATCH: same-frame fns fuse into one decomposition, values == windowed") {
    // six same-(order, k) entries + a different-k straggler in ONE derive
    // call: the first six share one head+tail decomposition (the
    // GlobalOrdered batching rule), the straggler flushes into its own —
    // values must be bitwise the windowed forms either way
    val df = fixture().withColumn("one", lit(1))
    val base = Map("col" -> "v", "order_by" -> Seq("t", "uid"), "window_size" -> 20)
    val entries = Seq(
      "s1" -> DeriveSpec("rolling_std", base),
      "s2" -> DeriveSpec("rolling_var", base),
      "s3" -> DeriveSpec("rolling_median", base),
      "s4" -> DeriveSpec("rolling_quantile", base + ("quantile" -> 0.25)),
      "s5" -> DeriveSpec("rolling_skew", base),
      "s6" -> DeriveSpec("rolling_kurtosis", base),
      "s7" -> DeriveSpec("rolling_median", base + ("window_size" -> 5)))
    val g = derive(entries: _*)(df)
    val w = derive(entries.map { case (n0, s0) =>
      n0 -> s0.copy(kwargs = s0.kwargs + ("partition_by" -> Seq("one")))
    }: _*)(df)
    val names = entries.map(_._1)
    def canon(d: DataFrame) =
      d.select((col("uid") +: names.map(col)): _*).orderBy("uid").collect().toSeq
    assert(canon(g) == canon(w), "batched global rolling moments != windowed")
  }

  test("rolling_*_by BATCH: same-(by, window, closed) fns fuse, values == windowed") {
    val df = spark.range(400)
      .select(((col("id") * 7) % 251).as("ts"), col("id").as("uid"),
        when(col("id") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("id") % 13).as("v"))
      .repartition(7).withColumn("one", lit(1))
    val base = Map("col" -> "v", "by" -> "ts", "window_size" -> 40)
    val entries = Seq(
      "b1" -> DeriveSpec("rolling_sum_by", base),
      "b2" -> DeriveSpec("rolling_mean_by", base),
      "b3" -> DeriveSpec("rolling_std_by", base),
      "b4" -> DeriveSpec("rolling_median_by", base),
      "b5" -> DeriveSpec("rolling_max_by", base + ("window_size" -> 3))) // flushes
    val g = derive(entries: _*)(df)
    val w = derive(entries.map { case (n0, s0) =>
      n0 -> s0.copy(kwargs = s0.kwargs + ("partition_by" -> Seq("one")))
    }: _*)(df)
    val names = entries.map(_._1)
    def canon(d: DataFrame) = d
      .select((col("uid") +: names.map(n0 => round(col(n0).cast("double"), 9).as(n0))): _*)
      .orderBy("uid").collect().toSeq
    assert(canon(g) == canon(w), "batched global rolling_by != windowed")
  }

  test("cumulative_eval std/var global == windowed (Chan merge; round-9 tolerance)") {
    // the (n, mean, M2) Chan recomposition documents a last-ulp float
    // profile vs the sequential windowed scan — compare rounded
    val df = fixture().withColumn("one", lit(1))
    for (agg <- Seq("std", "var")) {
      val kwargs = Map("col" -> "v", "agg" -> agg, "order_by" -> Seq("t", "uid"))
      val g = derive("out" -> DeriveSpec("cumulative_eval", kwargs))(df)
      val w = derive("out" -> DeriveSpec("cumulative_eval",
        kwargs + ("partition_by" -> Seq("one"))))(df)
      def canon(d: DataFrame) = d.select(col("uid"), round(col("out"), 9).as("out"))
        .orderBy("uid").collect().toSeq
      assert(canon(g) == canon(w), s"cumulative_eval $agg: global != windowed (round 9)")
    }
  }

  test("rolling_*_by global == windowed (value-range tail exchange, all closed modes)") {
    // integer by axis WITH duplicates and gaps so range frames straddle
    // bucket boundaries and tie groups land whole
    val df = spark.range(400)
      .select(((col("id") * 7) % 251).as("ts"), col("id").as("uid"),
        when(col("id") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("id") % 13).as("v"))
      .repartition(7).withColumn("one", lit(1))
    def canon(d: DataFrame) = d
      .select(col("uid"), round(col("out").cast("double"), 9).as("out"))
      .orderBy("uid").collect().toSeq
    for (fn <- Seq("rolling_sum_by", "rolling_min_by", "rolling_max_by",
      "rolling_mean_by", "rolling_std_by", "rolling_var_by", "rolling_median_by");
      closed <- Seq("right", "both", "left", "none");
      w <- Seq(3, 40)) {
      val kwargs = Map("col" -> "v", "by" -> "ts", "window_size" -> w, "closed" -> closed)
      val g = derive("out" -> DeriveSpec(fn, kwargs))(df)
      val win = derive("out" -> DeriveSpec(fn,
        kwargs + ("partition_by" -> Seq("one"))))(df)
      assert(canon(g) == canon(win), s"$fn closed=$closed w=$w: global != windowed")
    }
    val qk = Map("col" -> "v", "by" -> "ts", "window_size" -> 25, "quantile" -> 0.75)
    val gq = derive("out" -> DeriveSpec("rolling_quantile_by", qk))(df)
    val wq = derive("out" -> DeriveSpec("rolling_quantile_by",
      qk + ("partition_by" -> Seq("one"))))(df)
    assert(canon(gq) == canon(wq), "rolling_quantile_by: global != windowed")
  }

  test("applyLevel: RollByGroup dense-axis tail valve is loud, not a silent drop") {
    val df = spark.range(200)
      .select(lit(5L).as("ts"), col("id").as("uid"), col("id").as("v"))
    val e = intercept[Exception] {
      OrderedAtScale.applyLevel(df.toDF(), Seq(OrderedAtScale.RollByGroup("ts", 10L, "right",
        Seq(("out", col("v"), w => sum(col("v")).over(w), OrderedAtScale.NoOwn,
          (_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column,
            v: org.apache.spark.sql.Column) => v)),
        maxTailRows = 16))).collect()
    }
    assert(e.getMessage.contains("maxTailRows"), s"wrong error: ${e.getMessage}")
  }

  test("rle_id global: runs spanning bucket boundaries get ONE id (chain-merge)") {
    // long runs force runs across range-bucket boundaries; null runs too
    val df = spark.range(300)
      .select(col("id").as("t"),
        when(col("id") < 90, lit("a"))
          .otherwise(when(col("id") < 95, lit(null).cast("string"))
            .otherwise(when(col("id") < 210, lit("b")).otherwise(lit("c")))).as("s"))
      .repartition(5).withColumn("one", lit(1))
    def rleIds(d: DataFrame, c: String, windowed: Boolean) = derive("out" -> DeriveSpec("rle_id",
      Map("col" -> c, "order_by" -> Seq("t")) ++
        (if (windowed) Map("partition_by" -> Seq("one")) else Map.empty)))(d)
      .select(col("t"), col("out")).orderBy("t").collect().toSeq
    val g = rleIds(df, "s", windowed = false)
    assert(g == rleIds(df, "s", windowed = true))
    assert(g.map(_.getLong(1)).max == 3L) // a, null, b, c
    // a NaN run and a binary run across ~12 of the 16 buckets: adjacent
    // buckets must chain-merge under `<=>` semantics (NaN <=> NaN, binary
    // by content), not JVM equality
    val hostile = spark.range(400)
      .select(col("id").as("t"),
        when(col("id").between(50, 350), lit(Double.NaN))
          .otherwise(col("id").cast("double")).as("d"),
        when(col("id").between(50, 350), lit(Array[Byte](7, 7)))
          .otherwise(col("id").cast("string").cast("binary")).as("b"))
      .repartition(5).withColumn("one", lit(1))
    for (c <- Seq("d", "b")) {
      val gh = rleIds(hostile, c, windowed = false)
      assert(gh == rleIds(hostile, c, windowed = true), s"rle_id over a '$c' run")
      assert(gh.map(_.getLong(1)).max == 99L, s"rle_id '$c': 50 + 1 + 49 runs")
    }
  }

  test("applyLevel: a desc RunIdUnit flips the chain direction") {
    val df = spark.range(100)
      .select(col("id").as("t"), (col("id") >= 50).cast("string").as("s"))
      .repartition(3)
    val out = OrderedAtScale.applyLevel(df,
      Seq(OrderedAtScale.RunIdUnit("s", Seq("t"), desc = true, "rid")))
      .orderBy(col("t").desc).select("rid").as[Long].collect().toSeq
    assert(out == Seq.fill(50)(0L) ++ Seq.fill(50)(1L))
  }

  test("PLAN PIN: no WindowExec with an empty partition spec in any global form") {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val df = fixture()
    val specs = Seq(
      "a" -> DeriveSpec("cum_sum", Map("col" -> "v", "order_by" -> Seq("t", "uid"))),
      "b" -> DeriveSpec("rank", Map("order_by" -> Seq("t"))),
      "c" -> DeriveSpec("dense_rank", Map("order_by" -> Seq("t"))),
      "d" -> DeriveSpec("percent_rank", Map("order_by" -> Seq("t"))),
      "e" -> DeriveSpec("ntile", Map("n" -> 4, "order_by" -> Seq("t", "uid"))),
      "f" -> DeriveSpec("cume_dist", Map("order_by" -> Seq("t"))),
      "g" -> DeriveSpec("avg_rank", Map("order_by" -> Seq("t"))),
      "h" -> DeriveSpec("rle_id", Map("col" -> "v", "order_by" -> Seq("t", "uid"))),
      "i" -> DeriveSpec("cumulative_eval",
        Map("col" -> "v", "agg" -> "mean", "order_by" -> Seq("t", "uid"))),
      "j" -> DeriveSpec("rolling_std",
        Map("col" -> "v", "order_by" -> Seq("t", "uid"), "window_size" -> 9)),
      "k" -> DeriveSpec("cumulative_eval",
        Map("col" -> "v", "agg" -> "std", "order_by" -> Seq("t", "uid"))),
      "l" -> DeriveSpec("shift", Map("col" -> "v", "order_by" -> Seq("t", "uid"))),
      "m" -> DeriveSpec("shift", Map("col" -> "v", "n" -> -2, "order_by" -> Seq("t", "uid"))),
      "n" -> DeriveSpec("diff", Map("col" -> "v", "order_by" -> Seq("t", "uid"))),
      "o" -> DeriveSpec("peak_max", Map("col" -> "v", "order_by" -> Seq("t", "uid"))),
      "p" -> DeriveSpec("interpolate_by",
        Map("col" -> "v", "by" -> "uid", "order_by" -> Seq("t", "uid"))),
      "q" -> DeriveSpec("rolling_mean_by", Map("col" -> "v", "by" -> "t", "window_size" -> 5)))
    for ((n, s) <- specs) {
      val out = derive(n -> s)(df)
      out.collect() // finalize AQE so the real executed plan is inspectable
      val windows = flatten(out.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      // rle_id ("h") freezes its bucketed plan for the driver chain-merge,
      // so its window lives behind the barrier — for everything else the
      // bucketed window must be visible, and NOWHERE may one be
      // single-partition
      if (n != "h")
        assert(windows.nonEmpty, s"$n: expected a bucketed window in the plan")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$n: found a single-partition WindowExec — the scale cliff is back:\n$w"))
    }
  }

  test("LEVEL PIN: cum_sum + shift + diff on one order_by share one bucket exchange") {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    // a range input has no exchange of its own, so every shuffle in the
    // result's lineage (frozen levels included) is a level's __go_bucket
    // hash exchange; the side frames ride broadcasts, outside the lineage
    val df = spark.range(400)
      .select((col("id") % 97).as("t"), col("id").as("uid"), (col("id") % 13).as("v"))
    val ord = Seq("t", "uid")
    val out = derive(
      "cs" -> DeriveSpec("cum_sum", Map("col" -> "v", "order_by" -> ord)),
      "sh" -> DeriveSpec("shift", Map("col" -> "v", "order_by" -> ord)),
      "df" -> DeriveSpec("diff", Map("col" -> "v", "order_by" -> ord)))(df)
    def shuffles(r: RDD[_], seen: collection.mutable.Set[Int]): Set[Int] =
      if (!seen.add(r.id)) Set.empty
      else r.dependencies.flatMap { d =>
        (d match {
          case s: ShuffleDependency[_, _, _] => Set(s.shuffleId)
          case _ => Set.empty[Int]
        }) ++ shuffles(d.rdd, seen)
      }.toSet
    val rdd = out.queryExecution.toRdd
    assert(shuffles(rdd, collection.mutable.Set.empty).size == 1,
      "cum_sum + shift + diff must fuse into ONE bucketing level")
  }

  test("TIE SAFETY: non-unique order_by — boundary recomposition matches the windowed form " +
    "under the internal row-intrinsic tie-break (round-17 advisory)") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties on t (~17 rows per value), v injective (37·id mod 1009 is
    // 1-1 below 400) so per-row outputs are uid-attributable; rows tied on
    // BOTH key and value would make any engine's assignment value-neutral
    val df = spark.range(400)
      .select((col("id") % 23).as("t"), col("id").as("uid"),
        ((col("id") * 37) % 1009).as("v"), ((col("id") * 53) % 997).as("x"))
      .repartition(7)
    // the shift pools into one level with a same-k rolling_sum on ANOTHER
    // column; each keeps its own tie hash (no shared batch)
    val g = derive(
      "rs" -> DeriveSpec("rolling_sum",
        Map("col" -> "v", "order_by" -> Seq("t"), "window_size" -> 5)),
      "sd" -> DeriveSpec("rolling_std",
        Map("col" -> "v", "order_by" -> Seq("t"), "window_size" -> 5)),
      "sh" -> DeriveSpec("shift", Map("col" -> "v", "order_by" -> Seq("t"))),
      "r2" -> DeriveSpec("rolling_sum",
        Map("col" -> "x", "order_by" -> Seq("t"), "window_size" -> 2)))(df)
    // reference: ONE window over the total order (t, tb) where tb
    // replicates the internal tie-break hash exactly
    val tb = xxhash64(col("t"), col("v"))
    val w = Window.partitionBy(lit(1)).orderBy(col("t").asc, tb.asc)
    val ref = df
      .withColumn("rs_r", sum("v").over(w.rowsBetween(-4, 0)))
      .withColumn("sd_r", stddev_samp("v").over(w.rowsBetween(-4, 0)))
      .withColumn("sh_r", lag("v", 1).over(w))
      .withColumn("r2_r", sum("x").over(Window.partitionBy(lit(1))
        .orderBy(col("t").asc, xxhash64(col("t"), col("x")).asc).rowsBetween(-1, 0)))
    val j = g.join(ref.select("uid", "rs_r", "sd_r", "sh_r", "r2_r"), Seq("uid"))
    assert(j.filter(!(col("rs") <=> col("rs_r"))).count() == 0, "rolling_sum tie mismatch")
    assert(j.filter(!(col("sd") <=> col("sd_r"))).count() == 0, "rolling_std tie mismatch")
    assert(j.filter(!(col("sh") <=> col("sh_r"))).count() == 0, "shift tie mismatch")
    assert(j.filter(!(col("r2") <=> col("r2_r"))).count() == 0, "rolling_sum k=2 tie mismatch")
    // desc flips both the key order and the tie-break direction
    val gd = derive("shd" -> DeriveSpec("shift",
      Map("col" -> "v", "order_by" -> Seq("t"), "desc" -> true)))(df)
    val wd = Window.partitionBy(lit(1)).orderBy(col("t").desc, tb.desc)
    val refd = df.withColumn("shd_r", lag("v", 1).over(wd))
    val jd = gd.join(refd.select("uid", "shd_r"), Seq("uid"))
    assert(jd.filter(!(col("shd") <=> col("shd_r"))).count() == 0, "desc shift tie mismatch")
  }

  test("FORECLOSURE: orderedWindow/rollingByFrame with empty partition_by are structural errors") {
    // Round 17: the single-partition arms are gone — a FUTURE registry fn
    // that routes here without a global decomposition fails loudly at
    // plan time instead of resurrecting the scale cliff round 16 closed.
    val e1 = intercept[IllegalArgumentException] {
      graft.expr.ExprRegistry.orderedWindow(
        Map("order_by" -> Seq("t")), "hypothetical_fn")
    }
    assert(e1.getMessage.contains("OrderedAtScale") && e1.getMessage.contains("registry bug"))
    val e2 = intercept[IllegalArgumentException] {
      graft.expr.ExprRegistry.rollingByFrame(
        Map("by" -> "t", "window_size" -> 5), "hypothetical_by_fn")
    }
    assert(e2.getMessage.contains("applyLevel") && e2.getMessage.contains("registry bug"))
  }

  test("buckets honor spark.graft.orderedBuckets; shadow-column collision is loud") {
    spark.conf.set("spark.graft.orderedBuckets", "2")
    try {
      val out = derive("cs" -> DeriveSpec("cum_sum",
        Map("col" -> "v", "order_by" -> Seq("t", "uid"))))(fixture(50))
      assert(out.count() == 50)
    } finally spark.conf.unset("spark.graft.orderedBuckets")
    val bad = fixture(10).withColumn("__go_bucket", lit(1))
    val e = intercept[IllegalArgumentException] {
      derive("cs" -> DeriveSpec("cum_sum",
        Map("col" -> "v", "order_by" -> Seq("t", "uid"))))(bad).collect()
    }
    assert(e.getMessage.contains("__go_bucket"))
  }
}
