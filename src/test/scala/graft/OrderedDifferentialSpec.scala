package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DeriveSpec
import graft.stages.Transforms

/** Differential harness for the fused global ordered engine
  * ([[graft.expr.OrderedAtScale.applyLevel]]): seeded random derive chains
  * that mix all four level-unit kinds (ordered running/rank specs,
  * raw-frame rolling batches and shifts, range-framed `rolling_*_by`
  * batches, run-id chains), applied in ONE derive call, against the same
  * entries applied one at a time as single-partition `Window`s.
  *
  * Keys are hostile: duplicate-heavy, null-bearing, NaN/-0.0 doubles,
  * all-equal, reverse-ordered, string and binary. Every chain runs under
  * one of `spark.graft.orderedBuckets` ∈ {1, 2, 7, 257} with AQE on and
  * off, so bucket counts far above the row count (empty buckets) and a
  * single bucket are both covered. About one input in six is empty.
  *
  * Two chain modes:
  *  - unique: positional fns order by (key, uid), so the windowed form is
  *    deterministic; entries may read an earlier entry's output, and may
  *    overwrite the value column `v` or the order key `k` that later
  *    entries read (a level after a key overwrite samples its cut points
  *    from the derived frame, not the stage input).
  *  - tie: rolling fns and shifts order by the NON-unique key alone; the
  *    reference orders by the engine's documented tie-break
  *    `xxhash64(key, value)` (rolling fns all read `x`, shifts read `y`,
  *    so a batch that wrongly merged the two would hash both columns and
  *    reorder tied rows). `x` and `y` are injective, so no two rows tie
  *    on key and value and every output is attributable to its row.
  *    Rank-family and `rolling_*_by` entries, which are deterministic
  *    under ties, join those chains unchanged.
  *
  * Integer values keep every sum exact; double outputs (means) compare to
  * 1e-9 relative, since the two-level form adds bucket partials in a
  * different association than a sequential scan. */
class OrderedDifferentialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Rows = 240

  /** Hostile order-key distributions. `integral` kinds can also serve as
    * a `rolling_*_by` axis (which must be an integer column). */
  private sealed abstract class KeyKind(val integral: Boolean) {
    def key(id: Column): Column
  }
  private case object DupHeavy extends KeyKind(true) {
    def key(id: Column): Column = (id % 7).cast("long")
  }
  private case object Nulls extends KeyKind(true) {
    def key(id: Column): Column = when(id % 5 === 0, lit(null).cast("long")).otherwise(id % 31)
  }
  private case object AllEqual extends KeyKind(true) {
    def key(id: Column): Column = lit(3L)
  }
  private case object Reverse extends KeyKind(true) {
    def key(id: Column): Column = lit(Rows.toLong) - id
  }
  private case object NaNs extends KeyKind(false) {
    def key(id: Column): Column =
      when(id % 6 === 0, lit(Double.NaN))
        .when(id % 6 === 1, lit(null).cast("double"))
        .when(id % 6 === 2, lit(-0.0))
        .when(id % 6 === 3, lit(0.0))
        .otherwise((id % 9).cast("double") / 2.0)
  }
  private case object Strings extends KeyKind(false) {
    def key(id: Column): Column =
      when(id % 11 === 0, lit(null).cast("string")).otherwise(concat(lit("k"), (id % 6).cast("string")))
  }
  private case object Binary extends KeyKind(false) {
    def key(id: Column): Column = (id % 5).cast("string").cast("binary")
  }
  private val kinds = Seq(DupHeavy, Nulls, AllEqual, Reverse, NaNs, Strings, Binary)

  /** The input: `k` (hostile key), `uid` (unique tie-break), `v` (long
    * values with nulls and repeats), `x`/`y` (injective non-null longs,
    * the tie-mode values), `r` (runs with nulls for rle_id), `b` (an
    * integer axis with ties and nulls), `one` (the reference's constant
    * partition). */
  private def frame(kind: KeyKind, seed: Long, empty: Boolean): DataFrame = {
    val id = col("id")
    val mix = (id * 7919 + seed) % Rows
    val df = spark.range(Rows.toLong)
      .select(
        kind.key(mix).as("k"),
        id.as("uid"),
        when(mix % 9 === 0, lit(null).cast("long")).otherwise(mix % 13).as("v"),
        (mix * 37 % 1009).as("x"),
        (mix * 53 % 997).as("y"),
        when(mix % 19 === 0, lit(null).cast("string"))
          .otherwise(((mix / 6) % 3).cast("string")).as("r"),
        when(mix % 23 === 0, lit(null).cast("long")).otherwise((mix / 3).cast("long")).as("b"),
        lit(1).as("one"))
      .repartition(3)
    // a filter the optimizer cannot fold away: the plan still scans
    if (empty) df.filter(col("uid") < 0) else df
  }

  /** One chain entry: its derive spec, its reference (the frame holding
    * every earlier entry, plus this entry's output computed by a
    * single-partition window), and whether its output is a long usable as
    * a later entry's input. */
  private final case class Entry(name: String, spec: DeriveSpec, ref: DataFrame => DataFrame,
      longOut: Boolean) {
    override def toString: String = s"$name: ${spec.fnName}(${spec.kwargs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(", ")})"
  }

  private def dir(c: Column, desc: Boolean): Column = if (desc) c.desc else c.asc

  /** The windowed per-key form of the same fn over the constant `one`
    * partition: the single-partition semantics, through code that never
    * touches the engine under test. */
  private def windowed(name: String, spec: DeriveSpec): DataFrame => DataFrame =
    Transforms.deriveNewCols(Seq(name -> DeriveSpec(spec.fnName,
      spec.kwargs + ("partition_by" -> Seq("one")))))

  /** Tie-mode chains share one direction and draw rolling windows and
    * shift offsets from a narrow range, so a rolling batch over `v` and a
    * shift over `x` with the same frame length are often adjacent: the
    * pair a batching bug would merge. */
  private def entryGen(name: String, tie: Boolean, chainDesc: Boolean, byCol: String,
      longCols: Seq[String]): Gen[Entry] = {
    val uniqueOrd = Seq("k", "uid")
    for {
      fam <- if (tie) Gen.frequency(1 -> "rank", 3 -> "rolling", 3 -> "shift", 1 -> "rolling_by")
        else Gen.oneOf("ordered", "rank", "rolling", "shift", "rolling_by", "rle")
      src <- if (tie) Gen.const("x") else Gen.oneOf(longCols)
      desc <- if (tie) Gen.const(chainDesc) else Gen.oneOf(false, true)
      w <- if (tie) Gen.oneOf(2, 3) else Gen.oneOf(2, 3, 5)
      fn <- fam match {
        case "ordered" => Gen.oneOf("cum_sum", "cum_max", "cum_min", "cum_count", "row_number",
          "forward_fill")
        case "rank" => Gen.oneOf("rank", "dense_rank")
        case "rolling" => Gen.oneOf("rolling_sum", "rolling_max", "rolling_min", "rolling_mean")
        case "shift" => Gen.oneOf("shift", "diff")
        case "rolling_by" => Gen.oneOf("rolling_sum_by", "rolling_max_by", "rolling_mean_by")
        case _ => Gen.const("rle_id")
      }
      n <- if (tie) Gen.oneOf(1, 2) else Gen.oneOf(1, 2, -1)
      closed <- Gen.oneOf("right", "both", "left", "none")
      byW <- Gen.oneOf(1, 3, 10)
    } yield {
      def ordKw(ord: Seq[String]) = Map[String, Any]("order_by" -> ord, "desc" -> desc)
      fam match {
        case "ordered" =>
          val kw = ordKw(uniqueOrd) ++ (if (fn == "row_number") Map.empty else Map("col" -> src))
          val s = DeriveSpec(fn, kw)
          Entry(name, s, windowed(name, s), longOut = true)
        case "rank" =>
          val s = DeriveSpec(fn, ordKw(Seq("k")))
          Entry(name, s, windowed(name, s), longOut = true)
        case "rolling" =>
          val s = DeriveSpec(fn, ordKw(if (tie) Seq("k") else uniqueOrd) ++
            Map("col" -> src, "window_size" -> w))
          val ref: DataFrame => DataFrame =
            if (!tie) windowed(name, s)
            else { df =>
              val ws = Window.partitionBy(col("one"))
                .orderBy(dir(col("k"), desc), dir(xxhash64(col("k"), col("x")), desc))
                .rowsBetween(-(w - 1).toLong, 0L)
              val agg = fn match {
                case "rolling_sum" => sum(col("x"))
                case "rolling_max" => max(col("x"))
                case "rolling_min" => min(col("x"))
                case _ => avg(col("x"))
              }
              df.withColumn(name, agg.over(ws))
            }
          Entry(name, s, ref, longOut = fn != "rolling_mean")
        case "shift" =>
          val x = if (tie) "y" else src
          val s = DeriveSpec(fn, ordKw(if (tie) Seq("k") else uniqueOrd) ++
            Map("col" -> x, "n" -> n))
          val ref: DataFrame => DataFrame =
            if (!tie) windowed(name, s)
            else { df =>
              // lag(n) over the tie-extended order; a negative n is a
              // lead, i.e. a lag over the reversed order
              val d = if (n < 0) !desc else desc
              val ws = Window.partitionBy(col("one"))
                .orderBy(dir(col("k"), d), dir(xxhash64(col("k"), col("y")), d))
              val shifted = lag(col("y"), math.abs(n)).over(ws)
              df.withColumn(name, if (fn == "diff") col("y") - shifted else shifted)
            }
          Entry(name, s, ref, longOut = true)
        case "rolling_by" =>
          val s = DeriveSpec(fn, Map("col" -> src, "by" -> byCol, "window_size" -> byW,
            "closed" -> closed))
          Entry(name, s, windowed(name, s), longOut = fn != "rolling_mean_by")
        case _ =>
          val s = DeriveSpec("rle_id", ordKw(uniqueOrd) ++ Map("col" -> "r"))
          Entry(name, s, windowed(name, s), longOut = true)
      }
    }
  }

  /** A chain of 3-6 entries; in unique mode an entry may read any earlier
    * long output, and after the first one about one entry in six
    * overwrites `v` and one in six the order key `k`. A key is only
    * overwritten by a long output, so it stays a valid `rolling_*_by`
    * axis. */
  private def chainGen(tie: Boolean, byCol: String): Gen[Vector[Entry]] = for {
    len <- Gen.choose(3, 6)
    chainDesc <- Gen.oneOf(false, true)
    chain <- {
      (0 until len).foldLeft(Gen.const(Vector.empty[Entry])) { (g, i) =>
        g.flatMap { acc =>
          val longCols = Seq("v", "x", "y") ++ acc.filter(_.longOut).map(_.name)
          Gen.frequency(1 -> "v", 1 -> "k", 4 -> "").flatMap { target =>
            val name = if (!tie && target.nonEmpty && i > 0) target else s"o$i"
            entryGen(name, tie, chainDesc, byCol, longCols).flatMap { e =>
              if (name == "k" && !e.longOut) entryGen(s"o$i", tie, chainDesc, byCol, longCols)
              else Gen.const(e)
            }.map(acc :+ _)
          }
        }
      }
    }
  } yield chain

  private final case class Case(kind: KeyKind, tie: Boolean, seed: Long, empty: Boolean,
      chain: Vector[Entry])

  private def caseGen(tie: Boolean): Gen[Case] = for {
    kind <- Gen.oneOf(kinds)
    seed <- Gen.choose(0L, 10000L)
    empty <- Gen.frequency(1 -> true, 5 -> false)
    chain <- chainGen(tie, if (kind.integral) "k" else "b")
  } yield Case(kind, tie, seed, empty, chain)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** None when the fused chain equals the one-at-a-time reference; else a
    * description of the first differing rows. */
  private def mismatch(c: Case): Option[String] = {
    val df = frame(c.kind, c.seed, c.empty)
    val fused = Transforms.deriveNewCols(c.chain.map(e => e.name -> e.spec))(df)
    val ref = c.chain.foldLeft(df)((acc, e) => e.ref(acc))
    val names = c.chain.map(_.name).distinct
    def rows(d: DataFrame): Array[Row] =
      d.select((col("uid") +: names.map(col)): _*).orderBy("uid").collect()
    val (got, want) = (rows(fused), rows(ref))
    val bad = got.zip(want).filter { case (g, w) =>
      (0 until g.length).exists(i => !same(g.get(i), w.get(i)))
    }
    if (got.length == want.length && bad.isEmpty) None
    else Some(s"${c.kind} tie=${c.tie} seed=${c.seed} empty=${c.empty} chain=[${c.chain.mkString("; ")}]: " +
      s"${bad.length} of ${want.length} rows differ, e.g. " +
      bad.take(3).map { case (g, w) => s"got $g want $w" }.mkString("; "))
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (buckets <- Seq(1, 2, 7, 257); aqe <- Seq(true, false)) {
    test(s"DIFFERENTIAL: fused chains == one-at-a-time windows " +
      s"(orderedBuckets=$buckets, AQE ${if (aqe) "on" else "off"})") {
      withConf("spark.graft.orderedBuckets" -> buckets.toString,
        "spark.sql.adaptive.enabled" -> aqe.toString) {
        val prop = Prop.forAll(Gen.oneOf(false, true).flatMap(caseGen)) { c =>
          val m = mismatch(c)
          Prop(m.isEmpty) :| m.getOrElse("")
        }
        val res = SCTest.check(
          SCTest.Parameters.default
            .withMinSuccessfulTests(2)
            .withInitialSeed(Seed(1000L * buckets + (if (aqe) 1 else 0))),
          prop)
        assert(res.passed, s"property falsified: ${res.status}")
      }
    }
  }
}
