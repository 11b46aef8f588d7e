package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{references => refs}
import org.apache.spark.sql.types._

import graft.config.{DeriveSpec, RuleSpec}
import graft.expr.{DTypes, ExprRegistry, OrderedAtScale, RuleParser}

/** The transformation-stage operators (SURVEY.md §2.1, S4-S5 and S9-S22).
  *
  * Every stage is a pure `DataFrame => DataFrame`, chained with
  * `df.transform(...)` — the idiomatic Spark analogue of the reference's
  * `LazyFrame.pipe` composition (reference: src/polars_pipe/services/
  * basic_pipeline.py:30-77). Stages no-op on empty parameters, mirroring the
  * reference's uniform early-exit pattern (core/transform.py:136-138).
  *
  * Everything here is pure logical-plan construction over `Column`
  * expressions — Catalyst fuses adjacent projections (CollapseProject),
  * prunes columns and pushes predicates into the scan, so composing 16
  * stages costs nothing at run time.
  */
object Transforms {

  /** Columns prefixed this way are engine metadata/lineage: excluded from
    * hashing and string normalisation, forced last in the final projection
    * (reference: core/transform.py:60,107; services/basic_pipeline.py:70-75). */
  val SysColPrefix = "sys_col_"
  val RowHashCol = "sys_col_row_hash"

  private def isSys(name: String): Boolean = name.startsWith(SysColPrefix)

  // S4 ------------------------------------------------------------------
  /** Deterministic row hash of all non-sys columns -> `sys_col_row_hash`.
    *
    * Struct/array/map columns are JSON-encoded, everything else cast to
    * string, then xxhash64 over the field list (reference:
    * core/transform.py:51-74). Idempotent: if the column already exists the
    * frame passes through unchanged (transform.py:57-58 — golden case 3
    * depends on this).
    *
    * Deliberate deviation from the reference (SURVEY.md §2.3-1): the
    * reference's `concat_str` propagates nulls so every row containing any
    * null gets the identical hash — a bug-for-bug quirk we do NOT replicate.
    * Each field is coalesced to a `\u0000` (NUL) sentinel, so distinct rows get
    * distinct hashes. Hash *values* can't match Polars either way (its
    * `.hash()` is implementation-defined xxh3).
    */
  def addHashCol(df: DataFrame): DataFrame =
    if (df.columns.contains(RowHashCol)) df
    else {
      val parts: Seq[Column] = df.schema.fields.toSeq.filterNot(f => isSys(f.name)).map { f =>
        f.dataType match {
          case _: StructType | _: ArrayType | _: MapType =>
            coalesce(to_json(col(f.name)), lit("\u0000"))
          case _ => coalesce(col(f.name).cast(StringType), lit("\u0000"))
        }
      }
      df.withColumn(RowHashCol, xxhash64(parts: _*))
    }

  // S5 ------------------------------------------------------------------
  /** Lineage literal columns: `sys_col_{process}_guid`, `_src_path`,
    * `_datetime` (reference: core/transform.py:77-96). */
  def addProcessCols(
      processName: String,
      guid: String,
      srcPath: String,
      dateTime: java.sql.Timestamp
  )(df: DataFrame): DataFrame =
    df.withColumns(Map(
      s"sys_col_${processName}_guid" -> lit(guid),
      s"sys_col_${processName}_src_path" -> lit(srcPath),
      s"sys_col_${processName}_datetime" -> lit(dateTime)
    ))

  // S9 ------------------------------------------------------------------
  /** Strip + lowercase every string column not prefixed `sys_col_`
    * (reference: core/transform.py:99-109). */
  def normaliseStrCols(df: DataFrame): DataFrame = {
    val targets = df.schema.fields.collect {
      case f if f.dataType == StringType && !isSys(f.name) => f.name
    }
    if (targets.isEmpty) df
    else df.withColumns(targets.map(n => n -> lower(trim(col(n)))).toMap)
  }

  // S10 -----------------------------------------------------------------
  /** Keep-any dedupe on a column subset; `["*"]` or empty = all columns
    * (reference: core/transform.py:232-241). The reference's
    * `maintain_order=True` has no Spark analogue — row order is not defined
    * on a distributed DataFrame; comparisons must be order-insensitive
    * (SURVEY.md §2.3-2). */
  def deduplicateRows(subset: Seq[String])(df: DataFrame): DataFrame =
    if (subset.isEmpty) df
    else if (subset == Seq("*")) df.dropDuplicates()
    else df.dropDuplicates(subset)

  /** Keep-FIRST dedup (polars `unique(keep="first")`, SQL DISTINCT ON):
    * one row per `subset` group — the earliest by `orderBy` — selected
    * deterministically. Spark's `dropDuplicates` keeps an arbitrary row;
    * this keeps a defined one, at the cost of a per-group sort (single
    * window shuffle on `subset`, no global sort). `orderBy` must make rows
    * unique within a group for full determinism. */
  def deduplicateRowsKeepFirst(subset: Seq[String], orderBy: Seq[String])(
      df: DataFrame): DataFrame = {
    require(subset.nonEmpty && subset != Seq("*"),
      "keep-first dedup needs explicit subset columns")
    require(orderBy.nonEmpty, "keep-first dedup needs an explicit order")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(subset.map(col): _*).orderBy(orderBy.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // S11 -----------------------------------------------------------------
  /** Expand struct columns to top level, preserving column position
    * (reference: core/transform.py:207-216). */
  def unnestCols(cols0: Seq[String])(df: DataFrame): DataFrame =
    if (cols0.isEmpty) df
    else {
      val toUnnest = cols0.toSet
      val selection: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
        if (toUnnest.contains(f.name)) f.dataType match {
          case st: StructType =>
            st.fieldNames.toSeq.map(sub => col(s"`${f.name}`.`$sub`").as(sub))
          case other =>
            throw new IllegalArgumentException(
              s"unnest target '${f.name}' is ${other.simpleString}, not a struct")
        }
        else Seq(col(s"`${f.name}`"))
      }
      df.select(selection: _*)
    }

  // S12 -----------------------------------------------------------------
  /** AND-fold of configured predicates (reference: core/transform.py:219-229). */
  def filterRows(rules: Seq[RuleSpec])(df: DataFrame): DataFrame =
    if (rules.isEmpty) df else df.filter(RuleParser.andAll(rules))

  // S13 -----------------------------------------------------------------
  /** Per-column null fill (reference: core/transform.py:167-176).
    * `coalesce` rather than `na.fill` so any literal type works uniformly. */
  def fillNullsPerCol(fillMap: Seq[(String, Any)])(df: DataFrame): DataFrame =
    if (fillMap.isEmpty) df
    else df.withColumns(fillMap.map { case (n, v) => n -> coalesce(col(n), lit(v)) }.toMap)

  // S14 -----------------------------------------------------------------
  /** Per-column cast to a config-named dtype (reference:
    * core/transform.py:155-164). Polars casts strictly (error on overflow);
    * run sessions with `spark.sql.ansi.enabled=true` for matching semantics
    * (SURVEY.md §7.4-6). */
  def recastCols(recastMap: Seq[(String, String)])(df: DataFrame): DataFrame =
    if (recastMap.isEmpty) df
    else df.withColumns(recastMap.map { case (n, t) => n -> col(n).cast(DTypes.resolve(t)) }.toMap)

  // S15 -----------------------------------------------------------------
  /** Per-column clamp to [lo, hi] — Spark has no `clip`, compose
    * `least(greatest(...))` (reference: core/transform.py:179-190).
    * Nulls stay null (Spark's least/greatest SKIP nulls, which would turn
    * null into the bound — Polars clip propagates null; we match Polars). */
  def clipCols(clipMap: Seq[(String, (Any, Any))])(df: DataFrame): DataFrame =
    if (clipMap.isEmpty) df
    else df.withColumns(clipMap.map { case (n, (lo, hi)) =>
      n -> when(col(n).isNotNull, least(greatest(col(n), lit(lo)), lit(hi)))
    }.toMap)

  // S16 -----------------------------------------------------------------
  /** Derived columns from the expression registry (reference:
    * core/transform.py:251-293).
    *
    * Entries apply with sequential `with_columns` semantics: each sees
    * every earlier output, an overwritten column included. Within that
    * contract consecutive entries batch:
    *  - whole-frame aggregates ([[ExprRegistry.AggThenRow]]) share ONE
    *    distributed `df.agg(...)` pass, broadcast-cross-joined back — the
    *    scalable rewrite of Polars' aggregate-broadcast behavior
    *    (SURVEY.md §2.3-4, §7.4-4); no single-partition window anywhere;
    *  - global ordered entries ([[ExprRegistry.Global]]) pool their level
    *    units; [[OrderedAtScale.levels]] fuses the pool into levels, each
    *    one [[OrderedAtScale.applyLevel]] call.
    * An aggregate that reads or rewrites a pending output, or a global
    * entry that reads or overwrites a pooled output or overwrites a column
    * a pooled unit reads, flushes its batch first; a row-wise or
    * frame-level entry flushes both.
    */
  def deriveNewCols(newColMap: Seq[(String, DeriveSpec)])(df: DataFrame): DataFrame =
    if (newColMap.isEmpty) df
    else {
      val resolved: Seq[(String, ExprRegistry.Derived)] = newColMap.map { case (name, spec) =>
        name -> ExprRegistry.resolve(spec.fnName)(spec.kwargs)
      }
      var acc = df
      var pending = Vector.empty[(String, ExprRegistry.AggThenRow)]
      var pool = Vector.empty[OrderedAtScale.LevelUnit]
      // every output written so far, and those written before the pool began
      var produced = Set.empty[String]
      var producedAtPoolStart = Set.empty[String]
      // each 1-row agg result lands under a temp name; `row` of it writes
      // the output in place (an overwritten column keeps its position)
      def tmp(n: String) = s"__agg_then_row_$n"
      def flushAggs(): Unit = if (pending.nonEmpty) {
        val aggs = pending.map { case (n, a) => a.agg.as(tmp(n)) }
        val joined = acc.crossJoin(broadcast(acc.agg(aggs.head, aggs.tail: _*)))
        acc = pending.foldLeft(joined) { case (f, (n, a)) =>
          f.withColumn(n, a.row(col(tmp(n)))).drop(tmp(n)) }
        pending = Vector.empty
      }
      // A level's cut sample reads the ORIGINAL stage input (a
      // column-pruned base scan) when its bucket key exists there
      // unchanged, instead of the accumulator, whose sample would re-run
      // every earlier level. Sound because derive levels only add columns,
      // so both frames hold the same key tuples — unless an entry before
      // the pool overwrote a key: then it samples the accumulator (values
      // stay exact either way; the stale sample would only skew balance).
      def flushPool(): Unit = {
        acc = OrderedAtScale.levels(pool).foldLeft(acc) { (a, level) =>
          val bk = OrderedAtScale.bucketKey(level)
          val fresh = bk.forall(df.columns.contains) && !bk.exists(producedAtPoolStart.contains)
          OrderedAtScale.applyLevel(a, level, if (fresh) Some(df) else None)
        }
        pool = Vector.empty
      }
      for ((n, d) <- resolved) {
        d match {
          case a: ExprRegistry.AggThenRow =>
            flushPool()
            val reads = refs(a.agg) ++ (refs(a.row(col("__agg_probe"))) - "__agg_probe")
            val pendingNames = pending.map(_._1).toSet
            if ((reads + n).exists(pendingNames.contains)) flushAggs()
            pending :+= n -> a
          case ExprRegistry.Global(unit) =>
            flushAggs()
            val u = unit(n)
            val poolOuts = pool.flatMap(_.outs).toSet
            if (u.reads.exists(poolOuts.contains) || poolOuts.contains(n) ||
                pool.exists(_.reads.contains(n))) flushPool()
            if (pool.isEmpty) producedAtPoolStart = produced
            pool :+= u
          case ExprRegistry.RowWise(c0) =>
            flushAggs(); flushPool()
            acc = acc.withColumn(n, c0)
          case ExprRegistry.FrameLevel(build) =>
            flushAggs(); flushPool()
            acc = build(acc, n)
        }
        produced += n
      }
      flushAggs(); flushPool()
      // restore declared column order (cross joins append agg columns out
      // of order); a derive overwriting an existing column keeps its
      // original position and must not be projected twice
      val ordered =
        (df.columns.toSeq ++ newColMap.map(_._1).filterNot(df.columns.contains)).distinct
      acc.select(ordered.map(n => col(s"`$n`")): _*)
    }

  // S17 -----------------------------------------------------------------
  /** old -> new column rename (reference: core/transform.py:143-152). */
  def renameCols(renameMap: Seq[(String, String)])(df: DataFrame): DataFrame =
    if (renameMap.isEmpty) df else df.withColumnsRenamed(renameMap.toMap)

  // S18 -----------------------------------------------------------------
  /** Pack listed columns into a struct, dropping the packed sources
    * (reference: core/transform.py:193-204). */
  def nestCols(nestMap: Seq[(String, Seq[String])])(df: DataFrame): DataFrame =
    nestMap.foldLeft(df) { case (acc, (name, members)) =>
      acc.withColumn(name, struct(members.map(col): _*)).drop(members: _*)
    }

  // S19 -----------------------------------------------------------------
  /** Drop listed columns (reference: core/transform.py:131-140). */
  def dropCols(cols0: Seq[String])(df: DataFrame): DataFrame =
    if (cols0.isEmpty) df else df.drop(cols0: _*)

  // S20 -----------------------------------------------------------------
  /** User-supplied frame-level transformations, piped in registration order;
    * unknown name throws (reference: core/transform.py:296-329). */
  type CustomFn = (DataFrame, Map[String, Any]) => DataFrame

  def pipeCustomTransformations(
      registry: Map[String, CustomFn],
      configs: Seq[(String, Map[String, Any])]
  )(df: DataFrame): DataFrame =
    configs.foldLeft(df) { case (acc, (name, kwargs)) =>
      val fn = registry.getOrElse(
        name,
        throw new NoSuchElementException(
          s"custom transformation '$name' not in registry (${registry.keys.mkString(", ")})"))
      fn(acc, kwargs)
    }

  // S21 -----------------------------------------------------------------
  /** Final projection: user columns (minus sys cols) first, then all
    * `sys_col*` columns appended in their original relative order
    * (reference: services/basic_pipeline.py:70-75). */
  def finalSelect(selectCols: Seq[String])(df: DataFrame): DataFrame = {
    val user =
      (if (selectCols.isEmpty || selectCols == Seq("*")) df.columns.toSeq else selectCols)
        .filterNot(isSys)
    val sys = df.columns.toSeq.filter(isSys)
    df.select((user ++ sys).map(n => col(s"`$n`")): _*)
  }

  // S22 -----------------------------------------------------------------
  /** Lowercase+strip all column names unless that would collide
    * case-insensitively — then no-op (reference: core/transform.py:112-128). */
  def standardiseColNames(df: DataFrame): DataFrame = {
    val std = df.columns.map(_.trim.toLowerCase)
    if (std.distinct.length != std.length) df else df.toDF(std.toIndexedSeq: _*)
  }
}
