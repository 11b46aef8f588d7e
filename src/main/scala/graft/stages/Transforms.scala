package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
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
    * Row-wise entries are applied sequentially (later entries may reference
    * earlier ones). Whole-frame scalar aggregates are batched into ONE
    * distributed `df.agg(...)` pass and broadcast-cross-joined back — the
    * scalable rewrite of Polars' aggregate-broadcast behavior
    * (SURVEY.md §2.3-4, §7.4-4); no single-partition window anywhere.
    */
  def deriveNewCols(newColMap: Seq[(String, DeriveSpec)])(df: DataFrame): DataFrame =
    if (newColMap.isEmpty) df
    else {
      val resolved: Seq[(String, ExprRegistry.Derived)] = newColMap.map { case (name, spec) =>
        name -> ExprRegistry.resolve(spec.fnName)(spec.kwargs)
      }
      // Sequential semantics (later entries may reference earlier ones,
      // including aggregates over derived columns) while still batching:
      // CONSECUTIVE INDEPENDENT whole-frame aggregates share one
      // distributed agg pass + broadcast cross join, and CONSECUTIVE
      // INDEPENDENT same-(order_by, desc) global ordered fns share ONE
      // two-level decomposition (one range exchange, one totals agg, one
      // window — 12 naive chained decompositions would be 12 range
      // shuffles). A row-wise entry — or any entry referencing a name a
      // pending batch will produce — flushes first so successors see its
      // columns.
      def refs(c: Column): Set[String] =
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c).collect {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
        }.toSet
      // every input column a GlobalOrdered spec reads (combine is probed
      // with dummy placeholders, subtracted back out)
      def goRefs(spec: OrderedAtScale.GlobalOrderedSpec): Set[String] = {
        import org.apache.spark.sql.expressions.Window
        val dummyW = Window.partitionBy(col("__go_probe_b")).orderBy(spec.orderBy.map(col): _*)
        val dummies = Set("__go_probe_b", "__go_probe_p", "__go_probe_t", "__go_probe_v")
        (refs(spec.bucketAgg) ++ refs(spec.within(dummyW)) ++
          refs(spec.combine(col("__go_probe_p"), col("__go_probe_t"), col("__go_probe_v"))) ++
          spec.orderBy) -- dummies - OrderedAtScale.priorBucketName
      }
      // a pending whole-frame entry: plain aggregate-broadcast (rowFn =
      // None) or agg-then-row (Some(rowFn) — the 1-row agg result lands
      // under a temp name the row-wise post-expression consumes, qcut's
      // breakpoints → bin label). Round 19: BOTH share one distributed agg
      // pass — consecutive AggThenRow entries (q107's two qcuts) used to
      // flush one agg job each.
      type Pending = Seq[(String, Column, Option[Column => Column])]
      def flush(acc: DataFrame, pending: Pending): DataFrame =
        if (pending.isEmpty) acc
        else {
          def tmp(n: String) = s"__agg_then_row_$n"
          val aggRow = acc.agg(
            pending.head._2.as(pending.head._3.fold(pending.head._1)(_ => tmp(pending.head._1))),
            pending.tail.map { case (n, a, rf) => a.as(rf.fold(n)(_ => tmp(n))) }: _*)
          // an aggregate derive may OVERWRITE an existing column (polars
          // with_columns semantics): aggregate over the pre-drop frame,
          // then drop the original so the join doesn't duplicate the name
          val colliding = pending.collect {
            case (n, _, None) if acc.columns.contains(n) => n
          }
          val joined = acc.drop(colliding: _*).crossJoin(broadcast(aggRow))
          pending.foldLeft(joined) {
            case (a, (n, _, Some(rowFn))) => a.withColumn(n, rowFn(col(tmp(n)))).drop(tmp(n))
            case (a, _) => a
          }
        }
      // Chained decompositions re-analyze the whole accumulated tree and
      // grow optimizer cost ~3× per level (measured via ChainProbe); a
      // zero-copy plan barrier between levels keeps it linear. The FIRST
      // decomposition never pays it, so single-decomposition plans keep
      // their pushdown/plan-pin shape.
      var decomps = 0
      // Output names produced by entries processed so far — the
      // overwrite-hazard guard on base-frame sampling (round-19 advisory,
      // closed round 20): with_columns semantics let a chain REDEFINE an
      // order-key column; a later global level must then NOT sample cut
      // points from the ORIGINAL frame's stale distribution (values would
      // stay exact — placement-independent — but balance could collapse).
      var produced = Set.empty[String]
      var producedAtPoolStart = Set.empty[String]
      // Cut-point sampling source (round 19): when a level's order keys
      // all exist UNCHANGED on the ORIGINAL stage input, the bucketize
      // sample runs against that (a column-pruned base scan) instead of
      // the chained frozen accumulator — sampling the accumulator
      // re-executes every prior level's post-shuffle stage once per
      // level. Sound because derive levels only add columns (rows are
      // never added, dropped or filtered), so the key-tuple multiset is
      // identical on both frames — UNLESS an earlier entry overwrote a
      // key (the `producedBefore` guard falls back to the accumulator).
      def sampleSrc(keys: Seq[String], producedBefore: Set[String]): Option[DataFrame] =
        if (keys.forall(df.columns.contains) && !keys.exists(producedBefore.contains)) Some(df)
        else None
      // ---- round 20: the GLOBAL-FAMILY POOL --------------------------------
      // Independent global entries of EVERY family (ordered specs, raw-frame
      // rollings and shifts, range rollings, run-id chains) accumulate in
      // one pool; at flush time they cluster into FUSED decomposition levels
      // (OrderedAtScale.applyLevel) by (desc, shared key prefix) — one
      // exchange + one cut sample + one freeze per level instead of per
      // family. q169's 3 same-key levels and q164's 5 become 1 and 2.
      final case class PoolEntry(name: String, key: Seq[String], descFlag: Boolean,
          refNames: Set[String], seq: Int, d: ExprRegistry.Derived)
      def flushPool(acc0: DataFrame, pool: Vector[PoolEntry]): DataFrame =
        if (pool.isEmpty) acc0
        else {
          // cluster into fused levels: same desc + a non-empty common key
          // prefix. Bucketing on the common prefix is sound for every
          // extension — equal full keys are equal on the prefix (tie
          // groups still share a bucket) and bucket order is still global
          // order for any extension of the prefix. A rolling_by unit needs
          // bucketKey == its (by); its key has length 1, so any non-empty
          // common prefix IS that key.
          val lcp = OrderedAtScale.commonPrefix _
          var clusters = Vector.empty[(Seq[String], Boolean, Vector[PoolEntry])]
          for (e <- pool) {
            val i = clusters.indexWhere { case (bk, d0, _) =>
              d0 == e.descFlag && lcp(bk, e.key).nonEmpty }
            if (i < 0) clusters = clusters :+ ((e.key, e.descFlag, Vector(e)))
            else {
              val (bk, d0, es) = clusters(i)
              clusters = clusters.updated(i, (lcp(bk, e.key), d0, es :+ e))
            }
          }
          clusters.foldLeft(acc0) { case (a, (bk, _, es)) =>
            val base =
              if (decomps == 0) a else org.apache.spark.sql.graftbridge.PlanBarrier.freeze(a)
            decomps += 1
            val ords = es.collect { case PoolEntry(n0, _, _, _, _, ExprRegistry.GlobalOrdered(s)) =>
              OrderedAtScale.Ordered(n0, s) }
            // rolling batches group by POOL ADJACENCY (consecutive seq +
            // identical frame): the per-batch tie hash
            // xxhash64(orderKeys, batchValues) must match what the unfused
            // flush order produced — entries another family separated stay
            // separate batches (same tie inputs as before the fusion)
            // while still sharing this level's single exchange
            def adjacentRuns[T](items: Vector[(PoolEntry, T)], same: (T, T) => Boolean)
              : Vector[Vector[(PoolEntry, T)]] =
              items.foldLeft(Vector.empty[Vector[(PoolEntry, T)]]) { (runs, it) =>
                runs.lastOption match {
                  case Some(run) if run.last._1.seq + 1 == it._1.seq &&
                      same(run.last._2, it._2) => runs.init :+ (run :+ it)
                  case _ => runs :+ Vector(it)
                }
              }
            val rollGroups = adjacentRuns(
              es.collect { case e @ PoolEntry(_, _, _, _, _, r: ExprRegistry.GlobalRollingFrame) =>
                (e, r) },
              (x: ExprRegistry.GlobalRollingFrame, y: ExprRegistry.GlobalRollingFrame) =>
                x.orderBy == y.orderBy && x.desc == y.desc && x.k == y.k && x.tieOf == y.tieOf)
              .map(run => OrderedAtScale.RollGroup(
                run.head._2.orderBy, run.head._2.desc, run.head._2.k,
                run.map { case (e, r) => (e.name, r.x, r.rollingAgg, r.frameAgg) }))
            val rollByGroups = adjacentRuns(
              es.collect { case e @ PoolEntry(_, _, _, _, _, r: ExprRegistry.GlobalRollingBy) =>
                (e, r) },
              (x: ExprRegistry.GlobalRollingBy, y: ExprRegistry.GlobalRollingBy) =>
                x.by == y.by && x.window == y.window && x.closed == y.closed)
              .map(run => OrderedAtScale.RollByGroup(
                run.head._2.by, run.head._2.window, run.head._2.closed,
                run.map { case (e, r) => (e.name, r.x, r.rangeAgg, r.own, r.boundary) }))
            val runIdUnits = es.collect {
              case PoolEntry(n0, _, _, _, _, r: ExprRegistry.GlobalRunId) =>
                OrderedAtScale.RunIdUnit(r.valueCol, r.orderBy, r.desc, n0) }
            OrderedAtScale.applyLevel(base, ords ++ rollGroups ++ rollByGroups ++ runIdUnits,
              sampleSrc(bk, producedAtPoolStart))
          }
        }
      // input columns a GlobalRollingFrame reads (frameAgg probed with a
      // dummy array column, subtracted back out)
      def grfRefs(r: ExprRegistry.GlobalRollingFrame): Set[String] = {
        import org.apache.spark.sql.expressions.Window
        val dummyW = Window.partitionBy(col("__go_probe_b")).orderBy(r.orderBy.map(col): _*)
        val dummies = Set("__go_probe_b", "__go_probe_a")
        (refs(r.x) ++ refs(r.rollingAgg(dummyW)) ++
          refs(r.frameAgg(col("__go_probe_a"))) ++ r.orderBy) -- dummies
      }
      def grbRefs(r: ExprRegistry.GlobalRollingBy): Set[String] = {
        import org.apache.spark.sql.expressions.Window
        val dummyW = Window.partitionBy(col("__go_probe_b")).orderBy(col(r.by))
        val dummies = Set("__go_probe_b", "__go_probe_a", "__go_probe_o", "__go_probe_v")
        val ownRefs = r.own match {
          case OrderedAtScale.OwnState(f) => refs(f(dummyW))
          case _ => Set.empty[String]
        }
        (refs(r.x) ++ refs(r.rangeAgg(dummyW)) ++ ownRefs ++
          refs(r.boundary(col("__go_probe_a"), col("__go_probe_o"), col("__go_probe_v"))) +
          r.by) -- dummies
      }
      // The fold: aggs batch with aggs (as before); every GLOBAL family
      // entry joins the pool unless it reads a pooled output or would
      // overwrite one (then the pool flushes first — sequential
      // with_columns semantics). Aggs and the pool flush each other on
      // family change, preserving the r19 ordering exactly; the pool
      // itself only widens what can share one exchange.
      var acc = df
      var pending: Pending = Nil
      var pool = Vector.empty[PoolEntry]
      def admitPool(e: PoolEntry): Unit = {
        val poolOuts = pool.map(_.name).toSet
        if (pool.nonEmpty &&
          (e.refNames.exists(poolOuts.contains) || poolOuts.contains(e.name))) {
          acc = flushPool(acc, pool)
          pool = Vector.empty
        }
        if (pool.isEmpty) producedAtPoolStart = produced
        pool = pool :+ e
      }
      for (((n, d0), seq) <- resolved.zipWithIndex) {
        d0 match {
          case ExprRegistry.WholeFrameAgg(a) =>
            acc = flushPool(acc, pool); pool = Vector.empty
            val pendingNames = pending.map(_._1).toSet
            if (refs(a).exists(pendingNames.contains)) { // depends on the batch
              acc = flush(acc, pending); pending = Seq((n, a, None))
            } else pending = pending :+ ((n, a, None))
          case ExprRegistry.AggThenRow(a, rowFn) =>
            // one agg pass + broadcast join shared with the WholeFrameAgg
            // batch; the 1-row agg result lands under a temp name that the
            // row-wise post-expression consumes (qcut: breakpoints -> bin
            // label). The post-expression is row-wise over the joined
            // frame, so its refs (the binned data column) count for the
            // depends-on-the-batch check too.
            acc = flushPool(acc, pool); pool = Vector.empty
            val pendingNames = pending.map(_._1).toSet
            val atrRefs = refs(a) ++ (refs(rowFn(col("__atr_probe"))) - "__atr_probe")
            if (atrRefs.exists(pendingNames.contains)) {
              acc = flush(acc, pending); pending = Seq((n, a, Some(rowFn)))
            } else pending = pending :+ ((n, a, Some(rowFn)))
          case ExprRegistry.RowWise(c0) =>
            acc = flushPool(flush(acc, pending), pool); pending = Nil; pool = Vector.empty
            acc = acc.withColumn(n, c0)
          case ExprRegistry.FrameLevel(build) =>
            acc = flushPool(flush(acc, pending), pool); pending = Nil; pool = Vector.empty
            val base =
              if (decomps == 0) acc else org.apache.spark.sql.graftbridge.PlanBarrier.freeze(acc)
            decomps += 1
            acc = build(base, n)
          case ExprRegistry.GlobalOrdered(spec) =>
            acc = flush(acc, pending); pending = Nil
            admitPool(PoolEntry(n, spec.orderBy, spec.desc, goRefs(spec), seq, d0))
          case r: ExprRegistry.GlobalRollingFrame =>
            acc = flush(acc, pending); pending = Nil
            admitPool(PoolEntry(n, r.orderBy, r.desc, grfRefs(r), seq, r))
          case r: ExprRegistry.GlobalRollingBy =>
            acc = flush(acc, pending); pending = Nil
            admitPool(PoolEntry(n, Seq(r.by), false, grbRefs(r), seq, r))
          case r: ExprRegistry.GlobalRunId =>
            acc = flush(acc, pending); pending = Nil
            admitPool(PoolEntry(n, r.orderBy, r.desc, r.orderBy.toSet + r.valueCol, seq, r))
        }
        produced += n
      }
      val derived = flushPool(flush(acc, pending), pool)
      // restore declared column order (cross joins append agg columns out
      // of order); a derive overwriting an existing column keeps its
      // original position and must not be projected twice
      val ordered =
        (df.columns.toSeq ++ newColMap.map(_._1).filterNot(df.columns.contains)).distinct
      derived.select(ordered.map(n => col(s"`$n`")): _*)
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
