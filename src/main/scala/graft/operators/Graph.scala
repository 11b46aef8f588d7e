package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative score diffusion over an explicit edge frame — the graph
  * algorithms a curation pipeline runs ON TOP of the KNN graph
  * ([[Similarity.knnGraph]]): propagate a small set of human quality
  * labels to the whole corpus (semi-supervised labeling), and rank rows
  * by similarity-graph centrality (representativeness-based selection).
  *
  * Both are FIXED-iteration loops composed declaratively: each round is
  * one hash join (edges against the current scores, keyed on the
  * neighbor id) plus one aggregation (keyed on the receiving id) — no
  * driver-side graph, no per-round action at the designed 2-4 iters.
  * Shuffle volume per round is |E|, and the edge frame is persisted once
  * and reused by every round. Deep chains are lineage-bounded by
  * `checkpointEvery`: every that-many rounds the iterate is eagerly
  * snapshotted ([[Dedup.severLineage]], the
  * [[Dedup.connectedComponents]] pattern), so iters ~ 20+ no longer
  * explodes analysis/codegen depth; at the default depths no snapshot
  * fires and the whole plan stays ONE Spark job. The FINAL iterate is
  * always snapshotted, which lets both operators unpersist their cached
  * edge/node frames before returning — callers get a self-contained
  * result and no cache residue accumulates across bench queries.
  *
  * Determinism (the catalog contract): all cross-row sums run in
  * fixed-point µ-units (1e-6, half-up via the `floor(x·1e6 + 0.5)`
  * spelling — identical in every engine) over longs — order- and
  * partitioning-independent — and every emitted score is `round(_, 6)`.
  * Float ops that remain (one division, one affine blend per node per
  * round) are single IEEE operations on identical inputs, so results
  * are bit-identical to the DuckDB oracle's.
  */
object Graph {

  /** µ-unit (1e-6) fixed-point encoding of a round-6 double: half-up in
    * every engine by construction (Spark cast(double→long) truncates and
    * DuckDB cast rounds — `floor(x·1e6 + 0.5)` sidesteps both; the
    * [[Similarity.sqEncode]] spelling). */
  private def micro(x: Column): Column =
    floor(x * lit(1000000.0) + lit(0.5)).cast("long")

  /** Run `step` `iters` times from `init`, severing the iterate's
    * lineage ([[Dedup.severLineage]]) every `checkpointEvery` rounds
    * (0: never) and always after the last round; each superseded snapshot
    * is unpersisted as soon as the next one lands. */
  private def iterateSevered(init: DataFrame, iters: Int, checkpointEvery: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var prevSnap: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    (1 to iters).foreach { it =>
      cur = step(cur)
      if (it == iters || (checkpointEvery > 0 && it % checkpointEvery == 0)) {
        val (severed, rdd) = Dedup.severLineage(cur)
        prevSnap.foreach(_.unpersist(blocking = false))
        prevSnap = Some(rdd)
        cur = severed
      }
    }
    cur
  }

  /** Semi-supervised label propagation (Zhou et al. 2004, "Learning with
    * Local and Global Consistency"): diffuse seed scores over a weighted
    * similarity graph,
    *
    *   f_{t+1}(v) = α · Σ_{(v,u) ∈ E} w(v,u)·f_t(u) / Σ w(v,u)
    *                + (1-α) · y(v),          f_0 = y
    *
    * — the standard way to turn a few thousand human quality labels into
    * a corpus-wide quality score: seeds carry y (their label), everyone
    * else starts at 0, and each round every row blends its neighbors'
    * weighted-mean score with its own seed.
    *
    * α is a RATIONAL (`alphaNumer/alphaDenom`, default 1/2 — the
    * [[Curation.mixtureSample]] convention) because the recurrence runs
    * ENTIRELY in integer µ-units:
    *
    *   f'µ = (aN·(Σ wµ·fµ DIV Σ wµ) + (aD−aN)·yµ) DIV aD
    *
    * — a float blend + round-6 lands on rounding midpoints within two
    * rounds (measured on the PageRank twin); two long floor-divisions
    * per node per round keep every engine bit-identical on any
    * partitioning. Each floor loses < 1µ per round — deterministic, and
    * irrelevant to the selection thresholds the score feeds.
    *
    * Weights are clamped to [0,1] (similarity weights — a KNN graph's
    * cosine column is the intended input); zero-weight edges drop out.
    * Rows with no surviving out-edges (isolated rows, [[Similarity]]
    * `maxCell` exclusions) keep `(1−α)·y`. Scores stay inside the seed
    * range [min y, max y] (each update is a convex blend up to the µ
    * floor), so with |y| ≤ 1 the µ-unit products are bounded by
    * in-degree · 10^12 — safe through in-degrees of ~9·10^6 per node
    * (document-graph in-degrees are k·nProbe, orders of magnitude
    * below).
    *
    * Scale shape: per round ONE equi-join of edges against scores
    * (hash-partitioned on the neighbor id) + ONE aggregation on the
    * receiving id + a left join back to the node frame — map-side
    * partial aggregation does the in-degree reduction. Nothing is
    * collected; the node and edge frames can be arbitrarily large.
    *
    * @param edges  (srcCol, dstCol, weightCol) — directed; for the
    *               symmetric diffusion of the paper, pass a symmetrized
    *               edge list
    * @param nodes  one row per node; seedCol holds y (0.0 = unlabeled),
    *               round-6 in [0,1] (label scores — scale wider domains
    *               down first). Negative seeds are REJECTED at execution
    *               time (inline `raise_error`, no extra pass): Spark DIV
    *               truncates toward zero while DuckDB `//` floors, so a
    *               negative seed would silently desync engine and oracle
    * @param checkpointEvery eagerly snapshot the iterate every this many
    *               rounds (0 disables intermediate snapshots) — bounds
    *               lineage/codegen depth for deep chains; values do not
    *               change (the recurrence is already order-exact)
    * @return `nodes` with `outCol` appended (fµ/10^6, an
    *         exact-integer-derived double)
    */
  def labelPropagate(
      edges: DataFrame,
      nodes: DataFrame,
      idCol: String,
      seedCol: String,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "cosine",
      iters: Int = 2,
      alphaNumer: Long = 1L,
      alphaDenom: Long = 2L,
      outCol: String = "score",
      checkpointEvery: Int = 8
  ): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(alphaDenom > 0 && alphaNumer >= 0 && alphaNumer <= alphaDenom,
      s"alpha must be a rational in [0,1], got $alphaNumer/$alphaDenom")
    require(alphaDenom <= 1000L,
      s"alphaDenom > 1000 erodes the µ-unit resolution of the blend, got $alphaDenom")
    require(checkpointEvery >= 0, s"checkpointEvery must be >= 0, got $checkpointEvery")
    require(!nodes.columns.contains(outCol),
      s"labelPropagate writes column '$outCol'; nodes already has one — rename it first")
    val w = least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    val e = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), micro(w).as("__wu"))
      .filter(col("__wu") > 0L)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // negative seeds desync Spark DIV (truncates) vs DuckDB // (floors) —
    // fail LOUDLY inside the same job, no validation pass added
    val seed = round(col(seedCol).cast("double"), 6)
    val guardedSeed = when(seed < 0.0, raise_error(concat(
      lit(s"labelPropagate: seed column '$seedCol' must be non-negative " +
        "(integer DIV semantics differ across engines for negative operands); got "),
      seed.cast("string")))).otherwise(seed)
    val base = nodes.select(col(idCol).as("__id"), micro(guardedSeed).as("__yu"))
    // the final sever lets `e`'s cache be released here instead of
    // leaking across callers: the returned frame no longer references it
    val finalScores = iterateSevered(base.withColumn("__fu", col("__yu")), iters,
        checkpointEvery) { scores =>
      val contrib = e
        .join(scores.select(col("__id").as("__dst"), col("__fu")), "__dst")
        .groupBy(col("__src"))
        .agg(sum(col("__wu") * col("__fu")).as("__num"), sum(col("__wu")).as("__den"))
      base
        .join(contrib.withColumnRenamed("__src", "__id"), Seq("__id"), "left")
        .select(col("__id"), col("__yu"),
          expr(s"(${alphaNumer}L * coalesce(__num DIV __den, 0L) " +
            s"+ ${alphaDenom - alphaNumer}L * __yu) DIV ${alphaDenom}L").as("__fu"))
    }
    e.unpersist(blocking = false)
    nodes.join(
      finalScores.select(col("__id").as(idCol),
        (col("__fu").cast("double") / lit(1000000.0)).as(outCol)),
      Seq(idCol))
  }

  /** Similarity-graph centrality by damped power iteration — PageRank
    * (Page et al. 1999) in its mean-1 ("unnormalized") form,
    *
    *   r_{t+1}(v) = (1-d) + d · Σ_{(u,v) ∈ E} r_t(u) · p(u,v),
    *   p(u,v) = w(u,v) / Σ_x w(u,x),        r_0 = 1
    *
    * over a KNN similarity graph this ranks each document by how central
    * it is to the corpus' similarity structure — the representativeness
    * signal for coverage-aware selection (keep the hubs, or conversely
    * downweight them for diversity). Mean-1 scaling (rather than the
    * Σr = 1 probability form) keeps scores O(1) at ANY corpus size, so
    * fixed-point µ-units lose nothing at 10^9 nodes where 1/n ranks
    * would round to zero.
    *
    * Transition probabilities are precomputed ONCE (one aggregation on
    * the source id + one join, round-6 then µ-encoded), then each round
    * is the same join+agg shape as [[labelPropagate]], pulling on the
    * DESTINATION id. Damping is a RATIONAL (`dampingNumer/dampingDenom`,
    * default 17/20 = 0.85 — the [[Curation.mixtureSample]] convention),
    * because the whole recurrence runs in integer µ-units:
    *
    *   r'µ = ((denom−numer)·10^12 + numer·Σ pu·rµ) DIV (denom·10^6)
    *
    * — one long floor-division per node per round, no float anywhere, so
    * results are bit-identical on any partitioning and in the oracle (a
    * float blend + round-6 lands on rounding midpoints after 2 rounds —
    * measured, not hypothetical). Overflow bound: numer·Σ pu·rµ with
    * Σpu ≤ 10^6 per node caps in-degree·rankµ at ~4·10^17/numer — safe
    * through in-degree ~10^6 at rank ~10^1 (KNN graphs: in-degree ≈
    * k·nProbe). Weights clamp to [0,1]; zero-weight edges drop. Dangling
    * mass (rows whose edges all clamped away) is NOT redistributed —
    * those rows contribute nothing and everyone's floor is (1-d); the
    * centrality ORDER, which is what selection consumes, is unaffected.
    *
    * Lineage depth is bounded by `checkpointEvery` (see
    * [[labelPropagate]]); the final ranks are severed and the cached
    * node/probability frames unpersisted before returning.
    *
    * @param edges directed (srcCol, dstCol, weightCol)
    * @return one row per node appearing as src or dst: (`id`, `outCol`),
    *         `outCol` = rµ/10^6 (an exact-integer-derived double)
    */
  def pagerankCentrality(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "cosine",
      iters: Int = 2,
      dampingNumer: Long = 17L,
      dampingDenom: Long = 20L,
      outCol: String = "rank",
      checkpointEvery: Int = 8
  ): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingDenom > 0 && dampingNumer >= 0 && dampingNumer <= dampingDenom,
      s"damping must be a rational in [0,1], got $dampingNumer/$dampingDenom")
    require(dampingDenom <= 1000L,
      s"dampingDenom > 1000 erodes the µ-unit resolution of (1-d), got $dampingDenom")
    require(checkpointEvery >= 0, s"checkpointEvery must be >= 0, got $checkpointEvery")
    val w = least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"), micro(w).as("__wu"))
    val nodes = raw.select(col("__src").as("__id"))
      .union(raw.select(col("__dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = raw.filter(col("__wu") > 0L)
    val outw = e.groupBy(col("__src")).agg(sum(col("__wu")).as("__outwu"))
    // per-edge transition prob, round-6 then µ-encoded: the stored edge
    // frame every round reuses — probabilities never recompute
    val p = e.join(outw, "__src")
      .select(col("__src"), col("__dst"),
        micro(round(col("__wu").cast("double") / col("__outwu").cast("double"), 6)).as("__pu"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val baseNumer = (dampingDenom - dampingNumer) * 1000000000000L
    val divDenom = dampingDenom * 1000000L
    val finalRanks = iterateSevered(nodes.withColumn("__ru", lit(1000000L)), iters,
        checkpointEvery) { ranks =>
      val contrib = p
        .join(ranks.select(col("__id").as("__src"), col("__ru")), "__src")
        .groupBy(col("__dst"))
        .agg(sum(col("__pu") * col("__ru")).as("__num"))
      nodes
        .join(contrib.withColumnRenamed("__dst", "__id"), Seq("__id"), "left")
        .select(col("__id"),
          expr(s"(${baseNumer}L + ${dampingNumer}L * coalesce(__num, 0L)) DIV ${divDenom}L")
            .as("__ru"))
    }
    p.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    finalRanks.select(col("__id").as("id"),
      (col("__ru").cast("double") / lit(1000000.0)).as(outCol))
  }
}
