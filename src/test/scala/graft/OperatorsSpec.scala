package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextAnalysis, TimeSeries}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "The  quick brown fox jumps over the lazy dog "), // ws/case variant of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (3L, "completely different content about spark engines and shuffles"),
    (4L, "der hund ist nicht mit der katze und das ist gut")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per normalized fingerprint") {
    val out = Dedup.exact(docs, "doc_id", "text").select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 2L, 3L, 4L), "doc 1 is an exact normalized dup of 0")
  }

  test("minhash signatures identical for normalized duplicates") {
    val sig = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 8).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(3L))
  }

  test("minhash LSH surfaces near-dup candidate pairs, not unrelated docs") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val fp = Dedup.simHash(docs, "doc_id", "text", 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(0L), fp(2L)) <= 6)
    assert(hamming(fp(0L), fp(2L)) < hamming(fp(0L), fp(3L)))
  }

  test("ngram jaccard finds the planted near-dup pair with exact arithmetic") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    assert(pairs.keySet.contains((0L, 2L)) && pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ngram jaccard maxDf cap excludes hot shingles from intersections") {
    // a boilerplate phrase stamped on EVERY doc: its shingles have df = 6,
    // the f² fan-out shape the cap exists for
    val boiler = (0L to 5L).map(i => (i, s"all rights reserved to us $i unique tail number $i"))
      .toDF("doc_id", "text")
    // uncapped: every pair shares the 3 boilerplate shingles -> 15 pairs
    val uncapped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 15, s"all 15 pairs share boilerplate: $uncapped")
    // capped below df=6: the hot shingles drop out of the self-join and no
    // pair has any remaining shared shingle -> zero candidate pairs
    val capped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.01, maxDf = 5)
      .collect()
    assert(capped.isEmpty, "df-6 shingles must be excluded at maxDf=5")
    // the spec fixture's organic near-dups survive a generous cap unchanged
    val cappedDocs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedDocs.contains((0L, 1L)) && cappedDocs.contains((0L, 2L)))
  }

  test("ngram jaccard hot-shingle salting (g>1) yields byte-identical results") {
    // pairTarget=1 forces g = df² salted groups for EVERY shared shingle —
    // maximal replication, every cross-group pair exercised through side
    // b's replicas — and the output must equal the unsalted (default
    // pairTarget, g=1 at this size) run exactly: same pairs, same exact
    // intersection counts, same jaccard values.
    def run(target: Long) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, pairTarget = target)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val salted = run(1L)
    val unsalted = run(4_000_000L)
    assert(salted == unsalted,
      s"salting must not change results: salted=$salted unsalted=$unsalted")
    assert(salted.keySet.contains((0L, 1L)) && salted((0L, 1L)) == 1.0)
  }

  test("salted jaccard under AQE skew-join: results identical, salted exchange survives") {
    // round 14, judge item 8: the hot-shingle salting assumes the explicit
    // (shingle, gid) repartition survives as built. AQE's skew machinery
    // must neither re-merge the salted partitions into one hot reducer nor
    // perturb the pair results. Forced-aggressive settings: skewJoin on
    // with tiny thresholds so it would fire if it could, tiny advisory
    // size so coalescing would fire if it could.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // pairTarget=1 -> every shared shingle salts (g = df²): the maximal
      // salted shape under the maximal AQE aggression
      val df = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, pairTarget = 1L)
      val aqe = df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      conf.set("spark.sql.adaptive.enabled", "false")
      val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, pairTarget = 1L)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(aqe == plain,
        s"AQE skew handling must not change salted-jaccard results: aqe=$aqe plain=$plain")
      // the executed (adaptive, final) plan must still carry the explicit
      // (shingle, gid) hash partitioning — the salting's exchange contract
      conf.set("spark.sql.adaptive.enabled", "true")
      val executed = {
        val d = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, pairTarget = 1L)
        d.collect() // materialize so the adaptive plan is final
        d.queryExecution.executedPlan.toString
      }
      assert(executed.contains("hashpartitioning(shingle") &&
        executed.contains("gid"),
        s"salted (shingle, gid) exchange must survive AQE re-planning:\n${executed.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bm25: keyword-bearing docs outrank term-free docs; zero-token docs score 0") {
    val corpus = Seq(
      (1L, "join join join scan shuffle fast"),   // all three terms, repeated
      (2L, "scan once in a long document about many other things entirely"),
      (3L, "nothing relevant here at all"),
      (4L, "   ")                                  // zero tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(corpus, "doc_id", "text", Seq("join", "scan", "shuffle"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "every input doc must get a row")
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > 0.0,
      s"richer term match must outrank: $out")
    assert(out(3L)._2 == 0.0 && out(3L)._1 == 5L, "no query terms -> score 0, dl kept")
    assert(out(4L) == ((0L, 0.0)), "zero-token doc -> dl 0, score 0")
    // determinism: same corpus, different partitioning, identical scores
    val repart = TextAnalysis.bm25(corpus.repartition(7), "doc_id", "text",
      Seq("join", "scan", "shuffle"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(repart == out, "scores must be partitioning-independent (exact decimal sum)")
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25(corpus, "doc_id", "text", Seq("Join", "join"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25(corpus, "doc_id", "text", Nil)
    }
  }

  test("unigramNll: rare-token docs score higher; zero-token docs score 0; partition-independent") {
    val corpus = Seq(
      (1L, "common common common common words words"), // stock phrasing -> low nll
      (2L, "common words zyzzyva qwertyuiop"),         // rare-token soup -> high nll
      (3L, " ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(2L)._2 > out(1L)._2 && out(1L)._2 > 0.0,
      s"rare tokens must raise the per-token NLL: $out")
    assert(out(3L) == ((0L, 0.0)), "zero-token doc -> dl 0, nll 0")
    val repart = TextAnalysis.unigramNll(corpus.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(repart == out, "scores must be partitioning-independent (exact decimal sum)")
  }

  test("logisticFit learns a separable rule; nulls excluded; partition-independent") {
    import graft.operators.Curation
    val rng = new scala.util.Random(13)
    // y = [x1 > 0]; x2 is noise; one zero-variance feature
    val rows = (0 until 400).map { i =>
      val x1 = rng.nextGaussian()
      (i.toLong, if (x1 > 0) 1 else 0, x1, rng.nextGaussian(), 7.0)
    }
    val df = rows.toDF("id", "y", "x1", "x2", "const")
    val m = Curation.logisticFit(df, "y", Seq("x1", "x2", "const"))
    assert(m.weights(1) > 1.0, s"separating feature must get a large weight: ${m.weights}")
    assert(m.weights(3) == 0.0, "zero-variance feature must stay at weight 0")
    val acc = Curation.logisticScore(df, m)
      .agg(avg(when((col("quality_score") >= 0.5).cast("int") === col("y"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc >= 0.95, s"separable rule must fit, got acc=$acc")
    // exact-decimal gradients: identical fit on any partitioning
    val m2 = Curation.logisticFit(df.repartition(7), "y", Seq("x1", "x2", "const"))
    assert(m2 == m, "fit must be partitioning-independent")
    // null label/feature rows excluded from fit, scored null
    val withNulls = df.union(Seq((999L, 1, Double.NaN, 0.0, 7.0)).toDF("id", "y", "x1", "x2", "const")
      .withColumn("x1", lit(null).cast("double")))
    val m3 = Curation.logisticFit(withNulls, "y", Seq("x1", "x2", "const"))
    assert(m3.weights == m.weights, "null-feature rows must not perturb the fit")
    val nullScore = Curation.logisticScore(withNulls, m3)
      .filter(col("id") === 999L).head().getAs[Any]("quality_score")
    assert(nullScore == null, "null feature -> null score")
    intercept[IllegalArgumentException] {
      Curation.logisticScore(df.withColumn("quality_score", lit(1)), m)
    }
  }

  test("LSH maxBucket cap drops over-wide buckets; other bands still pair") {
    // 6 identical docs: every band puts all 6 in one bucket (width 6)
    val dups = (0L to 5L).map(i => (i, "the same exact boilerplate page content every time"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minHashLshPairs(dups, "doc_id", "text", 3, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 15)
    // cap below the bucket width: ALL buckets are dropped -> no pairs, and
    // the diagnostic frame reports exactly the dropped (band, digest) widths
    val capped = Dedup.minHashLshPairs(dups, "doc_id", "text", 3, 8, 4, maxBucket = 5)
      .collect()
    assert(capped.isEmpty, "width-6 buckets must be dropped at maxBucket=5")
    // shared-frame path: ONE lshBuckets frame feeds the diagnostic (and
    // would feed the pair join in a real pipeline — no recompute)
    val buckets = Dedup.lshBuckets(dups, "doc_id", "text", 3, 8, 4)
    val dropped = Dedup.lshOverfullBucketsFrom(buckets, maxBucket = 5)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(dropped.length == 4 && dropped.forall(_._2 == 6L),
      s"4 bands × width 6 expected: ${dropped.toSeq}")
    // a generous cap changes nothing on the organic fixture
    val cappedDocs = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 8, 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedDocs.contains((0L, 1L)))
  }

  test("cosine similarity and brute-force top-k") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.9, 0.1, 0.0)),
      (2L, Array(0.0, 1.0, 0.0)), (3L, Array(-1.0, 0.0, 0.0))).toDF("vec_id", "v")
    val q = vecs.filter($"vec_id" === 0L).select($"vec_id".as("qid"), $"v".as("qv"))
    val top = Similarity.bruteForceTopK(vecs, q, "vec_id", "qid", "v", "qv", 2)
      .orderBy("rk").collect()
    assert(top(0).getAs[Long]("vec_id") == 0L && top(0).getAs[Double]("cosine") == 1.0)
    assert(top(1).getAs[Long]("vec_id") == 1L)
  }

  test("LSH bucketing: identical vectors share buckets; lshTopK finds self") {
    val planes = Similarity.deterministicPlanes(6, 3)
    val vecs = Seq(
      (0L, Array(1.0, 0.2, 0.1)), (1L, Array(1.0, 0.2, 0.1)),
      (2L, Array(-1.0, -0.2, 5.0))).toDF("vec_id", "v")
    val buckets = vecs.withColumn("b", Similarity.lshBucket($"v", planes))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(buckets(0L) == buckets(1L))
    val q = vecs.filter($"vec_id" === 0L).select($"vec_id".as("qid"), $"v".as("qv"))
    val hits = Similarity.lshTopK(vecs, q, "vec_id", "qid", "v", "qv", 5, planes)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.contains(0L) && hits.contains(1L))
    // the bucket id is a long, one bit per plane: 0 planes give no id and a
    // 65th plane would alias onto bit 0, so lshBucket and the banded
    // near-dup join that calls it reject both
    vecs.select(Similarity.lshBucket($"v", Similarity.deterministicPlanes(64, 3))).collect()
    Seq(Nil, Similarity.deterministicPlanes(65, 3)).foreach { bad =>
      Seq(() => Similarity.lshBucket($"v", bad),
          () => Dedup.embeddingNearDupPairs(vecs, "vec_id", "v", 0.9, Seq(planes, bad)))
        .foreach { call =>
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("1 to 64 planes"), e.getMessage)
        }
    }
  }

  test("multi-band embedding near-dup finds identical vectors and filters by threshold") {
    val bands = Seq(42L, 101L, 202L).map(s => Similarity.deterministicPlanes(4, 4, s))
    val vecs = Seq(
      (0L, Array(1.0, 0.2, 0.1, 0.0)), (1L, Array(1.0, 0.2, 0.1, 0.0)),
      (2L, Array(0.99, 0.21, 0.1, 0.01)), (3L, Array(-1.0, 5.0, -2.0, 0.3)))
      .toDF("vec_id", "v")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "v", 0.95, bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "identical vectors collide in every band")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), "near vector found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "far vector filtered by cosine")
    // maxBucket cap: 6 identical vectors share every band bucket (width 6);
    // capping below drops all buckets -> no pairs; a generous cap is a no-op
    val dups = (0L to 5L).map(i => (i, Array(1.0, 0.2, 0.1, 0.0))).toDF("vec_id", "v")
    assert(Dedup.embeddingNearDupPairs(dups, "vec_id", "v", 0.5, bands).count() == 15)
    assert(Dedup.embeddingNearDupPairs(dups, "vec_id", "v", 0.5, bands, maxBucket = 5)
      .collect().isEmpty)
    val cappedPairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "v", 0.95, bands,
      maxBucket = 100).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs == pairs)
  }

  test("IVF top-k: cell assignment is deterministic, query finds itself first") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.9, 0.1)), (3L, Seq(0.1, 0.9))).toDF("vec_id", "v")
    val centroids = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val q = vecs.filter($"vec_id" === 2L).select($"vec_id".as("qid"), $"v".as("qv"))
    val out = Similarity.ivfTopK(vecs, q, "vec_id", "qid", "v", "qv", 5, centroids)
      .orderBy("rk").collect()
    // cell 0 = {0, 2}; query 2 scans only its own cell
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(2L, 0L))
    assert(out(0).getAs[Double]("cosine") == 1.0)
  }

  test("asOfJoin: backward inclusive, keyed, tie-broken, inner semantics") {
    import graft.operators.TemporalJoins
    val right = Seq((1L, 10L, 100L, "r10"), (1L, 20L, 101L, "r20"),
      (1L, 20L, 102L, "r20b"), (2L, 5L, 103L, "other-key")).toDF("k", "t", "rid", "tag")
    val left = Seq((1L, 9L, "before-any"), (1L, 10L, "exact"), (1L, 25L, "after"),
      (3L, 50L, "no-right-key")).toDF("k", "t", "name")
    val out = TemporalJoins.asOfJoin(left, right, Seq("k"), "t", "t", "rid")
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[Long]("asof_rid"), r.getAs[String]("asof_tag"))).toMap
    assert(!out.contains("before-any"), "inner: no prior right row")
    assert(!out.contains("no-right-key"))
    assert(out("exact") == (100L, "r10"), "inclusive <= at equal time")
    assert(out("after") == (102L, "r20b"), "latest right; greatest tieBreak on ties")
  }

  test("asOfJoin tolerance: matches farther than the bound drop (both directions)") {
    import graft.operators.TemporalJoins
    val right = Seq((1L, 10L, 100L)).toDF("k", "t", "rid")
    val left = Seq((1L, 12L, "near"), (1L, 25L, "far")).toDF("k", "t", "name")
    val back = TemporalJoins.asOfJoin(left, right, Seq("k"), "t", "t", "rid",
      tolerance = Some(5.0))
      .collect().map(_.getAs[String]("name")).toSet
    assert(back == Set("near"), "backward: gap 15 > 5 rejected, gap 2 kept")
    val leftF = Seq((1L, 8L, "near"), (1L, 1L, "far")).toDF("k", "t", "name")
    val fwd = TemporalJoins.asOfJoinForward(leftF, right, Seq("k"), "t", "t", "rid",
      tolerance = Some(5.0))
      .collect().map(_.getAs[String]("name")).toSet
    assert(fwd == Set("near"), "forward distance measured on the restored axis")
  }

  test("asOfJoinNearest: closer side wins, ties prefer backward, tolerance prunes") {
    import graft.operators.TemporalJoins
    val right = Seq((1L, 10L, 100L, "b"), (1L, 20L, 101L, "f"), (2L, 7L, 102L, "o"))
      .toDF("k", "t", "rid", "tag")
    val left = Seq(
      (1L, 13L, "closer-back"), // |13-10|=3 < |20-13|=7
      (1L, 18L, "closer-fwd"), // |18-10|=8 > |20-18|=2
      (1L, 15L, "tie"), // 5 == 5 -> backward
      (1L, 10L, "exact"), // distance 0 backward
      (1L, 3L, "before-all"), // only forward exists (matches t=10, tag b)
      (1L, 99L, "after-all"), // only backward exists (matches t=20, tag f)
      (3L, 10L, "no-key")).toDF("k", "t", "name")
    val out = TemporalJoins.asOfJoinNearest(left, right, Seq("k"), "t", "t", "rid")
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[String]("asof_tag"), r.getAs[Long]("asof_t"))).toMap
    assert(out("closer-back") == ("b", 10L) && out("closer-fwd") == ("f", 20L))
    assert(out("tie") == ("b", 10L), "exact-distance tie prefers the backward row")
    assert(out("exact") == ("b", 10L))
    assert(out("before-all") == ("b", 10L), "forward-only left row still matches")
    assert(out("after-all") == ("f", 20L), "backward-only left row still matches")
    assert(!out.contains("no-key"), "inner semantics")
    // tolerance prunes each leg independently: before-all's forward match
    // is 7 away, after-all's backward match is 79 away
    val tol = TemporalJoins.asOfJoinNearest(left, right, Seq("k"), "t", "t", "rid",
      tolerance = Some(5.0))
      .collect().map(_.getAs[String]("name")).toSet
    assert(tol == Set("closer-back", "closer-fwd", "tie", "exact"))
  }

  test("asOfJoinNearest: equal-time right ties resolve to the greatest tieBreak") {
    import graft.operators.TemporalJoins
    val right = Seq((1L, 10L, 100L, "lo"), (1L, 10L, 101L, "hi"),
      (1L, 20L, 102L, "flo"), (1L, 20L, 103L, "fhi")).toDF("k", "t", "rid", "tag")
    val left = Seq((1L, 12L, "back-side"), (1L, 19L, "fwd-side")).toDF("k", "t", "name")
    val out = TemporalJoins.asOfJoinNearest(left, right, Seq("k"), "t", "t", "rid")
      .collect().map(r => r.getAs[String]("name") -> r.getAs[String]("asof_tag")).toMap
    assert(out("back-side") == "hi", "backward leg: greatest tieBreak at equal time")
    assert(out("fwd-side") == "fhi", "forward leg: greatest tieBreak at equal time")
  }

  test("asOfJoinForward: smallest right time at-or-after, restored time signs") {
    import graft.operators.TemporalJoins
    val right = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L))
      .toDF("k", "t", "rid")
    val left = Seq((1L, 5L, "a"), (1L, 20L, "exact"), (1L, 31L, "past-all"))
      .toDF("k", "t", "name")
    val rows = TemporalJoins.asOfJoinForward(left, right, Seq("k"), "t", "t", "rid")
      .collect()
    val out = rows.map(r => r.getAs[String]("name") ->
      (r.getAs[Long]("asof_rid"), r.getAs[Long]("asof_t"))).toMap
    assert(out("a") == (100L, 10L), "next right row at-or-after")
    assert(out("exact") == (101L, 20L), "inclusive >= at equal time")
    assert(!out.contains("past-all"), "inner: no later right row")
    assert(rows.map(r => r.getAs[String]("name") -> r.getAs[Long]("t")).toMap
      .view.filterKeys(_ == "a").head._2 == 5L, "left time sign restored")
  }

  test("interpolate_by fills interior nulls linearly, leaves boundary nulls") {
    import graft.config.DeriveSpec
    import graft.stages.Transforms
    val df = Seq(
      (0L, 0.0, Option.empty[Double]), (1L, 10.0, Some(1.0)), (2L, 15.0, None),
      (3L, 20.0, Some(3.0)), (4L, 30.0, None))
      .toDF("id", "x", "v")
    val out = Transforms.deriveNewCols(Seq(
      "vi" -> DeriveSpec("interpolate_by", Map("col" -> "v", "by" -> "x",
        "order_by" -> Seq("x", "id")))))(df)
      .orderBy("id").select("vi").collect()
    assert(out(0).isNullAt(0), "leading null stays")
    assert(out(1).getDouble(0) == 1.0)
    assert(out(2).getDouble(0) == 2.0, "midpoint of (10,1)-(20,3) at x=15")
    assert(out(4).isNullAt(0), "trailing null stays")
  }

  test("bandJoin: exact band semantics, no duplicate pairs, boundary inclusive") {
    import graft.operators.TemporalJoins
    val left = Seq((1L, 100L), (2L, 205L)).toDF("lid", "v")
    val right = Seq((10L, 90L), (11L, 110L), (12L, 111L), (13L, 195L)).toDF("rid", "v")
    val out = TemporalJoins.bandJoin(left, right, "v", "v", band = 10)
      .select("lid", "r_rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L), (1L, 11L), (2L, 13L)),
      s"90 and 110 within +-10 of 100 (inclusive), 111 excluded; got $out")
  }

  test("text analysis: tokens, quality, langid, fingerprints") {
    val df = Seq(
      (0L, "the cat and the dog, with 42 tricks!"),
      (1L, "der hund und die katze ist nicht mit der maus"),
      (2L, "  The   cat and the dog, with 42 tricks!  ")).toDF("doc_id", "text")
    val out = df.select(
      $"doc_id",
      TextAnalysis.tokenCount($"text").as("toks"),
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.fingerprint($"text").as("fp"),
      TextAnalysis.qualityScore($"text").as("q"),
      TextAnalysis.subwordCountApprox($"text").as("sw"),
      org.apache.spark.sql.functions.size(TextAnalysis.preTokens($"text")).as("pt"),
      TextAnalysis.rollingHash($"text").as("rh")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Int]("toks") == 8)
    // pre-tokenizer: letter runs, digit runs, single symbols; no whitespace
    // "the cat and the dog , with 42 tricks !" -> 10 segments
    assert(out(0L).getAs[Int]("pt") == 10)
    assert(out(0L).getAs[Int]("pt") == out(2L).getAs[Int]("pt"),
      "pre-tokenization is whitespace-normalized")
    assert(out(0L).getAs[String]("lang") == "en")
    assert(out(1L).getAs[String]("lang") == "de")
    assert(out(0L).getAs[String]("fp") == out(2L).getAs[String]("fp"),
      "fingerprint is whitespace/case-normalized")
    assert(out(0L).getAs[String]("fp") != out(1L).getAs[String]("fp"))
    assert(out(0L).getAs[Double]("q") > 0.0 && out(0L).getAs[Double]("q") <= 1.0)
    assert(out(0L).getAs[Long]("sw") > 8)
    assert(out(0L).getAs[Long]("rh") == out(2L).getAs[Long]("rh"))
  }

  test("empty text tokenCount is 0") {
    val n = Seq((0L, ""), (1L, "   ")).toDF("id", "text")
      .select(TextAnalysis.tokenCount($"text")).as[Int].collect()
    assert(n.toSeq == Seq(0, 0))
  }

  test("multimodal: metadata attach + per-partition stub decode + frame sampling") {
    val df = Seq((1L, "hello world payload"), (2L, "xy")).toDF("doc_id", "text")
      .withColumn("content", encode($"text", "UTF-8"))
    val meta = Multimodal.attachMeta(df, "content", "image")
    val m = meta.select("meta.n_bytes", "meta.media_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(m.toSet == Set((19L, "image"), (2L, "image")))
    val feats = Multimodal.decodeImages(df, "doc_id", "content").collect()
      .map(f => f.id -> f).toMap
    assert(feats(1L).width == 64 + 19 % 576 && feats(1L).channels == 3)
    assert(feats(1L).mean_intensity > 0)
    val frames = Multimodal.sampleFrames(df.filter($"doc_id" === 1L), "content", 4, 2)
    assert(frames.select("frame_idx").as[Int].collect().toSet == Set(0, 2, 4))
  }

  test("multimodal: REAL javax.imageio decode — PNG exact, JPEG dims, junk dropped") {
    // PNG round trip: synthesized fixture math must survive encode->decode
    val ids = Seq(0L, 1L, 5L, 13L).toDF("doc_id")
    val pngs = Multimodal.synthesizeGrayPngs(ids, "doc_id")
    val feats = Multimodal.decodeImagesReal(pngs, "doc_id", "content")
      .collect().map(f => f.id -> f).toMap
    assert(feats.keySet == Set(0L, 1L, 5L, 13L))
    feats.values.foreach { f =>
      assert(f.width == 8 + (f.id % 9).toInt, s"width off for ${f.id}")
      assert(f.height == 8 + ((3 * f.id) % 9).toInt, s"height off for ${f.id}")
      assert(f.channels == 1)
      assert(f.mean_intensity == ((37 * f.id) % 256).toDouble,
        s"gray PNG must round-trip exactly: ${f.id} -> ${f.mean_intensity}")
    }
    // JPEG: dims are exact even though values are lossy; mean of a
    // constant-gray image stays within codec tolerance
    val jb = new java.io.ByteArrayOutputStream()
    val jimg = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val gfx = jimg.createGraphics()
    gfx.setColor(new java.awt.Color(100, 100, 100)); gfx.fillRect(0, 0, 20, 10); gfx.dispose()
    assert(javax.imageio.ImageIO.write(jimg, "jpg", jb), "JDK must ship a JPEG writer")
    val jf = Multimodal.imageIoDecode(7L, jb.toByteArray).get
    assert(jf.width == 20 && jf.height == 10 && jf.channels == 3)
    assert(math.abs(jf.mean_intensity - 100.0) < 3.0, s"JPEG mean drifted: ${jf.mean_intensity}")
    // undecodable payloads are dropped, not crashed on
    val junk = Seq((1L, "not an image".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDF("doc_id", "content")
    assert(Multimodal.decodeImagesReal(junk, "doc_id", "content").count() == 0)
  }

  test("multimodal: palette-indexed images sample COLORS, not palette indices") {
    // 4x4 image whose every pixel is palette index 0, with index 0 mapping
    // to gray (200,200,200): a raw raster read would report mean 0 (the
    // index); the ColorModel-aware path must report 200 (the color)
    val palette = new java.awt.image.IndexColorModel(8, 2,
      Array[Byte](200.toByte, 50.toByte), // reds
      Array[Byte](200.toByte, 50.toByte), // greens
      Array[Byte](200.toByte, 50.toByte)) // blues
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
    // pixels default to index 0 — assert so, then keep them
    assert(img.getRaster.getSample(0, 0, 0) == 0)
    for (fmt <- Seq("png", "gif")) {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK must ship a $fmt writer")
      val f = Multimodal.imageIoDecode(1L, out.toByteArray).get
      assert(f.width == 4 && f.height == 4)
      assert(f.channels == 3, s"$fmt: indexed images are rerouted through RGB")
      assert(f.mean_intensity == 200.0,
        s"$fmt: mean must be the palette COLOR (200), not the index (0): ${f.mean_intensity}")
    }
  }

  test("multimodal: decompression-bomb header is rejected by the peek, not decoded") {
    // take a real 10x10 PNG and rewrite its IHDR to declare 2^30 x 2^30
    // pixels (with a valid CRC, so the header parses): ImageIO.read would
    // try to allocate the raster; the header peek must reject it first
    val img = new java.awt.image.BufferedImage(10, 10,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val bytes = out.toByteArray
    // PNG layout: 8-sig | 4-len | "IHDR" | w(4) h(4) ... | crc over type+data
    def putInt(off: Int, v: Int): Unit = {
      bytes(off) = (v >>> 24).toByte; bytes(off + 1) = (v >>> 16).toByte
      bytes(off + 2) = (v >>> 8).toByte; bytes(off + 3) = v.toByte
    }
    putInt(16, 1 << 30) // width
    putInt(20, 1 << 30) // height
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, 12, 4 + 13) // chunk type + IHDR data
    putInt(12 + 4 + 13, crc.getValue.toInt)
    assert(Multimodal.imageIoDecode(1L, bytes).isEmpty,
      "declared 2^60 pixels must be rejected un-decoded")
    // and the default cap still admits ordinary images (the 10x10 original)
    assert(Multimodal.imageIoDecode(1L, out.toByteArray).isDefined)
  }

  test("multimodal: byte bound rejects high-bits-per-pixel headers the pixel cap admits") {
    // 8192x7000 = 57.3 MP, under the 64 MP pixel cap: admissible at the
    // 4 B/px INT_RGB assumption (229 MB), but a header declaring 16-bit
    // RGB (48 bpp -> 344 MB) or RGBA64 (64 bpp -> 458 MB) must be refused
    // by the byte estimate — the ADVICE r8 over-allocation hole
    assert(Multimodal.headerAdmissible(8192, 7000, 32))
    assert(!Multimodal.headerAdmissible(8192, 7000, 48))
    assert(!Multimodal.headerAdmissible(8192, 7000, 64))
    // pixel cap still binds independently of bpp
    assert(!Multimodal.headerAdmissible(1 << 15, 1 << 15, 1))
    // degenerate headers refused; unknown bpp (0) falls back safely
    assert(!Multimodal.headerAdmissible(0, 10, 8) && !Multimodal.headerAdmissible(10, -1, 8))
    assert(Multimodal.headerAdmissible(10, 10, 0))
    // end-to-end: a real 16-bit-per-channel RGB PNG decodes fine at sane
    // dims (the guard targets declared size, not sample depth)
    val cs = java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_sRGB)
    val cm = new java.awt.image.ComponentColorModel(cs, false, false,
      java.awt.Transparency.OPAQUE, java.awt.image.DataBuffer.TYPE_USHORT)
    val img = new java.awt.image.BufferedImage(
      cm, cm.createCompatibleWritableRaster(6, 4), false, null)
    val out16 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out16), "JDK PNG writer handles 16-bit RGB")
    val f = Multimodal.imageIoDecode(2L, out16.toByteArray)
    assert(f.exists(x => x.width == 6 && x.height == 4))
  }

  test("paragraphDedup: corpus-wide excision, canonical keeper, maxDf and keepFirst knobs") {
    val df = Seq(
      (1L, "keep me\nBOILER\nunique one"),
      (2L, "BOILER\nother text"),
      (3L, "third doc\nBOILER"),
      (4L, "  \n\nBOILER"), // whitespace segment never counts
      (5L, "twice\nzz"),
      (6L, "twice\nyy")
    ).toDF("doc_id", "text")
    def m(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val d1 = m(Dedup.paragraphDedup(df, "doc_id", "text"))
    // BOILER df=4 and "twice" df=2: kept only at their min-(doc, idx)
    assert(d1(1L) == (3L, 0L, "keep me\nBOILER\nunique one"))
    assert(d1(2L) == (2L, 1L, "other text"))
    assert(d1(3L) == (2L, 1L, "third doc"))
    assert(d1(4L) == (1L, 1L, ""))
    assert(d1(5L) == (2L, 0L, "twice\nzz"))
    assert(d1(6L) == (2L, 1L, "yy"))
    // keepFirst=false: every over-df occurrence goes, keeper included
    val d2 = m(Dedup.paragraphDedup(df, "doc_id", "text", keepFirst = false))
    assert(d2(1L) == (3L, 1L, "keep me\nunique one"))
    assert(d2(5L) == (2L, 1L, "zz"))
    // maxDf=3: BOILER (df=4) still excised, "twice" (df=2) survives everywhere
    val d3 = m(Dedup.paragraphDedup(df, "doc_id", "text", maxDf = 3))
    assert(d3(6L) == (2L, 0L, "twice\nyy"))
    assert(d3(2L) == (2L, 1L, "other text"))
    // shadow guard is loud
    val e = intercept[IllegalArgumentException] {
      Dedup.paragraphDedup(df.withColumn("clean_text", lit("x")), "doc_id", "text")
    }
    assert(e.getMessage.contains("clean_text"))
  }

  test("paragraphDedup: non-numeric (string/UUID) ids dedup correctly — struct keeper is type-safe") {
    // The r16 advisory's failure mode: a string id cast to long is NULL,
    // which under the old arithmetic keeper silently kept EVERY
    // occurrence. The struct keeper must excise with any orderable id.
    val df = Seq(
      ("doc-b", "BOILER\nunique b"),
      ("doc-a", "keep a\nBOILER"),
      ("4f9d2c", "BOILER\ntail")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(3))).toMap
    // canonical keeper = lexicographic min (doc_id, idx) = ("4f9d2c", 0)
    assert(out("4f9d2c") == (0L, "BOILER\ntail"))
    assert(out("doc-a") == (1L, "keep a"))
    assert(out("doc-b") == (1L, "unique b"))
    // and a many-segment doc works with no segment-count cap in the path
    val big = Seq(("x", (0 until 5000).map(i => s"seg$i").mkString("\n") + "\nBOILER"),
      ("a", "BOILER\nfine")).toDF("doc_id", "text")
    val ob = Dedup.paragraphDedup(big, "doc_id", "text").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ob("x") == 1L && ob("a") == 0L)
  }

  /** In-test replay of [[Multimodal.synthesizeWavs]]'s fixture math —
    * the same integer sawtooth the SQL oracle replays. */
  private def audioRef(id: Long): Multimodal.AudioFeatures = {
    val n = 256 + (id % 7).toInt * 64
    val p = 16 + (id % 23).toInt
    val amp = 4000 + (id % 12).toInt * 2600
    val s = Array.tabulate(n)(k => amp - (2 * amp * (k % p)) / p)
    var sumsq = 0L; var peak = 0; var zc = 0L; var clip = 0L; var silent = 0L
    var prevSign = 0
    s.foreach { v =>
      sumsq += v.toLong * v
      peak = math.max(peak, math.abs(v))
      if (math.abs(v) >= Multimodal.ClipThreshold) clip += 1
      if (math.abs(v) < Multimodal.SilenceThreshold) silent += 1
      val sg = Integer.signum(v)
      if (sg != 0 && prevSign != 0 && sg != prevSign) zc += 1
      if (sg != 0) prevSign = sg
    }
    Multimodal.AudioFeatures(id, 8000, 1, 16, n.toLong, n.toLong * 125,
      sumsq, peak, zc, clip, silent)
  }

  test("multimodal: REAL javax.sound WAV decode — fixture round-trip, junk dropped") {
    // id 0 is the id%97==0 junk row: non-audio bytes MUST be dropped
    val ids = Seq(0L, 1L, 5L, 13L, 23L, 96L, 97L).toDF("doc_id")
    val wavs = Multimodal.synthesizeWavs(ids, "doc_id")
    val feats = Multimodal.decodeAudioReal(wavs, "doc_id", "content")
      .collect().map(f => f.id -> f).toMap
    assert(feats.keySet == Set(1L, 5L, 13L, 23L, 96L), "junk ids 0/97 dropped")
    for (id <- Seq(1L, 5L, 13L, 23L, 96L))
      assert(feats(id) == audioRef(id), s"id=$id decode != fixture math")
    // some fixture ids clip (amp = 32600 at id % 12 == 11), some don't
    assert(feats(23L).clip_count > 0 && feats(1L).clip_count == 0)
    assert(feats(5L).zero_crossings > 0 && feats(5L).peak > 0)
  }

  test("multimodal: audio fingerprints — scale invariance, codeword margin, clusters") {
    import graft.operators.Dedup
    // 25 patterns × 3 amplitude jitters: bytes differ within a pattern,
    // fingerprints must not
    val ids = (0L until 75L).toDF("doc_id")
    val wavs = Multimodal.synthesizePatternWavs(ids, "doc_id")
    val fps = Multimodal.audioFingerprints(wavs, "doc_id", "content")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fps.size == 75)
    val byPk = fps.groupBy { case (id, _) => id % 25 }.map { case (pk, m) => pk -> m.values.toSet }
    assert(byPk.values.forall(_.size == 1), "same pattern must share ONE fingerprint")
    // bytes really differ across jitters (exact dedup would miss these)
    val md5s = wavs.select(md5(col("content"))).distinct().count()
    assert(md5s == 75, "every jittered clip has distinct bytes")
    // cross-pattern margin: every distinct-pattern pair beyond the gate
    val reps = byPk.view.mapValues(_.head).toMap
    val cross = for {
      (a, fa) <- reps.toSeq; (b, fb) <- reps.toSeq if a < b
    } yield java.lang.Long.bitCount(fa ^ fb)
    assert(cross.min > 2, s"cross-pattern hamming floor ${cross.min} must exceed the gate (2)")
    // near-dup pairs group exactly the patterns; keep-min drop survives one per pattern
    val hashed = Multimodal.audioFingerprints(wavs, "doc_id", "content")
    val pairs = Dedup.hammingNearDupPairs(hashed, "id", "afp", maxHamming = 2)
    assert(pairs.count() == 25L * 3 * 2 / 2, "C(3,2) pairs per pattern")
    // short (< 65 frames) and junk payloads never fingerprint
    assert(Multimodal.audioFingerprint64(Array.fill(10)(5)).isEmpty)
    val junk = Seq((1L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "content")
    assert(Multimodal.audioFingerprints(junk, "doc_id", "content").count() == 0)
  }

  test("multimodal: audio decode rejects non-16-bit, bombs, and endian round-trips") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 8-bit PCM: rejected by the admission check (features assume 16-bit)
    val pcm8 = Array.tabulate[Byte](64)(i => i.toByte)
    val f8 = new AudioFormat(8000f, 8, 1, true, false)
    val out8 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm8), f8, 64L), AudioFileFormat.Type.WAVE, out8)
    assert(Multimodal.audioDecode(1L, out8.toByteArray).isEmpty, "8-bit PCM refused")
    // forged RIFF header declaring ~2 GB of data with none attached:
    // rejected by the declared-bytes peek, never buffered
    val bomb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bomb.put("RIFF".getBytes); bomb.putInt(0x7ffffff0)
    bomb.put("WAVE".getBytes); bomb.put("fmt ".getBytes); bomb.putInt(16)
    bomb.putShort(1); bomb.putShort(1) // PCM, mono
    bomb.putInt(8000); bomb.putInt(16000); bomb.putShort(2); bomb.putShort(16)
    bomb.put("data".getBytes); bomb.putInt(0x7ffffff0)
    assert(Multimodal.audioDecode(1L, bomb.array(),
      maxBytes = 1L << 20).isEmpty, "declared ~2 GB data refused un-decoded")
    // big-endian AIFF of the same samples == little-endian WAV features
    val id = 5L
    val n = 256 + (id % 7).toInt * 64
    val p = 16 + (id % 23).toInt
    val amp = 4000 + (id % 12).toInt * 2600
    val be = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val s = amp - (2 * amp * (k % p)) / p
      be(2 * k) = ((s >> 8) & 0xff).toByte
      be(2 * k + 1) = (s & 0xff).toByte
      k += 1
    }
    val fBe = new AudioFormat(8000f, 16, 1, true, true)
    val outA = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(be), fBe, n.toLong), AudioFileFormat.Type.AIFF, outA)
    val viaAiff = Multimodal.audioDecode(id, outA.toByteArray).get
    assert(viaAiff == audioRef(id), "big-endian AIFF decodes to identical features")
  }

  test("ewmMean: exact recurrence per key, nulls skipped, partition-invariant") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ord", LongType),
      StructField("v", DoubleType)))
    val rows = Seq(
      Row("a", 1L, 1.0), Row("a", 2L, 2.0), Row("a", 3L, null), Row("a", 4L, 3.0),
      Row("b", 1L, 10.0), Row("b", 2L, 10.0))
    def run(nPart: Int): Map[(String, Long), Option[Double]] = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.reverse, nPart), schema)
      TimeSeries.ewmMean(df, "k", Seq("ord"), "v", alpha = 0.5)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toMap
    }
    val out = run(1)
    // adjust=true closed form: m2 = (2 + 0.5*1)/(1 + 0.5) = 5/3; the null
    // at ord=3 yields null WITHOUT advancing decay, so ord=4 sees the
    // ord<=2 state: (3 + 0.5*2.5)/(1 + 0.5*1.5) = 4.25/1.75
    assert(out(("a", 1L)) == Some(1.0))
    assert(out(("a", 2L)).exists(m => math.abs(m - 5.0 / 3) < 1e-12))
    assert(out(("a", 3L)).isEmpty)
    assert(out(("a", 4L)).exists(m => math.abs(m - 4.25 / 1.75) < 1e-12))
    assert(out(("b", 1L)) == Some(10.0) && out(("b", 2L)) == Some(10.0))
    // content-determinism: same result no matter how the scan split the
    // input (the operator re-shuffles and re-sorts internally)
    assert(run(4) == out)
  }

  test("ewmMeanBy: nulls emit null and decay anchors on the last NON-NULL row's time") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("t", DoubleType),
      StructField("ord", LongType), StructField("v", DoubleType)))
    // the null at t=2 must not become a decay anchor: the t=3 row decays
    // from t=1 (gap 2 = one half-life at hl=2), not from t=2
    val rows = Seq(
      Row("a", 1.0, 1L, 10.0), Row("a", 2.0, 2L, null), Row("a", 3.0, 3L, 30.0),
      Row("b", 5.0, 4L, 7.0))
    def run(nPart: Int): Map[Long, Option[Double]] = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.reverse, nPart), schema)
      TimeSeries.ewmMeanBy(df, "k", "t", Seq("ord"), "v", halfLife = 2.0)
        .collect()
        .map(r => r.getLong(2) ->
          (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .toMap
    }
    val out = run(1)
    assert(out(1L) == Some(10.0))
    assert(out(2L).isEmpty, "null value -> null output")
    // polars unadjusted: a = 0.5^((3-1)/2) = 0.5 -> y = 0.5*10 + 0.5*30 = 20
    assert(out(3L).exists(m => math.abs(m - 20.0) < 1e-12))
    assert(out(4L) == Some(7.0), "fresh key starts clean")
    assert(run(4) == out, "partition-invariant (operator re-shuffles + re-sorts)")
  }

  test("ewmMeanBy: a zero time gap gives the tied row weight 0 (polars ties)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("t", DoubleType),
      StructField("ord", LongType), StructField("v", DoubleType)))
    // t=5 twice: the second tied row's a = 0.5^0 = 1, so its own value
    // contributes NOTHING — y stays at the predecessor's 10 (the opposite
    // of adjusted semantics, where a tied row gets full weight)
    val rows = Seq(Row("a", 5.0, 1L, 10.0), Row("a", 5.0, 2L, 99.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val out = TimeSeries.ewmMeanBy(df, "k", "t", Seq("ord"), "v", halfLife = 2.0)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(out(1L) == 10.0 && out(2L) == 10.0)
  }

  test("ewmMeanBy: a NaN TIMESTAMP is a skip, never a poisoned decay anchor") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("t", DoubleType),
      StructField("ord", LongType), StructField("v", DoubleType)))
    // NaN passes an isNullAt check — without the explicit guard it would
    // become prevT and every later decay for the key would be NaN
    val rows = Seq(
      Row("a", 1.0, 1L, 10.0), Row("a", Double.NaN, 2L, 99.0), Row("a", 3.0, 3L, 30.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val out = TimeSeries.ewmMeanBy(df, "k", "t", Seq("ord"), "v", halfLife = 2.0)
      .collect()
      .map(r => r.getLong(2) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    assert(out(2L).isEmpty, "NaN time emits null like a null time")
    // state untouched: ord=3 decays from t=1 -> y = 0.5*10 + 0.5*30 = 20
    assert(out(3L).exists(m => math.abs(m - 20.0) < 1e-12))
  }

  test("ewmMeanBy: a null TIMESTAMP is a skip, never an executor NPE") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("t", DoubleType),
      StructField("ord", LongType), StructField("v", DoubleType)))
    val rows = Seq(
      Row("a", 1.0, 1L, 10.0), Row("a", null, 2L, 99.0), Row("a", 3.0, 3L, 30.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val out = TimeSeries.ewmMeanBy(df, "k", "t", Seq("ord"), "v", halfLife = 2.0)
      .collect()
      .map(r => r.getLong(2) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    assert(out(2L).isEmpty, "a row with no place on the decay axis emits null")
    // and it must not have advanced the state: ord=3 still decays from t=1
    // (polars unadjusted: y = 0.5*10 + 0.5*30)
    assert(out(3L).exists(m => math.abs(m - 20.0) < 1e-12))
  }

  test("semanticDedup drops within-cell cosine near-dups, lowest id survives") {
    // two k-means cells on fixed centroids: x-axis (cell 0) and y-axis
    // (cell 1). Docs 1-3 land in cell 0 and are all near-parallel: pair-
    // drop semantics remove BOTH 2 and 3 (each has lower-id mate 1).
    // Doc 4 is alone near the y-axis and survives. Doc 5 is in cell 0 but
    // nearly orthogonal to 1-3 -> below threshold, survives.
    val centroids = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val vecs = Seq(
      (1L, Array(1.0, 0.01)),
      (2L, Array(1.0, 0.02)),
      (3L, Array(0.9, 0.015)),
      (4L, Array(0.05, 1.0)),
      (5L, Array(1.0, 0.9)) // cell 0 (cos 0.83 vs x-axis > 0.69 vs y) but far from 1-3
    ).toDF("vec_id", "v")
    val kept = Dedup.semanticDedup(vecs, "vec_id", "v", centroids, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L), s"got $kept")
    // the maxCluster valve excludes an over-cap cell from pairing entirely:
    // its members all survive rather than detonating the f² join
    val keptCapped = Dedup.semanticDedup(vecs, "vec_id", "v", centroids,
        threshold = 0.99, maxCluster = 2)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(keptCapped == Seq(1L, 2L, 3L, 4L, 5L), s"got $keptCapped")
  }

  test("fuzzyDedup keeps one exemplar per transitive cluster, not per pair") {
    // chain a~b, b~c (all near-dups): pair-drop would remove b AND c;
    // cluster-min keeps exactly doc 0 of {0,1,2} and all of the rest
    val chain = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different content about spark engines and shuffles")
    ).toDF("doc_id", "text")
    val kept = Dedup.fuzzyDedup(chain, "doc_id", "text", 3, 8, 4)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.head == 0L && kept.contains(3L), s"cluster min + unrelated doc kept: ${kept.toSeq}")
    assert(!kept.contains(1L), "near-dup of 0 removed")
  }

  test("fuzzyDedupKeepBest keeps the max-score doc per cluster, ties -> min id, null scores lose") {
    // same near-dup chain {0,1,2} as the fuzzyDedup case, plus a second
    // cluster {10,11} tied on score and a third {20,21} with all-null scores
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight", Some(10.0)),
      (1L, "the quick brown fox jumps over the lazy dog today", Some(99.0)),
      (2L, "the quick brown fox jumps over the lazy cat today", Some(50.0)),
      (3L, "completely different content about spark engines and shuffles", None),
      (10L, "pack my box with five dozen brown liquor jugs right now", Some(7.0)),
      (11L, "pack my box with five dozen brown liquor jugs right here", Some(7.0)),
      (20L, "sphinx of black quartz judge my vow for the evening run", None),
      (21L, "sphinx of black quartz judge my vow for the evening jog", None)
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.fuzzyDedupKeepBest(docs, "doc_id", "text", "score", 3, 8, 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.contains(1L) && !kept.contains(0L) && !kept.contains(2L),
      s"highest score wins its cluster, min id does NOT: $kept")
    assert(kept.contains(10L) && !kept.contains(11L), s"score tie -> min id: $kept")
    assert(kept.contains(20L) && !kept.contains(21L),
      s"all-null cluster still keeps exactly its min id: $kept")
    assert(kept.contains(3L), s"singleton untouched (null score irrelevant): $kept")
  }

  test("product quantization: codes in range, deterministic, perfect recall on clustered data") {
    import graft.operators.Similarity
    // 4 well-separated clusters in 8 dims (axis-aligned blobs): PQ with
    // enough codes must reconstruct cluster membership exactly, so ADC
    // top-k equals exact top-k. Offsets are small intra-cluster jitter.
    val base = Map(0 -> 0, 1 -> 2, 2 -> 4, 3 -> 6)
    val rows = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.fill(8)(0.0)
      v(base(c)) = 10.0
      v(base(c) + 1) = 1.0 + (i / 4) * 0.01
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "v")
    val cb = Similarity.pqTrain(emb, "vec_id", "v", m = 4, ksub = 8, iters = 2)
    assert(cb.size == 4 && cb.forall(_.nonEmpty) && cb.forall(_.forall(_.size == 2)),
      s"4 subspaces of 2 dims: ${cb.map(_.size)}")
    // deterministic double invocation — same codebook bits
    assert(cb == Similarity.pqTrain(emb, "vec_id", "v", m = 4, ksub = 8, iters = 2))
    val enc = Similarity.pqEncode(emb, "v", cb)
    val codes = enc.select("pq_codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.size == 4 && cs.forall(c => c >= 0 && c < 8)),
      "every code indexes its sub-codebook")
    val queries = emb.filter($"vec_id" < 4).select($"vec_id".as("qid"), $"v".as("qv"))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "qid", "v", "qv", 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(
        enc.select($"vec_id", $"pq_codes"), queries, "vec_id", "qid", "qv", cb, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx == exact,
      s"clustered corpus: ADC must find the exact top-5\nexact=$exact\npq=$approx")
    // the IVF-PQ composite on the same clusters: coarse cells align with
    // the blobs, so even nProbe=1 + re-rank must reproduce the exact set
    val cents = Similarity.kmeansFit(emb, "vec_id", "v", k = 4, iters = 1)
    val composite = Similarity.ivfPqTopK(emb, queries, "vec_id", "qid", "v", "qv",
        5, cents, cb, nProbe = 1, rerankDepth = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(composite == exact,
      s"cell-aligned corpus: IVF-PQ + re-rank must find the exact top-5\nexact=$exact\nivfpq=$composite")
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, queries, "vec_id", "qid", "v", "qv",
        5, cents, cb, nProbe = 1, rerankDepth = 3) // depth < k must refuse
    }
  }

  test("SQ8 scalar quantization: endpoint codes, bounded error, deterministic, exact on clustered data") {
    import graft.operators.Similarity
    // same 4-blob geometry as the PQ case: SQ8's per-dim grid is far finer
    // than the blob separation, so ADC top-k must equal exact top-k
    val base = Map(0 -> 0, 1 -> 2, 2 -> 4, 3 -> 6)
    val rows = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.fill(8)(0.0)
      v(base(c)) = 10.0
      v(base(c) + 1) = 1.0 + (i / 4) * 0.01
      v(7) = 3.5 // constant dimension: mx == mn, code must be 0, decode exact
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "v")
    val ranges = Similarity.sqTrain(emb, "v")
    assert(ranges.size == 8, s"one (mn,mx) per dim: ${ranges.size}")
    assert(ranges(7) == ((3.5, 3.5)), s"constant dim trains to a point: ${ranges(7)}")
    // determinism: repartitioning changes nothing (min/max are exact aggs)
    assert(ranges == Similarity.sqTrain(emb.repartition(13), "v"))
    val enc = Similarity.sqEncode(emb, "v", ranges)
    val codes = enc.select("sq_codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.size == 8 && cs.forall(c => c >= 0 && c <= 255)),
      "every code is a byte")
    assert(codes.forall(_.apply(7) == 0), "constant dim encodes to 0")
    // endpoint pins: a dim's min encodes to 0, its max to 255
    val dim0codes = enc.select($"v".getItem(0), $"sq_codes".getItem(0))
      .collect().map(r => (r.getDouble(0), r.getInt(1)))
    assert(dim0codes.filter(_._1 == 0.0).forall(_._2 == 0), "dim min -> code 0")
    assert(dim0codes.filter(_._1 == 10.0).forall(_._2 == 255), "dim max -> code 255")
    // reconstruction error bounded by half a grid cell per dim
    val maxCell = ranges.map { case (mn, mx) => (mx - mn) / 255.0 / 2.0 }.max
    val worst = enc.select((0 until 8).map(i =>
        abs(Similarity.sqDecode($"sq_codes", ranges).getItem(i) - $"v".getItem(i)).as(s"e$i")): _*)
      .agg(greatest((0 until 8).map(i => max(col(s"e$i"))): _*)).head().getDouble(0)
    assert(worst <= maxCell + 1e-12, s"recon error $worst must sit inside half a grid cell $maxCell")
    // clustered corpus: SQ8 ADC reproduces the exact top-5
    val queries = emb.filter($"vec_id" < 4).select($"vec_id".as("qid"), $"v".as("qv"))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "qid", "v", "qv", 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.sqTopK(enc.select($"vec_id", $"sq_codes"), queries,
        "vec_id", "qid", "qv", ranges, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx == exact, s"fine grid: SQ8 must find the exact top-5\nexact=$exact\nsq=$approx")
    // house guards: shadow column refused, data-sized "vector" refused
    intercept[IllegalArgumentException] {
      Similarity.sqEncode(enc, "v", ranges) // sq_codes already present
    }
    intercept[IllegalArgumentException] {
      Similarity.sqTrain(emb, "v", maxDim = 4)
    }
  }

  test("novelAgainstFuzzy drops store collisions, then fuzzy-dedups the survivors in-batch") {
    import graft.operators.Curation
    val prior = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),    // exact copy of stored 100
      (2L, "pack my box with five dozen brown liquor jugs right now"), // fresh near-dup pair...
      (3L, "pack my box with five dozen brown liquor jugs right here"),
      (4L, "completely different content about spark engines and shuffles") // fresh singleton
    ).toDF("doc_id", "text")
    val seen = Dedup.lshBuckets(prior, "doc_id", "text", 3, 8, 4)
      .select($"band", $"digest")
    val kept = Curation.novelAgainstFuzzy(batch, seen, "doc_id", "text", 3, 8, 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L),
      s"store hit (1) and in-batch dup (3, min-id 2 wins) must drop: $kept")
  }

  test("quantileFilterPerGroup: per-group thresholds, null score/group contracts, approx mode, guards") {
    import graft.operators.Curation
    // group a: scores 1..8 -> exact 0.5-quantile 4.5, keep 5..8
    // group b: scores 10,20,30,40 -> 25.0, keep 30,40
    // group null: scores 1,100 -> 50.5, keep 100 (null group is its own stratum)
    // null score: never kept
    val rows = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", Some(4.0)),
      ("a", Some(5.0)), ("a", Some(6.0)), ("a", Some(7.0)), ("a", Some(8.0)),
      ("b", Some(10.0)), ("b", Some(20.0)), ("b", Some(30.0)), ("b", Some(40.0)),
      (null.asInstanceOf[String], Some(1.0)), (null.asInstanceOf[String], Some(100.0)),
      ("a", None)
    ).toDF("grp", "score")
    val kept = Curation.quantileFilterPerGroup(rows, "grp", "score", p = 0.5)
      .collect().map(r => (Option(r.getString(0)).getOrElse("NULL"), r.get(1))).toSet
    assert(kept == Set(
      ("a", 5.0), ("a", 6.0), ("a", 7.0), ("a", 8.0),
      ("b", 30.0), ("b", 40.0), ("NULL", 100.0)), s"got $kept")
    // interpolated threshold sits strictly between order stats: p=0.75 on
    // 1..8 -> 6.25, keep 7,8 (the >= boundary can't land on a score)
    val top = Curation.quantileFilterPerGroup(rows.filter($"grp" === "a"), "grp", "score", p = 0.75)
      .select("score").collect().map(_.getDouble(0)).toSet
    assert(top == Set(7.0, 8.0), s"got $top")
    // approx mode thresholds on an ORDER STATISTIC (approx_percentile
    // never interpolates), so its threshold <= the interpolated one and
    // its kept set is a superset of exact's; null score still never kept
    val approx = Curation.quantileFilterPerGroup(rows, "grp", "score", p = 0.5, method = "approx")
      .collect().map(r => (Option(r.getString(0)).getOrElse("NULL"), r.get(1))).toSet
    assert(kept.subsetOf(approx), s"approx keeps at least exact's survivors: $approx")
    assert(approx.contains(("a", 4.0)) && !approx.exists(_._2 == null),
      s"order-stat threshold 4.0 keeps itself, null scores still drop: $approx")
    intercept[IllegalArgumentException] {
      Curation.quantileFilterPerGroup(rows, "grp", "score", p = 1.5)
    }
    intercept[IllegalArgumentException] {
      Curation.quantileFilterPerGroup(rows, "grp", "score", p = 0.5, method = "magic")
    }
    intercept[IllegalArgumentException] {
      Curation.quantileFilterPerGroup(rows.withColumn("__thr", lit(1)), "grp", "score", p = 0.5)
    }
  }

  test("stratified hash sampling: deterministic, fraction-faithful, strata-scoped") {
    import graft.operators.Curation
    val rows = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val kept = Curation.stratifiedSampleByHash(rows, "id", "lang",
      Map("en" -> 0.25, "de" -> 1.0))
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == 2000L, "fraction 1.0 keeps the whole stratum")
    assert(math.abs(byLang("en") - 500L) < 120, s"~25% of 2000 expected: ${byLang("en")}")
    // rerun and repartition change NOTHING — membership is content-derived
    val again = Curation.stratifiedSampleByHash(rows.repartition(13), "id", "lang",
      Map("en" -> 0.25, "de" -> 1.0)).select("id").as[Long].collect().sorted
    assert(again.sameElements(kept.select("id").as[Long].collect().sorted))
    // unlisted strata drop out
    val scoped = Curation.stratifiedSampleByHash(rows, "id", "lang", Map("en" -> 1.0))
    assert(scoped.filter($"lang" === "de").count() == 0)
  }

  test("sequence packing: concatenate-and-cut invariants over the hash shuffle") {
    import graft.operators.Curation
    val docs = (1L to 50L).map(i => (i, "g", 1L + i % 7)).toDF("id", "grp", "n_tokens")
    val packed = Curation.packSequences(docs, "id", "n_tokens", "grp", budget = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // recompute the expected packing driver-side over the same hash order
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cum = 0L
    val expected = (1L to 50L).map(i => (i, 1L + i % 7))
      .sortBy { case (i, _) => (md5hex(i.toString), i) }
      .map { case (i, n) => val start = cum; cum += n; (i, n, start / 10L, start % 10L) }
      .toSet
    assert(packed.toSet == expected)
    // invariants: offsets inside the budget; bins start at 0 and are dense
    assert(packed.forall(_._4 < 10L))
    val bins = packed.map(_._3).toSet
    assert(bins.min == 0L && bins == (bins.min to bins.max).toSet, "no empty bins")
  }

  test("chunkDocuments: boundaries, overlap, short tail, empty doc, no shuffle") {
    import graft.operators.Curation
    val text40 = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text40), (2L, "a b c"), (3L, "   ")).toDF("id", "text")
    val out = Curation.chunkDocuments(docs, "id", "text", maxTokens = 16, overlap = 4)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // 40 tokens, window 16, step 12: starts 0/12/24 — the third window
    // reaches token 40 exactly, so no redundant fourth window is emitted
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2))
    assert(d1(0)._3.startsWith("t1 t2 ") && d1(0)._4 == 16)
    // overlap: chunk 1 starts at token 13 (index 12), re-covering t13..t16
    assert(d1(1)._3.startsWith("t13 ") && d1(0)._3.endsWith(" t16"))
    // last window covers t25..t40 — full coverage, exact boundary
    assert(d1(2)._3.startsWith("t25 ") && d1(2)._3.endsWith(" t40") && d1(2)._4 == 16)
    // short doc: one whole-doc chunk; blank doc: one empty chunk, not zero rows
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b c", 3)))
    assert(rows.filter(_._1 == 3L).toSeq == Seq((3L, 0, "", 0)))
    // map-side only: no exchange anywhere in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "chunking must not shuffle")
  }

  test("chunkTokenIds: id-sequence windows, overlap, empty sequence, no shuffle") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, (1 to 40).toArray), // 40 ids
      (2L, Array(7, 8, 9)),
      (3L, Array.empty[Int]),
      (4L, null.asInstanceOf[Array[Int]])
    ).toDF("id", "ids")
    val out = Curation.chunkTokenIds(docs, "id", "ids", maxTokens = 16, overlap = 4)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getInt(3)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2))
    assert(d1(0)._3 == (1 to 16) && d1(1)._3 == (13 to 28) && d1(2)._3 == (25 to 40))
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0, Seq(7, 8, 9), 3)))
    // empty and null sequences: ONE empty chunk each, never zero rows
    assert(rows.filter(_._1 == 3L).toSeq == Seq((3L, 0, Seq(), 0)))
    assert(rows.filter(_._1 == 4L).toSeq == Seq((4L, 0, Seq(), 0)))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "id chunking must not shuffle")
  }

  test("padTruncate: exact-length ids + attention mask, null-safe, no shuffle") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, Array(5, 6, 7)), // shorter: pad
      (2L, (1 to 8).toArray), // exact
      (3L, (1 to 12).toArray), // longer: truncate
      (4L, null.asInstanceOf[Array[Int]]) // null: all-pad
    ).toDF("id", "ids")
    val out = Curation.padTruncate(docs, "ids", maxSeqLen = 8, padId = 0)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](2), r.getSeq[Int](3))).sortBy(_._1)
    assert(rows(0)._2 == Seq(5, 6, 7, 0, 0, 0, 0, 0) &&
      rows(0)._3 == Seq(1, 1, 1, 0, 0, 0, 0, 0))
    assert(rows(1)._2 == (1 to 8) && rows(1)._3 == Seq.fill(8)(1))
    assert(rows(2)._2 == (1 to 8) && rows(2)._3 == Seq.fill(8)(1))
    assert(rows(3)._2 == Seq.fill(8)(0) && rows(3)._3 == Seq.fill(8)(0))
    // every row is EXACTLY maxSeqLen — the tensor contract
    assert(rows.forall(r => r._2.size == 8 && r._3.size == 8))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "pad/truncate must not shuffle")
    // shadow guard
    intercept[IllegalArgumentException] {
      Curation.padTruncate(docs.withColumn("input_ids", lit(1)), "ids", 8, 0)
    }
  }

  test("packTokenIds: materialized windows equal the packSequences layout, boundary mask") {
    import graft.operators.Curation
    // ids encode (doc, position) so window contents pin provenance exactly
    val docs = (1L to 20L).map(i =>
      (i, "g", (0 until (1 + i % 7).toInt).map(p => (i * 100 + p).toInt).toArray))
      .toDF("id", "grp", "ids")
    val budget = 10
    val out = Curation.packTokenIds(docs, "id", "ids", "grp", budget)
    val wins = out.collect()
      .map(r => (r.getLong(1), r.getSeq[Int](2), r.getSeq[Int](3)))
      .sortBy(_._1)
    // driver-side reference: same (md5, id) order, concatenate, cut every 10
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = (1L to 20L).map(i =>
        i -> (0 until (1 + i % 7).toInt).map(p => (i * 100 + p).toInt))
      .sortBy { case (i, _) => (md5hex(i.toString), i) }
    val flat = ordered.flatMap { case (i, ids) => ids.map(x => (i, x)) }
    val expected = flat.grouped(budget).toSeq.zipWithIndex.map { case (g, b) =>
      // segment id = 1-based ordinal of the doc within the window
      val docsInWin = g.map(_._1).distinct
      (b.toLong, g.map(_._2), g.map(t => docsInWin.indexOf(t._1) + 1))
    }
    assert(wins.length == expected.length)
    for (((b, ids, segs), (eb, eids, esegs)) <- wins.zip(expected)) {
      assert(b == eb && ids == eids, s"window $b ids mismatch")
      assert(segs == esegs, s"window $b segment mask mismatch")
    }
    // every window except the last is exactly `budget` long; masks align
    assert(wins.dropRight(1).forall(_._2.size == budget))
    assert(wins.forall(w => w._2.size == w._3.size))
    // segment ids restart at 1 every window (continuation doc = segment 1)
    assert(wins.forall(_._3.head == 1))
  }

  test("compaction: file count honors target bytes, content survives, no shuffle") {
    import graft.sources.Compaction
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    val data = spark.range(50000L).select(col("id"), (col("id") % 7).as("v"))
    data.repartition(32).write.mode("overwrite").parquet(s"$base/frag")
    val frag = new java.io.File(s"$base/frag").listFiles()
      .filter(_.getName.startsWith("part-"))
    val report = Compaction.compactParquet(spark, s"$base/frag", s"$base/out",
      targetBytes = frag.map(_.length).sum / 4)
    assert(report.inputFiles == 32)
    // ceil(total / (total/4)) is 4 or 5 depending on integer division slack
    assert(report.outputFiles <= 5 && report.outputFiles >= 4,
      s"expected ~4 output files, got $report")
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() === 50000L)
    assert(out.agg(sum(col("id"))).head().getLong(0) === data.agg(sum(col("id"))).head().getLong(0))
    // the compaction job itself must be exchange-free: coalesce only
    val plan = spark.read.parquet(s"$base/frag").coalesce(4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction plan must not shuffle:\n$plan")
    assertThrows[IllegalArgumentException] {
      Compaction.compactParquet(spark, s"$base/frag", s"$base/frag", 1L)
    }
  }

  test("ngram contamination: copied eval doc = 1.0, novel doc = 0.0, partial in between") {
    import graft.operators.Curation
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "training corpora contain many common phrases")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // verbatim leak
      (11L, "completely novel evaluation material here today"), // clean
      (12L, "the quick brown fox discusses novel material")) // partial overlap
      .toDF("doc_id", "text")
    val out = Curation.ngramContamination(train, eval, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) == 1.0, "verbatim copy fully contained")
    assert(out(11L) == 0.0, "novel doc has zero containment")
    assert(out(12L) > 0.0 && out(12L) < 1.0, s"partial overlap strictly between: ${out(12L)}")
  }

  test("connectedComponents: chains collapse to min id, components stay separate") {
    import graft.operators.Dedup
    // component {1,2,3,9} via a chain, component {5,6}; direction mixed
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents reliable-checkpoint path: same labels, files written") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    try {
      val edges = Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
      val labels = Dedup.connectedComponents(edges, "id_a", "id_b",
          checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
      // checkpoint data actually landed in the reliable dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint must write files")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("ivfTopK nProbe=2 recovers the neighbor just across the cell boundary") {
    // query sits in cell 0; its TRUE nearest neighbor sits in cell 1 —
    // the exact recall cliff nProbe exists to fix
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val corpus = Seq((10L, Seq(1.0, 0.1)), (11L, Seq(0.9, 1.0))).toDF("vec_id", "v")
    val q = Seq((1L, Seq(1.0, 0.9))).toDF("qid", "qv")
    val p1 = Similarity.ivfTopK(corpus, q, "vec_id", "qid", "v", "qv", 2, cents)
      .select("vec_id").as[Long].collect().toSet
    assert(p1 == Set(10L), "nProbe=1 scans only the query's own cell")
    val p2 = Similarity.ivfTopK(corpus, q, "vec_id", "qid", "v", "qv", 2, cents, nProbe = 2)
      .orderBy("rk").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(p2 == Seq(11L, 10L), "cross-boundary true nearest recovered and ranked first")
    // probe order is deterministic: nearest cell first, centroid id on ties
    val cells = corpus.select(Similarity.ivfCells(col("v"), cents, 2).as("cs"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(cells.toSeq == Seq(Seq(0, 1), Seq(1, 0)))
  }

  test("duplicateSpans: shared boilerplate found in both docs, islands merge, coverage distincts overlaps") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "all rights reserved worldwide alpha beta gamma"),     // header shared with 2
      (2L, "delta all rights reserved worldwide epsilon"),
      (3L, "x y z x y z unique trailer"),                          // intra-doc repeat of (x y z)
      (4L, "completely novel words nowhere else repeated"),
      (5L, "")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("n_shingles"))).toSet
    // doc 1: windows (all,rights,reserved)@1 + (rights,reserved,worldwide)@2
    // duplicated (both occur in doc 2) -> ONE merged span tokens 1..4;
    // doc 2: same content at positions 2..3 -> span 2..5;
    // doc 3: (x,y,z)@1 and @4 duplicate EACH OTHER; (y,z,x)@2 and (z,x,y)@3
    // occur once -> two 1-shingle spans 1..3 and 4..6
    assert(spans == Set((1L, 1, 4, 2), (2L, 2, 5, 2), (3L, 1, 3, 1), (3L, 4, 6, 1)),
      s"$spans")
    val cov = Dedup.duplicateSpanCoverage(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("covered_tokens"),
          r.getAs[Double]("dup_span_frac"))).toMap
    assert(cov(1L) == ((7, 4, 0.571429)), s"${cov(1L)}")
    assert(cov(2L) == ((6, 4, 0.666667)), s"${cov(2L)}")
    // doc 3 spans 1..3 and 4..6 are adjacent, tokens 1..6 of 8 covered
    assert(cov(3L) == ((8, 6, 0.75)), s"${cov(3L)}")
    assert(cov(4L)._3 == 0.0 && cov(5L) == ((0, 0, 0.0)))
    // every doc appears exactly once in the coverage frame
    assert(cov.size == 5)
    val e = intercept[IllegalArgumentException] {
      Dedup.duplicateSpans(docs, "doc_id", "text", k = 0)
    }
    assert(e.getMessage.contains("k must be"), e.getMessage)
  }

  test("removeDuplicateSpans: globally-first occurrence kept, drops excised, docs reassembled") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "all rights reserved worldwide alpha beta gamma"),
      (2L, "delta all rights reserved worldwide epsilon"),
      (3L, "x y z x y z unique trailer"),
      (4L, "completely novel words nowhere else repeated"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    // doc 1 holds the globally-first (min (id,pos)) occurrence of both
    // shared windows -> untouched; doc 2 loses the union of its two drop
    // windows (tokens 2..5); doc 3's intra-doc repeat keeps its FIRST
    // occurrence (x y z @ 1), cuts the second (tokens 4..6)
    assert(out(1L) == ((7, 0, "all rights reserved worldwide alpha beta gamma")), s"${out(1L)}")
    assert(out(2L) == ((6, 4, "delta epsilon")), s"${out(2L)}")
    assert(out(3L) == ((8, 3, "x y z unique trailer")), s"${out(3L)}")
    assert(out(4L) == ((6, 0, "completely novel words nowhere else repeated")), s"${out(4L)}")
    assert(out(5L) == ((0, 0, "")), s"${out(5L)}")
    assert(out.size == 5)
    // fixed point on this fixture: a second pass over the cleaned corpus
    // finds nothing new to cut (no fresh duplicated windows were created)
    val again = Dedup.removeDuplicateSpans(
      Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", k = 3)
    assert(again.agg(sum(col("n_removed"))).head().getLong(0) == 0L)
    val e = intercept[IllegalArgumentException] {
      Dedup.removeDuplicateSpans(docs.withColumn("clean_text", lit("x")),
        "doc_id", "text", k = 3)
    }
    assert(e.getMessage.contains("clean_text"), e.getMessage)
  }

  test("priorityMerge: lowest priority wins per fingerprint, then lowest id; guards fire") {
    import graft.operators.Curation
    val raw = Seq((1L, "the same page text"), (2L, "only in raw"),
      (3L, "THE  same   page text")).toDF("doc_id", "text") // 3 dups 1 after normalize
    val curated = Seq((100L, "the same page text"), (101L, "only curated"))
      .toDF("doc_id", "text")
    val out = Curation.priorityMerge(Seq((curated, 0), (raw, 1)), "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("source_priority"))).toSet
    // curated 100 beats raw 1 AND raw 3 (same normalized fingerprint);
    // singletons survive with their own provenance
    assert(out == Set((100L, 0), (101L, 0), (2L, 1)), s"$out")
    // within one source, min id wins (priority tie inside the same frame)
    val solo = Curation.priorityMerge(Seq((raw, 7)), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(solo == Set(1L, 2L), s"$solo")
    val eDup = intercept[IllegalArgumentException] {
      Curation.priorityMerge(Seq((raw, 1), (curated, 1)), "doc_id", "text")
    }
    assert(eDup.getMessage.contains("distinct"), eDup.getMessage)
    val eShadow = intercept[IllegalArgumentException] {
      Curation.priorityMerge(
        Seq((raw.withColumn("source_priority", lit(9)), 1)), "doc_id", "text")
    }
    assert(eShadow.getMessage.contains("source_priority"), eShadow.getMessage)
  }

  test("gopher rule gate: each rule independently drops its pathology, good prose passes") {
    import graft.operators.TextAnalysis
    val prose = ("the quick brown fox jumps over a lazy dog and runs far away " * 5).trim
    val docs = Seq(
      (1L, prose),                                   // passes every rule
      (2L, "too short to keep"),                     // n_words < 50
      (3L, ("spam ham " * 40).trim),                 // top bigram loop + no stopwords
      (4L, (("#### " * 60).trim)),                   // symbol ratio + alpha ratio
      (5L, "")                                       // empty: every count 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withGopherSignals(docs, "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("gopher_keep"), r.getAs[Int]("n_words"),
          r.getAs[Double]("top_2gram_frac"))).toMap
    assert(out(1L)._1, s"prose should pass: ${out(1L)}")
    assert(!out(2L)._1 && out(2L)._2 == 4)
    assert(!out(3L)._1 && out(3L)._3 > 0.4, s"loop bigram dominates: ${out(3L)}")
    assert(!out(4L)._1)
    assert(!out(5L)._1 && out(5L)._2 == 0)
    // shadow-name guard (house pattern)
    val shadowed = docs.withColumn("n_words", lit(1))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.withGopherSignals(shadowed, "text")
    }
    assert(e.getMessage.contains("n_words"), e.getMessage)
  }

  test("knnGraph: single cell equals brute force minus self; maxCell exclusion is observable") {
    // one centroid -> one cell: the graph must equal exact all-pairs top-k
    val cents1 = Seq(0 -> Seq(1.0, 0.0))
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.1, 1.0))).toDF("vec_id", "v")
    val graph = Similarity.knnGraph(corpus, "vec_id", "v", k = 2, cents1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Similarity.bruteForceTopK(
        corpus, corpus.select(col("vec_id").as("qid"), col("v").as("qv")),
        "vec_id", "qid", "v", "qv", k = 3)
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("rk2", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rk2") <= 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk2"))).toSet
    assert(graph == brute, s"\ngraph $graph\nbrute $brute")
    // nProbe=2 with split cells recovers cross-boundary neighbors: 2's true
    // nearest (1) is in its own cell, but 3 probing cell 0 still ranks only
    // members — and every row still gets k neighbors from probed cells
    val cents2 = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val g2 = Similarity.knnGraph(corpus, "vec_id", "v", k = 3, cents2, nProbe = 2)
    assert(g2.select("src").distinct().count() == 4 &&
      g2.groupBy("src").count().agg(max("count")).head().getLong(0) == 3)
    // the bring-your-own-quantizer seam is the same graph at nProbe=1
    val preAssigned = corpus.withColumn("cell",
      Similarity.ivfCell(col("v"), cents2))
    assert(Similarity.knnGraphAssigned(preAssigned, "vec_id", "v", 2)
      .collect().toSet ==
      Similarity.knnGraph(corpus, "vec_id", "v", 2, cents2).collect().toSet)
    // maxCell=2 excludes the 3-member cell entirely: its members emit no
    // edges as dst NOR src-rows ranked against it, never a partial list
    val cents3 = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val five = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (5L, Seq(0.95, 0.05)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.1, 1.0))).toDF("vec_id", "v")
    val capped = Similarity.knnGraph(five, "vec_id", "v", 2, cents3, maxCell = 2)
    val dsts = capped.select("dst").as[Long].collect().toSet
    assert(dsts == Set(3L, 4L), s"oversized cell 0 emits no members: $dsts")
  }

  test("kmeansFit: Lloyd update moves centroids to cluster means, assignment deterministic") {
    import org.apache.spark.sql.functions._
    // assignment is COSINE-based: two clusters by direction, not distance
    // (along (1, 0.1) and along (0.1, 1)); seeds = the two lowest ids
    val pts = Seq(
      (0L, Seq(1.0, 0.1)), (1L, Seq(0.1, 1.0)),
      (2L, Seq(2.0, 0.2)), (3L, Seq(0.3, 3.0)), (4L, Seq(3.0, 0.3)))
      .toDF("vec_id", "v")
    val fitted = Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 2)
    assert(fitted.map(_._1) == Seq(0, 1))
    val byCell = fitted.toMap
    // cell 0 mean of {p0,p2,p4} = (2.0, 0.2); cell 1 mean of {p1,p3} = (0.2, 2.0)
    assert(byCell(0) == Seq(2.0, 0.2))
    assert(byCell(1) == Seq(0.2, 2.0))
    val cells = pts.withColumn("cell", Similarity.ivfCell(col("v"), fitted))
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Map(0L -> 0, 2L -> 0, 4L -> 0, 1L -> 1, 3L -> 1))
    // seeding = the k LOWEST ids, not ids < k: offset ids must still work
    val offset = pts.withColumn("vec_id", col("vec_id") + 1000L)
    val fittedOffset = Similarity.kmeansFit(offset, "vec_id", "v", k = 2, iters = 1)
    assert(fittedOffset.map(_._1) == Seq(1000, 1001))
  }

  test("approx sketches land within error bounds of exact answers (q64 contract)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 10001).toDF("k")
      .withColumn("v", col("k").cast("double"))
    val row = df.agg(
      approx_count_distinct(col("k")).as("acd"),
      expr("approx_percentile(v, 0.5, 1000)").as("ap50"),
      countDistinct(col("k")).as("cd"),
      expr("percentile(v, 0.5)").as("p50")).head()
    val (acd, cd) = (row.getLong(0), row.getLong(2))
    assert(math.abs(acd - cd).toDouble / cd < 0.05, s"HLL++ rsd blown: $acd vs $cd")
    val (ap50, p50) = (row.getDouble(1), row.getDouble(3))
    assert(math.abs(ap50 - p50) / p50 < 0.02, s"quantile sketch off: $ap50 vs $p50")
  }

  test("densityPrune: dense pair flagged, isolated rows kept with density 0, guard fires") {
    import graft.operators.Curation
    // one centroid -> one cell: densities are hand-checkable means of the
    // top-2 cosines. rows 1,2 are a dense duplicate-direction pair
    // (mutual cosine 1.0); row 3 is orthogonal to both; row 4 points away
    val cents = Seq(0 -> Seq(1.0, 0.0))
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(-1.0, 0.0))).toDF("vec_id", "v")
    val out = Curation.densityPrune(corpus, "vec_id", "v", k = 2, cents,
        threshold = 0.4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("n_neighbors"), r.getAs[Double]("density"),
          r.getAs[Boolean]("keep"))).toMap
    // 1: top-2 = {2: 1.0, 3: 0.0} -> 0.5; 2 symmetric; 3: {0.0, 0.0} -> 0;
    // 4: {3: 0.0, 1: -1.0} -> -0.5. threshold 0.4 cuts exactly the dense pair
    assert(out(1L) == ((2, 0.5, false)), s"${out(1L)}")
    assert(out(2L) == ((2, 0.5, false)), s"${out(2L)}")
    assert(out(3L) == ((2, 0.0, true)), s"${out(3L)}")
    assert(out(4L) == ((2, -0.5, true)), s"${out(4L)}")
    // maxCell exclusion: the whole cell is excluded -> every row isolated,
    // density 0, kept — the cut NEVER silently drops rows from the output
    val iso = Curation.densityPrune(corpus, "vec_id", "v", k = 2, cents,
        threshold = 0.4, maxCell = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("n_neighbors"), r.getAs[Boolean]("keep"))).toMap
    assert(iso.size == 4 && iso.values.forall(_ == ((0, true))), s"$iso")
    val e = intercept[IllegalArgumentException] {
      Curation.densityPrune(corpus.withColumn("keep", lit(true)),
        "vec_id", "v", 2, cents, 0.4)
    }
    assert(e.getMessage.contains("keep"), e.getMessage)
  }

  test("dsirWeights: target-like docs rank higher, empty docs zero, partition-independent; resample picks m") {
    import graft.operators.Curation
    val raw = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "delta epsilon zeta delta epsilon"),
      (3L, "alpha beta gamma"),
      (4L, "")).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val w = Curation.dsirWeights(raw, target, "doc_id", "text", buckets = 256)
    val m = w.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Int]("n_grams"), r.getAs[Double]("log_weight"))).toMap
    // docs 1/3 share the target's vocabulary; doc 2 shares nothing
    assert(m(1L)._2 > m(2L)._2, s"${m(1L)} vs ${m(2L)}")
    assert(m(3L)._2 > m(2L)._2)
    // unigrams + bigrams: 5 + 4 for doc 1; empty doc gets the (0, 0.0) contract
    assert(m(1L)._1 == 9)
    assert(m(4L) == ((0, 0.0)))
    // weights are a pure function of content: any input partitioning agrees
    val m2 = Curation.dsirWeights(raw.repartition(7), target.repartition(3),
        "doc_id", "text", buckets = 256)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_grams"), r.getAs[Double]("log_weight"))).toMap
    assert(m2 == m)
    // resampling: every row comes back flagged, exactly m selected, and the
    // selection is deterministic (content-derived Gumbel, no RNG)
    val sel = Curation.dsirResample(
      w.select(col("doc_id"), col("log_weight")), "doc_id", "log_weight", m = 2)
    assert(sel.count() == 4 && sel.filter(col("selected")).count() == 2)
    val again = Curation.dsirResample(
      w.select(col("doc_id"), col("log_weight")).repartition(5),
      "doc_id", "log_weight", m = 2)
    assert(again.filter(col("selected")).select("doc_id").as[Long].collect().sorted.toSeq ==
      sel.filter(col("selected")).select("doc_id").as[Long].collect().sorted.toSeq)
    val e = intercept[IllegalArgumentException] {
      Curation.dsirResample(sel, "doc_id", "log_weight", 2)
    }
    assert(e.getMessage.contains("gumbel_key"), e.getMessage)
  }

  test("dsirResample: threshold form selects exactly the TakeOrdered rows at every m") {
    import graft.operators.Curation
    // 2000 docs with clustered weights (heavy ties in log_weight, the
    // Gumbel key splits them) — boundary handling gets real work
    val w = Seq.tabulate(2000)(i => (i.toLong, (i % 7).toDouble / 10.0))
      .toDF("doc_id", "log_weight")
    def picked(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.filter(col("selected")).select("doc_id").as[Long].collect().sorted.toSeq
    for (m <- Seq(1, 13, 500, 1999, 2000, 5000)) {
      val take = Curation.dsirResample(w, "doc_id", "log_weight", m)
      val thr = Curation.dsirResample(w, "doc_id", "log_weight", m,
        takeOrderedMaxM = 0)
      val (pt, ph) = (picked(take), picked(thr))
      assert(pt == ph, s"m=$m: TakeOrdered ${pt.size} vs threshold ${ph.size} rows differ")
      assert(pt.size == math.min(m, 2000))
      // the appended columns agree row-for-row too
      val a = take.select("doc_id", "gumbel_key", "selected").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(_._1).toSeq
      val b = thr.select("doc_id", "gumbel_key", "selected").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(_._1).toSeq
      assert(a == b, s"m=$m: per-row columns diverge")
    }
    // a coarse approxQuantile still resolves exactly (bigger band, same set)
    val loose = Curation.dsirResample(w, "doc_id", "log_weight", 500,
      takeOrderedMaxM = 0, thresholdRelErr = 0.01)
    val tight = Curation.dsirResample(w, "doc_id", "log_weight", 500)
    assert(picked(loose) == picked(tight))
  }

  test("hardNegatives: nearest same-label positive, nearest diff-label negative, null sides") {
    val cents = Seq(0 -> Seq(1.0, 0.0))
    val corpus = Seq(
      (1L, Seq(1.0, 0.0), "a"), (2L, Seq(1.0, 0.1), "a"),
      (3L, Seq(0.0, 1.0), "b"), (4L, Seq(0.5, 1.0), "b"))
      .toDF("vec_id", "v", "label")
    val out = Similarity.hardNegatives(corpus, "vec_id", "v", "label", cents)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[java.lang.Long]("pos_id"), r.getAs[java.lang.Long]("neg_id"),
          r.getAs[java.lang.Double]("neg_cosine"))).toMap
    // anchor 1: pos = 2 (cos .995037); neg = 4 (cos .447214) even though 3
    // is also diff-label — nearest-diff wins, and it survives despite the
    // global top-1 being same-label (per-(anchor,same) ranking)
    assert(out(1L) == ((2L: java.lang.Long, 4L: java.lang.Long,
      0.447214: java.lang.Double)), s"${out(1L)}")
    assert(out(2L)._1 == 1L && out(2L)._2 == 4L)
    assert(out(3L)._1 == 4L && out(3L)._2 == 2L)
    assert(out(4L)._1 == 3L && out(4L)._2 == 2L)
    // single-label corpus: every neg side is null, pos side still filled
    val mono = Similarity.hardNegatives(
      corpus.withColumn("label", lit("a")), "vec_id", "v", "label", cents)
    assert(mono.filter(col("neg_id").isNotNull).count() == 0)
    assert(mono.filter(col("pos_id").isNull).count() == 0)
  }

  test("labelPropagate: hand-checked 2-round diffusion, clamps, isolated nodes, guards") {
    import graft.operators.Graph
    // 1 is the only seed; 2 sees 1, 3 sees 2 (w=0.5): score reaches 3 only
    // in round 2, halved by the blend at every hop
    val edges = Seq((2L, 1L, 1.0), (3L, 2L, 0.5)).toDF("src", "dst", "cosine")
    val nodes = Seq((1L, 1.0), (2L, 0.0), (3L, 0.0)).toDF("id", "seed")
    val out = Graph.labelPropagate(edges, nodes, "id", "seed", iters = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    // r1: f=(0.5, 0.5, 0); r2: 1 keeps y/2=0.5, 2 = (f1(1)+0)/2 = 0.25,
    // 3 = (f1(2)+0)/2 = 0.25 (weighted mean is scale-free in one edge)
    assert(out == Map(1L -> 0.5, 2L -> 0.25, 3L -> 0.25), s"$out")
    // weights clamp to [0,1] (w=9 behaves as 1) and negatives drop
    val clamped = Graph.labelPropagate(
      Seq((2L, 1L, 9.0), (3L, 2L, -0.7)).toDF("src", "dst", "cosine"),
      nodes, "id", "seed", iters = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    assert(clamped == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.0), s"$clamped")
    // pure function of content: partitioning never changes a score
    val rep = Graph.labelPropagate(edges.repartition(7), nodes.repartition(5),
      "id", "seed", iters = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    assert(rep == out)
    val e = intercept[IllegalArgumentException] {
      Graph.labelPropagate(edges, nodes.withColumn("score", lit(0.0)), "id", "seed")
    }
    assert(e.getMessage.contains("score"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Graph.labelPropagate(edges, nodes, "id", "seed", alphaNumer = 3L, alphaDenom = 2L)
    }
    assert(e2.getMessage.contains("rational"), e2.getMessage)
  }

  test("pcaMoments: fold path bit-identical to explode path; bad elements rejected by both") {
    import graft.operators.Similarity
    // irregular values spanning binary-exact, decimal-exact, and
    // midpoint-adjacent magnitudes — 500 x 8 = 4000 elements, 500*36
    // upper-triangle covariance terms through every rounding branch
    val data = Seq.tabulate(500) { i =>
      (i.toLong, Array.tabulate(8) { j =>
        val k = i * 31 + j * 17
        (k % 13) match {
          case 0 => (k % 128) / 64.0 - 1.0          // binary-exact
          case 1 => (k % 100) / 10.0 - 5.0          // decimal-exact
          case 2 => (k % 2000001) / 2000000.0 - 0.5 // lands near .5 µ-midpoints
          case _ => math.sin(k.toDouble) * 0.7      // irregular mantissas
        }
      })
    }
    val df = data.toDF("vec_id", "v").select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val vecs = df.select(col("v"))
    val n = vecs.count()
    val (meansE, covE) = Similarity.pcaMoments(vecs, n, 256, useFold = false)
    val (meansF, covF) = Similarity.pcaMoments(vecs, n, 256, useFold = true)
    assert(meansE == meansF, s"means diverge:\n$meansE\n$meansF")
    for (i <- covE.indices; j <- covE.indices)
      assert(covE(i)(j) == covF(i)(j),
        s"cov($i)($j): explode ${covE(i)(j)} vs fold ${covF(i)(j)}")
    // ... and so does the whole fitted component, partitioning-independent
    val fitE = Similarity.pcaTopComponent(df, "v")
    val fitF = Similarity.pcaTopComponent(df.repartition(7), "v", foldAboveDim = 0)
    assert(fitE == fitF, s"$fitE vs $fitF")
    // null elements / NaN elements fail LOUDLY on both paths
    val bad = Seq((1L, Array[java.lang.Double](1.0, null)), (2L, Array[java.lang.Double](0.5, 0.25)))
      .toDF("vec_id", "v").select(col("v").cast("array<double>").as("v"))
    for (fold <- Seq(false, true)) {
      val e = intercept[Exception] { Similarity.pcaMoments(bad, 2L, 256, useFold = fold) }
      assert(e.getMessage.contains("non-finite"), s"fold=$fold: ${e.getMessage}")
    }
    val nan = Seq((1L, Array(1.0, Double.NaN)), (2L, Array(0.5, 0.25)))
      .toDF("vec_id", "v").select(col("v").cast("array<double>").as("v"))
    for (fold <- Seq(false, true)) {
      val e = intercept[Exception] { Similarity.pcaMoments(nan, 2L, 256, useFold = fold) }
      assert(e.getMessage.contains("non-finite"), s"fold=$fold: ${e.getMessage}")
    }
    // ragged corpora too (the fold flags width mismatches across rows)
    val ragged = Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(0.5, 0.25)))
      .toDF("vec_id", "v").select(col("v").cast("array<double>").as("v"))
    for (fold <- Seq(false, true)) {
      val e = intercept[Exception] { Similarity.pcaMoments(ragged, 2L, 256, useFold = fold) }
      assert(e.getMessage.contains("same"), s"fold=$fold: ${e.getMessage}")
    }
  }

  test("langIdFit/Predict: supervised lang-id recovers held-out labels, partitioning-independent") {
    import graft.operators.TextAnalysis
    // three synthetic "languages" with distinct character inventories —
    // real signal for the hashed char-trigram features
    val words = Map(
      "aa" -> Seq("alpha", "apple", "area", "amara", "banana"),
      "zz" -> Seq("zigzag", "puzzle", "fuzzy", "zizzle", "buzz"),
      "oo" -> Seq("oolong", "book", "moon", "spoon", "igloo"))
    val rows = (0 until 300).map { i =>
      val lang = Seq("aa", "zz", "oo")(i % 3)
      val w = words(lang)
      (i.toLong, s"${w(i % 5)} ${w((i + 1) % 5)} ${w((i + 2) % 5)}", lang)
    }
    val df = rows.toDF("doc_id", "text", "lang")
    val train = df.filter(col("doc_id") % 4 =!= 0)
    val test = df.filter(col("doc_id") % 4 === 0)
    val models = TextAnalysis.langIdFit(train, "doc_id", "text", "lang")
    assert(models.map(_._1) == Seq("aa", "oo", "zz")) // sorted label order
    val pred = TextAnalysis.langIdPredict(test, "doc_id", "text", models)
    val acc = pred.agg(
      avg(when(col("pred_lang") === col("lang"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc >= 0.95, s"held-out accuracy $acc")
    // deterministic across partitionings (exact-sum gradients)
    val models2 = TextAnalysis.langIdFit(train.repartition(7), "doc_id", "text", "lang")
    assert(models2 == models)
    // prediction columns come back clean (features and scores dropped)
    assert(pred.columns.toSeq == Seq("doc_id", "text", "lang", "pred_lang"))
    // the fused multiclass fold is BIT-IDENTICAL per class to the
    // declarative Curation.logisticFit on the same features (same margin
    // fold order, same scaleRound gradient terms, same update arithmetic)
    val feats = TextAnalysis.hashedCharNgramFeatures(train, "doc_id", "text")
    val binAa = feats.withColumn("__y", (col("lang") === "aa").cast("int"))
    val ref = graft.operators.Curation.logisticFit(
      binAa, "__y", (0 until 32).map(b => s"f$b"), iters = 12, lr = 1.0)
    assert(models.toMap.apply("aa") == ref,
      s"fused fold diverged from logisticFit:\n${models.toMap.apply("aa")}\n$ref")
  }

  test("pcaTopComponents: deflation orthogonality, residual kills both directions, D=1 == single") {
    import graft.operators.Similarity
    // corpus with two dominant, well-separated directions: x-axis var ~50,
    // y-axis var ~0.5, z-axis var ~0.005 — deflation must find x then y
    val data = Seq.tabulate(400) { i =>
      val a = math.sin(i * 0.7) * 10.0
      val b = math.cos(i * 1.3) * 1.0
      val c = math.sin(i * 2.9) * 0.1
      (i.toLong, Array(a, b, c))
    }
    val df = data.toDF("vec_id", "v").select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val (means, comps) = Similarity.pcaTopComponents(df, "v", nComponents = 2, iters = 4)
    assert(comps.size == 2 && comps.forall(_.size == 3))
    // components are unit (round-6) and near-orthogonal
    for (p <- comps) {
      val nrm = p.map(x => x * x).sum
      assert(math.abs(nrm - 1.0) < 1e-4, s"norm² $nrm for $p")
    }
    val dot12 = comps(0).zip(comps(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-3, s"components not orthogonal: $dot12")
    // first component ~ x-axis, second ~ y-axis
    assert(math.abs(comps(0)(0)) > 0.99, s"pc1 ${comps(0)}")
    assert(math.abs(comps(1)(1)) > 0.99, s"pc2 ${comps(1)}")
    // residuals have ~zero projection on BOTH removed directions
    val resid = Similarity.pcaRemoveTopD(df, "v", means, comps)
    for (c <- 0 to 1) {
      val proj = Similarity.pcaProject(
        resid.select(col("vec_id"), col("abtt_v").as("v")), "v",
        means.map(_ => 0.0), comps(c), s"pr$c")
      val maxAbs = proj.agg(max(abs(col(s"pr$c")))).head().getDouble(0)
      assert(maxAbs < 2e-3, s"residual still projects $maxAbs on component $c")
    }
    // D=1 removal equals the long-standing single-component form
    val one = Similarity.pcaRemoveTopD(df, "v", means, Seq(comps(0)))
      .select(col("vec_id"), col("abtt_v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val legacy = Similarity.pcaRemoveTop(df, "v", means, comps(0))
      .select(col("vec_id"), col("abtt_v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(one == legacy)
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaTopComponents(df, "v", nComponents = 4)
    }
    assert(e.getMessage.contains("dimensionality"), e.getMessage)
  }

  test("graph recurrences: deep iters with checkpointEvery match unchunked; negative seeds rejected") {
    import graft.operators.Graph
    val edges = Seq((2L, 1L, 1.0), (3L, 2L, 0.5), (1L, 3L, 0.8)).toDF("src", "dst", "cosine")
    val nodes = Seq((1L, 1.0), (2L, 0.0), (3L, 0.25)).toDF("id", "seed")
    // snapshotting is value-transparent: 20 rounds chunked every 4 equals
    // the same 20 rounds with snapshots disabled (and completes without
    // analysis/codegen-depth blowup — the knob's whole point)
    val chunked = Graph.labelPropagate(edges, nodes, "id", "seed",
        iters = 20, checkpointEvery = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    val unchunked = Graph.labelPropagate(edges, nodes, "id", "seed",
        iters = 20, checkpointEvery = 0)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    assert(chunked == unchunked, s"$chunked vs $unchunked")
    val prChunked = Graph.pagerankCentrality(edges, iters = 20, checkpointEvery = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    val prUnchunked = Graph.pagerankCentrality(edges, iters = 20, checkpointEvery = 0)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    assert(prChunked == prUnchunked, s"$prChunked vs $prUnchunked")
    // negative seed fails LOUDLY (engines disagree on DIV for negatives)
    val neg = intercept[Exception] {
      Graph.labelPropagate(edges, Seq((1L, -0.5), (2L, 0.0), (3L, 0.0)).toDF("id", "seed"),
        "id", "seed", iters = 1).collect()
    }
    assert(neg.getMessage != null && neg.getMessage.contains("non-negative"),
      s"${neg.getMessage}")
  }

  test("pagerankCentrality: symmetric cycle stationary at 1, chain hand-checked, rational guard") {
    import graft.operators.Graph
    // 2-cycle with equal weights is the stationary point: every round maps
    // r=1 to (0.15 + 0.85*1) = 1 exactly in µ-units
    val cyc = Graph.pagerankCentrality(
        Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "cosine"), iters = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    assert(cyc == Map(1L -> 1.0, 2L -> 1.0), s"$cyc")
    // one-way edge: source floors at (1-d)=0.15, sink gets
    // 0.15 + 0.85*0.15 = 0.2775 by round 2 — exact integer recurrence
    val chain = Graph.pagerankCentrality(
        Seq((1L, 2L, 1.0)).toDF("src", "dst", "cosine"), iters = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    assert(chain == Map(1L -> 0.15, 2L -> 0.2775), s"$chain")
    val rep = Graph.pagerankCentrality(
        Seq((1L, 2L, 1.0)).toDF("src", "dst", "cosine").repartition(6), iters = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    assert(rep == chain)
    val e = intercept[IllegalArgumentException] {
      Graph.pagerankCentrality(
        Seq((1L, 2L, 1.0)).toDF("src", "dst", "cosine"), dampingNumer = 21L)
    }
    assert(e.getMessage.contains("rational"), e.getMessage)
  }

  test("budgetSelect: whole-doc take equals the naive global window at any bucket count") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, 10L, 0.9), (2L, 5L, 0.9), (3L, 4L, 0.5), (4L, 7L, 0.2))
      .toDF("doc_id", "n_toks", "quality")
    // order (q desc, id): 1(start 0), 2(10), 3(15), 4(19); budget 16 cuts 4
    val out = Curation.budgetSelect(docs, "doc_id", "n_toks", "quality", budget = 16L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("start_toks")).toMap
    assert(out == Map(1L -> 0L, 2L -> 10L, 3L -> 15L), s"$out")
    // bucket count is an implementation knob, never a semantics knob: a
    // coarse split (2 buckets -> docs 1,2,3 share one bucket; doc 4's
    // bucket is pruned whole) and the default agree row-for-row, pinning
    // the two-level cumsum = the global order
    val coarse = Curation.budgetSelect(docs, "doc_id", "n_toks", "quality",
        budget = 16L, buckets = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("start_toks")).toMap
    assert(coarse == out)
    // budget >= total keeps everything; budget 1 keeps only the best doc
    assert(Curation.budgetSelect(docs, "doc_id", "n_toks", "quality", 26L).count() == 4)
    assert(Curation.budgetSelect(docs, "doc_id", "n_toks", "quality", 1L)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // out-of-[0,1] quality must fail LOUDLY (it would break bucket order)
    val bad = intercept[IllegalArgumentException] {
      Curation.budgetSelect(docs.withColumn("quality", col("quality") + 1.5),
        "doc_id", "n_toks", "quality", 16L)
    }
    assert(bad.getMessage.contains("[0,1]") || bad.getMessage.contains("buckets"),
      bad.getMessage)
    val shadow = intercept[IllegalArgumentException] {
      Curation.budgetSelect(docs.withColumn("start_toks", lit(0L)),
        "doc_id", "n_toks", "quality", 16L)
    }
    assert(shadow.getMessage.contains("start_toks"), shadow.getMessage)
  }

  test("quantileBucketsPerGroup: hand-checked cuts, null group isolated, guards") {
    import graft.operators.Curation
    // one group, scores 1..8: p25 = 1 + 0.25*7 = 2.75, p75 = 6.25
    val df = (1 to 8).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "grp", "s")
    val out = Curation.quantileBucketsPerGroup(df, "grp", "s")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("bucket")).toMap
    assert(out == Map(1L -> "head", 2L -> "head", 3L -> "middle", 4L -> "middle",
      5L -> "middle", 6L -> "middle", 7L -> "tail", 8L -> "tail"), s"$out")
    // a null group is its own stratum (null-safe join), not dropped
    val withNull = df.union(Seq((9L, null: String, 5.0)).toDF("id", "grp", "s"))
    val nulls = Curation.quantileBucketsPerGroup(withNull, "grp", "s")
      .filter(col("grp").isNull).collect()
    assert(nulls.length == 1 && nulls.head.getAs[String]("bucket") == "head")
    // custom cuts need matching labels; out-of-range cuts rejected
    val e = intercept[IllegalArgumentException] {
      Curation.quantileBucketsPerGroup(df, "grp", "s", cuts = Seq(0.5))
    }
    assert(e.getMessage.contains("labels"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Curation.quantileBucketsPerGroup(df, "grp", "s", cuts = Seq(0.5, 1.5),
        labels = Seq("a", "b", "c"))
    }
    assert(e2.getMessage.contains("(0,1)"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Curation.quantileBucketsPerGroup(df.withColumn("bucket", lit("x")), "grp", "s")
    }
    assert(e3.getMessage.contains("bucket"), e3.getMessage)
  }

  test("domainCap: salted two-level top-k equals the naive window at any salt") {
    import graft.operators.Curation
    val rows = Seq(
      (1L, "a", 0.9), (2L, "a", 0.7), (3L, "a", 0.9), (4L, "a", 0.5), (5L, "a", 0.3),
      (6L, "b", 0.2), (7L, "b", 0.2), (8L, "b", 0.8),
      (9L, "c", 0.1))
    val df = rows.toDF("id", "dom", "s")
    // naive reference: (score desc, id) per domain, top 2
    val expect = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.sortBy(r => (-r._3, r._1)).take(2).zipWithIndex.map { case (r, i) => r._1 -> (i + 1) }
    }.toMap
    for (salt <- Seq(1, 3, 16)) {
      val got = Curation.domainCap(df, "id", "dom", "s", cap = 2, salt = salt)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("rank_in_domain")).toMap
      assert(got == expect, s"salt=$salt: $got vs $expect")
    }
    // tie at 0.2 in domain b: id 6 beats id 7 (id tie-break), and the
    // undersized domain c keeps its single row at rank 1
    assert(expect(6L) == 2 && !expect.contains(7L) && expect(9L) == 1)
    val e = intercept[IllegalArgumentException] {
      Curation.domainCap(df.withColumn("rank_in_domain", lit(1)), "id", "dom", "s", 2)
    }
    assert(e.getMessage.contains("rank_in_domain"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Curation.domainCap(df, "id", "dom", "s", cap = 0)
    }
    assert(e2.getMessage.contains("cap"), e2.getMessage)
  }

  test("unicode normalization: compose/decompose/compat forms, accent strip, nulls") {
    import graft.operators.TextClean
    // explicit escapes only: editors silently re-normalize raw combining marks
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301"
    val liga = "\ufb01n \u00f8re" // fi ligature (compat-only) + non-decomposable o-slash
    val df = Seq((1L, composed), (2L, decomposed), (3L, liga),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    def got(c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("o")).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("o")).toMap
    // NFC: both spellings converge on the composed form; ligature untouched
    val nfc = got(TextClean.normalizeUnicode(col("t")))
    assert(nfc(1L) == composed && nfc(2L) == composed && nfc(3L) == liga)
    assert(nfc(4L) == null)
    // NFKC additionally expands compatibility forms (fi-ligature -> f + i)
    assert(got(TextClean.normalizeUnicode(col("t"), "NFKC"))(3L) == "fin \u00f8re")
    // strip: marks drop from BOTH spellings; o-slash (no decomposition) and
    // the ligature (compat-only, NFC path) survive - DuckDB strip_accents parity
    val strip = got(TextClean.stripAccents(col("t")))
    assert(strip(1L) == "cafe" && strip(2L) == "cafe" && strip(3L) == liga)
    // interpreted run() agrees with the codegen'd projection above
    assert(graft.sparkext.UnicodeNormalize.run(decomposed, "NFC", false) == composed)
    assert(graft.sparkext.UnicodeNormalize.run(composed, "NFC", true) == "cafe")
    // supplementary-plane combining marks strip too (codepoint iteration —
    // utf8proc parity): Adlam YEELO + combining Adlam mark U+1E944 (Mn),
    // both surrogate pairs in UTF-16
    val adlam = new String(Character.toChars(0x1E90D)) + new String(Character.toChars(0x1E944))
    assert(graft.sparkext.UnicodeNormalize.run(adlam, "NFC", true) ==
      new String(Character.toChars(0x1E90D)))
    // and base astral chars (non-Mn) are preserved intact, not split
    val gothic = new String(Character.toChars(0x10330))
    assert(graft.sparkext.UnicodeNormalize.run(gothic + composed, "NFC", true) ==
      gothic + "cafe")
    val e = intercept[IllegalArgumentException] {
      TextClean.normalizeUnicode(col("t"), "NFX")
    }
    assert(e.getMessage.contains("NFC"), e.getMessage)
  }

  test("c4LineFilter + dup-line signals: every line rule, page blocklist, reassembly") {
    val df = Seq(
      (1L, "Good line one here.\nshort.\nno punct at all here\nGood line two here!\nthis page uses JavaScript heavily.\nGood line one here."),
      (2L, "lorem ipsum dolor sit amet.\nA fine line survives here."),
      (3L, ""),
      (4L, "Repeat me twice.\nRepeat me twice.\nRepeat me twice.\nUnique closer line."))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(
        TextAnalysis.withDupLineSignals(df, "text"), "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_kept"),
          r.getAs[Double]("dup_line_frac"), r.getAs[Boolean]("page_keep"),
          r.getAs[String]("clean_text"))).toMap
    // doc 1: 6 lines; 'short.' fails min_words, 'no punct...' fails the
    // terminal rule, the javascript line is blocklisted; the duplicated
    // good line is kept BOTH times (C4 cuts rules, not repeats — the dup
    // signal is Gopher's axis, reported not cut)
    assert(out(1L)._1 == 6 && out(1L)._2 == 3, s"${out(1L)}")
    assert(out(1L)._5 == "Good line one here.\nGood line two here!\nGood line one here.")
    assert(out(1L)._3 == round6(1.0 / 6.0) && out(1L)._4)
    // doc 2: page blocklist ('lorem ipsum') flags the WHOLE page; line
    // cleaning still reported
    assert(!out(2L)._4 && out(2L)._2 == 2)
    // doc 3: empty -> all zeros, keep, empty clean text
    assert(out(3L) == ((0, 0, 0.0, true, "")))
    // doc 4: 4 lines, 2 exact repeats of an earlier line -> frac 0.5
    assert(out(4L)._3 == 0.5 && out(4L)._2 == 4)
    val charFrac = TextAnalysis.withDupLineSignals(df, "text")
      .filter(col("doc_id") === 4L).head().getAs[Double]("dup_line_char_frac")
    // 4 lines of 16,16,16,19 chars; 32 duplicated chars of 67
    assert(charFrac == round6(32.0 / 67.0), s"$charFrac")
    val shadow = intercept[IllegalArgumentException] {
      TextAnalysis.c4LineFilter(df.withColumn("page_keep", lit(true)), "text")
    }
    assert(shadow.getMessage.contains("page_keep"), shadow.getMessage)
  }

  test("pcaTopComponent: dominant axis found, unit component, centered scores, guards") {
    // variance lives overwhelmingly on dim 0; dim 1 is near-constant
    val corpus = Seq(
      (1L, Seq(0.0, 0.50)), (2L, Seq(10.0, 0.51)),
      (3L, Seq(20.0, 0.49)), (4L, Seq(30.0, 0.50)))
      .toDF("vec_id", "v")
    val (means, pc1) = Similarity.pcaTopComponent(corpus, "v", iters = 2)
    assert(means == Seq(15.0, 0.5), s"$means")
    assert(math.abs(pc1.map(x => x * x).sum - 1.0) < 1e-4, s"$pc1 not unit")
    assert(math.abs(pc1.head) > 0.999, s"dominant axis missed: $pc1")
    val scored = Similarity.pcaProject(corpus, "v", means, pc1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pc1_score")).toMap
    // centered projections sum to ~0 and order along the dominant axis
    assert(math.abs(scored.values.sum) < 1e-3, s"$scored")
    assert(scored(1L) < scored(2L) && scored(2L) < scored(3L) && scored(3L) < scored(4L))
    // pure function of content: partitioning changes nothing
    val (m2, p2) = Similarity.pcaTopComponent(corpus.repartition(7), "v", iters = 2)
    assert(m2 == means && p2 == pc1)
    val ragged = Seq((1L, Seq(1.0)), (2L, Seq(1.0, 2.0))).toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaTopComponent(ragged, "v")
    }
    assert(e.getMessage.contains("dense"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pcaTopComponent(corpus, "v", maxDim = 1)
    }
    assert(e2.getMessage.contains("maxDim"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.pcaProject(corpus.withColumn("pc1_score", lit(0.0)), "v", means, pc1)
    }
    assert(e3.getMessage.contains("pc1_score"), e3.getMessage)
    // ABTT residuals: the dominant-direction coordinate is (near-)zeroed,
    // the orthogonal one reduces to its centered value
    val abtt = Similarity.pcaRemoveTop(corpus, "v", means, pc1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](2)).toMap
    abtt.values.foreach { r =>
      assert(math.abs(r.head) < 1e-3, s"dominant coordinate survives: $r")
    }
    assert(math.abs(abtt(2L)(1) - (0.51 - 0.5)) < 2e-3, s"${abtt(2L)}")
    val e4 = intercept[IllegalArgumentException] {
      Similarity.pcaRemoveTop(corpus, "v", means, pc1.take(1))
    }
    assert(e4.getMessage.contains("same-length"), e4.getMessage)
  }

  test("seed collects are byte-bounded: kmeansFit/pqTrain/centroidsFromFrame refuse k×dim pulls") {
    // 8-dim vectors; a k far above the 256 MiB/8-byte/8-dim budget
    val corpus = Seq((1L, Seq.fill(8)(1.0)), (2L, Seq.fill(8)(2.0)))
      .toDF("vec_id", "v")
    val tooManyCells = (Similarity.MaxSeedCollectBytes / 8L / 8L + 1L).toInt
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansFit(corpus, "vec_id", "v", k = tooManyCells, iters = 1)
    }
    assert(e.getMessage.contains("driver") && e.getMessage.contains("kmeansFit"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqTrain(corpus, "vec_id", "v", m = 2, ksub = tooManyCells, iters = 1)
    }
    assert(e2.getMessage.contains("pqTrain"), e2.getMessage)
    val cents = Seq((0, Seq.fill(8)(0.0))).toDF("cid", "cvec")
    val e3 = intercept[IllegalArgumentException] {
      Similarity.centroidsFromFrame(cents, maxCells = tooManyCells)
    }
    assert(e3.getMessage.contains("centroidsFromFrame"), e3.getMessage)
    // in-budget calls still work (the guard is a ceiling, not a tax);
    // Lloyd rounds may collapse cells, so only non-emptiness is pinned
    assert(Similarity.kmeansFit(corpus, "vec_id", "v", k = 2, iters = 1).nonEmpty)
    assert(Similarity.centroidsFromFrame(cents).size == 1)
  }

  test("perceptual hashes: brightness invariance, dHash gradient bits, hamming pairs") {
    import spark.implicits._
    // hand-built 9x8 gray PNGs (1:1 with the dHash grid) through the REAL
    // codec: a horizontal gradient, the same gradient +40 brightness
    // (near-dup), its mirror (far), and a one-column tweak (small
    // hamming > 0)
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        9, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 9) img.getRaster.setSample(x, y, 0, f(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val grad = png((x, _) => 20 * x)
    val gradBright = png((x, _) => 20 * x + 40)
    val mirror = png((x, _) => 20 * (8 - x))
    val tweak = png((x, y) => 20 * x + (if (x == 3 && y < 4) 25 else 0))
    val df = Seq((1L, grad), (2L, gradBright), (3L, mirror), (4L, tweak),
      (5L, "not an image".getBytes("UTF-8")))
      .toDF("id", "content")
    val hashed = Multimodal.imageHashes(df, "id", "content").collect()
      .map(h => h.id -> h).toMap
    assert(hashed.keySet == Set(1L, 2L, 3L, 4L), "undecodable payloads drop")
    // ascending gradient: every right neighbor brighter -> all 64 dHash bits
    assert(hashed(1L).dhash == -1L, s"${hashed(1L)}")
    assert(hashed(3L).dhash == 0L, "descending gradient: no bit set")
    // brightness shift changes bytes, not hashes
    assert(hashed(1L).dhash == hashed(2L).dhash && hashed(1L).ahash == hashed(2L).ahash)
    val dTweak = java.lang.Long.bitCount(hashed(1L).dhash ^ hashed(4L).dhash)
    assert(dTweak > 0 && dTweak <= 16, s"one-column tweak flips few dHash bits: $dTweak")
    // pigeonhole pairs: (1,2) at hamming 0; (1,4)/(2,4) iff within the cap;
    // the mirror pairs with nothing
    val pairs = Dedup.hammingNearDupPairs(
      Multimodal.imageHashes(df, "id", "content").toDF(), "id", "dhash",
      maxHamming = dTweak)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)), s"$pairs")
    assert(pairs.contains((1L, 4L, dTweak)), s"$pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"mirror must not pair: $pairs")
    // exact-hamming verify gate: threshold below the tweak distance drops it
    val tight = Dedup.hammingNearDupPairs(
      Multimodal.imageHashes(df, "id", "content").toDF(), "id", "dhash",
      maxHamming = dTweak - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L)), s"$tight")
    // keep-min drop semantics
    val kept = Dedup.hammingDedup(
      Multimodal.imageHashes(df, "id", "content").toDF(), "id", "dhash",
      maxHamming = dTweak)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"$kept")
  }

  test("bigramNll: boilerplate scores below rare text; edges; builtin == direct") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat on the mat the cat sat on the mat"),
      (2L, "zyx quux flurble grok xenon plasma warble"),
      (3L, "the cat sat on the mat"),
      (4L, ""),
      (5L, "solo")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the CCNet ranking role: repeated common sequences are predictable
    // (low NLL), one-off rare sequences are not
    assert(out(1L)._2 < out(3L)._2 && out(3L)._2 < out(2L)._2,
      s"expected nll(boilerplate) < nll(short-common) < nll(rare): $out")
    assert(out(4L) == (0L, 0.0), s"empty doc: ${out(4L)}")
    assert(out(5L)._1 == 1L && out(5L)._2 > 0.0, s"1-token doc scores its unigram: ${out(5L)}")
    // interpolation keeps every score finite and positive
    assert(out.values.forall(v => !v._2.isNaN && !v._2.isInfinite && v._2 >= 0.0))
    // builtin spelling routes to the same frame
    val viaBuiltin = graft.service.BuiltinTransformations.registry("lm_nll")(
      docs, Map("id_col" -> "doc_id", "text_col" -> "text"))
      .select("doc_id", "dl", "nll").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaBuiltin == out)
  }

  test("trigramKnNll: boilerplate < common < rare ordering; edges; builtin kn3 == direct") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat on the mat the cat sat on the mat"),
      (2L, "zyx quux flurble grok xenon plasma warble"),
      (3L, "the cat sat on the mat"),
      (4L, ""),
      (5L, "solo"),
      (6L, "two tokens")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.trigramKnNll(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the KN discount keeps the CCNet ranking: looping boilerplate is the
    // most predictable, one-off rare sequences the least
    assert(out(1L)._2 < out(3L)._2 && out(3L)._2 < out(2L)._2,
      s"expected nll(boilerplate) < nll(short-common) < nll(rare): $out")
    assert(out(4L) == (0L, 0.0), s"empty doc: ${out(4L)}")
    assert(out(5L)._1 == 1L && out(5L)._2 > 0.0)
    assert(out(6L)._1 == 2L && out(6L)._2 > 0.0, s"2-token doc uses p1+p2: ${out(6L)}")
    // discounting + interpolation keep every score finite and positive
    assert(out.values.forall(v => !v._2.isNaN && !v._2.isInfinite && v._2 >= 0.0))
    // a larger discount redistributes more mass to lower orders: rare
    // trigrams gain, the ordering itself is stable
    val heavier = TextAnalysis.trigramKnNll(docs, "doc_id", "text", discount = 0.9)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(heavier(1L) < heavier(3L) && heavier(3L) < heavier(2L))
    // builtin spelling routes to the same frame
    val viaBuiltin = graft.service.BuiltinTransformations.registry("lm_nll")(
      docs, Map("id_col" -> "doc_id", "text_col" -> "text", "order" -> "kn3"))
      .select("doc_id", "dl", "nll").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaBuiltin == out)
  }

  test("temperatureWeights: alpha=1 is natural proportions, smaller alpha flattens, loud guards") {
    import spark.implicits._
    val df = Seq(("en", 900L), ("zh", 90L), ("fr", 10L)).toDF("lang", "n")
    // total 1000, scale 1000: alpha=1 weights ARE the token counts
    val w1 = Curation.temperatureWeights(df, "lang", "n", 1L, 1L)
    assert(w1 == Map("en" -> 900L, "zh" -> 90L, "fr" -> 10L))
    // alpha=1/2 compresses ratios (lifts low-resource) but keeps order
    val w2 = Curation.temperatureWeights(df, "lang", "n", 1L, 2L)
    assert(w2("en") > w2("zh") && w2("zh") > w2("fr"))
    assert(w2("en").toDouble / w2("fr") < w1("en").toDouble / w1("fr"),
      s"sqrt must flatten: $w2 vs $w1")
    // a seen domain never rounds to weight 0 (it would silently vanish
    // from the mix)
    val tiny = Seq(("big", 1000000L), ("rare", 1L)).toDF("lang", "n")
    assert(Curation.temperatureWeights(tiny, "lang", "n", 1L, 1L)("rare") == 1L)
    // zero-token and null domains never get a weight
    val dirty = Seq(("en", 10L), ("empty", 0L), (null.asInstanceOf[String], 5L))
      .toDF("lang", "n")
    val wd = Curation.temperatureWeights(dirty, "lang", "n", 1L, 1L)
    assert(wd.keySet == Set("en"))
    // guards: alpha outside (0,1], domain-count cap
    val e1 = intercept[IllegalArgumentException] {
      Curation.temperatureWeights(df, "lang", "n", 3L, 2L)
    }
    assert(e1.getMessage.contains("alpha"))
    val e2 = intercept[IllegalArgumentException] {
      Curation.temperatureWeights(df, "lang", "n", 1L, 2L, maxDomains = 2)
    }
    assert(e2.getMessage.contains("maxDomains"))
  }

  test("MJPEG-AVI: synthesize → RIFF parse → real JPEG frame decode; fingerprint invariances") {
    import spark.implicits._
    val base = spark.range(50).select(col("id").as("doc_id")) // 2 jitters per pk
    val avis = Multimodal.synthesizeMjpegAvis(base, "doc_id")
    val feats = Multimodal.decodeVideosReal(avis, "doc_id", "content")
      .collect().map(f => f.id -> f).toMap
    assert(feats.size == 50)
    for ((id, f) <- feats) {
      assert(f.width == 36 && f.height == 32, s"id $id header dims")
      assert(f.n_frame_chunks == 4 + id % 5, s"id $id frame chunks")
      assert(f.us_per_frame == 100000L && f.duration_us == f.n_frame_chunks * 100000L)
      assert(f.sampled_frames == f.n_frame_chunks && f.decoded_frames == f.sampled_frames,
        s"id $id: every MJPEG frame must REALLY decode: $f")
    }
    // stride/cap bound the per-video decode work (the keyframe shape)
    val strided = Multimodal.decodeVideosReal(avis, "doc_id", "content",
      stride = 2, maxFrames = 2).collect()
    assert(strided.forall(f => f.sampled_frames <= 2 && f.decoded_frames == f.sampled_frames))
    // same pk (different jitter, different frame counts, lossy JPEG):
    // IDENTICAL fingerprints; distinct pks stay far
    val fps = Multimodal.videoFingerprints(avis, "doc_id", "content").collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(fps.size == 50)
    val byPk = fps.toSeq.groupBy { case (id, _) => id % 25 }
    for ((pk, m) <- byPk)
      assert(m.map(_._2).toSet.size == 1, s"pk $pk fingerprints differ: $m")
    for (Seq((p1, h1), (p2, h2)) <-
        byPk.map { case (pk, m) => pk -> m.head._2 }.toSeq.combinations(2))
      assert(java.lang.Long.bitCount(h1 ^ h2) >= 3, s"pks $p1/$p2 too close after JPEG")
    // junk / empty / null / truncated payloads drop, never crash
    val junk = Seq((1L, "not an avi".getBytes), (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "content")
    assert(Multimodal.decodeVideosReal(junk, "doc_id", "content").count() == 0)
    val truncated = avis.limit(3)
      .select(col("doc_id"), expr("substring(content, 1, 100)").as("content"))
    assert(Multimodal.decodeVideosReal(truncated, "doc_id", "content").count() == 0)
    // CRAFTED nested-LIST bomb: 100k nested LISTs would recurse the walk
    // into a StackOverflow without the depth cap — must parse-and-drop,
    // never kill the executor thread (the poisoned-record contract)
    // layer i (outermost = 0) spans 12*(depth-1-i)+20 bytes incl. its
    // 8-byte header, so its size field reads 12*(depth-1-i)+12; the
    // innermost layer holds one empty JUNK chunk
    val depth = 100000
    val bomb = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    bomb.write("RIFF".getBytes); bomb.write(le32(12 * depth + 12))
    bomb.write("AVI ".getBytes)
    for (i <- 0 until depth) {
      bomb.write("LIST".getBytes)
      bomb.write(le32(12 * (depth - 1 - i) + 12))
      bomb.write("rec ".getBytes)
    }
    bomb.write("JUNK".getBytes); bomb.write(le32(0))
    val parsed = Multimodal.parseAviMjpeg(bomb.toByteArray, stride = 1, maxFrames = 4)
    assert(parsed.isEmpty, "nested-LIST bomb must be dropped, not decoded")
  }

  test("MP4/ISO-BMFF: synthesize → box walk → closed-form metadata; bomb guards") {
    import spark.implicits._
    val base = spark.range(24).select(col("id").as("doc_id"))
    val mp4s = Multimodal.synthesizeMp4s(base, "doc_id")
    val metas = Multimodal.mp4Metadata(mp4s, "doc_id", "content")
      .collect().map(m => m.id -> m).toMap
    assert(metas.size == 24)
    for ((id, m) <- metas) {
      assert(m.major_brand == "isom")
      assert(m.duration_ms == 1000 * (1 + id % 7), s"id $id duration")
      assert(m.n_tracks == (if (id % 2 == 0) 2 else 1), s"id $id tracks")
      val wantCodec = (id % 3) match {
        case 0 => "avc1"; case 1 => "hvc1"; case _ => "jpeg"
      }
      assert(m.video_codecs == wantCodec && m.decodable == (wantCodec == "jpeg"),
        s"id $id: decodable split must be observable per file: $m")
      assert(m.audio_codecs == (if (id % 2 == 0) "mp4a" else ""))
      assert(m.n_keyframes == 2 * (1 + id % 4) && m.first_keyframe == 1L)
      assert(m.n_chunks == 1 + id % 3 + (if (id % 2 == 0) 1 else 0))
    }
    // junk / empty / null / truncated payloads drop, never crash
    val junk = Seq((1L, "not an mp4 at all!".getBytes), (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "content")
    assert(Multimodal.mp4Metadata(junk, "doc_id", "content").count() == 0)
    val truncated = mp4s.limit(3)
      .select(col("doc_id"), expr("substring(content, 1, 40)").as("content"))
    // a truncated moov salvages what parsed (ftyp brand) without crashing
    Multimodal.mp4Metadata(truncated, "doc_id", "content").collect()
      .foreach(m => assert(m.major_brand == "isom"))
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // CRAFTED nested-container bomb: 100k nested 8-byte moov headers
    // would recurse the walk into a StackOverflow without the depth cap
    val depth = 100000
    val bomb = new java.io.ByteArrayOutputStream()
    for (i <- 0 until depth) {
      bomb.write(be32(8 * (depth - i))); bomb.write("moov".getBytes)
    }
    val bombed = Multimodal.parseMp4Meta(bomb.toByteArray)
    assert(bombed.isEmpty || bombed.get._1 == "",
      "nested-container bomb must be capped, never stack-overflow")
    // largesize (size==1 + u64) and size==0 (to end of parent) per spec;
    // an stss COUNT field claiming 2^28 entries in a 12-byte box clamps
    // to what physically fits
    val crafted = new java.io.ByteArrayOutputStream()
    crafted.write(be32(16)); crafted.write("ftyp".getBytes)
    crafted.write("craf".getBytes); crafted.write(be32(0))
    val stss = be32(20) ++ "stss".getBytes ++ be32(0) ++ be32(1 << 28) ++ be32(7)
    val mvhd = be32(28) ++ "mvhd".getBytes ++ be32(0) ++ be32(0) ++ be32(0) ++
      be32(500) ++ be32(1500)
    // a 16-byte 'free' box via size==1 + 64-bit largesize (spec path)
    val free = be32(1) ++ "free".getBytes ++ be32(0) ++ be32(16)
    val stbl = be32(8 + free.length + stss.length) ++ "stbl".getBytes ++ free ++ stss
    // moov declared with size==0: extends to end of file
    crafted.write(be32(0)); crafted.write("moov".getBytes)
    crafted.write(mvhd); crafted.write(stbl)
    val got = Multimodal.parseMp4Meta(crafted.toByteArray)
    assert(got.isDefined)
    val (brand, ts, dur, _, _, _, nKey, firstKey, _) = got.get
    assert(brand == "craf" && ts == 500 && dur == 1500)
    assert(nKey == 1 && firstKey == 7,
      s"claimed 2^28 stss entries in a 12-byte table must clamp to 1: $got")
    // a version-1 mvhd with a 28-byte payload at the END of the buffer:
    // the v1 layout needs 32 payload bytes, so reading u64(dataOff+24)
    // would run off the array (r18 advice) — must salvage via the v0
    // field offsets, never crash
    val shortV1 = new java.io.ByteArrayOutputStream()
    shortV1.write(be32(16)); shortV1.write("ftyp".getBytes)
    shortV1.write("craf".getBytes); shortV1.write(be32(0))
    shortV1.write(be32(8 + 8 + 28)); shortV1.write("moov".getBytes)
    shortV1.write(be32(8 + 28)); shortV1.write("mvhd".getBytes)
    shortV1.write(be32(0x01000000)) // version=1, flags=0
    shortV1.write(be32(0)); shortV1.write(be32(0)) // 8 bytes "creation"
    shortV1.write(be32(777)) // at the v0 timescale offset (+12)
    shortV1.write(be32(4242)) // at the v0 duration offset (+16)
    shortV1.write(be32(0)); shortV1.write(be32(0)) // pad to 28 — buffer ends here
    val salvaged = Multimodal.parseMp4Meta(shortV1.toByteArray)
    assert(salvaged.isDefined, "truncated v1 mvhd must salvage, not crash")
    assert(salvaged.get._2 == 777L && salvaged.get._3 == 4242L,
      s"truncated v1 mvhd salvages through the v0 offsets: $salvaged")
  }

  test("MP4 sample extraction: stsc/stsz/stco walk, real JPEG decode, codec routing, bombs") {
    import spark.implicits._
    val base = spark.range(30).select(col("id").as("doc_id"))
    val mp4s = Multimodal.synthesizeMp4sWithSamples(base, "doc_id")
    // only id % 3 == 2 carries a decodable codec; every sample decodes
    val frames = Multimodal.decodeMp4FramesReal(mp4s, "doc_id", "content")
      .collect().map(f => f.id -> f).toMap
    assert(frames.keySet == (0L until 30L).filter(_ % 3 == 2).toSet,
      "avc1/hvc1 files must yield NO decodable-lane rows")
    for ((id, f) <- frames) {
      assert(f.codec == "jpeg" && f.n_samples == 4 + id % 5)
      assert(f.sampled_frames == f.n_samples && f.decoded_frames == f.n_samples,
        s"every real JPEG sample must decode: $f")
    }
    // stride/maxFrames bound the work per file
    val strided = Multimodal.decodeMp4FramesReal(mp4s, "doc_id", "content",
      stride = 2, maxFrames = 2).collect()
    assert(strided.forall(f => f.sampled_frames <= 2))
    // fingerprints ride the q178 hamming path: same pattern -> same dhash
    val fps = Multimodal.mp4Fingerprints(mp4s, "doc_id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    val byPk = fps.keys.groupBy(_ % 25)
    for ((_, ids) <- byPk if ids.size > 1)
      assert(ids.map(fps).toSet.size == 1, s"same-pattern fingerprints must agree: $ids")
    // multi-chunk layout really exercised: id=8 (jpeg, 1+8%3=3 chunks)
    // must still extract every sample in order
    assert(frames(8L).n_samples == 4 + 8 % 5 && frames(8L).decoded_frames == frames(8L).n_samples)
    // junk/null drop; a LYING stsz (sizes past EOF) salvages, never crashes
    val junk = Seq((1L, "notanmp4".getBytes), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "content")
    assert(Multimodal.decodeMp4FramesReal(junk, "doc_id", "content").count() == 0)
    val truncated = mp4s.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"),
        expr("substring(content, 1, CAST(octet_length(content) / 2 AS INT))").as("content"))
    // half the file gone: some samples' ranges now lie past EOF — they
    // skip (salvage), the parse itself must not throw
    Multimodal.decodeMp4FramesReal(truncated, "doc_id", "content").collect()
    // crafted: stsz claiming 2^28 samples in a small box clamps
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val realJpeg = Multimodal.synthesizeMp4sWithSamples(
      Seq(2L).toDF("doc_id"), "doc_id").head.getAs[Array[Byte]]("content")
    val bombed = {
      // flip the real fixture's stsz count field to 2^28: find 'stsz'
      val i = realJpeg.indexOfSlice("stsz".getBytes)
      val b = realJpeg.clone()
      System.arraycopy(be32(1 << 28), 0, b, i + 12, 4) // sample_count field
      b
    }
    val got = Multimodal.parseMp4Samples(bombed, 1, 64)
    assert(got.isEmpty || got.get._2 <= (1 << 22),
      s"claimed 2^28 stsz entries must clamp: ${got.map(_._2)}")
  }

  test("synthesizePatternPngs: 25 base patterns pairwise far; jitter is hash-invariant") {
    import spark.implicits._
    // one image per (pattern, jitter) corner: jitter 0 and jitter 19
    val base = spark.range(25).select(col("id").as("doc_id"))
    val jit = spark.range(25 * 19, 25 * 20).select(col("id").as("doc_id")) // jitter 19
    val hb = Multimodal.imageHashes(
      Multimodal.synthesizePatternPngs(base, "doc_id"), "doc_id", "content")
      .collect().map(h => (h.id % 25) -> h).toMap
    val hj = Multimodal.imageHashes(
      Multimodal.synthesizePatternPngs(jit, "doc_id"), "doc_id", "content")
      .collect().map(h => (h.id % 25) -> h).toMap
    for (pk <- 0L until 25L) {
      assert(hb(pk).dhash == hj(pk).dhash && hb(pk).ahash == hj(pk).ahash,
        s"pattern $pk: jitter must not move the hashes")
    }
    // the q167 oracle rests on every cross-pattern distance exceeding the
    // query's hamming threshold: the gradient-sign construction
    // (extended-parity codeword × 8 rows) guarantees >= 16 — pin the
    // whole margin, not just the threshold
    val minD = (for (a <- 0L until 25L; b <- (a + 1) until 25L)
      yield java.lang.Long.bitCount(hb(a).dhash ^ hb(b).dhash)).min
    assert(minD >= 16, s"closest cross-pattern dHash distance fell to $minD — " +
      "the codeword construction broke")
  }

  test("multiKDuplicateSpans: per-k islands union, adjacent intervals merge, max_k certifies length") {
    import graft.operators.Dedup
    // docs 1/2 share a 5-token run "a b c d e" plus two 2-token repeats;
    // docs 3/4 share only a 3-token run "m n o"; 5/6 contribute nothing
    val docs = Seq(
      (1L, "a b c d e p q r u v"),
      (2L, "z a b c d e y p q x u v w"),
      (3L, "m n o junk1 junk2"),
      (4L, "junk3 m n o junk4"),
      (5L, "totally fresh words here only once"),
      (6L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.multiKDuplicateSpans(docs, "doc_id", "text", ks = Seq(2, 3, 5))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("max_k"), r.getAs[Int]("n_spans"),
        r.getAs[Int]("span_tokens"))).toSet
    // doc 1: the 5-run fires at k∈{2,3,5} as island [1,5]; the (p,q)
    // repeat fires at k=2 as [6,7], ADJACENT to [1,5] -> merges into one
    // [1,7] island (4 pre-merge spans, max_k certifies a >=5-token exact
    // repeat inside); (u,v)@9 stays its own k=2 island.
    // doc 2: same content but a gap token between the 5-run [2,6] and
    // (p,q)@8 -> islands stay separate; max_k drops to 2 outside the run.
    // docs 3/4: the 3-run fires at k∈{2,3}, never k=5 -> max_k = 3.
    assert(got == Set(
      (1L, 1, 7, 5, 4, 7), (1L, 9, 10, 2, 1, 2),
      (2L, 2, 6, 5, 3, 5), (2L, 8, 9, 2, 1, 2), (2L, 11, 12, 2, 1, 2),
      (3L, 1, 3, 3, 2, 3), (4L, 2, 4, 3, 2, 3)), s"$got")
    // the Lee et al. >=50-token certificate is `max_k >= threshold` —
    // here the >=5 filter keeps exactly the two long-run islands
    assert(got.filter(_._4 >= 5).map(t => (t._1, t._2)) == Set((1L, 1), (2L, 2)))
    intercept[IllegalArgumentException] {
      Dedup.multiKDuplicateSpans(docs, "doc_id", "text", ks = Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Dedup.multiKDuplicateSpans(docs, "doc_id", "text", ks = Seq(3, 3))
    }
    intercept[IllegalArgumentException] {
      Dedup.multiKDuplicateSpans(docs, "doc_id", "text", ks = Seq(0, 2))
    }
  }

  test("early-exit knobs: kmeans fixed-point is result-identical") {
    import graft.operators.Similarity
    // kmeansFit: two well-separated blobs converge by round 2; the
    // fixed-point exit makes iters=3 and iters=100 RESULT-identical
    // (not an approximation — kmeansUpdate is pure in (corpus, cents))
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.2, 0.0)), (2L, Seq(0.0, 0.2)),
      (3L, Seq(9.0, 9.0)), (4L, Seq(9.2, 9.0)), (5L, Seq(9.0, 9.2))
    ).toDF("vec_id", "v")
    val c3 = Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 3)
    val c100 = Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 100)
    assert(c100 == c3, "fixed-point exit must make long schedules result-identical")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
