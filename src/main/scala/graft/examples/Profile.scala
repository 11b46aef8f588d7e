package graft.examples

import org.apache.spark.sql.SparkSession

import graft.queries.Queries

/** Ad-hoc profiling harness: run named queries N times in one JVM.
  *   sbt "runMain graft.examples.Profile q26_dedup_ngram_jaccard 3 [sfDir]"
  *
  * Environment (A/B probing only — Bench never sets them):
  *   - `GRAFT_CONF="k1=v1;k2=v2"` sets session confs before the first rep,
  *     e.g. `GRAFT_CONF="spark.graft.orderedBuckets=64"`;
  *   - `GRAFT_EXPLAIN=1` prints each query's formatted physical plan after
  *     the timed reps (diff two runs' output to compare plans).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.lift(0).getOrElse("q26_dedup_ngram_jaccard").split(",").toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    sys.env.get("GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("WARN")
    val catalog = Queries.all.map(t => t._1 -> t._2).toMap
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      catalog(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      // mirror Bench.timeQuery: operators may persist intermediates, and a
      // warm rep that reuses them measures the cache, not the query
      // (round 19: the LSH family read 5x fast here until this line)
      spark.catalog.clearCache()
      println(f"$name rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (sys.env.contains("GRAFT_EXPLAIN"))
      names.foreach(n => catalog(n)(spark, sfDir).explain("formatted"))
    spark.stop()
  }
}
