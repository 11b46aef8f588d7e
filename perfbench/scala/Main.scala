package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.config.{ConfigLoader, GeneralConfig}
import graft.io.SparkIO
import graft.service.Pipeline

/** What the generator planted, read from the input's `facts.json`. */
final case class Facts(
    rows: Long,
    invalidRows: Long,
    shortIds: Seq[Long],
    evalOverlapIds: Seq[Long],
    dupClusters: Seq[Seq[Long]],
    inBytes: Long)

object Facts {
  def load(path: String): Facts = {
    // a plain mapper, so lists read as java.util.List
    val m = new ObjectMapper().readValue(new java.io.File(path),
      classOf[java.util.Map[String, Any]]).asScala
    def num(k: String): Long = m.get(k).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    def ids(v: Any): Seq[Long] =
      v.asInstanceOf[java.util.List[Number]].asScala.map(_.longValue).toSeq
    Facts(num("rows"), num("invalid_rows"),
      m.get("short_ids").map(ids).getOrElse(Nil),
      m.get("eval_overlap_ids").map(ids).getOrElse(Nil),
      m.get("dup_clusters").map(_.asInstanceOf[java.util.List[Any]].asScala.map(ids).toSeq)
        .getOrElse(Nil),
      num("in_bytes"))
  }
}

/** One benchmark JVM. `key=value` arguments:
  *   mode      timed | trace
  *   workload  etl_lineitem | ordered_events | curation_docs
  *   data      the generated input directory
  *   work      scratch directory for artifacts and Spark's local dir
  *   seconds   how long the warm calls run (timed mode)
  *   spawn_ms  wall-clock ms at which the launcher started this JVM
  *   cores     local[n] and the shuffle partition count
  *   out       where the result JSON goes
  *
  * Both modes first set up: start Spark and parse the config (`setup_s`).
  * timed: one cold call, then warm calls until their summed time reaches
  * `seconds` (at least one); every call's artifacts are checked and
  * deleted outside the timing. trace: the per-layer split ([[Trace]]). */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val host = HostEvidence.start()
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val w = Workloads.byName(a("workload"))
    val in = Inputs(a("data"), Facts.load(s"${a("data")}/facts.json"))
    val work = a("work")
    val spark = session(a("cores").toInt, work)
    val t0 = System.nanoTime()
    val cfg = ConfigLoader.fromYaml(w.yaml(in, s"$work/out"))
    val parseMs = (System.nanoTime() - t0) / 1e6
    val setupS = (System.currentTimeMillis() - a("spawn_ms").toLong) / 1000.0
    val result = a("mode") match {
      case "timed" => timed(spark, w, in, cfg, a("seconds").toDouble)
      case "trace" => Trace.run(spark, w, in, cfg)
    }
    val all = result ++ Map("setup_s" -> setupS, "config.parse_ms" -> parseMs,
      "host" -> host.finish())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
      json.writeValueAsString(all))
    // the result is on disk; an orderly Spark shutdown would only add
    // wall time to the run (the launcher deletes the work directory)
    Runtime.getRuntime.halt(0)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds[A](body: => A): (Double, A) = {
    val t = System.nanoTime()
    val r = body
    ((System.nanoTime() - t) / 1e9, r)
  }

  /** Bytes and file count under `path` (data files only). */
  def du(path: String): (Long, Int) = {
    val root = new java.io.File(path)
    if (!root.exists()) (0L, 0)
    else {
      val files = walk(root).filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      (files.map(_.length).sum, files.size)
    }
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  def delete(path: String): Unit = {
    val root = new java.io.File(path)
    if (root.exists()) walk(root).foreach(_.delete())
    def dirs(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.filter(_.isDirectory).foreach(dirs)
      f.delete()
    }
    dirs(root)
  }

  final case class Call(seconds: Double, observed: Either[String, Map[String, Any]],
      outBytes: Long)

  /** One `runPipeline` call, timed from call to return; its artifacts are
    * then checked and deleted (untimed). A throw counts as a failed call. */
  def call(spark: SparkSession, w: Workload, in: Inputs, cfg: GeneralConfig): Call = {
    val t = System.nanoTime()
    val res = try Right(Pipeline.runPipeline(spark, cfg, new SparkIO))
      catch { case e: Exception => Left(e) }
    val sec = (System.nanoTime() - t) / 1e9
    res match {
      case Left(e) =>
        System.err.println(s"call failed: $e")
        Call(sec, Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"), 0L)
      case Right(r) =>
        val bytes = du(r.outputRoot)._1
        val obs = try Right(w.observe(spark, in, r.outputRoot))
          catch { case e: Exception => Left(s"check: ${e.getMessage}") }
        delete(r.outputRoot)
        Call(sec, obs, bytes)
    }
  }

  def timed(spark: SparkSession, w: Workload, in: Inputs, cfg: GeneralConfig,
      budget: Double): Map[String, Any] = {
    val cold = call(spark, w, in, cfg)
    val warmCalls = scala.collection.mutable.ArrayBuffer.empty[Call]
    while (warmCalls.isEmpty || warmCalls.map(_.seconds).sum < budget)
      warmCalls += call(spark, w, in, cfg)
    val calls = cold +: warmCalls.toSeq
    val failures = verdicts(spark, w, in, calls)
    failures.foreach(f => System.err.println(s"check failed: $f"))
    val runS = median(warmCalls.map(_.seconds).toSeq)
    Map(
      "cold_run_s" -> cold.seconds,
      "run_s" -> runS,
      "warm_s" -> warmCalls.map(_.seconds).toSeq,
      "rows_per_s" -> in.facts.rows / runS,
      "out_bytes_per_in_byte" -> cold.outBytes.toDouble / in.facts.inBytes,
      "attempted" -> calls.size,
      "failed" -> failures.size,
      "failures" -> failures)
  }

  /** Each call's observed facts against the plain-Spark expectation; for
    * keys the reference does not fix, against the cold call's value (the
    * output must not depend on the call). */
  def verdicts(spark: SparkSession, w: Workload, in: Inputs, calls: Seq[Call]): Seq[String] = {
    val exp = try Right(w.expected(spark, in).map { case (k, v) => k -> v.toString })
      catch { case e: Exception => Left(s"reference: ${e.getMessage}") }
    def text(m: Map[String, Any]) = m.map { case (k, v) => k -> v.toString }
    val first = calls.head.observed.toOption.map(text).getOrElse(Map.empty)
    calls.zipWithIndex.flatMap { case (c, i) =>
      (c.observed.map(text), exp) match {
        case (Left(err), _) => Some(s"call $i: $err")
        case (_, Left(err)) => Some(s"call $i: $err")
        case (Right(obs), Right(e)) =>
          val want = first ++ e
          val bad = want.collect { case (k, v) if obs.get(k) != Some(v) =>
            s"$k=${obs.getOrElse(k, "missing")} want $v" }
          if (bad.isEmpty) None else Some(s"call $i: ${bad.mkString(", ")}")
      }
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Host evidence stamped on every run (never a gate, never an
  * adjustment): other processes' average cores and steal over the run,
  * from `/proc/stat` deltas, and the load average when it started. */
final class HostEvidence(s0: graft.util.HostStat.Snapshot, load0: Double) {
  def finish(): Map[String, Any] = {
    val d = graft.util.HostStat.drag(s0, graft.util.HostStat.snapshot())
    Map("other_cores" -> d.otherCores, "steal_pct" -> d.stealPct,
      "load_avg_start" -> load0, "wall_s" -> d.wallSec)
  }
}

object HostEvidence {
  def start(): HostEvidence = new HostEvidence(graft.util.HostStat.snapshot(),
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
}
