package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.config.GeneralConfig
import graft.expr.RuleParser
import graft.io.{GraftIO, SparkIO}
import graft.operators.Dedup
import graft.service.{BuiltinTransformations, Pipeline}
import graft.stages.{Inspect, Transforms, Validation}

/** The traced run: the per-layer split of one warm `runPipeline` call,
  * seen from outside the program.
  *
  *  - spans: a timing decorator around `GraftIO` and timing wrappers of
  *    the builtin registry passed as `customFns`, each span tagged with
  *    the thread it ran on;
  *  - Spark: a `SparkListener` (jobs, stages, tasks, task metrics, job
  *    wall time grouped by the repo file of each job's call site) and a
  *    `QueryExecutionListener` (planning time);
  *  - a stage ladder that applies the public `stages`/`expr`/`operators`
  *    functions one at a time, each to the persisted, counted output of
  *    the one before, and times it to a `noop` sink.
  *
  * Sequence: an untraced cold call, the traced call, then the ladder. The
  * traced call is the second call in its JVM, like the call a timed run
  * reports as `run_s`; the difference of the two is the tracing overhead. */
object Trace {
  final case class Span(name: String, thread: String, start: Long, end: Long)

  final class Spans {
    val all = new ConcurrentLinkedQueue[Span]()
    def time[A](name: String)(body: => A): A = {
      val t = System.nanoTime()
      try body
      finally all.add(Span(name, Thread.currentThread.getName, t, System.nanoTime()))
    }
    def named(p: String): Seq[Span] = all.asScala.filter(_.name.startsWith(p)).toSeq
  }

  val Lane = "perfbench.lane"
  val SideThread = "graft-side-sinks"

  /** Tags the jobs of the call with the thread that submitted them.
    * Spark copies a thread's local properties into each thread it creates,
    * so the side-sink thread inherits the "side" tag set before the call;
    * as soon as that thread exists, the calling thread's own properties
    * are switched to "main". Jobs the calling thread submits before the
    * side thread exists (the source read), or within the watcher's 1 ms
    * poll after, also read "side"; only `service.join_wait_s` uses the
    * tag, and it looks at main jobs after the transformed write. */
  final class LaneWatch(spark: SparkSession) {
    private val props = Bus.localProperties(spark)
    props.setProperty(Lane, "side")
    @volatile private var stop = false
    private val group = Thread.currentThread.getThreadGroup
    private val watcher = new Thread(() => {
      var seen = false
      while (!seen && !stop) {
        // Spark keeps hundreds of threads; size the buffer to the group
        val buf = new Array[Thread](group.activeCount() * 2 + 16)
        val n = group.enumerate(buf)
        seen = (0 until n).exists(i => buf(i).getName == SideThread)
        if (!seen) Thread.sleep(1)
      }
      if (seen) props.setProperty(Lane, "main")
    }, "perfbench-lane-watch")
    watcher.setDaemon(true)
    watcher.start()
    def close(): Unit = {
      stop = true
      watcher.join()
      props.remove(Lane)
    }
  }

  /** `GraftIO` decorator: a span per call plus the bytes it touched. */
  final class TracedIO(inner: GraftIO, spans: Spans) extends GraftIO {
    val readCalls = new AtomicInteger()
    val inBytes = new AtomicLong()
    val out = new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()

    private def sink(path: String): String =
      if (path.contains("/transformed_data")) "transformed"
      else if (path.contains("/error_records")) "errors"
      else if (path.contains("pre_transform")) "desc_pre"
      else if (path.contains("post_transform")) "desc_post"
      else "other"

    override def read(s: SparkSession, path: String, fileType: String,
        options: Map[String, String]): DataFrame = {
      readCalls.incrementAndGet()
      inBytes.addAndGet(Main.du(path)._1)
      spans.time("io.read")(inner.read(s, path, fileType, options))
    }
    override def readFiles(s: SparkSession, files: Seq[String], fileType: String,
        options: Map[String, String], schema: Option[StructType]): DataFrame = {
      readCalls.incrementAndGet()
      files.foreach(f => inBytes.addAndGet(Main.du(f)._1))
      spans.time("io.read")(inner.readFiles(s, files, fileType, options, schema))
    }
    override def write(df: DataFrame, path: String, fileType: String, targetSizeGb: Double,
        options: Map[String, String]): Unit = {
      val name = sink(path)
      spans.time(s"io.write.$name")(inner.write(df, path, fileType, targetSizeGb, options))
      out.put(name, Main.du(path))
    }
    override def writeText(text: String, path: String): Unit = {
      spans.time("io.write_text")(inner.writeText(text, path))
    }
    override def newGuid(): String = inner.newGuid()
    override def now(): java.time.Instant = inner.now()
    override def listFiles(s: SparkSession, path: String, fileType: String,
        options: Map[String, String]): Seq[String] = inner.listFiles(s, path, fileType, options)
  }

  /** Repo file of a job's call site (`head at Inspect.scala:112`) → layer. */
  def layerOf(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "IO.scala" => "io"
      case "Inspect.scala" | "Validation.scala" | "Transforms.scala" => "stages"
      case "ExprRegistry.scala" | "OrderedAtScale.scala" | "FrameStats.scala" |
          "PlanBarrier.scala" | "RuleParser.scala" | "DTypes.scala" => "expr"
      case "Pipeline.scala" | "BuiltinTransformations.scala" | "CacheScope.scala" => "service"
      case f if f.endsWith(".scala") => "operators" // graft.operators, graft.sparkext
      case _ => "other"
    }
  }
  val JobLayers = Seq("io", "stages", "expr", "operators", "service", "other")

  /** Spark-side counters over one window (reset → call → drain). */
  final class Probe extends SparkListener with QueryExecutionListener {
    final case class Job(start: Long, lane: String, layer: String, site: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val jobWallMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val mainJobStarts = new ConcurrentLinkedQueue[Long]()
    val nJobs, nStages, nTasks, nSql = new AtomicInteger()
    val runMs, cpuNs, shWrite, shRead, spill, planMs = new AtomicLong()
    @volatile var on = false

    def reset(): Unit = {
      jobs.clear(); jobWallMs.clear(); mainJobStarts.clear(); execSite.clear()
      Seq(nJobs, nStages, nTasks, nSql).foreach(_.set(0))
      Seq(runMs, cpuNs, shWrite, shRead, spill, planMs).foreach(_.set(0))
    }

    /** SQL execution id → its call site. Jobs that adaptive execution
      * submits from its own threads carry a generic call site; they are
      * charged to the call site of the query they run for. */
    val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      nJobs.incrementAndGet()
      val props = Option(e.properties)
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val exec = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
      val site = if (layerOf(own) != "other") own
        else exec.flatMap(id => Option(execSite.get(id))).find(layerOf(_) != "other")
          .getOrElse(own)
      val lane = props.map(_.getProperty(Lane, "side")).getOrElse("side")
      jobs.put(e.jobId, Job(e.time, lane, layerOf(site), s"$site exec=${exec.mkString("/")}"))
      if (lane == "main") mainJobStarts.add(e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
      jobWallMs.computeIfAbsent(j.layer, _ => new AtomicLong()).addAndGet(e.time - j.start)
      // the job list goes to the run log (stderr), one line per job
      System.err.println(s"perfbench-job ${e.jobId} lane=${j.lane} layer=${j.layer} " +
        s"ms=${e.time - j.start} site=${j.site}")
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      nStages.incrementAndGet()
      nTasks.addAndGet(e.stageInfo.numTasks)
      Option(e.stageInfo.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId.toString, x.description)
        if (on) nSql.incrementAndGet()
      case _ =>
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) planMs.addAndGet(phaseMs(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def phaseMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  /** Nodes of an executed plan, looking through AQE, query stages and
    * cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
      if (e <= end) (acc, end)
      else (acc + e - math.max(s, end), e)
    }._1

  def run(spark: SparkSession, w: Workload, in: Inputs, cfg: GeneralConfig): Map[String, Any] = {
    val cold = Main.call(spark, w, in, cfg)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)

    // the traced call
    val spans = new Spans
    val io = new TracedIO(new SparkIO, spans)
    val fns = BuiltinTransformations.registryWith(io).map { case (n, f) =>
      n -> ((df: DataFrame, kw: Map[String, Any]) => spans.time(s"operators.$n")(f(df, kw)))
    }
    Bus.drain(spark)
    probe.reset()
    probe.on = true
    val lanes = new LaneWatch(spark)
    val gc0 = gcMs()
    val epoch0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val t0 = System.nanoTime()
    val res = Pipeline.runPipeline(spark, cfg, io, fns)
    val t1 = System.nanoTime()
    val gc = gcMs() - gc0
    Bus.drain(spark)
    probe.on = false
    lanes.close()
    val runS = (t1 - t0) / 1e9
    val planPhaseMs = phaseMs(res.transformed.queryExecution)
    val plan = nodes(res.transformed.queryExecution.executedPlan)
    val traced = try Right(w.observe(spark, in, res.outputRoot))
      catch { case e: Exception => Left(s"traced call check: ${e.getMessage}") }
    Main.delete(res.outputRoot)

    // span bookkeeping: main-thread spans + self time == the call
    val mainThread = Thread.currentThread.getName
    def clip(s: Span) = (math.max(s.start, t0), math.min(s.end, t1))
    val mainSpans = spans.all.asScala.filter(_.thread == mainThread).toSeq
    val mainCovered = covered(mainSpans.map(clip)) / 1e9
    val selfS = runS - mainCovered
    val sideS = covered(spans.all.asScala.filter(_.thread == SideThread).map(clip).toSeq) / 1e9
    val transformedEnd = spans.named("io.write.transformed").map(_.end).maxOption
    val joinWaitS = transformedEnd.flatMap { te =>
      val teMs = (te + epoch0) / 1000000L
      probe.mainJobStarts.asScala.filter(_ >= teMs).minOption.map(s => (s - teMs) / 1e3)
    }.getOrElse(0.0)
    def spanS(p: String): Double = spans.named(p).map(s => (s.end - s.start) / 1e9).sum
    def outMb(k: String): Double = Option(io.out.get(k)).map(_._1 / 1e6).getOrElse(0.0)

    val ladder = Ladder.run(spark, in, cfg)
    val checks = Seq(cold.observed, traced)
      .collect { case Left(e) => e } ++
      (if (selfS < -1e-3) Seq(s"main-thread spans cover ${mainCovered}s > call ${runS}s")
       else Nil)
    val jobLayerS = JobLayers.map { l =>
      s"spark.job_s.$l" -> Option(probe.jobWallMs.get(l)).map(_.get / 1e3).getOrElse(0.0)
    }
    val m: Seq[(String, Double, String)] = Seq(
      ("service.run_s", runS, "s"),
      ("service.self_s", selfS, "s"),
      ("service.side_sinks_s", sideS, "s"),
      ("service.join_wait_s", joinWaitS, "s"),
      ("io.write_s.transformed", spanS("io.write.transformed"), "s"),
      ("io.write_s.errors", spanS("io.write.errors"), "s"),
      ("io.write_s.desc_pre", spanS("io.write.desc_pre"), "s"),
      ("io.write_s.desc_post", spanS("io.write.desc_post"), "s"),
      ("io.write_text_ms.config", spanS("io.write_text") * 1e3, "ms"),
      ("io.out_mb.transformed", outMb("transformed"), "MB"),
      ("io.out_mb.errors", outMb("errors"), "MB"),
      ("io.out_files.transformed",
        Option(io.out.get("transformed")).map(_._2.toDouble).getOrElse(0.0), "count"),
      ("io.in_mb", io.inBytes.get / 1e6, "MB"),
      ("io.read_calls", io.readCalls.get.toDouble, "count"),
      ("expr.plan_ms", planPhaseMs.toDouble, "ms"),
      ("expr.exchanges", plan.count(_.isInstanceOf[Exchange]).toDouble, "count"),
      ("expr.frozen_leaves", plan.count(_.isInstanceOf[RDDScanExec]).toDouble, "count"),
      ("spark.jobs", probe.nJobs.get.toDouble, "count"),
      ("spark.stages", probe.nStages.get.toDouble, "count"),
      ("spark.tasks", probe.nTasks.get.toDouble, "count"),
      ("spark.sql_execs", probe.nSql.get.toDouble, "count"),
      ("spark.executor_run_s", probe.runMs.get / 1e3, "s"),
      ("spark.executor_cpu_s", probe.cpuNs.get / 1e9, "s"),
      ("spark.parallelism", probe.runMs.get / 1e3 / runS, "ratio"),
      ("spark.shuffle_write_mb", probe.shWrite.get / 1e6, "MB"),
      ("spark.shuffle_read_mb", probe.shRead.get / 1e6, "MB"),
      ("spark.spill_mb", probe.spill.get / 1e6, "MB"),
      ("spark.gc_s", gc / 1e3, "s"),
      ("spark.plan_ms", probe.planMs.get.toDouble, "ms")
    ) ++ jobLayerS.map { case (k, v) => (k, v, "s") } ++
      BuiltinOps.map(n => (s"operators.${n}_s", spanS(s"operators.$n"), "s")) ++
      ladder
    Map(
      "metrics" -> m.map { case (k, v, u) => k -> Seq(v, u) }.toMap,
      "attempted" -> 2,
      "failed" -> checks.size,
      "failures" -> checks)
  }

  val BuiltinOps = Seq("quality_filter", "clean_text", "fuzzy_dedup", "decontaminate",
    "lang_id", "text_stats", "pack_sequences")
}

/** The stage ladder: the pipeline's stage functions applied one at a time
  * to the input, each timed to a `noop` sink over the persisted, counted
  * output of the previous rung. Stages a workload's config leaves empty
  * still run (as the no-ops they are). */
object Ladder {
  def run(spark: SparkSession, in: Inputs, cfg0: GeneralConfig): Seq[(String, Double, String)] = {
    val cfg = cfg0.copy(guid = "ladder")
    val t = cfg.transformations
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def noop(df: DataFrame): Double =
      Main.seconds(df.write.format("noop").mode("overwrite").save())._1
    var live: DataFrame = null
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist()
      p.count()
      if (live != null) live.unpersist()
      live = p
      p
    }
    def rung(name: String, in0: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
      val o = f(in0)
      out += ((name, noop(o), "s"))
      pin(o)
    }
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val raw = pin(spark.read.parquet(in.src))
      val rowsIn = raw.count()
      val rules = RuleParser.compile(cfg.validation)
      def annotate(df: DataFrame) = df.transform(Transforms.addHashCol)
        .transform(Transforms.addProcessCols(cfg.processName, cfg.guid, cfg.srcPath,
          java.sql.Timestamp.from(java.time.Instant.now())))
        .transform(Validation.withErrorReason(rules))
      val invalid = Validation.split(annotate(raw))._2.count()
      val valid = rung("stages.validate_s", raw)(x => Validation.split(annotate(x))._1)
      out += (("stages.describe_pre_s", Main.seconds(noop(Inspect.describe(valid)))._1, "s"))
      var df = rung("stages.normalise_s", valid)(Transforms.normaliseStrCols)
      df = rung("stages.dedupe_s", df)(x =>
        x.transform(Transforms.deduplicateRows(t.dedupeCols))
          .transform(Transforms.unnestCols(t.unnestCols)))
      df = rung("stages.filter_s", df)(Transforms.filterRows(t.filterRules))
      df = rung("stages.fill_recast_clip_s", df)(x => x
        .transform(Transforms.fillNullsPerCol(t.fillMap))
        .transform(Transforms.recastCols(t.recastMap))
        .transform(Transforms.clipCols(t.clipMap)))
      df = rung("expr.derive_s", df)(Transforms.deriveNewCols(t.newColMap))
      df = rung("stages.rename_nest_drop_s", df)(x => x
        .transform(Transforms.renameCols(t.renameMap))
        .transform(Transforms.nestCols(t.nestCols))
        .transform(Transforms.dropCols(t.dropCols)))
      val ops = Operators.run(in, cfg, df, pin)
      out ++= ops.metrics
      df = rung("stages.select_standardise_s", ops.frame)(x => x
        .transform(Transforms.finalSelect(cfg.selectCols))
        .transform(Transforms.standardiseColNames))
      out += (("stages.describe_post_s", Main.seconds(noop(Inspect.describe(df)))._1, "s"))
      val rowsOut = df.count()
      out += (("stages.rows_in", rowsIn.toDouble, "count"),
        ("stages.rows_invalid", invalid.toDouble, "count"),
        ("stages.rows_out", rowsOut.toDouble, "count"))
      live.unpersist()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
    out.toSeq
  }
}

/** The custom-transformation part of the ladder: each configured registry
  * function applied in order (untimed here — the traced call's wrappers
  * time them), plus the minhash signature build timed alone on the cleaned
  * corpus and the fuzzy dedup's kept share and planted-duplicate recall. */
object Operators {
  final case class Result(frame: DataFrame, metrics: Seq[(String, Double, String)])

  def run(in: Inputs, cfg: GeneralConfig, df0: DataFrame,
      pin: DataFrame => DataFrame): Result = {
    val reg = BuiltinTransformations.registryWith(new SparkIO)
    var df = df0
    var minhashS, keptFrac, recall = 0.0
    cfg.customTransformations.foreach { case (name, kw) =>
      if (name == "fuzzy_dedup") {
        val idCol = kw("id_col").toString
        val ids = df.select(col(idCol)).collect().map(_.getLong(0)).toSet
        minhashS = Main.seconds(Dedup.minHashSignatures(df, idCol, kw("text_col").toString,
          kw("shingle_k").toString.toInt, kw("num_hashes").toString.toInt)
          .write.format("noop").mode("overwrite").save())._1
        val kept = pin(reg(name)(df, kw))
        val keptIds = kept.select(col(idCol)).collect().map(_.getLong(0)).toSet
        val removed = ids -- keptIds
        keptFrac = keptIds.size.toDouble / ids.size
        val planted = in.facts.dupClusters.map(_.size - 1).sum
        val hit = in.facts.dupClusters.map(c => math.min(c.count(removed), c.size - 1)).sum
        recall = if (planted == 0) 0.0 else hit.toDouble / planted
        df = kept
      } else df = pin(reg(name)(df, kw))
    }
    Result(df, Seq(
      ("operators.minhash_s", minhashS, "s"),
      ("operators.fuzzy_dedup.kept_frac", keptFrac, "ratio"),
      ("operators.fuzzy_dedup.planted_recall", recall, "ratio")))
  }
}
