package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

import graft.GraftSession

/** The benchmark runner: one JVM, one `GraftSession` on `local[cores]`, one
  * client running one workload's ops back to back.
  *
  * {{{
  * Main --workload W --input DIR --work DIR --ops N --max-seconds S --trace 0|1 --cores C
  *      --out FILE
  * }}}
  *
  * Set-up builds the session, registers the inputs and runs the workload's
  * untimed, checked warm-up ops; then N ops run (fewer only if they exceed
  * S seconds of op time). A fixed op count keeps every run at the same
  * point of the JIT warm-up curve, whatever the host's speed. With
  * `--trace 1` the ops run in groups (`Workload.traceGroup` ops each): one
  * untraced group that only settles the JIT, then groups in the order
  * untraced, traced, traced, untraced (repeated), so neither kind always
  * runs later on the warm-up curve; the spans and the Spark listeners are
  * attached only while a traced op runs.
  * The artifact then carries the per-layer numbers and the tracing
  * overhead (traced ÷ untraced median op time). Only path confs are set
  * (warehouse and local dirs); every planner conf is the engine's own. */
object Main {

  final case class OpRecord(
      index: Int, durS: Double, ok: Boolean, error: String, traced: Boolean, settle: Boolean,
      out: OpOutcome, after: Map[String, Double], result: Option[Map[String, Any]])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val in = a("input")
    val work = a("work")
    val ops = a("ops").toInt
    val maxSeconds = a("max-seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")
    new File(work).mkdirs()
    System.setProperty("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
    System.setProperty("spark.local.dir", new File(s"$work/local").getAbsolutePath)

    def uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val spark = GraftSession.localSpark(cores = cores, appName = "perfbench")
    val gs = GraftSession(spark)
    val sc = spark.sparkContext
    val sessionS = uptime
    val tr = new Tracer(sc)
    val wl = Workload(name, gs, tr, in, work)
    wl.register()
    val registeredS = uptime
    val warmResults = {
      val warm = wl.warmup()
      warm.flatMap(wl.check).foreach { m =>
        System.err.println(s"warm-up op failed its check: $m"); sys.exit(3)
      }
      warm.map(o => resultJson(o.result))
    }
    val setupS = uptime

    val info = Map(
      "setup_s" -> setupS,
      "setup_split_s" -> Map("session" -> sessionS, "register" -> (registeredS - sessionS),
        "warmup_ops" -> (setupS - registeredS)),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "cores" -> cores,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("--add-opens")))
    val ev = new SparkEvents
    val baseTemps = spark.catalog.listTables().collect().count(_.isTemporary)
    val records = mutable.ArrayBuffer[OpRecord]()
    // the time cap counts op time only; the untimed output checks between
    // ops do not use it up
    var measured = 0.0
    var i = 0
    while (i < ops && measured < maxSeconds && wl.hasNext) {
      val group = i / wl.traceGroup
      val settle = trace && group == 0
      tr.enabled = trace && !settle && Set(1, 2).contains((group - 1) % 4)
      tr.op = i
      if (tr.enabled) {
        sc.addSparkListener(ev)
        spark.listenerManager.register(ev)
      }
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s = System.nanoTime()
      val res =
        try Right(tr.span("op") { wl.op() })
        catch { case e: Throwable => Left(e) }
      val durS = (System.nanoTime() - s) / 1e9
      measured += durS
      if (tr.enabled) {
        // every event of the op is posted by now; deliver it, then detach
        org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc, 30000L)
        sc.removeSparkListener(ev)
        spark.listenerManager.unregister(ev)
      }
      val after =
        if (!tr.enabled) Map.empty[String, Double]
        else Map(
          "spark.codegen_compiles" ->
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
          "session.cached_relations" -> sc.getPersistentRDDs.size.toDouble,
          "session.temp_tables_left" -> (gs.registeredTempTables.size +
            spark.catalog.listTables().collect().count(_.isTemporary) - baseTemps).toDouble,
          "session.space_amp" -> spaceAmp(gs, s"$work/warehouse"))
      val traced = tr.enabled
      tr.enabled = false
      val rec = res match {
        case Right(o) =>
          val err = try wl.check(o) catch { case e: Throwable => Some(s"check threw: $e") }
          // keep only the result's hash, so no result rows stay on the heap
          OpRecord(i, durS, err.isEmpty, err.getOrElse(""), traced, settle, o.copy(result = None),
            after ++ wl.lastCounters, resultJson(o.result))
        case Left(e) =>
          OpRecord(i, durS, ok = false, s"op threw: $e", traced, settle, OpOutcome(0L), after, None)
      }
      if (!rec.ok) System.err.println(s"op $i failed: ${rec.error}")
      records += rec
      i += 1
    }

    // The least heap in use over at least three full GCs, more while it
    // keeps shrinking: Spark's ContextCleaner frees shuffle and broadcast
    // state only after a GC has found it unreachable, so one GC can
    // overstate what stays live.
    def liveMb(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val gcs = mutable.ArrayBuffer(liveMb(), liveMb(), liveMb())
    while (gcs.last < gcs.init.min * 0.99) gcs += liveMb()
    val heapMb = gcs.min

    val layers =
      if (!trace) Seq.empty
      else {
        records.filter(_.traced).map(r => Layers.perOp(tr.spans.filter(_.op == r.index).toSeq, ev,
          r.out, r.after, cores))
      }
    val result = info ++ Map(
      "workload" -> name,
      "heap_live_mb" -> heapMb,
      "warmup" -> warmResults,
      "ops" -> records.map(r => Map(
        "index" -> r.index, "dur_s" -> r.durS, "ok" -> r.ok, "error" -> r.error,
        "traced" -> r.traced, "settle" -> r.settle, "rows" -> r.out.rows,
        "result" -> r.result
      )).toSeq,
      "layers" -> layers.map(_._1),
      "steps" -> layers.map(_._2))
    Json.writeFile(out, result)
    spark.stop()
  }

  private def resultJson(r: Option[(Int, Seq[org.apache.spark.sql.Row])]) = r.map { case (k, rows) =>
    Map("request" -> k, "hash" -> Workload.resultHash(rows), "rows" -> rows.size)
  }

  /** Warehouse bytes on disk ÷ bytes in the files of live (catalog) tables. */
  private def spaceAmp(gs: GraftSession, warehouse: String): Double = {
    val spark = gs.spark
    val live = spark.catalog.listTables().collect().filterNot(_.isTemporary).toSeq.map { t =>
      spark.table(t.name).inputFiles.map(f => new File(new java.net.URI(f)).length()).sum
    }.sum
    if (live == 0) 0.0 else Workload.fileBytes(warehouse).toDouble / live
  }
}

/** The per-layer metrics of one traced op, and its per-step table. */
object Layers {
  private val Writes = Set("session.write", "session.transform", "session.append")
  private val Warehouse = Writes ++ Set("ops.merge", "ops.scd2")
  private val CheckSpans = Set("checks.column", "checks.table")

  def perOp(spans: Seq[Span], ev: SparkEvents, out: OpOutcome, after: Map[String, Double],
      cores: Int): (Map[String, Double], Seq[Map[String, Any]]) = {
    val root = spans.find(_.parent == -1).get
    val byId = spans.map(s => s.id -> s).toMap
    val opJobs = ev.jobs.values.asScala.filter(j => j.span.exists(byId.contains)).toSeq
    def jobsIn(names: Set[String]) = opJobs.filter(j => names.contains(byId(j.span.get).name))
    def incl(names: String*) = spans.filter(s => names.contains(s.name)).map(_.dur).sum / 1000.0
    def count(names: String*) = spans.count(s => names.contains(s.name)).toDouble
    def stagesOf(js: Seq[SparkEvents.Job]) =
      js.flatMap(_.stages).distinct.flatMap(id => Option(ev.stages.get(id)))
    val ran = stagesOf(opJobs)
    val listed = opJobs.flatMap(_.stages).distinct
    val jobIv = opJobs.map(j => (j.start.toDouble, (if (j.end < 0) j.start else j.end).toDouble))
    def dark(s: Span) = s.dur - Attribution.covered(jobIv, s.start, s.end)
    val wall = root.dur / 1000.0
    val widest = if (ran.isEmpty) None else Some(ran.maxBy(s => (s.tasks, s.end - s.start)))
    val plan = ev.phases.asScala
      .filter(p => p.name != "parsing" && p.start >= root.start && p.start <= root.end)
      .map(p => p.end - p.start).sum / 1000.0
    val writeBytes = stagesOf(jobsIn(Warehouse)).map(_.outBytes).sum.toDouble
    val checkJobs = jobsIn(CheckSpans).size.toDouble
    val m = Map(
      "session.write_s" -> incl(Writes.toSeq: _*),
      "session.write_bytes" -> writeBytes,
      "session.write_amp" -> (if (out.loadBytes > 0) writeBytes / out.loadBytes else 0.0),
      "session.cleanup_s" -> incl("session.cleanup"),
      "io.load_s" -> incl("io.load"),
      "io.load_bytes" -> out.loadBytes.toDouble,
      "io.export_s" -> incl("io.export"),
      "io.export_bytes" -> out.exportBytes.toDouble,
      "sql.translate_s" -> incl("sql.translate"),
      "sql.analyze_s" -> incl("sql.analyze"),
      "sql.calls" -> (count("sql.analyze") + count("session.transform")),
      "ops.merge_s" -> incl("ops.merge"),
      "ops.scd2_s" -> incl("ops.scd2"),
      "checks.check_s" -> incl(CheckSpans.toSeq: _*),
      "checks.jobs" -> (if (count(CheckSpans.toSeq: _*) == 0) 0.0
                        else checkJobs / count(CheckSpans.toSeq: _*)),
      "functions.quality_s" -> incl("functions.quality"),
      "functions.exact_dedup_s" -> incl("functions.exact_dedup"),
      "functions.near_dup_s" -> incl("functions.near_dup", "functions.keep"),
      "functions.plan_build_s" -> incl("functions.plan_build"),
      "functions.near_dup_pairs" -> after.getOrElse("near_dup_pairs", 0.0),
      "functions.dup_recall" -> after.getOrElse("dup_recall", 0.0),
      "functions.false_removals" -> after.getOrElse("false_removals", 0.0),
      "spark.plan_s" -> plan,
      "spark.dark_s" -> dark(root) / 1000.0,
      "spark.jobs" -> opJobs.size.toDouble,
      "spark.stages" -> ran.size.toDouble,
      "spark.skipped_stages" -> (listed.size - ran.size).toDouble,
      "spark.tasks" -> ran.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> listed.map(id => ev.failedTasks.getOrDefault(id, 0)).sum.toDouble,
      "spark.task_busy_ratio" -> ran.map(_.runMs).sum / 1000.0 / (wall * cores),
      "spark.widest_stage_s" -> widest.fold(0.0)(s => (s.end - s.start) / 1000.0),
      "spark.widest_stage_tasks" -> widest.fold(0.0)(_.tasks.toDouble),
      "spark.exec_cpu_s" -> ran.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ran.map(_.gcMs).sum / 1000.0,
      "spark.input_bytes" -> ran.map(_.inBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> ran.map(_.shWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ran.map(_.shRead).sum.toDouble,
      "spark.spill_bytes" -> ran.map(_.spill).sum.toDouble,
      "spark.output_bytes" -> ran.map(_.outBytes).sum.toDouble,
    ) ++ after.filter(_._1.contains('.'))
    val self = Attribution.selfTimes(spans)
    val steps = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      Map("step" -> n, "calls" -> ss.size,
        "incl_s" -> ss.map(_.dur).sum / 1000.0,
        "self_s" -> ss.map(s => self(s.id)).sum / 1000.0,
        "dark_s" -> ss.map(dark).sum / 1000.0,
        "jobs" -> opJobs.count(j => ss.exists(s => j.span.contains(s.id))))
    }
    (m, steps)
  }
}
