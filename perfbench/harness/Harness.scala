package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.jobs.{PipelineConfig, PipelineRunner}
import graft.queries.Registry
import graft.sources.{LakePaths, SpineCache}

/** JVM side of the layered benchmark. `run.py` launches it, times its
  * set-up from outside (launch until the `PERFBENCH READY` line), and
  * reads the JSON record it writes when the measurement window ends.
  *
  * It drives the program only through public entry points: `Q.run` and
  * Dataset actions for registry queries, `PipelineRunner.run` for the
  * medallion pipeline, and `SpineCache`'s on-disk tables. Every layer is
  * timed from out here:
  *   - construct: the `Q.run` call (the builder returns a DataFrame, but
  *     may run Spark jobs first: eager materialize, gate counts, spines);
  *   - plan: `queryExecution.executedPlan`;
  *   - exec: `collect()` of that same planned query.
  *
  * With `--trace 1` a listener attributes every Spark job to its query,
  * phase and module; without it no listener is registered, so the
  * end-to-end figures carry no tracing cost.
  *
  * Usage: Harness --mode registry|pipeline|setup --seconds S --trace 0|1
  *   --out FILE [--data DIR --queries FILE --dump DIR --passes N --warmup N]
  *   [--input DIR --lake DIR --folds N]
  */
object Harness {

  /** Module attribution targets: the program's packages `graft.<m>`. */
  val Modules: Seq[String] = Seq("operators", "functions", "plans", "dedup",
    "sim", "text", "marchmania", "ml", "sources", "jobs", "queries")
  /** Jobs whose call site has no `graft.<m>` frame but that the harness
    * itself submitted: the exec-phase `collect()` of a query's DataFrame. */
  val HarnessBucket = "harness"
  private val ModuleFrame =
    ("""^\s*(?:at\s+)?graft\.(""" + Modules.mkString("|") + """)\.""").r
  private val QueryProp = "perfbench.query"
  private val PhaseProp = "perfbench.phase"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val mode = args("mode")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus)
    warmUp(spark)
    println("PERFBENCH READY")
    System.out.flush()
    if (mode != "setup") {
      val trace = args("trace") == "1"
      val newTracer = () => if (trace) Some(new Tracer(spark)) else None
      val record = mode match {
        case "registry" => registry(spark, args, newTracer)
        case "pipeline" => pipeline(spark, args, newTracer())
      }
      Files.writeString(Paths.get(args("out")), Json.render(
        record + ("modules" -> (Modules :+ HarnessBucket))))
    }
    spark.stop()
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      // same scan-parallelism floor as graft.Bench and graft.Verify
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up that every timed call would otherwise pay first: the
    * session's first job and its codegen. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("sum(id)").collect()

  private def pipelineConfig(spark: SparkSession): PipelineConfig =
    PipelineConfig(shufflePartitions = spark.sparkContext.defaultParallelism)

  // ---------------------------------------------------------------- registry

  private def registry(spark: SparkSession, args: Map[String, String],
      newTracer: () => Option[Tracer]): Map[String, Any] = {
    val dir = args("data")
    val byName = Registry.byName
    // "*" stands for the whole registry (the strata probe)
    val names = Files.readAllLines(Paths.get(args("queries"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq match {
        case Seq("*") => byName.keys.toSeq.sorted
        case ns => ns
      }
    val queries = names.map(byName)
    val dump = args.get("dump")
    // the oracle SQL of the sample, in the layout tools/check.py reads
    dump.foreach { d =>
      new File(d).mkdirs()
      Files.writeString(Paths.get(d, "oracle_sql.json"), Json.render(
        queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    }
    val dumped = mutable.Set.empty[String]
    val spines = new SpineWatch
    val sc = spark.sparkContext

    def runQuery(q: graft.queries.Q, id: String, window: Window): Map[String, Any] = {
      sc.setLocalProperty(QueryProp, id)
      val t0 = System.nanoTime()
      var t1, t2 = t0
      var rows: Array[org.apache.spark.sql.Row] = null
      var df: DataFrame = null
      val err = try {
        sc.setLocalProperty(PhaseProp, "construct")
        df = q.run(spark, dir)
        t1 = System.nanoTime()
        sc.setLocalProperty(PhaseProp, "plan")
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        sc.setLocalProperty(PhaseProp, "exec")
        rows = df.collect()
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      val t3 = System.nanoTime()
      sc.setLocalProperty(PhaseProp, null)
      sc.setLocalProperty(QueryProp, null)
      err.foreach(m => System.err.println(s"[perfbench] ${q.name} FAILED: $m"))
      // outside the timed window: blocks still alive, spines built,
      // the result dump for the oracle check, then cache hygiene
      val blocks = sc.getPersistentRDDs.size
      val (builds, bytes) = spines.poll()
      if (err.isEmpty && dump.isDefined && dumped.add(q.name))
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${dump.get}/${q.name}")
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Map("id" -> id, "name" -> q.name,
        "ok" -> err.isEmpty, "start_ms" -> window.epochMs(t0),
        "construct" -> Seq(window.epochMs(t0), window.epochMs(t1)),
        "plan" -> Seq(window.epochMs(t1), window.epochMs(t2)),
        "exec" -> Seq(window.epochMs(t2), window.epochMs(t3)),
        "wall_s" -> (t3 - t0) / 1e9, "construct_s" -> (t1 - t0) / 1e9,
        "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
        "blocks" -> blocks, "spine_builds" -> builds, "spine_bytes" -> bytes)
    }
    // cold-spine discipline, as in graft.Bench: each pass rebuilds every
    // spine it reaches from the parquet inputs
    def pass(id: String, window: Window): Seq[Map[String, Any]] = {
      SpineCache.clear()
      spines.reset()
      queries.map(q => runQuery(q, s"$id.${q.name}", window))
    }

    // The registry serves queries from a long-lived session, so the timed
    // passes are warm: untimed passes first compile the sample's code
    // (their wall is reported as warmup_s), and the first dumps each result.
    val t0 = System.nanoTime()
    val warmRuns = (1 to args.getOrElse("warmup", "5").toInt)
      .flatMap(i => pass(s"warmup$i", new Window(spark, 0, Some(1))))
    val warm = Map("warmup_s" -> (System.nanoTime() - t0) / 1e9,
      "warmup_runs" -> warmRuns.size,
      "warmup_failed" -> warmRuns.count(r => r("ok") == false))
    val tracer = newTracer()
    val window = new Window(spark, args("seconds").toDouble,
      args.get("passes").map(_.toInt))
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    window.run(p => runs ++= pass(s"p$p", window).map(_ + ("pass" -> p)))
    window.record ++ warm ++ Map("runs" -> runs.toSeq) ++
      tracer.map(_.finish()).getOrElse(Map.empty)
  }

  // ---------------------------------------------------------------- pipeline

  private def pipeline(spark: SparkSession, args: Map[String, String],
      tracer: Option[Tracer]): Map[String, Any] = {
    val input = args("input")
    val lakeRoot = args("lake")
    val folds = args("folds").toInt
    val window = new Window(spark, args("seconds").toDouble,
      args.get("passes").map(_.toInt))
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    window.run { pass =>
      val id = s"p$pass.pipeline"
      val lake = s"$lakeRoot/$pass"
      val export = s"$lake/export/submission.csv"
      val sc = spark.sparkContext
      sc.setLocalProperty(QueryProp, id)
      sc.setLocalProperty(PhaseProp, "exec")
      val t0 = System.nanoTime()
      val res = try Right(PipelineRunner.run(spark, input, lake,
          pipelineConfig(spark), Some(export), None))
        catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseProp, null)
      sc.setLocalProperty(QueryProp, null)
      res.left.foreach(m => System.err.println(s"[perfbench] pipeline FAILED: $m"))
      // outside the timed window: lake size and the pipeline invariants
      val (bytes, files) = treeSize(new File(lake))
      val violations = res.toOption.map(r =>
        pipelineViolations(spark, r, lake, export, folds)).getOrElse(Seq("failed"))
      violations.foreach(v => System.err.println(s"[perfbench] invariant: $v"))
      val checksum = res.toOption.map(_ => goldChecksum(spark, lake)).getOrElse("")
      deleteRec(new File(lake))
      runs += Map("id" -> id, "name" -> "pipeline", "pass" -> pass,
        "ok" -> res.isRight, "start_ms" -> window.epochMs(t0),
        "exec" -> Seq(window.epochMs(t0), window.epochMs(t1)),
        "wall_s" -> (t1 - t0) / 1e9, "exec_s" -> (t1 - t0) / 1e9,
        "lake_bytes" -> bytes,
        "lake_files" -> files, "violations" -> violations,
        "gold_checksum" -> checksum)
    }
    window.record ++ Map("runs" -> runs.toSeq) ++
      tracer.map(_.finish()).getOrElse(Map.empty)
  }

  private def pipelineViolations(spark: SparkSession,
      r: PipelineRunner.Result, lake: String, export: String,
      folds: Int): Seq[String] = {
    val lines = Files.readAllLines(Paths.get(export)).asScala
    val preds = lines.drop(1).map(l => l.substring(l.lastIndexOf(',') + 1).toDouble)
    val paths = LakePaths(lake)
    def partitioned(p: String) = Option(new File(p).list()).toSeq.flatten
      .exists(_.startsWith("Season="))
    Seq(
      (r.backtest.size != folds) -> s"${r.backtest.size} backtest folds, expected $folds",
      r.backtest.exists(_.auc.isNaN) -> "a backtest fold has NaN AUC",
      (lines.size != r.goldRows + 1) -> s"${lines.size} submission lines for ${r.goldRows} gold rows",
      preds.exists(p => !(p >= 0.0 && p <= 1.0)) -> "a Pred lies outside [0, 1]",
      !(Seq("team_season_stats", "elo_ratings", "rolling_last_per_season")
        .map(paths.silver("M", _)) :+ paths.gold("M", "training_matchups"))
        .forall(partitioned) -> "a silver/gold table lacks Season= partitions"
    ).collect { case (true, msg) => msg }
  }

  private def goldChecksum(spark: SparkSession, lake: String): String =
    spark.read.parquet(LakePaths(lake).gold("M", "training_matchups"))
      .selectExpr("count(*)", "sum(cast(xxhash64(*) as decimal(38,0)))")
      .head().toSeq.mkString(":")

  // ---------------------------------------------------------------- helpers

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }

  private def treeSize(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      (f.length, 1L)
    else (0L, 0L)

  /** Spine tables SpineCache publishes under its per-process root
    * `graft_spines_<pid>_*` in java.io.tmpdir: new directories since the
    * last poll are the builds of the query that just ran. */
  private final class SpineWatch {
    private val seen = mutable.Set.empty[String]
    private def roots: Seq[File] = Option(new File(sys.props("java.io.tmpdir"))
      .listFiles()).toSeq.flatten.filter(_.getName.startsWith(
        s"graft_spines_${ProcessHandle.current().pid()}_"))
    def reset(): Unit = seen.clear()
    def poll(): (Int, Long) = {
      val fresh = roots.flatMap(r => Option(r.listFiles()).toSeq.flatten)
        .filter(d => !d.getName.startsWith(".") && seen.add(d.getPath))
      (fresh.size, fresh.map(d => treeSize(d)._1).sum)
    }
  }

  /** The measurement window: passes run back to back (a closed loop of one
    * client) while less than `seconds` have elapsed, or exactly `passes`
    * times; a started pass completes. Host, process and JVM counters are
    * taken at the window's edges. */
  private final class Window(spark: SparkSession, seconds: Double,
      passes: Option[Int]) {
    private val nano0 = System.nanoTime()
    private val epoch0 = System.currentTimeMillis().toDouble
    def epochMs(nano: Long): Double = epoch0 + (nano - nano0) / 1e6

    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    private val codegen = org.apache.spark.metrics.source.CodegenMetrics
    private val passWall = mutable.ArrayBuffer.empty[Double]
    private val passCpu = mutable.ArrayBuffer.empty[Double]
    private var extra = Map.empty[String, Any]

    def run(body: Int => Unit): Unit = {
      heapPools.foreach(_.resetPeakUsage())
      val host0 = hostTicks()
      val gc0 = gcMs
      val compiles0 = codegen.METRIC_COMPILATION_TIME.getCount
      val start = System.nanoTime()
      var pass = 0
      while (passes.fold((System.nanoTime() - start) / 1e9 < seconds)(pass < _)) {
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        body(pass)
        passWall += (System.nanoTime() - t0) / 1e9
        passCpu += (os.getProcessCpuTime - c0) / 1e9
        pass += 1
      }
      val host1 = hostTicks()
      val compiles = codegen.METRIC_COMPILATION_TIME.getCount - compiles0
      extra = Map(
        "window_s" -> (System.nanoTime() - start) / 1e9,
        "gc_s" -> (gcMs - gc0) / 1e3,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "codegen_classes" -> compiles,
        // the histogram keeps a sample of compile times, so the total is
        // its mean times the count
        "codegen_compile_s" -> compiles *
          codegen.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3,
        "host_steal_s" -> (host1("steal") - host0("steal")) / 100.0,
        "host_iowait_s" -> (host1("iowait") - host0("iowait")) / 100.0)
    }

    def record: Map[String, Any] = extra ++ Map(
      "pass_wall_s" -> passWall.toSeq, "pass_cpu_s" -> passCpu.toSeq,
      "peak_rss_mb" -> peakRssMb)
  }

  /** Aggregate CPU ticks (USER_HZ = 100) from /proc/stat. */
  private def hostTicks(): Map[String, Long] = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
    Map("iowait" -> f(4), "steal" -> (if (f.length > 7) f(7) else 0L))
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  // ---------------------------------------------------------------- tracing

  /** Listener for the traced run. Jobs and stages carry the local
    * properties of the thread that submitted them (broadcast and AQE
    * threads inherit them), so each is charged to its query and phase by
    * property, not by timing, and the async listener bus cannot misfile
    * one. The module is the innermost `graft.<m>` frame of the job's call
    * site, or of its SQL execution's call site when the job ran on a
    * broadcast/AQE thread; that needs -Dspark.callstack.depth raised.
    * A job with no such frame that the harness submitted is charged to
    * `HarnessBucket`, any other to "unattributed". */
  final class Tracer(spark: SparkSession) extends SparkListener {
    private case class Job(id: Int, query: String, phase: String,
        site: String, callSite: String, execId: Option[Long], start: Long) {
      @volatile var end: Long = -1L
    }
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile private var marker = -1
    @volatile private var drained = false

    spark.sparkContext.addSparkListener(this)

    private def prop(p: java.util.Properties, k: String): String =
      Option(p).flatMap(x => Option(x.getProperty(k))).orNull

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      if (prop(p, QueryProp) == "__drain__") { marker = e.jobId; return }
      // a result stage carries its job's call site; it is created after
      // its parents, so it has the job's highest stage id
      val result = e.stageInfos.maxByOption(_.stageId)
      val j = Job(e.jobId, prop(p, QueryProp), prop(p, PhaseProp),
        Option(prop(p, "callSite.short")).orElse(result.map(_.name)).orNull,
        Option(prop(p, "callSite.long")).orElse(result.map(_.details)).getOrElse(""),
        Option(prop(p, "spark.sql.execution.id")).map(_.toLong), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == marker) drained = true
      else Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, s.details)
      case _ =>
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null && stageJob.containsKey(i.stageId))
        stages.add(Map("job" -> stageJob.get(i.stageId), "tasks" -> i.numTasks,
          "task_run_s" -> m.executorRunTime / 1e3,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

    def module(j: Job): String = {
      def inner(site: String) = site.linesIterator
        .flatMap(l => ModuleFrame.findFirstMatchIn(l).map(_.group(1))).nextOption()
      val sites = j.callSite +: j.execId.flatMap(x => Option(execSites.get(x))).toSeq
      sites.flatMap(inner).headOption
        .orElse(sites.find(_.contains("perfbench.Harness")).map(_ => HarnessBucket))
        .getOrElse("unattributed")
    }

    /** Wait until the listener has seen every event posted so far (a
      * marker job's end arrives after them all), then export the spans. */
    def finish(): Map[String, Any] = {
      val sc = spark.sparkContext
      sc.setLocalProperty(QueryProp, "__drain__")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(QueryProp, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      val byJob = stages.asScala.toSeq.groupBy(_("job").asInstanceOf[Int])
      def sum(rows: Seq[Map[String, Any]], k: String): Double =
        rows.map(_(k) match {
          case n: Int => n.toDouble
          case n: Long => n.toDouble
          case n: Double => n
        }).sum
      val spans = jobs.values.asScala.toSeq.filter(_.query != null).sortBy(_.id)
        .map { j =>
          val st = byJob.getOrElse(j.id, Seq.empty)
          val site = j.callSite
          Map("job" -> j.id, "query" -> j.query, "phase" -> j.phase,
            "module" -> module(j), "site" -> j.site,
            "materialize" -> site.contains("graft.Materialize"),
            "spine" -> site.contains("graft.sources.SpineCache"),
            "start_ms" -> j.start.toDouble,
            "end_ms" -> (if (j.end < 0) j.start else j.end).toDouble,
            "stages" -> st.size, "tasks" -> sum(st, "tasks"),
            "task_run_s" -> sum(st, "task_run_s"),
            "shuffle_write_bytes" -> sum(st, "shuffle_write_bytes"),
            "input_bytes" -> sum(st, "input_bytes"),
            "spill_bytes" -> sum(st, "spill_bytes"))
        }
      Map("jobs" -> spans)
    }
  }

  /** Minimal JSON writer for the record (maps, sequences, numbers,
    * strings, booleans). */
  object Json {
    def render(v: Any): String = v match {
      case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
      case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
      case s: String => q(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case null => "null"
      case o => q(o.toString)
    }
    private def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
