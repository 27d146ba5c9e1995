package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerDrain
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  QueryStageExec}

/** One operation attempt as measured: wall seconds from the call into the
  * layer to the last collected row, and whether it threw or differed from
  * the verified result.
  */
final case class Attempt(op: String, traced: Boolean, seconds: Double, ok: Boolean,
    error: String)

/** Benchmark JVM for one workload. It sets the session up `setups` times
  * (session start plus a warm-up pass that first-touches every operation),
  * runs one untimed pass and then `passes` timed passes over the op list
  * with one client, and writes `report.json`
  * (and `spans.jsonl` when tracing) into the output directory. Panel
  * results are checked here; registry results are dumped for the DuckDB
  * check in `run.py`. Every later result, in warm-up or timed, must equal
  * the verified one.
  *
  * Arguments: workload dataDir outDir passes trace(0|1) cpus setups assets
  * inject (comma list, or "-" for none).
  */
object Main {
  final case class Conf(workload: String, dataDir: String, outDir: String, passes: Int,
      trace: Boolean, cpus: Int, setups: Int, assets: Long, inject: Set[String])

  private object PlanWalk extends AdaptiveSparkPlanHelper

  def main(argv: Array[String]): Unit = {
    val a = argv.toIndexedSeq
    new Run(Conf(a(0), a(1), a(2), a(3).toInt, a(4) == "1", a(5).toInt, a(6).toInt,
      a(7).toLong, if (a(8) == "-") Set.empty else a(8).split(",").toSet)).run()
  }

  def json(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  /** Relative tolerance between a panel result and the verified one: the
    * distributed aggregates may sum in another order from run to run.
    */
  private val PanelTolerance = 1e-9

  /** Empty when `got` equals the verified rows `want`, else the first
    * difference. Registry results are compared exactly and in order (every
    * query orders and rounds its output); panel results ordered by their
    * non-double cells, doubles at [[PanelTolerance]].
    */
  def sameResult(want: Array[Row], got: Array[Row], exact: Boolean): String = {
    def keyed(rows: Array[Row]): Array[Row] =
      if (exact) rows
      else rows.sortBy(_.toSeq.filterNot(_.isInstanceOf[Double]).mkString("|"))
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) if x.isNaN || y.isNaN => x.isNaN && y.isNaN
      case (x: Double, y: Double) if !exact && !x.isInfinite && !y.isInfinite =>
        math.abs(x - y) <= PanelTolerance * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case _ => a == b
    }
    if (want.length != got.length) return s"${got.length} rows, verified ${want.length}"
    keyed(want).iterator.zip(keyed(got).iterator).zipWithIndex.collectFirst {
      case ((w, g), i) if w.length != g.length || (0 until w.length).exists(j =>
          !same(w.get(j), g.get(j))) => s"row $i is $g, verified $w"
    }.getOrElse("")
  }

  final class Run(c: Conf) {
    // injected ops go first so that even a short window attempts them
    private val ops: Seq[Op] = Workloads.injected(c.inject, c.workload, c.dataDir) ++
      (c.workload match {
        case "panel" => Workloads.panel
        case "queries_seq" => Workloads.registry(c.dataDir)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      })

    private var ctx: Ctx = _
    private var tracer: Tracer = _
    private var listener: WorkListener = _
    /** Per op: the verified result rows, or why the op is wrong. */
    private val verified = mutable.Map.empty[String, Either[String, Array[Row]]]
    private val warmSeconds = mutable.Map.empty[String, Double]
    private var inMemLeaves, allLeaves, leafRows = 0L
    /** JIT, GC and class loading during the traced window. */
    private var tracedJvm = JvmWork.Sample(0L, 0L, 0L)

    private def spark: SparkSession = ctx.spark

    /** The session settings of the library's own harnesses, with every file
      * Spark writes kept under the output directory.
      */
    private def startSession(): Unit = {
      val s = SparkSession.builder()
        .master(s"local[${c.cpus}]")
        .appName(s"perfbench-${c.workload}")
        .config("spark.sql.shuffle.partitions", c.cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", s"${c.outDir}/spark-warehouse")
        .config("spark.local.dir", s"${c.outDir}/spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      ctx = new Ctx(s, c.dataDir, c.assets)
      tracer = new Tracer
      listener = new WorkListener(() => tracer.current)
      if (c.trace) setTracing(true)
      if (c.workload == "panel") ctx.panel.materialize()
    }

    private def stopSession(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    /** Tracing on attaches the listener and records spans; off drains and
      * detaches it.
      */
    private def setTracing(on: Boolean): Unit = {
      if (on) spark.sparkContext.addSparkListener(listener)
      else {
        ListenerDrain.waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracer.enabled = on
    }

    /** Runs `op` once: build (the layer call), plan, execute (collecting
      * every row into this JVM). Returns the seconds taken, the frame and
      * the rows.
      */
    private def execute(op: Op, root: String): (Double, DataFrame, Array[Row]) = {
      val attempt = tracer.newAttempt()
      val t0 = System.nanoTime()
      var rows: Array[Row] = null
      var df: DataFrame = null
      tracer.span(attempt, op.name, root, op.layer) {
        df = tracer.span(attempt, op.name, "build", op.layer)(op.run(ctx))
        tracer.span(attempt, op.name, "plan", "spark")(df.queryExecution.executedPlan)
        rows = tracer.span(attempt, op.name, "execute", "spark")(df.collect())
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (tracer.enabled) countLeaves(df)
      (secs, df, rows)
    }

    /** Leaf scans of the executed plan (through adaptive query stages): how
      * many read cached data, and how many rows they produced.
      */
    private def countLeaves(df: DataFrame): Unit = {
      val leaves = PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
        case p if p.children.isEmpty && !p.isInstanceOf[QueryStageExec] &&
            !p.isInstanceOf[AdaptiveSparkPlanExec] && !p.nodeName.startsWith("Reused") => p
      }
      allLeaves += leaves.size
      inMemLeaves += leaves.count(_.nodeName.startsWith("InMemoryTableScan"))
      leafRows += leaves.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    }

    private def describe(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

    /** Why `rows` is not the verified result of `op`; empty when it is. */
    private def mismatch(op: Op, rows: Array[Row]): String = verified(op.name) match {
      case Left(err) => err
      case Right(want) => sameResult(want, rows, exact = op.oracleSql.isDefined)
    }

    /** The warm-up pass: first execution of each op in a session. The first
      * session establishes each op's verified result: the pinned check for
      * panel ops; for registry ops the rows are dumped and checked against
      * DuckDB afterwards. Later sessions must reproduce it. Returns the
      * seconds spent checking, which set-up excludes.
      */
    private def warmUp(first: Boolean): Double = {
      var checkSecs = 0.0
      ops.foreach { op =>
        try {
          val (secs, df, rows) = execute(op, "warmup")
          warmSeconds(op.name) = secs
          val t0 = System.nanoTime()
          if (first) {
            op.check.foreach(f => f(ctx.panel, rows.toSeq))
            if (op.oracleSql.isDefined)
              spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
                .write.mode("overwrite").parquet(s"${c.outDir}/results/${op.name}")
            verified(op.name) = Right(rows)
          } else if (verified(op.name).isRight) {
            val err = mismatch(op, rows)
            if (err.nonEmpty) verified(op.name) = Left(s"warm-up in a later session: $err")
          }
          checkSecs += (System.nanoTime() - t0) / 1e9
        } catch {
          case NonFatal(e) => verified(op.name) = Left(describe(e))
        }
        println(s"warm-up ${op.name} ${warmSeconds.getOrElse(op.name, Double.NaN)} s " +
          verified.get(op.name).flatMap(_.left.toOption).getOrElse("ok"))
      }
      checkSecs
    }

    /** One pass over the op list in its fixed order, each attempt checked
      * against the verified result and recorded under the root span `root`.
      * Logs the pass time with the JIT and GC time and the classes loaded
      * during it, and returns the seconds and that JVM work.
      */
    private def pass(root: String, traced: Boolean,
        into: mutable.Buffer[Attempt]): (Double, JvmWork.Sample) = {
      val t0 = System.nanoTime()
      val jvm0 = JvmWork.sample()
      ops.foreach { op =>
        into += (try {
          val (secs, _, rows) = execute(op, root)
          val err = mismatch(op, rows)
          Attempt(op.name, traced, secs, ok = err.isEmpty, err)
        } catch {
          case NonFatal(e) => Attempt(op.name, traced, Double.NaN, ok = false, describe(e))
        })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val d = JvmWork.sample().minus(jvm0)
      println(f"$root pass $secs%.3f s, jit ${d.jitMs / 1e3}%.3f s, " +
        f"gc ${d.gcMs / 1e3}%.3f s, ${d.classes} classes loaded")
      (secs, d)
    }

    /** Closed loop, one client: `passes` whole passes over the op list. A
      * traced run alternates untraced and traced passes, so both halves sit
      * at the same point of the JIT warm-up curve. Returns the seconds of
      * the untraced and of the traced passes.
      */
    private def window(passes: Int, into: mutable.Buffer[Attempt]): (Double, Double) = {
      var untracedS, tracedS = 0.0
      (0 until passes).foreach { i =>
        val traced = c.trace && i % 2 == 1
        if (c.trace) setTracing(traced)
        val (secs, jvm) = pass("op", traced, into)
        if (traced) {
          tracedS += secs
          tracedJvm = tracedJvm.plus(jvm)
        } else untracedS += secs
      }
      if (c.trace) setTracing(false)
      (untracedS, tracedS)
    }

    def run(): Unit = {
      Files.createDirectories(Paths.get(c.outDir))
      val load0 = HostLoad.sample()
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val setups = (0 until c.setups).map { i =>
        val t0Ms = if (i == 0) jvmStartMs else System.currentTimeMillis()
        if (i > 0) stopSession()
        startSession()
        val checkSecs = warmUp(first = i == 0)
        (System.currentTimeMillis() - t0Ms) / 1e3 - checkSecs
      }
      // untimed: the first pass after a set-up is the first with every
      // session cache hot, and runs ~2x slower while that code is compiled
      pass("settle", traced = false, mutable.ArrayBuffer.empty[Attempt])
      val stat0 = HostLoad.procStat()
      val jvm0 = JvmWork.sample()
      val attempts = mutable.ArrayBuffer.empty[Attempt]
      val (untracedS, tracedS) = window(c.passes, attempts)
      val inWindow = JvmWork.sample().minus(jvm0)
      val stat1 = HostLoad.procStat()
      val cacheMb = spark.sparkContext.getRDDStorageInfo
        .map(s => s.memSize + s.diskSize).sum / 1048576.0
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      val load1 = HostLoad.sample()
      val perLayer =
        if (c.trace) layerMetrics(attempts.toSeq, cacheMb, heapPeakMb)
        else Map.empty[String, Double]
      if (c.trace) writeSpans()
      val report = Map(
        "workload" -> c.workload, "cpus" -> c.cpus,
        "setup_s" -> setups, "window_s" -> Map("untraced" -> untracedS, "traced" -> tracedS),
        "cache_mb" -> cacheMb,
        "load" -> Map("loadavg_pre" -> load0.loadavg, "loadavg_post" -> load1.loadavg,
          "calib_pre_ms" -> load0.calibMs, "calib_post_ms" -> load1.calibMs,
          "cpu_busy_frac" -> HostLoad.frac(stat0, stat1, _.busy),
          "cpu_steal_frac" -> HostLoad.frac(stat0, stat1, _.steal)),
        "jvm_in_window" -> Map("jit_compile_s" -> inWindow.jitMs / 1e3,
          "gc_s" -> inWindow.gcMs / 1e3, "classes_loaded" -> inWindow.classes),
        "ops" -> ops.map(op => op.name -> Map(
          "tag" -> op.tag, "layer" -> op.layer, "warm_s" -> warmSeconds.get(op.name),
          "verified" -> verified.get(op.name).exists(_.isRight),
          "error" -> verified.get(op.name).flatMap(_.left.toOption),
          "oracle_sql" -> op.oracleSql)).toMap,
        "all_ops" -> (Workloads.registryOps.map(_._1) ++ Workloads.panel.map(_.name)),
        "attempts" -> attempts.map(x => Map("op" -> x.op, "traced" -> x.traced,
          "s" -> x.seconds, "ok" -> x.ok, "error" -> x.error)),
        "per_layer" -> perLayer)
      Files.write(Paths.get(c.outDir, "report.json"), json(report).getBytes(UTF_8))
      stopSession()
    }

    /** Per-layer metrics of the traced window. Times and counts are means
      * per operation attempt; cache and heap figures are end-of-run state.
      */
    private def layerMetrics(attempts: Seq[Attempt], cacheMb: Double,
        heapPeakMb: Double): Map[String, Double] = {
      val spans = tracer.allSpans
      val roots = spans.filter(_.name == "op")
      val layerOf = roots.map(s => s.attempt -> s.layer).toMap
      val inWindow = spans.filter(s => layerOf.contains(s.attempt))
      val n = math.max(1, roots.size).toDouble
      def secs(name: String, layers: Set[String] = Set("queries", "api", "spark")): Double =
        inWindow.filter(s => s.name == name && layers(s.layer)).map(_.seconds).sum / n
      def buildJobs(layer: String): Double = listener.total(o =>
        o.phase == "build" && layerOf.get(o.attempt).contains(layer)).jobs / n
      val all = listener.total(o => layerOf.contains(o.attempt))
      val mb = 1048576.0
      val timedMedian = attempts.filter(a => a.traced && a.ok).groupBy(_.op)
        .map { case (k, xs) => k -> Stats.median(xs.map(_.seconds)) }
      Map(
        "queries.build_s" -> secs("build", Set("queries")),
        "queries.build_jobs" -> buildJobs("queries"),
        "api.build_s" -> secs("build", Set("api")),
        "api.build_jobs" -> buildJobs("api"),
        "spark.plan_s" -> secs("plan"),
        "spark.exec_s" -> secs("execute"),
        "spark.task_cpu_s" -> all.cpuNs / 1e9 / n,
        "spark.gc_s" -> all.gcMs / 1e3 / n,
        "spark.jobs" -> all.jobs / n,
        "spark.stages" -> all.stages / n,
        "spark.tasks" -> all.tasks / n,
        "spark.sched_delay_s" -> all.schedWaitMs / 1e3 / n,
        "spark.scan_mb" -> all.inputBytes / mb / n,
        "spark.shuffle_write_mb" -> all.shuffleWriteBytes / mb / n,
        "spark.shuffle_read_mb" -> all.shuffleReadBytes / mb / n,
        "spark.spill_mb" -> all.spillBytes / mb / n,
        "spark.shuffle_rows_per_input_row" ->
          (if (leafRows == 0) 0.0 else all.shuffleWriteRecords.toDouble / leafRows),
        "spark.failed_tasks" -> all.failedTasks.toDouble,
        "cache.entries" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "cache.mb" -> cacheMb,
        "cache.warm_extra_s" -> warmSeconds.map { case (k, w) =>
          timedMedian.get(k).map(w - _).getOrElse(0.0) }.sum,
        "cache.inmem_scan_frac" -> (if (allLeaves == 0) 0.0 else inMemLeaves.toDouble / allLeaves),
        "jvm.heap_peak_mb" -> heapPeakMb,
        "jvm.classes_loaded" -> tracedJvm.classes / n,
        "jvm.jit_compile_s" -> tracedJvm.jitMs / 1e3 / n)
    }

    /** Every span with the listener counts of its (attempt, phase), then one
      * line of self time per span name.
      */
    private def writeSpans(): Unit = {
      val spans = tracer.allSpans.sortBy(_.id)
      val lines = spans.map { s =>
        json(Map("id" -> s.id, "parent" -> s.parent, "attempt" -> s.attempt, "op" -> s.op,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "counts" -> listener.counts.get(Origin(s.attempt, s.name)).map(_.toMap)))
      }
      val self = json(Map("self_s" -> tracer.selfSeconds(spans)))
      Files.write(Paths.get(c.outDir, "spans.jsonl"),
        (lines :+ self).mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}

/** JIT compilation time, GC time and classes loaded by this JVM so far.
  * Spark compiles generated code into new classes whenever its codegen
  * cache misses, and the JIT then compiles those, so classes loaded per
  * operation show how much code a warm operation still generates.
  */
object JvmWork {
  final case class Sample(jitMs: Long, gcMs: Long, classes: Long) {
    def minus(o: Sample): Sample = Sample(jitMs - o.jitMs, gcMs - o.gcMs, classes - o.classes)
    def plus(o: Sample): Sample = Sample(jitMs + o.jitMs, gcMs + o.gcMs, classes + o.classes)
  }

  def sample(): Sample = Sample(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Host-load evidence: 1-minute loadavg, a fixed-work single-thread
  * calibration loop, and `/proc/stat` busy jiffies.
  */
object HostLoad {
  final case class Sample(loadavg: Double, calibMs: Double)

  def sample(): Sample = Sample(loadavg(), calibMs())

  def loadavg(): Double = try {
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
  } catch { case NonFatal(_) => -1.0 }

  /** Jiffies over all CPUs: busy, stolen by the hypervisor, and total. */
  final case class Jiffies(busy: Long, steal: Long, total: Long)

  def procStat(): Jiffies = try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    Jiffies(f.sum - f(3) - (if (f.length > 4) f(4) else 0L), if (f.length > 7) f(7) else 0L,
      f.sum)
  } catch { case NonFatal(_) => Jiffies(0L, 0L, 0L) }

  /** Share of the jiffies between `a` and `b` that `part` selects. */
  def frac(a: Jiffies, b: Jiffies, part: Jiffies => Long): Double =
    if (b.total > a.total) (part(b) - part(a)).toDouble / (b.total - a.total) else -1.0

  /** Min of three 30M-step xorshift chains, in ms. */
  def calibMs(): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println()
    (System.nanoTime() - t0) / 1e6
  }.min
}
