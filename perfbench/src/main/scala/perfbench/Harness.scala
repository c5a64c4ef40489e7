package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One benchmark run inside one JVM: set up the program, run a plan of
  * operations in a closed loop on one thread, and write what it measured.
  *
  * Usage: `perfbench.Harness key=value ...` with keys
  *   - `workload`: sql_adhoc | olap_repeat | pipeline_snapshot
  *   - `data`: directory of the input parquet tables
  *   - `plan`: file of timed operations, one per line: `kind<TAB>payload`.
  *     For sql_adhoc the payload is a statement for `GraftEngine.run`;
  *     otherwise it is a `SparkEntry.queries` key.
  *   - `master`: Spark master, e.g. `local[4]`
  *   - `trace`: 1 records spans and listener counters, 0 does not
  *   - `out`, `rows`: result JSON file and per-operation result rows (JSONL)
  *   - `oracles` (optional): file to write the DuckDB oracle SQL of the
  *     plan's keys to
  *
  * Only public entry points of the program are called: `GraftSession.build`,
  * `Tables`, `GraftEngine.run`/`createParquetTable`,
  * `Pipeline.prebuildModels` and `SparkEntry.queries`, plus the
  * between-query cache purge `graft.Bench` applies.
  */
object Harness extends AdaptiveSparkPlanHelper {

  final case class Op(id: Int, kind: String, payload: String)

  final case class OpResult(op: Op, t0: Long, t1: Long, ok: Boolean, err: String,
      nrows: Long, buildS: Double, planS: Double, analysisS: Double, optimizationS: Double,
      planningS: Double, wscgStages: Int)

  def main(args: Array[String]): Unit = {
    val cfg = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = cfg("workload")
    val dataDir = cfg("data")
    val trace = cfg.getOrElse("trace", "0") == "1"
    val ops = Files.readAllLines(Paths.get(cfg("plan")), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
        val p = l.split("\t", 2); Op(i, p(0), p(1))
      }.toIndexedSeq

    val clock = new Clock
    val rt = ManagementFactory.getRuntimeMXBean
    val jvmStartS = (rt.getStartTime - clock.epochMs0) / 1e3 // negative: before base

    // ---- set-up: session, tables -------------------------------------
    val tb0 = clock.now()
    val spark = graft.GraftSession.build(master = cfg("master"), appName = "perfbench")
    val tb1 = clock.now()
    val width = graft.Tables.applySessionWidth(spark, dataDir)
    val engine = if (workload == "sql_adhoc") Some(new graft.engine.GraftEngine(spark)) else None
    graft.Tables.all.foreach { t =>
      val path = s"$dataDir/$t.parquet"
      engine match {
        case Some(e) => e.createParquetTable(t, path)
        case None => graft.Tables.load(spark, dataDir, t)
      }
    }
    val tb2 = clock.now()
    val listener = if (trace) Some(new Listener(clock)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val queries = if (engine.isEmpty) graft.SparkEntry.queries else Map.empty[String, (SparkSession, String) => DataFrame]

    val rowsOut = Files.newBufferedWriter(Paths.get(cfg("rows")), StandardCharsets.UTF_8)
    val spans = mutable.ArrayBuffer.empty[String]
    def span(op: Int, name: String, parent: String, t0: Long, t1: Long): Unit =
      if (trace) spans += Json.arr(Seq(op.toString, Json.str(name), Json.str(parent),
        Json.num(clock.sec(t0)), Json.num(clock.sec(t1))))

    def runOp(op: Op): OpResult = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Listener.OpKey, op.id.toString)
      val t0 = clock.now()
      var tPlan0, tPlan1 = t0
      var df: DataFrame = null
      var rows: Array[Row] = Array.empty
      var err: String = null
      val buildName = if (engine.isDefined) "engine.run" else "query.build"
      try {
        df = engine match {
          case Some(e) => e.run(op.payload)
          case None => queries(op.payload)(spark, dataDir)
        }
        tPlan0 = clock.now()
        df.queryExecution.executedPlan
        tPlan1 = clock.now()
        rows = df.collect()
      } catch {
        case NonFatal(e) => err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      val t1 = clock.now()
      sc.setLocalProperty(Listener.OpKey, null)
      if (engine.isEmpty) { // graft.Bench's between-query purge
        spark.catalog.clearCache()
        graft.operators.Dedup.unpersistAll()
      }
      var phases = Map.empty[String, Double]
      var stages = 0
      if (trace && df != null) {
        val qe = df.queryExecution
        // a phase that ended before the operation began belongs to a frame
        // the program reuses (the empty result of a write), not to this one
        val tr = qe.tracker.phases
          .filter { case (_, v) => clock.fromEpochMs(v.endTimeMs) >= t0 - 1000000L }
        phases = tr.map { case (k, v) => k -> v.durationMs / 1e3 }
        tr.foreach { case (k, v) =>
          val parent = if (k == "parsing" || k == "analysis") buildName else "catalyst.exec_plan"
          span(op.id, s"catalyst.$k", parent, clock.fromEpochMs(v.startTimeMs),
            clock.fromEpochMs(v.endTimeMs))
        }
        stages = try collectWithSubqueries(qe.executedPlan) {
          case w: WholeStageCodegenExec => w
        }.size catch { case NonFatal(_) => 0 }
      }
      span(op.id, "op", "", t0, t1)
      span(op.id, buildName, "op", t0, tPlan0)
      if (err == null) {
        span(op.id, "catalyst.exec_plan", "op", tPlan0, tPlan1)
        span(op.id, "action", "op", tPlan1, t1)
      }
      val cols = if (df == null) Seq.empty[String] else df.columns.toSeq
      rowsOut.write(s"""{"id":${op.id},"cols":${Json.arr(cols.map(Json.str))},""" +
        s""""rows":${Json.arr(rows.toSeq.map(Json.row))}}""")
      rowsOut.newLine()
      OpResult(op, t0, t1, err == null, err, rows.length.toLong,
        clock.sec(tPlan0) - clock.sec(t0), clock.sec(tPlan1) - clock.sec(tPlan0),
        phases.getOrElse("analysis", 0.0), phases.getOrElse("optimization", 0.0),
        phases.getOrElse("planning", 0.0), stages)
    }

    // ---- store fit (pipeline_snapshot): not part of setup_s ------------
    var fit: Seq[(String, Double)] = Seq.empty
    val tf0 = clock.now()
    if (workload == "pipeline_snapshot") {
      spark.sparkContext.setLocalProperty(Listener.OpKey, "-2")
      fit = graft.queries.Pipeline.prebuildModels(spark, dataDir)
      spark.sparkContext.setLocalProperty(Listener.OpKey, null)
    }
    val tf1 = clock.now()
    if (fit.nonEmpty) span(-2, "store.prebuildModels", "", tf0, tf1)

    // ---- timed phase ---------------------------------------------------
    // Set-up and fit garbage is collected and the JIT's backlog from them
    // drains before timing starts, so neither leaks into the timed phase.
    System.gc()
    val quiesceS = JvmCounters.awaitJitQuiet()
    probe() // the first probe compiles the probe itself
    val probeBefore = probe()
    val jvm0 = JvmCounters.read()
    val cg0 = Codegen.read()
    val heap = new HeapWatch
    val tp0 = clock.now()
    val results = ops.map(runOp)
    val tp1 = clock.now()
    val jvm1 = JvmCounters.read()
    val cg1 = Codegen.read()
    val heapPeak = heap.stop()
    val probeAfter = probe()
    rowsOut.close()
    listener.foreach(_.awaitDrained())

    val modelsDir = graft.Tables.modelsDir(dataDir)
    // JVM start to the end of set-up: the store fit and the probe run
    // between set-up and the first timed operation but are not set-up
    val setupS = clock.sec(tb2) - jvmStartS
    val fields = mutable.LinkedHashMap[String, String](
      "record" -> Json.obj(Seq(
        "workload" -> Json.str(workload), "master" -> Json.str(cfg("master")),
        "width" -> width.toString, "data" -> Json.str(dataDir),
        "jvm" -> Json.str(System.getProperty("java.vm.version")),
        "spark" -> Json.str(spark.version),
        "cores" -> Runtime.getRuntime.availableProcessors.toString)),
      "setup" -> Json.obj(Seq(
        "setup_s" -> Json.num(setupS),
        "jvm_s" -> Json.num(-jvmStartS),
        "session.build_s" -> Json.num(clock.sec(tb1) - clock.sec(tb0)),
        "session.tables_s" -> Json.num(clock.sec(tb2) - clock.sec(tb1)))),
      "fit" -> Json.obj(Seq(
        "fit_s" -> Json.num(clock.sec(tf1) - clock.sec(tf0)),
        "stores" -> Json.arr(fit.map { case (k, v) => Json.arr(Seq(Json.str(k), Json.num(v))) }),
        "written_bytes" -> dirBytes(Paths.get(modelsDir)).toString,
        "input_bytes" -> dirBytes(Paths.get(dataDir)).toString)),
      "phase" -> Json.obj(Seq(
        "t0" -> Json.num(clock.sec(tp0)), "t1" -> Json.num(clock.sec(tp1)),
        "wall_s" -> Json.num(clock.sec(tp1) - clock.sec(tp0)),
        "cpu_s" -> Json.num((jvm1.cpuNs - jvm0.cpuNs) / 1e9),
        "gc_s" -> Json.num((jvm1.gcMs - jvm0.gcMs) / 1e3),
        "jit_s" -> Json.num((jvm1.jitMs - jvm0.jitMs) / 1e3),
        "heap_peak_mb" -> Json.num(heapPeak / 1048576.0),
        "codegen.classes" -> (cg1.classes - cg0.classes).toString,
        "codegen.compile_s" -> Json.num((cg1.compileNs - cg0.compileNs) / 1e9),
        "codegen.gen_s" -> Json.num((cg1.genNs - cg0.genNs) / 1e9),
        "cache.storage_mb" -> Json.num(storageBytes(spark) / 1048576.0),
        "jit_quiesce_s" -> Json.num(quiesceS),
        "probe_before_s" -> Json.num(probeBefore),
        "probe_after_s" -> Json.num(probeAfter))),
      "ops" -> Json.arr(results.toSeq.map { r =>
        Json.obj(Seq("id" -> r.op.id.toString, "kind" -> Json.str(r.op.kind), "t0" -> Json.num(clock.sec(r.t0)),
          "t1" -> Json.num(clock.sec(r.t1)), "ok" -> r.ok.toString,
          "err" -> (if (r.err == null) "null" else Json.str(r.err)),
          "nrows" -> r.nrows.toString, "build_s" -> Json.num(r.buildS),
          "exec_plan_s" -> Json.num(r.planS),
          "analysis_s" -> Json.num(r.analysisS),
          "optimization_s" -> Json.num(r.optimizationS),
          "planning_s" -> Json.num(r.planningS), "wscg_stages" -> r.wscgStages.toString))
      }))
    listener.foreach { l =>
      fields("exec") = l.summaryJson
      // parent resolved by start time in the report (stats.attach_jobs)
      l.jobSpans.foreach { case (op, name, a, b) => span(op, name, "action", a, b) }
      fields("spans") = Json.arr(spans.toSeq)
    }
    Files.writeString(Paths.get(cfg("out")), Json.obj(fields.toSeq))
    // the DuckDB oracles of the plan's keys, for the one-off cross-check of
    // the expected fingerprints
    cfg.get("oracles").foreach { path =>
      val oracles = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(path), Json.obj(ops.map(_.payload).distinct
        .flatMap(k => oracles.get(k).map(sql =>
          k -> Json.str(sql.replace("__GRAFT_MODELS__", modelsDir))))))
    }
    spark.stop()
  }

  /** Fixed single-thread CPU probe, best of three: the same loop before
    * and after the timed phase, so a run during which the machine's speed
    * changed shows itself.
    */
  private def probe(): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var h = 0L
      var i = 0
      while (i < 50000000) { h = h * 31 + i; i += 1 }
      probeSink ^= h
      (System.nanoTime() - t0) / 1e9
    }.min

  @volatile private var probeSink = 0L

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** Monotonic clock with an epoch anchor, so listener and tracker times
  * (epoch milliseconds) land on the same time line as `System.nanoTime`.
  */
final class Clock {
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  def now(): Long = System.nanoTime()
  def sec(t: Long): Double = (t - nano0) / 1e9
  def fromEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L
}

final case class JvmCounters(cpuNs: Long, gcMs: Long, jitMs: Long)

object JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }

  def read(): JvmCounters = JvmCounters(
    os.map(_.getProcessCpuTime).getOrElse(0L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L))

  /** Waits (at most 10 s) until the JIT compilers are nearly idle: less
    * than 10 % of one compiler thread busy over a quarter second. Returns
    * the seconds waited.
    */
  def awaitJitQuiet(): Double = {
    val t0 = System.nanoTime()
    var last = read().jitMs
    var quiet = false
    while (!quiet && System.nanoTime() - t0 < 10000000000L) {
      Thread.sleep(250)
      val now = read().jitMs
      quiet = now - last < 25
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Peak heap in use right after a collection, over the watch: the live
  * set plus what old-generation collections have not yet reclaimed. Unlike
  * the pools' raw peaks, it does not follow how large the collector chose
  * to let the young generation grow. Without a collection during the
  * watch, it is the heap in use when the watch stops.
  */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  @volatile private var seen = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, after); seen = true }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Long = {
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
    synchronized {
      if (seen) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }
}

final case class Codegen(classes: Long, compileNs: Long, genNs: Long)

object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  def read(): Codegen = Codegen(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    WholeStageCodegenExec.codeGenTime)
}

/** Minimal JSON writer for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** A result value as JSON. Numbers stay numbers (the checker rounds
    * them); dates and timestamps become ISO strings in UTC.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case t: java.sql.Timestamp => str(fmtTs(t.toInstant))
    case t: java.time.Instant => str(fmtTs(t))
    case t: java.time.LocalDateTime => str(fmtTs(t.toInstant(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case bytes: Array[Byte] => str(bytes.map("%02x".format(_)).mkString)
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      arr(m.toSeq.map { case (k, x) => arr(Seq(value(k), value(x))) }.sortBy(identity))
    case s: scala.collection.Seq[_] => arr(s.toSeq.map(value))
    case x => str(x.toString)
  }
  def row(r: Row): String = arr(r.toSeq.map(value))

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
  private def fmtTs(i: java.time.Instant): String = tsFmt.format(i)
}
