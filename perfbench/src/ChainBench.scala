package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ext.{DedupOps, EventOps, UnigramOps, VectorOps}
import graft.pipelines.{CustomerSalesReport, Ingestion, MicroQueries,
  ProductPerformance, SupplierPerformance}

/** Chain benchmark driver: runs one Runner chain (`daily`, or
  * `incremental` + the cold ANN index build) back to back in one JVM and
  * times every task to its FULL result — each frame a task returns is
  * written out as parquet, never `.count()`ed.
  *
  * `ChainBench <workload> <inputDir> <runDir> <seconds> <trace> <cpus>`,
  * or `ChainBench --oracle <file>` to write the chains' oracle SQL only.
  *
  * Set-up (session, bucketed layout, warm artifact tier, JIT) is one
  * untimed pass; then passes run until `seconds` have elapsed. With
  * `trace = 1` half the window runs untraced and half traced, the traced
  * half with the listeners below registered and spans recorded. The
  * driver only measures; every verdict (oracle compare, metrics) is made
  * by run.py from the files written to `runDir`:
  *
  *  - `result.json`: set-up time, calibration, per-pass task records,
  *    heap figures and (traced) engine counters;
  *  - `oracle.json`: the oracle SQL of every query the chain produced;
  *  - `spans.jsonl`: pass / construct / materialize spans (traced);
  *  - `out/pass-N/<query>/`: the last pass's outputs, for the oracle.
  */
object ChainBench {

  /** One chain task. `run` calls the program's task function and returns
    * the frames it produced, one per oracle query in `queries`; a gate
    * returns no frame and passes by not throwing. */
  final case class Task(name: String, queries: Seq[String],
                        run: () => Seq[DataFrame])

  private def one(name: String, query: String)(df: => DataFrame): Task =
    Task(name, Seq(query), () => Seq(df))
  private def gate(name: String)(body: => Any): Task =
    Task(name, Nil, () => { body; Nil })

  /** Query name of the cold index build's output (oracle in run.py). */
  val IndexBuild = "ann_index_build"

  def daily(spark: SparkSession, sf: String): Seq[Task] = Seq(
    one("expectations", "q_expectations")(
      MicroQueries.expectations(spark, sf)),
    one("ingest_suppliers", "q_ingest_suppliers")(
      Ingestion.suppliers(spark, sf)),
    one("ingest_products", "q_ingest_products")(
      Ingestion.products(spark, sf)),
    one("ingest_customers", "q_ingest_customers")(
      Ingestion.customers(spark, sf)),
    one("ingest_sales", "q_ingest_sales")(Ingestion.sales(spark, sf)),
    one("supplier_performance", "q_supplier_performance")(
      SupplierPerformance(spark, sf)),
    one("product_performance", "q_product_performance")(
      ProductPerformance(spark, sf)),
    one("customer_sales_report", "q_customer_sales_report")(
      CustomerSalesReport(spark, sf)),
    one("daily_anomalies", "q_daily_anomalies")(
      EventOps.dailyAnomalies(spark, sf)))

  /** Runner `incremental` without ingest_funnel (one drift report shared
    * by the dashboard row and the index gate, as Runner.incrementalChain
    * does), then the cold ANN index build the drift gate guards, into a
    * throwaway artifact root as Bench's q_ann_index_build does.
    * ingest_funnel is left out: after the one set-up pass it was still
    * warming, up to 38 % slower in the first timed pass than in the
    * next ones, and that made the chain's time too unsteady for its
    * bound. See README.md. */
  def incremental(spark: SparkSession, sf: String,
                  coldRoot: () => String): Seq[Task] = {
    lazy val drift = MicroQueries.corpusDrift(spark, sf).persist()
    Seq(
      one("snapshot_diff", "q_snapshot_diff")(
        MicroQueries.snapshotDiff(spark, sf)),
      one("corpus_drift", "q_corpus_drift")(drift),
      gate("drift_index_gate") {
        try MicroQueries.driftIndexGateFrom(drift, MicroQueries.driftGateTvMax)
        finally { drift.unpersist(false); () }
      },
      gate("tokenizer_drift_gate")(UnigramOps.tokenizerDriftGate(spark, sf,
        DedupOps.incrementalBatchDocs(spark, sf))),
      one("incremental_score", "q_incremental_score")(
        MicroQueries.incrementalScore(spark, sf)),
      one(IndexBuild, IndexBuild) {
        val prev = sys.props.get("graft.artifact.root")
        sys.props.put("graft.artifact.root", coldRoot())
        VectorOps.clearMemos()
        try VectorOps.buildIvfPqIndex(spark, sf)
        finally {
          prev.foreach(sys.props.put("graft.artifact.root", _))
          VectorOps.clearMemos()
        }
      })
  }

  /** Every chain, by workload name. */
  def chains(spark: SparkSession, sf: String,
             coldRoot: () => String): Map[String, Seq[Task]] = Map(
    "retail_daily" -> daily(spark, sf),
    "corpus_incremental" -> incremental(spark, sf, coldRoot))

  // ---- instruments: listen only, never run a Spark action ----

  /** Engine counters per job group (`pass/task/phase`), job intervals
    * for the driver-only share, and peak block-manager storage. */
  final class Probe extends SparkListener {
    final class Acc {
      var jobs, stages, tasks, taskMs, runMs, cpuNs, gcMs = 0L
      var shufWrite, shufRead, fetchWaitMs, scan, written, spill = 0L
    }
    val byGroup = mutable.LinkedHashMap.empty[String, Acc]
    val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    private val stageGroup = mutable.Map.empty[Int, String]
    private val jobStarted = mutable.Map.empty[Int, Long]
    private val blocks = mutable.Map.empty[String, Long]
    private var stored = 0L
    var storedPeak = 0L
    var eventsSeen = 0L
    var open = 0

    private def acc(g: String) = byGroup.getOrElseUpdate(g, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("untagged")
      e.stageIds.foreach(stageGroup(_) = g)
      acc(g).jobs += 1
      jobStarted(e.jobId) = e.time
      open += 1; eventsSeen += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarted.remove(e.jobId).foreach(s => jobWindows += ((s, e.time)))
      open -= 1; eventsSeen += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        acc(stageGroup.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
        eventsSeen += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stageGroup.getOrElse(e.stageId, "untagged"))
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.scan += m.inputMetrics.bytesRead
        a.written += m.outputMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
      }
      eventsSeen += 1
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      synchronized {
        val i = e.blockUpdatedInfo
        if (i.blockId.isRDD) {
          val id = i.blockId.name
          stored -= blocks.getOrElse(id, 0L)
          if (i.storageLevel.isValid) {
            blocks(id) = i.memSize + i.diskSize
            stored += blocks(id)
          } else blocks.remove(id)
          storedPeak = math.max(storedPeak, stored)
        }
        eventsSeen += 1
      }
  }

  /** Catalyst phase time (analysis + optimization + planning), actions
    * and files written, from each finished QueryExecution. */
  final class PlanProbe extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    var actions = 0L
    var planMs = 0L
    var filesWritten = 0L
    private def record(qe: QueryExecution): Unit = synchronized {
      actions += 1
      planMs += qe.tracker.phases
        .filter { case (p, _) =>
          Set("analysis", "optimization", "planning").contains(p) }
        .values.map(_.durationMs).sum
      filesWritten += collect(qe.executedPlan) {
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  /** Driver heap still in use after a full collection: what a pass
    * leaves live (memos, cached blocks, broadcasts). Taken between
    * passes, outside their timing. The second collection follows a pause
    * in which Spark's ContextCleaner drops the shuffles and broadcasts
    * the first one found unreachable. */
  def liveHeap(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Heap in use after every collection (young, mixed and full), from
    * the JVM's own GC notifications, with the collection's end time in
    * ms since JVM start. Transient driver memory inside a pass (collected
    * JSON, REST documents, broadcast builds) shows here whenever a
    * collection finds it live. */
  final class GcLog extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val afterGc = mutable.ArrayBuffer.empty[(Long, Long)]
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach {
        case e: NotificationEmitter => e.addNotificationListener(this, null, null)
        case _ => ()
      }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { afterGc += ((gc.getEndTime, used)) }
      }
    /** The highest after-GC heap of the collections that ended inside
      * one of `windows` (ms since JVM start). */
    def peak(windows: Seq[(Long, Long)]): Long = synchronized {
      afterGc.collect { case (t, u)
        if windows.exists { case (a, b) => a <= t && t <= b } => u
      }.foldLeft(0L)(math.max)
    }
  }

  // ---- JSON output ----

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  final case class TaskRec(name: String, constructS: Double,
                           materializeS: Double, outputs: Seq[String],
                           error: Option[String]) {
    def json: String = obj("task" -> q(name),
      "construct_s" -> constructS.toString,
      "materialize_s" -> materializeS.toString,
      "outputs" -> arr(outputs.map(q)),
      "error" -> error.map(q).getOrElse("null"))
  }

  final case class PassRec(index: Int, traced: Boolean, startMs: Long,
                           endMs: Long, wallS: Double, tasks: Seq[TaskRec]) {
    def json: String = obj("pass" -> index.toString,
      "traced" -> traced.toString, "wall_s" -> wallS.toString,
      "tasks" -> arr(tasks.map(_.json)))
  }

  final case class Span(trace: Int, id: String, parent: Option[String],
                        name: String, task: Option[String],
                        startNs: Long, endNs: Long)

  private def rm(f: File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
    f.delete(); ()
  }

  private def dirStats(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.map(dirStats)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.isFile) (f.length(), 1L) else (0L, 0L)

  def main(args: Array[String]): Unit =
    if (args.head == "--oracle") writeOracle(args(1)) else bench(args)

  /** The oracle SQL of every query any chain produces: the program's own
    * (SparkEntry.oracleSql) plus the cold index build's, whose two code
    * tables hold one row per vector and PQ subspace. */
  private def writeOracle(path: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql + (IndexBuild ->
      (s"SELECT count(*) * ${VectorOps.pqM} AS n_pq_codes, " +
        s"count(*) * ${VectorOps.pqM} AS n_pqr_codes FROM embeddings"))
    val queries = chains(null, "", () => "").values.flatten
      .flatMap(_.queries).toSeq.sorted
    Files.write(Paths.get(path), obj(queries.map(n =>
      n -> oracle.get(n).map(q).getOrElse("null")): _*).getBytes(UTF_8))
    ()
  }

  private def bench(args: Array[String]): Unit = {
    val Array(workload, inputDir, runDirArg, secondsArg, traceArg, cpus) = args
    val runDir = new File(runDirArg).getAbsoluteFile
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val gcLog = new GcLog
    gcLog.install()
    def sinceStartMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime

    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    sys.props.put("graft.artifact.root", new File(runDir, "artifacts").getPath)

    var coldN = 0
    var coldDirs = List.empty[File]
    def coldRoot(): String = {
      coldN += 1
      val d = new File(runDir, s"cold-artifacts/build-$coldN")
      coldDirs ::= d
      d.getPath
    }
    def chain(): Seq[Task] = chains(spark, inputDir, () => coldRoot())(workload)
    // a task made to fail in every timed pass (the failure self-check)
    val failTask = sys.props.get("perfbench.failTask")

    val spans = mutable.ArrayBuffer.empty[Span]
    val outRoot = new File(runDir, "out")
    // one pass: every task's construct call, then its full-result write;
    // a task that throws is recorded and the pass goes on
    def runPass(index: Int, traced: Boolean): PassRec = {
      spark.catalog.clearCache()
      val passDir = new File(outRoot, s"pass-$index")
      val passSpan = s"p$index"
      val startMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val recs = chain().map { t =>
        var c = 0.0; var m = 0.0
        var outs = Seq.empty[String]
        val err = try {
          if (traced) sc.setJobGroup(s"$index/${t.name}/construct", t.name)
          val c0 = System.nanoTime()
          if (failTask.contains(t.name) && index > 0)
            throw new IllegalStateException("failure injected")
          val frames = t.run()
          val c1 = System.nanoTime()
          c = (c1 - c0) / 1e9
          if (traced) {
            spans += Span(index, s"$passSpan.${t.name}.c", Some(passSpan),
              "construct", Some(t.name), c0, c1)
            sc.setJobGroup(s"$index/${t.name}/materialize", t.name)
          }
          val m0 = System.nanoTime()
          t.queries.zip(frames).foreach { case (query, df) =>
            df.write.parquet(new File(passDir, query).getPath)
            outs :+= query
          }
          val m1 = System.nanoTime()
          m = (m1 - m0) / 1e9
          if (traced) spans += Span(index, s"$passSpan.${t.name}.m",
            Some(passSpan), "materialize", Some(t.name), m0, m1)
          None
        } catch {
          case e: Throwable => Some(e.toString.take(300))
        } finally if (traced) sc.clearJobGroup()
        TaskRec(t.name, c, m, outs, err)
      }
      val p1 = System.nanoTime()
      if (traced) spans += Span(index, passSpan, None, "pass", None, p0, p1)
      PassRec(index, traced, startMs, System.currentTimeMillis(),
        (p1 - p0) / 1e9, recs)
    }
    def dropOlder(index: Int): Unit = {
      rm(new File(outRoot, s"pass-${index - 1}"))
      coldDirs.drop(1).foreach(rm)
    }

    // set-up: session (above) + one untimed pass that lays out the
    // bucketed facts, builds the warm artifact tier and warms the JIT
    val warm = runPass(0, traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warmErrors = warm.tasks.flatMap(t => t.error.map(t.name + ": " + _))

    // machine anchor: Bench's fixed calibration workload, median of 3
    val calibS = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64}
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0, 100000000L, 1, cpus.toInt)
          .select(sum(xxhash64(col("id")) % 997)).head()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Seq(once(), once(), once()).sorted.apply(1)
    }

    // every untraced timed pass from a compacted heap to its end-of-pass
    // live reading: the collections the heap figures are taken from
    var heapLive = 0L
    val heapWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // (bytes, files) each cold index build left on disk, by pass
    val builtBy = mutable.Map.empty[Int, (Long, Long)]
    var next = 1
    def window(secs: Double, traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      var first = true
      while (first || (System.nanoTime() - t0) / 1e9 < secs) {
        first = false
        val builds = coldN
        if (!traced) liveHeap()
        val from = sinceStartMs()
        passes += runPass(next, traced)
        if (coldN > builds) builtBy(next) = dirStats(coldDirs.head)
        dropOlder(next)
        if (!traced) {
          heapLive = math.max(heapLive, liveHeap())
          heapWindows += ((from, sinceStartMs()))
        }
        next += 1
      }
    }
    window(if (trace) seconds / 2 else seconds, traced = false)

    // the traced half: listeners registered only now, counters read
    // after the listener bus has drained
    val probe = new Probe
    val planProbe = new PlanProbe
    val traceJson = if (trace) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(planProbe)
      window(seconds / 2, traced = true)
      var last = -1L
      val deadline = System.currentTimeMillis() + 10000
      while ((probe.synchronized(probe.eventsSeen) != last ||
        probe.synchronized(probe.open) != 0) &&
        System.currentTimeMillis() < deadline) {
        last = probe.synchronized(probe.eventsSeen); Thread.sleep(300)
      }
      Thread.sleep(300)
      val traced = passes.filter(_.traced).toSeq
      // job-active wall time inside each traced pass
      val windows = probe.synchronized(probe.jobWindows.toSeq).sortBy(_._1)
      def active(from: Long, to: Long): Long = {
        var covered = 0L; var curS = -1L; var curE = -1L
        windows.foreach { case (s0, e0) =>
          val s = math.max(s0, from); val e = math.min(e0, to)
          if (e > s) {
            if (s > curE) {
              if (curE > curS) covered += curE - curS
              curS = s; curE = e
            } else curE = math.max(curE, e)
          }
        }
        if (curE > curS) covered += curE - curS
        covered
      }
      val activeMs = traced.map(p => active(p.startMs, p.endMs))
      val groups = probe.synchronized(probe.byGroup.toSeq)
      def groupJson(g: String, a: probe.Acc): String = obj(
        "group" -> q(g), "jobs" -> a.jobs.toString,
        "stages" -> a.stages.toString, "tasks" -> a.tasks.toString,
        "task_ms" -> a.taskMs.toString, "run_ms" -> a.runMs.toString,
        "cpu_ns" -> a.cpuNs.toString, "gc_ms" -> a.gcMs.toString,
        "shuffle_write_b" -> a.shufWrite.toString,
        "shuffle_read_b" -> a.shufRead.toString,
        "fetch_wait_ms" -> a.fetchWaitMs.toString,
        "scan_b" -> a.scan.toString, "written_b" -> a.written.toString,
        "spill_b" -> a.spill.toString)
      val (artBytes, artFiles) = traced.flatMap(p => builtBy.get(p.index))
        .headOption.getOrElse((0L, 0L))
      obj(
        "active_ms" -> arr(activeMs.map(_.toString)),
        "groups" -> arr(groups.map { case (g, a) => groupJson(g, a) }),
        "stored_peak_b" -> probe.synchronized(probe.storedPeak).toString,
        "plan_ms" -> planProbe.synchronized(planProbe.planMs).toString,
        "actions" -> planProbe.synchronized(planProbe.actions).toString,
        "files_written" ->
          planProbe.synchronized(planProbe.filesWritten).toString,
        "artifact_bytes" -> artBytes.toString,
        "artifact_files" -> artFiles.toString)
    } else "null"
    coldDirs.foreach(rm)

    // spans in memory until here; one JSON object per line
    if (trace) Files.write(Paths.get(runDir.getPath, "spans.jsonl"),
      spans.map { s =>
        obj("trace_id" -> s"${q("pass-" + s.trace)}", "span_id" -> q(s.id),
          "parent_id" -> s.parent.map(q).getOrElse("null"),
          "name" -> q(s.name), "task" -> s.task.map(q).getOrElse("null"),
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)
      }.asJava, UTF_8)

    writeOracle(new File(runDir, "oracle.json").getPath)
    Files.write(Paths.get(runDir.getPath, "result.json"), obj(
      "workload" -> q(workload), "cpus" -> cpus,
      "setup_s" -> setupS.toString, "calib_s" -> calibS.toString,
      "warm_errors" -> arr(warmErrors.map(q)),
      "warm" -> warm.json,
      "heap_peak_b" ->
        math.max(gcLog.peak(heapWindows.toSeq), heapLive).toString,
      "heap_live_b" -> heapLive.toString,
      "last_pass_dir" ->
        q(new File(outRoot, s"pass-${passes.last.index}").getPath),
      "passes" -> arr(passes.map(_.json)),
      "trace" -> traceJson).getBytes(UTF_8))
    spark.stop()
  }
}
