package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.ext.{DedupOps, TextOps, VectorOps}
import graft.io.{Jdbc, PgFixture, Sinks}
import graft.pipelines.{CustomerSalesReport, Ingestion, MicroQueries,
  ProductPerformance, SupplierPerformance}
import graft.retail.Retail.asOf

/** Daily pipeline runner (reference §2.12: the Airflow DAG chain
  * `[suppliers >> products >> customers >> sales] >> supplier_performance
  * >> product_performance >> customer_sales_report`,
  * ingestion_dag.py:13–30) — sequential, fail-fast: any task failure
  * (including the dup-gate's DuplicateKeyException) aborts the run with a
  * nonzero exit, the scheduler's retry signal.
  *
  * `runMain graft.Runner [sfDir] [chain] [dates|now]`; `chain` is a key
  * of `chains` in [[main]] (default `daily`): daily, corpus, incremental,
  * publish, backfill, scheduler, maintenance, serve or mapped. The retail
  * chains pick their tasks from one [[RetailTable]]. The `corpus` chain
  * is the training-data counterpart over the extension suite: scrub →
  * curation funnel → near-dup clusters → ANN index refresh — the DAG a
  * corpus ingest would schedule.
  *
  * One shared SparkSession across tasks — the reference creates and tears
  * one down per task (transform_utils.py:12–32), paying JVM+session
  * startup seven times.
  */
object Runner {

  /** The INCREMENTAL daily path: classify the delta vs yesterday's
    * snapshot, gate index freshness on the drift report, then re-score
    * only added+changed docs and run the day's feed through the
    * acceptance funnel — delta-sized work instead of a full corpus
    * pass (see MicroQueries.snapshotDiff). Exposed as a method so the
    * drift-gate drill can assert the chain ORDER: the gate sits before
    * every task that probes a trained artifact.
    */
  private[graft] def incrementalChain(spark: SparkSession, sfDir: String)
      : Seq[(String, () => Long)] = {
    // ONE drift aggregation serves both the dashboard count and the
    // index gate (the gate consumes the same report via the
    // driftIndexGateFrom seam) — persisted so the gate step reads the
    // 3-row report, not a second full prev/cur corpus pass
    lazy val drift = pipelines.MicroQueries.corpusDrift(spark, sfDir)
      .persist()
    Seq(
      "snapshot_diff" ->
        (() => pipelines.MicroQueries.snapshotDiff(spark, sfDir).count()),
      // distribution drift beside the row-level diff: the dashboard
      // row that catches a crawler/filter regression in the same pass
      "corpus_drift" -> (() => drift.count()),
      // ACT on the drift report BEFORE anything probes a trained
      // artifact: distribution shift past the gate threshold means the
      // persisted ANN/LM/LSH indexes are stale for today's feed — the
      // gate throws, the fail-fast chain stops here, and the funnel
      // below (which probes the LSH index and scores against the LM
      // tables) never runs against them (drill: DriftGateSpec)
      "drift_index_gate" ->
        (() => {
          try pipelines.MicroQueries.driftIndexGateFrom(drift,
            pipelines.MicroQueries.driftGateTvMax)
          finally { drift.unpersist(false); () }
          1L
        }),
      // same rule for the TOKENIZER artifact: the frozen piece table
      // must still cover today's feed (fallback-emission share vs the
      // training baseline) before anything encodes with it
      "tokenizer_drift_gate" ->
        (() => {
          ext.UnigramOps.tokenizerDriftGate(spark, sfDir,
            ext.DedupOps.incrementalBatchDocs(spark, sfDir))
          1L
        }),
      "incremental_score" ->
        (() => pipelines.MicroQueries.incrementalScore(spark, sfDir).count()),
      // the day's feed through the full acceptance funnel: quality →
      // persisted-index near-dup → reference-LM fluency (stats row)
      "ingest_funnel" ->
        (() => streaming.EventStream.ingestFunnelStats(spark, sfDir).count()))
  }

  /** What a retail task's frame is: a feed's read-back (the task lands
    * the feed through the double-write itself), a mart (carries its own
    * pinned DAY_DT) or a report (stamped with the run's day). */
  object Role extends Enumeration { val Feed, Mart, Report = Value }

  /** A retail task: `frame(day)` builds its frame for a logical day. */
  final case class RetailTask(name: String, role: Role.Value,
                              frame: String => DataFrame)

  /** The retail task table: the reference DAG's daily tasks
    * (ingestion_dag.py:13–30) plus a pre-flight report and the anomaly
    * flags, each declared once; the `daily`, `backfill`, `scheduler`,
    * `mapped` and `serve` chains pick theirs here. Reports and marts land
    * as DAY_DT partitions of `<task>/legacy` beside ingestion's legacy
    * tables (the reference appends each mart to `legacy.<mart>`), so a
    * re-run of a day replaces what it landed. */
  private[graft] final class RetailTable(spark: SparkSession,
                                         sfDir: String) {
    import Role._
    val tasks: Seq[RetailTask] = Seq(
      // feed pre-flight: the contract report on the orders feed, landed
      // with the day. It never throws: its rule set fails an FK rule on
      // purpose, to exercise that branch.
      RetailTask("expectations", Report,
        _ => MicroQueries.expectations(spark, sfDir)),
      RetailTask("ingest_suppliers", Feed, Ingestion.suppliers(spark, sfDir, _)),
      RetailTask("ingest_products", Feed, Ingestion.products(spark, sfDir, _)),
      RetailTask("ingest_customers", Feed, Ingestion.customers(spark, sfDir, _)),
      RetailTask("ingest_sales", Feed, Ingestion.sales(spark, sfDir, _)),
      RetailTask("supplier_performance", Mart,
        _ => SupplierPerformance(spark, sfDir)),
      RetailTask("product_performance", Mart,
        _ => ProductPerformance(spark, sfDir)),
      RetailTask("customer_sales_report", Mart,
        _ => CustomerSalesReport(spark, sfDir)),
      // ops telemetry: robust daily-volume anomaly flags close the day
      RetailTask("daily_anomalies", Report,
        _ => ext.EventOps.dailyAnomalies(spark, sfDir)))

    def of(role: Role.Value): Seq[RetailTask] = tasks.filter(_.role == role)

    /** `ts` as chain steps for `day`, each logging its rows: a feed's
      * read-back count, else what [[Sinks.dayPartition]] wrote. */
    def steps(ts: Seq[RetailTask],
              day: String = asOf): Seq[(String, () => Long)] =
      ts.map(t => t.name -> (() =>
        if (t.role == Feed) t.frame(day).count()
        else Sinks.dayPartition(Sinks.withDay(t.frame(day), day),
          Ingestion.legacyDir(sfDir, t.name))))

    def marts: Seq[(String, () => Long)] = steps(of(Mart))

    /** The per-day ingestion unit (`<task>@<day>`), one DAY_DT partition
      * overwrite per feed that never touches neighboring days: the
      * backfill chain's repeat unit and the catchup's per-tick work. */
    def ingestUnit(day: String): Seq[(String, () => Long)] =
      steps(of(Feed), day).map { case (n, run) => s"$n@$day" -> run }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val chain = args.drop(1).headOption.getOrElse("daily")
    val spark = Session("graft-runner")
    val retail = new RetailTable(spark, sfDir)

    val corpus: Seq[(String, () => Long)] = Seq(
      "pii_scrub" -> (() => TextOps.piiScrub(spark, sfDir).count()),
      // mixing health read before any curation decision
      "source_diversity" ->
        (() => ext.SampleOps.sourceDiversity(spark, sfDir).count()),
      // the Gopher heuristic battery: per-doc verdicts before any
      // curation decision reads them
      "gopher_rules" ->
        (() => ext.CurationOps.gopherRules(spark, sfDir).count()),
      "corpus_curate" -> (() => TextOps.corpusCurate(spark, sfDir).count()),
      // cross-doc banner surgery before span-level work: per-source
      // boilerplate prefixes detected and cut
      "boilerplate_apply" ->
        (() => ext.CurationOps.boilerplateApply(spark, sfDir).count()),
      // recall gate FIRST: abort before any dedup decision if today's
      // corpus has drifted past what the banding parameters can catch
      // (throws below DedupOps.lshRecallFloor — fail-fast like the
      // ingest dup gate)
      "lsh_recall_gate" ->
        (() => { DedupOps.lshRecallGate(spark, sfDir); 1L }),
      // LSH-fed: shingle → band → verify → cluster, no quadratic pair join
      "dedup_clusters" -> (() => DedupOps.dedupClustersLsh(spark, sfDir).count()),
      // cross-doc span duplication + benchmark overlap, then packing and
      // the reproducible split — the full pre-training prep DAG
      "dup_spans" -> (() => DedupOps.dupSpans(spark, sfDir).count()),
      // the surgery step: repeated spans cut, first occurrence kept
      "dup_spans_apply" ->
        (() => DedupOps.dupSpansApply(spark, sfDir).count()),
      // the Lee-et-al long-span pass: maximal >=50-token duplicated
      // regions (safe-by-default surgery granularity; see dupSpanRuns)
      "dup_span_runs" ->
        (() => DedupOps.dupSpanRuns(spark, sfDir).count()),
      // classifier-quality scores through the batched inference seam
      "model_score" -> (() => ext.ScoringOps.modelScore(spark, sfDir).count()),
      "decontaminate" ->
        (() => ext.CurationOps.decontaminateBloom(spark, sfDir).count()),
      // span-level remedy: cut benchmark-overlapping spans, keep the rest
      "decontaminate_spans" ->
        (() => ext.CurationOps.decontaminateSpans(spark, sfDir).count()),
      // graduated overlap score beside the binary gate (thresholded
      // removal decisions read this)
      "contamination_score" ->
        (() => ext.CurationOps.contaminationScore(spark, sfDir).count()),
      "pack_sequences" ->
        (() => ext.CurationOps.packSequences(spark, sfDir).count()),
      // tokenizer-coverage telemetry under the frozen vocab budget
      "oov_rate" -> (() => TextOps.oovRate(spark, sfDir).count()),
      // the tokenizer-freeze decision inputs, side by side: BPE vs
      // unigram fertility on the same corpus (first run trains/loads
      // both published artifacts, so the chain materializes every
      // tokenizer the pipeline can encode with)
      "tokenizer_fertility" -> (() =>
        ext.BpeOps.compressionRatio(spark, sfDir).count() +
          ext.UnigramOps.unigramFertility(spark, sfDir).count()),
      // LM fluency terciles + DSIR importance weights: the two
      // content-based selection signals, stamped before the split
      "fluency_buckets" ->
        (() => ext.LmOps.perplexityBuckets(spark, sfDir).count()),
      "dsir_weights" ->
        (() => ext.SampleOps.dsirWeights(spark, sfDir).count()),
      "train_split" ->
        (() => ext.SampleOps.trainValTestSplit(spark, sfDir).count()),
      // eval-contamination check across the split boundary
      "split_leakage" ->
        (() => DedupOps.splitLeakage(spark, sfDir).count()),
      // curriculum quartiles stamped before shard layout so training
      // order can schedule easy→hard within each shard
      "curriculum" ->
        (() => ext.SampleOps.curriculum(spark, sfDir).count()),
      // epoch-0 training order: deterministic shuffle → (shard, pos)
      "shard_assign" ->
        (() => ext.SampleOps.shardAssign(spark, sfDir).count()),
      // the embeddings data contract gates the index build: a store
      // with missing/zero/orphan vectors must fail before training
      "embed_contract" -> (() => {
        val bad = VectorOps.embedExpectations(spark, sfDir)
          .filter(!org.apache.spark.sql.functions.col("passed")).count()
        if (bad > 0) throw new IllegalStateException(
          s"embeddings contract: $bad rule(s) failing — index build aborted")
        1L
      }),
      "ann_index_refresh" -> (() => VectorOps.annIvfSq8(spark, sfDir).count()))

    // the PUBLISHING chain: persists the training-consumable artifacts
    // under a fresh version dir and commits them with ONE chain-level
    // manifest written last (Manifest.publish) — a crash mid-run leaves
    // the previously published set untouched and still LATEST
    val publish: Seq[(String, () => Long)] = Seq(
      "corpus_publish" -> (() => {
        val tag = "run_" + System.currentTimeMillis()
        val m = pipelines.CorpusChain.publish(spark, sfDir, tag)
        println(s"[runner] published manifest ${m.version} " +
          s"(${m.artifacts.size} artifacts)")
        m.artifacts.size.toLong
      }))

    // the BACKFILL chain (scheduler semantics the reference delegates
    // to Airflow): the per-day ingestion unit for each logical date in
    // argv[2] (a comma list), then the marts once, in their own pinned
    // DAY_DT partition — the reference DAG's ingest-then-transform shape.
    val backfillDates = args.drop(2).headOption
      .map(_.split(",").toSeq).getOrElse(Seq(asOf))
    val backfill: Seq[(String, () => Long)] =
      backfillDates.flatMap(retail.ingestUnit) ++ retail.marts

    // the SCHEDULER chain (Airflow's `@daily` + catchup=True,
    // ingestion_dag.py:15, dag.py:27): compute the logical dates
    // strictly after the persisted watermark up to `now` (argv[2],
    // else the wall clock), replay the per-day ingestion unit once per
    // missed tick oldest-first, commit the watermark after EACH day,
    // land the marts once at the end. See [[runCatchup]].
    val scheduler: Seq[(String, () => Long)] = Seq(
      "daily_catchup" -> (() => {
        val now = args.drop(2).headOption.map(LocalDate.parse)
          .getOrElse(LocalDate.now())
        val ran = runCatchup(now, schedulerWatermark(sfDir),
          retail.ingestUnit, retail.marts)
        println(s"[runner] catchup ran ${ran.size} tick(s): " +
          ran.mkString(","))
        ran.size.toLong
      }))

    // the MAINTENANCE chain: retire feed generations past the retention
    // depth across every admission-fold family (Generations contract:
    // retention bounds replay depth, deeper replays fail loudly).
    // SPARK_GRAFT_GC_KEEP overrides the default depth of 3.
    val gcKeep = sys.env.get("SPARK_GRAFT_GC_KEEP").map(_.toInt).getOrElse(3)
    // each family's base dir (evaluated only when its task runs) and
    // the parts its generations are complete over
    def gcFeeds(family: String, base: => String,
                parts: Seq[String]): (String, () => Long) =
      s"gc_${family}_feeds" -> (() => {
        val retired = graft.io.Generations.gcAll(base, gcKeep,
          graft.io.Artifacts.complete(_, parts))
        retired.foreach { case (tag, ids) =>
          println(s"[runner] gc: feed '$tag' retired gens ${ids.mkString(",")}")
        }
        retired.values.map(_.size.toLong).sum
      })
    val maintenance: Seq[(String, () => Long)] = Seq(
      gcFeeds("lsh", ext.DedupOps.lshIndexDir(sfDir),
        ext.DedupOps.lshIndexParts),
      gcFeeds("sha", ext.LedgerOps.ledgerDir(sfDir),
        ext.LedgerOps.ledgerParts),
      gcFeeds("hll", ext.SketchOps.hllBaseDir(sfDir), Nil),
      gcFeeds("pca", ext.VectorOps.pcaBaseDir(sfDir), Nil),
      gcFeeds("hdr", ext.SketchOps.hdrBaseDir(sfDir), Nil),
      gcFeeds("ivf", ext.VectorOps.ivfFoldBaseDir(sfDir),
        ext.VectorOps.ivfFoldParts))

    val retries = sys.env.getOrElse("SPARK_GRAFT_TASK_RETRIES", "0").toInt
    val backoff = sys.env.getOrElse("SPARK_GRAFT_RETRY_BACKOFF_MS", "0")
      .toLong
    def linear(tasks: Seq[(String, () => Long)]): () => Unit =
      () => runChain(tasks, maxRetries = retries, backoffMs = backoff)
    val chains = scala.collection.immutable.ListMap[String, () => Unit](
      "daily" -> linear(retail.steps(retail.tasks)),
      "corpus" -> linear(corpus),
      "incremental" -> linear(incrementalChain(spark, sfDir)),
      "publish" -> linear(publish),
      "backfill" -> linear(backfill),
      "scheduler" -> linear(scheduler),
      "maintenance" -> linear(maintenance),
      "serve" -> linear(serveTasks(spark, sfDir)),
      "mapped" -> (() => runMapped(mappedSteps(spark, sfDir),
        maxRetries = retries, backoffMs = backoff)))

    val run = chains.getOrElse(chain, {
      System.err.println(s"[runner] unknown chain '$chain' " +
        s"(expected ${chains.keys.mkString("|")})")
      spark.stop(); sys.exit(2)
    })
    try run()
    catch {
      case e: Throwable =>
        System.err.println(s"[runner] FAILED: $e")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }

  /** Where the daily-cadence watermark lives for a dataset (under
    * target/, keyed by fixture name — never inside the read-only
    * data dir). */
  private[graft] def schedulerWatermark(sfDir: String): File =
    new File(s"target/scheduler/daily_${new File(sfDir).getName}.tick")

  /** The `@daily` tick arithmetic (Airflow cadence + catchup=True):
    * every logical date STRICTLY AFTER the watermark, up to and
    * including `now`, oldest first — Airflow's catchup execution
    * order. First activation (no watermark) runs only `now`'s tick:
    * there is no start_date older than the deployment. */
  private[graft] def dueTicks(lastTick: Option[LocalDate], now: LocalDate)
      : Seq[LocalDate] = lastTick match {
    case None => Seq(now)
    case Some(t) =>
      Iterator.iterate(t.plusDays(1))(_.plusDays(1))
        .takeWhile(!_.isAfter(now)).toSeq
  }

  /** CLOCK-FIRED CATCH-UP: run `dayChain` once per due tick (oldest
    * first), COMMITTING THE WATERMARK AFTER EACH COMPLETED DAY — a
    * crash mid-catchup resumes at the first unfinished tick, and an
    * already-run tick can never re-fire (re-running a day would be
    * harmless anyway: the per-day unit is an idempotent partition
    * overwrite, drilled in RunnerSchedulingSpec). `tail` runs once
    * after all ticks (the marts land once, matching the backfill
    * shape). Returns the dates run.
    */
  private[graft] def runCatchup(now: LocalDate, wmFile: File,
                                dayChain: String => Seq[(String, () => Long)],
                                tail: Seq[(String, () => Long)] = Seq.empty,
                                log: String => Unit = println)
      : Seq[String] = {
    val last = Option.when(wmFile.exists())(
      LocalDate.parse(Files.readString(wmFile.toPath).trim))
    val ticks = dueTicks(last, now)
    if (ticks.isEmpty) log(s"[runner] catchup: watermark $last current, " +
      s"nothing due at $now")
    ticks.foreach { d =>
      log(s"[runner] tick $d firing (watermark was $last)")
      runChain(dayChain(d.toString), log = log)
      wmFile.getParentFile.mkdirs()
      Files.writeString(wmFile.toPath, d.toString)
    }
    if (ticks.nonEmpty) runChain(tail, log = log)
    ticks.map(_.toString)
  }

  // ---- dynamic task mapping + XCom + dataset outlets (the remaining
  // Airflow scheduler semantics, exampledag.py:40–99) ----

  /** XCom analogue (exampledag.py:75–77 `ti.xcom_push`): the per-run,
    * key-addressed value channel between tasks in one chain. Values
    * stay driver-side and SMALL by contract — task lists, counts,
    * paths — exactly Airflow's XCom discipline (row data flows through
    * the engine, never through the channel). A pull of a never-pushed
    * key fails loudly with the pushed keys listed, the fail-fast
    * equivalent of Airflow's "upstream returned no value".
    */
  final class XCom {
    private val store =
      scala.collection.concurrent.TrieMap.empty[String, Any]
    def push(key: String, value: Any): Unit = { store.put(key, value); () }
    def pull[T](key: String): T = store.get(key) match {
      case Some(v) => v.asInstanceOf[T]
      case None => throw new NoSuchElementException(
        s"xcom: no value pushed for key '$key' " +
          s"(pushed: ${store.keys.toSeq.sorted.mkString(",")})")
    }
  }

  /** One step of a dynamically-mapped chain. */
  sealed trait Step
  /** A plain task with channel access; the Long return is the chain
    * log's row count (pushes to the channel are explicit — the typed,
    * honest form of TaskFlow's implicit return_value XCom). */
  final case class Task(name: String, run: XCom => Long) extends Step
  /** Dynamic task mapping (exampledag.py:96–99
    * `.partial(greeting=...).expand(person_in_space=...)`): one task
    * instance per element of the Seq a PRIOR task pushed under
    * `sourceKey`, named `name[i]` (Airflow's map_index), run in element
    * order under the chain's retry/fail-fast rules. An empty source
    * expands to ZERO instances and the chain continues — Airflow marks
    * the mapped task skipped. Fixed arguments (`partial`) are plain
    * closure captures of `run`. */
  final case class Expand(name: String, sourceKey: String,
                          run: (XCom, Any, Int) => Long) extends Step

  /** Run a mapped chain: expansion happens only when the Expand step is
    * REACHED — after every upstream task ran — so the instance list is
    * runtime data, not DAG-authoring data (the whole point of dynamic
    * mapping). Each instance is an ordinary task under [[runChain]]'s
    * bounded-retry fail-fast loop: instance `name[2]` failing aborts
    * `name[3..]` and every later step, like any chain task. Returns the
    * channel so callers (and specs) can read what the run published.
    */
  private[graft] def runMapped(steps: Seq[Step], xcom: XCom = new XCom,
                               maxRetries: Int = 0, backoffMs: Long = 0L,
                               log: String => Unit = println): XCom = {
    steps.foreach {
      case Task(name, run) =>
        runChain(Seq(name -> (() => run(xcom))), maxRetries, backoffMs, log)
      case Expand(name, key, run) =>
        val items = xcom.pull[Seq[Any]](key)
        if (items.isEmpty)
          log(s"[runner] $name: source '$key' is empty — " +
            "0 mapped instances (skipped)")
        runChain(items.zipWithIndex.map { case (item, i) =>
          s"$name[$i]" -> (() => run(xcom, item, i))
        }, maxRetries, backoffMs, log)
    }
    xcom
  }

  /** Data-aware scheduling (Airflow Dataset outlets,
    * exampledag.py:40–42): a completing task APPENDS an event to its
    * outlet dataset (a monotonic per-dataset sequence persisted under
    * `base`, so triggering survives restarts like the scheduler
    * watermark); a consumer chain is DUE iff EVERY inlet dataset has an
    * event newer than what the consumer last consumed — Airflow's
    * all-of dataset trigger. Consuming records the current sequence per
    * inlet in the consumer's watermark file (`name=seq` lines). */
  private[graft] def datasetEvent(base: File, name: String): Long = {
    base.mkdirs()
    val f = new File(base, s"$name.seq")
    val next = datasetSeq(base, name) + 1
    Files.writeString(f.toPath, next.toString)
    next
  }

  private[graft] def datasetSeq(base: File, name: String): Long = {
    val f = new File(base, s"$name.seq")
    if (f.exists()) Files.readString(f.toPath).trim.toLong else 0L
  }

  private[graft] def consumedSeqs(wm: File): Map[String, Long] =
    if (!wm.exists()) Map.empty
    else Files.readString(wm.toPath).linesIterator
      .filter(_.contains('='))
      .map { l =>
        val Array(n, s) = l.split("=", 2); n -> s.trim.toLong
      }.toMap

  private[graft] def datasetsDue(base: File, inlets: Seq[String],
                                 wm: File): Boolean = {
    val seen = consumedSeqs(wm)
    inlets.nonEmpty &&
      inlets.forall(n => datasetSeq(base, n) > seen.getOrElse(n, 0L))
  }

  private[graft] def consumeDatasets(base: File, inlets: Seq[String],
                                     wm: File): Unit = {
    wm.getParentFile.mkdirs()
    Files.writeString(wm.toPath,
      inlets.map(n => s"$n=${datasetSeq(base, n)}").mkString("\n"))
  }

  /** The SERVING chain's tasks (the reference's BI handoff: transform
    * tasks land the marts in the Postgres warehouse that Superset then
    * reads — transform_utils.py:110–129 + the Superset Dockerfile):
    * publish each mart to the out-of-process PostgreSQL fixture over
    * TCP, then verify the warehouse copy row-for-row (read back through
    * the same partition-capable JDBC source, anti-join both ways —
    * count equality alone would pass a corrupted row). Overwrite per
    * table = an idempotent re-serve, the mart-refresh cadence. The BI
    * TOOL stays out of scope; the warehouse tables it queries are
    * these. Table names carry the fixture tag so concurrent serves at
    * different SFs never collide.
    */
  private[graft] def serveTasks(spark: SparkSession,
                                sfDir: String): Seq[(String, () => Long)] = {
    val opts = Map("driver" -> "org.postgresql.Driver")
    val tag = new File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    new RetailTable(spark, sfDir).of(Role.Mart).map { t =>
      s"serve_${t.name}" -> (() => {
        val url = PgFixture.ensure()
        val table = s"mart_${t.name}_$tag"
        val frame = t.frame(asOf)
        Jdbc.write(frame, url, table, SaveMode.Overwrite, options = opts)
        val back = Jdbc.read(spark, url, table, options = opts)
        val missing = frame.exceptAll(back).count()
        val phantom = back.exceptAll(frame).count()
        if (missing + phantom != 0) throw new IllegalStateException(
          s"serve $table: warehouse copy diverges from the mart " +
            s"($missing mart rows missing, $phantom phantom rows)")
        back.count()
      })
    }
  }

  /** Which feed entities are present in this fixture dir — the runtime
    * list the mapped chain expands over (the astronaut-list analogue,
    * exampledag.py:43–77: the upstream task returns a list whose length
    * the DAG author cannot know). Probes each feed's source fixture;
    * DAG order (ingestion_dag.py:28) is preserved among those found. */
  private[graft] def discoverFeeds(sfDir: String): Seq[String] =
    Seq("suppliers" -> "supplier.parquet", "products" -> "part.parquet",
      "customers" -> "customer.parquet", "sales" -> "lineitem.parquet")
      .collect { case (e, f) if new File(sfDir, f).exists() => e }

  private[graft] def datasetBase(sfDir: String): File =
    new File(s"target/scheduler/datasets_${new File(sfDir).getName}")

  /** The DYNAMIC-MAPPING chain (reference exampledag.py end-to-end):
    * discover the feeds present at runtime → one mapped ingestion
    * instance per feed, each firing its `raw_<feed>` dataset outlet on
    * completion → a data-aware consumer that rebuilds the marts only if
    * EVERY raw dataset has a fresh event, then consumes them (a re-run
    * with no new outlet events is a recorded no-op). */
  private[graft] def mappedSteps(spark: SparkSession,
                                 sfDir: String): Seq[Step] = {
    val base = datasetBase(sfDir)
    val martsWm = new File(base, "consumer_marts.wm")
    val retail = new RetailTable(spark, sfDir)
    val ingest = retail.steps(retail.of(Role.Feed)).toMap
    Seq(
      Task("discover_feeds", x => {
        val feeds = discoverFeeds(sfDir)
        x.push("feeds", feeds)
        x.push("n_feeds", feeds.size)
        feeds.size.toLong
      }),
      Expand("ingest_feed", "feeds", (_, feed, _) => {
        val n = ingest(s"ingest_$feed")()
        datasetEvent(base, s"raw_$feed")
        n
      }),
      Task("marts_if_fresh", x => {
        val inlets = x.pull[Seq[String]]("feeds").map("raw_" + _)
        if (datasetsDue(base, inlets, martsWm)) {
          runChain(retail.marts)
          consumeDatasets(base, inlets, martsWm)
          x.pull[Int]("n_feeds").toLong
        } else {
          println(s"[runner] marts_if_fresh: no new events on " +
            s"${inlets.mkString(",")} — skipping mart rebuild")
          0L
        }
      }))
  }

  /** The chain loop with BOUNDED PER-TASK RETRY (the Airflow
    * `retries`/`retry_delay` semantics the reference configures at
    * ingestion_dag.py — here in-engine): a task gets 1 + `maxRetries`
    * attempts with linear backoff; exhausting them lets the LAST
    * attempt's exception propagate, which aborts the chain fail-fast
    * (retries default to 0). Safe to retry by construction: every task
    * in every chain is either a read-only aggregation or an idempotent
    * overwrite (the DAY_DT-partition and artifact-dir contracts), so a
    * failed attempt leaves nothing a second attempt can double-apply.
    */
  private[graft] def runChain(tasks: Seq[(String, () => Long)],
                              maxRetries: Int = 0,
                              backoffMs: Long = 0L,
                              log: String => Unit = println): Unit =
    tasks.foreach { case (name, run) =>
      var attempt = 0
      var done = false
      while (!done) {
        val t0 = System.nanoTime()
        try {
          val rows = run()
          log(f"[runner] $name ok rows=$rows " +
            f"sec=${(System.nanoTime() - t0) / 1e9}%.2f" +
            (if (attempt > 0) s" attempts=${attempt + 1}" else ""))
          done = true
        } catch {
          case e: Throwable if attempt < maxRetries =>
            attempt += 1
            log(s"[runner] $name attempt $attempt failed: $e — retrying")
            if (backoffMs > 0) Thread.sleep(backoffMs * attempt)
        }
      }
    }
}
