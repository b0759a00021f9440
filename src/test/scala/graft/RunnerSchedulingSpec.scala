package graft

import java.io.File

import org.apache.spark.sql.functions.col

import graft.pipelines.Ingestion

/** The scheduler-semantics layer the reference delegates to Airflow:
  * bounded per-task retry (attempt counting, fail-fast on exhaustion,
  * later tasks never run after an abort) and the multi-date backfill's
  * partition arithmetic (per-day DAY_DT partitions accumulate; a
  * re-run of one day is idempotent and leaves neighbors untouched).
  */
class RunnerSchedulingSpec extends SparkSpec {
  import spark.implicits._

  test("retry: flaky task succeeds within budget, attempts are logged") {
    var calls = 0
    val logs = Seq.newBuilder[String]
    Runner.runChain(Seq(
      "flaky" -> (() => {
        calls += 1
        if (calls < 3) sys.error(s"boom $calls")
        7L
      }),
      "after" -> (() => 1L)),
      maxRetries = 3, log = logs += _)
    assert(calls == 3, "two failures then success")
    val out = logs.result()
    assert(out.exists(_.contains("flaky ok rows=7")), out.toString)
    assert(out.count(_.contains("retrying")) == 2, out.toString)
    assert(out.exists(l => l.contains("flaky ok") &&
      l.contains("attempts=3")), out.toString)
    assert(out.exists(_.contains("after ok")), "chain continues")
  }

  test("retry exhaustion aborts fail-fast; later tasks never run") {
    var ran = false
    val e = intercept[RuntimeException] {
      Runner.runChain(Seq(
        "doomed" -> (() => sys.error("always")),
        "never" -> (() => { ran = true; 1L })),
        maxRetries = 2)
    }
    assert(e.getMessage == "always")
    assert(!ran, "tasks after an exhausted retry must not run")
  }

  test("zero retries (the default) == the original fail-fast loop") {
    var calls = 0
    intercept[RuntimeException] {
      Runner.runChain(Seq("t" -> (() => { calls += 1; sys.error("x") })))
    }
    assert(calls == 1, "no retry unless opted in")
  }

  test("backfill: per-day partitions accumulate; day re-run idempotent") {
    val legacy = s"target/ingest/${new File(sfDir).getName}/suppliers/legacy"
    def dayRows(d: String): Seq[(Long, String)] =
      spark.read.parquet(legacy)
        .filter(col("DAY_DT") === d)
        .select(col("SUPPLIER_ID"), col("SUPPLIER_NAME"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (d1, d2) = ("2024-06-01", "2024-06-02")
    val n1 = Ingestion.suppliers(spark, sfDir, d1).count()
    val n2 = Ingestion.suppliers(spark, sfDir, d2).count()
    assert(n1 == n2 && n1 > 0, "same feed lands for both logical days")
    val r1 = dayRows(d1)
    val r2 = dayRows(d2)
    assert(r1.nonEmpty && r1 == r2.sortBy(_._1),
      "both partitions hold the feed")
    // re-running day 2 must leave day 1's partition untouched and
    // reproduce day 2's rows exactly (dynamic-partition overwrite)
    Ingestion.suppliers(spark, sfDir, d2).count()
    assert(dayRows(d1) == r1, "neighbor partition modified by re-run")
    assert(dayRows(d2) == r2, "day re-run is not idempotent")
  }

  private def ld(s: String) = java.time.LocalDate.parse(s)

  test("dueTicks: strictly-after-watermark up to now, ordered; " +
      "first activation fires only now; current watermark fires none") {
    assert(Runner.dueTicks(None, ld("2024-07-10")) ==
      Seq(ld("2024-07-10")))
    assert(Runner.dueTicks(Some(ld("2024-07-07")), ld("2024-07-10")) ==
      Seq(ld("2024-07-08"), ld("2024-07-09"), ld("2024-07-10")))
    assert(Runner.dueTicks(Some(ld("2024-07-10")), ld("2024-07-10"))
      .isEmpty)
    assert(Runner.dueTicks(Some(ld("2024-07-11")), ld("2024-07-10"))
      .isEmpty, "watermark ahead of the clock fires nothing")
  }

  test("catchup drill: 3 missed ticks fire 3 ordered day runs, " +
      "tail once, watermark advances; re-fire is a no-op") {
    val wm = new File("target/scheduler/spec_catchup.tick")
    wm.getParentFile.mkdirs()
    java.nio.file.Files.writeString(wm.toPath, "2024-07-07")
    val fired = Seq.newBuilder[String]
    var tails = 0
    def day(d: String): Seq[(String, () => Long)] =
      Seq(s"unit@$d" -> (() => { fired += d; 1L }))
    val ran = Runner.runCatchup(ld("2024-07-10"), wm, day,
      tail = Seq("marts" -> (() => { tails += 1; 1L })),
      log = _ => ())
    assert(ran == Seq("2024-07-08", "2024-07-09", "2024-07-10"))
    assert(fired.result() == ran, "ticks fire oldest-first, once each")
    assert(tails == 1, "tail runs once after all ticks")
    assert(java.nio.file.Files.readString(wm.toPath) == "2024-07-10")
    // the clock hasn't moved: nothing due, tail does not re-run
    val again = Runner.runCatchup(ld("2024-07-10"), wm, day,
      tail = Seq("marts" -> (() => { tails += 1; 1L })), log = _ => ())
    assert(again.isEmpty && tails == 1, "re-fire must be a no-op")
  }

  test("catchup crash mid-run: watermark holds the last COMPLETED " +
      "tick; the rerun resumes at the first unfinished one") {
    val wm = new File("target/scheduler/spec_crash.tick")
    wm.getParentFile.mkdirs()
    java.nio.file.Files.writeString(wm.toPath, "2024-07-07")
    val fired = Seq.newBuilder[String]
    var crash = true
    def day(d: String): Seq[(String, () => Long)] =
      Seq(s"unit@$d" -> (() => {
        if (crash && d == "2024-07-09") sys.error("executor lost")
        fired += d; 1L
      }))
    intercept[RuntimeException] {
      Runner.runCatchup(ld("2024-07-10"), wm, day, log = _ => ())
    }
    assert(java.nio.file.Files.readString(wm.toPath) == "2024-07-08",
      "watermark must hold the last completed tick, not the crashed one")
    crash = false
    val resumed = Runner.runCatchup(ld("2024-07-10"), wm, day, log = _ => ())
    assert(resumed == Seq("2024-07-09", "2024-07-10"), "resume point")
    assert(fired.result() == Seq("2024-07-08", "2024-07-09", "2024-07-10"),
      "every tick ran exactly once across crash + resume")
  }

  // ---- dynamic task mapping + XCom + dataset outlets (§2.12,
  // reference exampledag.py:40–99) ----

  test("xcom: push/pull round-trips; missing key fails loudly naming " +
      "the pushed keys") {
    val x = new Runner.XCom
    x.push("feeds", Seq("a", "b"))
    x.push("n", 2)
    assert(x.pull[Seq[String]]("feeds") == Seq("a", "b"))
    assert(x.pull[Int]("n") == 2)
    val e = intercept[NoSuchElementException](x.pull[Int]("absent"))
    assert(e.getMessage.contains("absent") &&
      e.getMessage.contains("feeds,n"), e.getMessage)
  }

  test("expand: one instance per runtime element, map_index naming, " +
      "element order, partial capture fixed") {
    val logs = Seq.newBuilder[String]
    val seen = Seq.newBuilder[(String, Int)]
    val greeting = "hello" // the .partial() analogue: a closure capture
    Runner.runMapped(Seq(
      Runner.Task("discover", x => {
        x.push("items", Seq("ann", "bob", "cy")); 3L
      }),
      Runner.Expand("greet", "items", (_, item, i) => {
        seen += ((s"$greeting ${item.asInstanceOf[String]}", i)); 1L
      })), log = logs += _)
    assert(seen.result() ==
      Seq(("hello ann", 0), ("hello bob", 1), ("hello cy", 2)))
    val names = logs.result().filter(_.contains(" ok "))
    assert(names.exists(_.contains("greet[0] ok")) &&
      names.exists(_.contains("greet[2] ok")), names.toString)
  }

  test("expand over an empty source: zero instances, chain continues; " +
      "expand before its source pushed fails loudly") {
    var after = false
    val logs = Seq.newBuilder[String]
    Runner.runMapped(Seq(
      Runner.Task("discover", x => { x.push("items", Seq.empty[String]); 0L }),
      Runner.Expand("mapped", "items", (_, _, _) => sys.error("never")),
      Runner.Task("tail", _ => { after = true; 1L })), log = logs += _)
    assert(after, "empty expansion must not block the chain")
    assert(logs.result().exists(_.contains("0 mapped instances")))
    intercept[NoSuchElementException] {
      Runner.runMapped(Seq(
        Runner.Expand("orphan", "unpushed", (_, _, _) => 1L)), log = _ => ())
    }
  }

  test("mapped instance failure aborts later instances and steps " +
      "fail-fast; per-instance retry honors the budget") {
    val ran = Seq.newBuilder[Int]
    var tail = false
    intercept[RuntimeException] {
      Runner.runMapped(Seq(
        Runner.Task("discover", x => { x.push("items", Seq(0, 1, 2)); 3L }),
        Runner.Expand("work", "items", (_, _, i) => {
          if (i == 1) sys.error("instance down")
          ran += i; 1L
        }),
        Runner.Task("tail", _ => { tail = true; 1L })), log = _ => ())
    }
    assert(ran.result() == Seq(0), "instances after a failure must not run")
    assert(!tail, "steps after a failed expansion must not run")
    // same chain with a retry budget: a once-flaky instance recovers
    var flaky = true
    val attempts = Seq.newBuilder[Int]
    Runner.runMapped(Seq(
      Runner.Task("discover", x => { x.push("items", Seq(0, 1)); 2L }),
      Runner.Expand("work", "items", (_, _, i) => {
        attempts += i
        if (i == 1 && flaky) { flaky = false; sys.error("transient") }
        1L
      })), maxRetries = 1, log = _ => ())
    assert(attempts.result() == Seq(0, 1, 1), "instance retried in place")
  }

  test("dataset outlets: consumer due iff EVERY inlet has a fresh " +
      "event; consume resets; partial updates stay not-due") {
    val base = new File("target/scheduler/spec_datasets")
    val wm = new File(base, "consumer.wm")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    val inlets = Seq("raw_a", "raw_b")
    assert(!Runner.datasetsDue(base, inlets, wm), "no events yet")
    Runner.datasetEvent(base, "raw_a")
    assert(!Runner.datasetsDue(base, inlets, wm),
      "one of two inlets updated — Airflow's all-of trigger stays closed")
    Runner.datasetEvent(base, "raw_b")
    assert(Runner.datasetsDue(base, inlets, wm))
    Runner.consumeDatasets(base, inlets, wm)
    assert(!Runner.datasetsDue(base, inlets, wm), "consumed — not due")
    // a new event on every inlet re-opens the trigger; seqs are
    // monotonic so stale consumption can never mask a newer event
    inlets.foreach(Runner.datasetEvent(base, _))
    assert(Runner.datasetsDue(base, inlets, wm))
    assert(Runner.datasetSeq(base, "raw_a") == 2L)
  }

  test("mapped chain end-to-end over the real feeds: discovery finds " +
      "all four, mapped ingests land, marts fire once then no-op") {
    val feeds = Runner.discoverFeeds(sfDir)
    assert(feeds == Seq("suppliers", "products", "customers", "sales"),
      s"fixture dir must expose all four feeds: $feeds")
    assert(Runner.discoverFeeds("/nonexistent").isEmpty,
      "no fixtures, no feeds — the runtime list is really runtime")
    val base = Runner.datasetBase(sfDir)
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    val logs = Seq.newBuilder[String]
    val x = Runner.runMapped(Runner.mappedSteps(spark, sfDir),
      log = logs += _)
    assert(x.pull[Int]("n_feeds") == 4)
    val out = logs.result()
    assert(out.exists(_.contains("ingest_feed[3] ok")), out.toString)
    assert(Runner.datasetSeq(base, "raw_sales") == 1L)
    assert(out.exists(_.contains("marts_if_fresh ok rows=4")),
      "data-aware consumer must have rebuilt the marts: " + out.toString)
    // re-run without new outlet events: the consumer is a recorded no-op
    val logs2 = Seq.newBuilder[String]
    Runner.runMapped(Seq(Runner.mappedSteps(spark, sfDir).last),
      { val x2 = new Runner.XCom
        x2.push("feeds", feeds); x2.push("n_feeds", feeds.size); x2 },
      log = logs2 += _)
    assert(logs2.result().exists(_.contains("marts_if_fresh ok rows=0")),
      logs2.result().toString)
  }

  test("catchup over the real per-day ingest unit: 3 missed days land " +
      "3 idempotent DAY_DT partitions") {
    val wm = new File("target/scheduler/spec_ingest.tick")
    wm.getParentFile.mkdirs()
    java.nio.file.Files.writeString(wm.toPath, "2024-06-09")
    val legacy = s"target/ingest/${new File(sfDir).getName}/suppliers/legacy"
    val ran = Runner.runCatchup(ld("2024-06-12"), wm,
      new Runner.RetailTable(spark, sfDir).ingestUnit, log = _ => ())
    assert(ran == Seq("2024-06-10", "2024-06-11", "2024-06-12"))
    val byDay = spark.read.parquet(legacy)
      .filter(col("DAY_DT").isin(ran: _*))
      .groupBy(col("DAY_DT")).count()
      .as[(String, Long)].collect().toMap
    assert(byDay.keySet == ran.toSet, s"partitions present: $byDay")
    assert(byDay.values.toSet.size == 1 && byDay.values.head > 0,
      s"same feed volume per day: $byDay")
  }
}
