package graft

import java.io.File
import java.nio.file.Files

import scala.io.Source
import scala.util.Using

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.io.Sinks
import graft.ops.Canon
import graft.pipelines.{CustomerSalesReport, Ingestion, ProductPerformance,
  SupplierPerformance}
import graft.retail.Retail

/** The retail task table's `daily` chain lands every report and mart as
  * one DAY_DT partition beside ingestion's legacy tables: read back, a
  * mart equals what its function returns, the logged `rows=` is the
  * written row count, and a re-run of the day leaves the same rows.
  */
class RunnerDailySpec extends SparkSpec {

  // A copy of the fixture under a fresh name: everything the chain lands
  // goes under target/ingest/<name>/, so this run starts from an empty
  // landing root and never sees another suite's partitions.
  private val sf: String = {
    val d = Files.createTempDirectory("runner_daily_sf").toFile
    FileUtils.copyDirectory(new File(sfDir), d)
    d.getPath
  }
  private def landed(task: String): String = Ingestion.legacyDir(sf, task)

  private val marts: Seq[(String, () => DataFrame)] = Seq(
    "supplier_performance" -> (() => SupplierPerformance(spark, sf)),
    "product_performance" -> (() => ProductPerformance(spark, sf)),
    "customer_sales_report" -> (() => CustomerSalesReport(spark, sf)))
  private val reports = Seq("expectations", "daily_anomalies")

  private def runDaily(): Seq[String] = {
    val logs = Seq.newBuilder[String]
    val retail = new Runner.RetailTable(spark, sf)
    Runner.runChain(retail.steps(retail.tasks), log = logs += _)
    logs.result()
  }

  private def readBack(task: String, like: Seq[String]): DataFrame =
    Canon.canonicalize(Sinks.readLegacyDay(spark, landed(task), Retail.asOf))
      .select(like.map(col): _*)

  private def rows(task: String): Seq[String] =
    spark.read.parquet(landed(task)).collect().map(_.toString).sorted.toSeq

  override def afterAll(): Unit = {
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "")
    Option(new File("target/bucketed").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(s"_$tag")).foreach(FileUtils.deleteQuietly)
    FileUtils.deleteQuietly(new File("target/ingest", new File(sf).getName))
    FileUtils.deleteQuietly(new File(sf))
    super.afterAll()
  }

  private lazy val firstRun: Seq[String] = runDaily()

  test("daily lands each mart and report as one DAY_DT partition") {
    firstRun
    for (task <- marts.map(_._1) ++ reports) {
      val parts = Option(new File(landed(task)).list()).toSeq.flatten
        .filter(_.startsWith("DAY_DT="))
      assert(parts == Seq(s"DAY_DT=${Retail.asOf}"), s"$task: $parts")
    }
  }

  test("read back, each mart equals its function's frame; rows= is the " +
      "written row count") {
    val logs = firstRun
    for ((task, mart) <- marts) {
      val want = mart()
      val got = readBack(task, want.columns.toSeq)
      assert(want.exceptAll(got).isEmpty, s"$task: mart rows not landed")
      assert(got.exceptAll(want).isEmpty, s"$task: landed rows not in mart")
      val n = got.count()
      assert(n == want.count() && n > 0, s"$task: $n rows")
      assert(logs.exists(_.startsWith(s"[runner] $task ok rows=$n ")),
        s"$task: ${logs.mkString("\n")}")
    }
    for (task <- reports) {
      val n = Sinks.readLegacyDay(spark, landed(task), Retail.asOf).count()
      assert(n > 0 &&
        logs.exists(_.startsWith(s"[runner] $task ok rows=$n ")),
        s"$task: $n rows; ${logs.mkString("\n")}")
    }
  }

  test("a second run of the same day leaves the same rows") {
    firstRun
    val tasks = marts.map(_._1) ++ reports
    val before = tasks.map(rows)
    runDaily()
    assert(tasks.map(rows) == before)
  }

  test("Runner.scala builds each retail task in one place") {
    val src = Using.resource(Source.fromFile(
      "src/main/scala/graft/Runner.scala", "UTF-8"))(_.mkString)
    val calls = Seq("SupplierPerformance(", "ProductPerformance(",
      "CustomerSalesReport(", "Ingestion.suppliers(", "Ingestion.products(",
      "Ingestion.customers(", "Ingestion.sales(")
    val counts = calls.map(c =>
      c -> java.util.regex.Pattern.quote(c).r.findAllMatchIn(src).size)
    assert(counts.forall(_._2 == 1), counts.mkString(", "))
  }
}
