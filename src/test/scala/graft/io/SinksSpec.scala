package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("sinks").toString

  test("doubleWrite: raw is snapshot-date-free, legacy partitioned by day") {
    val d = Seq((1L, "a"), (2L, "b")).toDF("ID", "V")
      .withColumn("DAY_DT", to_date(lit("2024-06-01")))
    val raw = tmp() + "/raw"; val legacy = tmp() + "/legacy"
    Sinks.doubleWrite(d, raw, legacy)
    assert(spark.read.parquet(raw).columns.toSet == Set("ID", "V"))
    val back = Sinks.readLegacyDay(spark, legacy, "2024-06-01")
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("ID", "V", "DAY_DT"))
  }

  test("doubleWrite same-day rerun is idempotent; other days survive") {
    val legacy = tmp() + "/legacy"
    def day(d: String, v: String) =
      Seq((1L, v)).toDF("ID", "V").withColumn("DAY_DT", to_date(lit(d)))
    Sinks.doubleWrite(day("2024-06-01", "first"), tmp() + "/r1", legacy)
    Sinks.doubleWrite(day("2024-06-02", "other"), tmp() + "/r2", legacy)
    // rerun day 1 with corrected data — must replace, not duplicate
    Sinks.doubleWrite(day("2024-06-01", "fixed"), tmp() + "/r3", legacy)
    val d1 = Sinks.readLegacyDay(spark, legacy, "2024-06-01").collect()
    assert(d1.length == 1 && d1.head.getString(1) == "fixed")
    assert(Sinks.readLegacyDay(spark, legacy, "2024-06-02").count() == 1)
  }

  test("dayPartition returns the rows written and replaces a same-day " +
      "partition") {
    val legacy = tmp() + "/legacy"
    def day(d: String, n: Int) =
      (1 to n).map(i => (i.toLong, d)).toDF("ID", "V")
        .withColumn("DAY_DT", to_date(lit(d)))
    assert(Sinks.dayPartition(day("2024-06-01", 3), legacy) == 3L)
    assert(Sinks.dayPartition(day("2024-06-02", 2), legacy) == 2L)
    assert(Sinks.dayPartition(day("2024-06-01", 1), legacy) == 1L)
    assert(Sinks.readLegacyDay(spark, legacy, "2024-06-01").count() == 1)
    assert(Sinks.readLegacyDay(spark, legacy, "2024-06-02").count() == 2)
    assert(Sinks.dayPartition(day("2024-06-03", 0), legacy) == 0L)
  }

  test("legacy read-back prunes partitions (PartitionFilters on DAY_DT)") {
    val legacy = tmp() + "/legacy"
    val d = Seq((1L, "a")).toDF("ID", "V")
      .withColumn("DAY_DT", to_date(lit("2024-06-01")))
    Sinks.doubleWrite(d, tmp() + "/raw", legacy)
    val plan = Sinks.readLegacyDay(spark, legacy, "2024-06-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("DAY_DT"), s"no partition pruning in:\n$plan")
  }
}
