package graft.pipelines

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Listened, SparkSpec}
import graft.io.Sinks
import graft.ops.{DuplicateKeyException, Normalize, Quality}

class IngestionSpec extends SparkSpec {
  import spark.implicits._

  test("full ingestion pipelines produce the entity + DAY_DT read-back") {
    val sup = Ingestion.suppliers(spark, sfDir)
    assert(sup.columns.toSeq == Seq("SUPPLIER_ID", "SUPPLIER_NAME",
      "CONTACT_DETAILS", "REGION", "DAY_DT"))
    assert(sup.count() == 10)
    assert(sup.select("DAY_DT").distinct().as[String].head() == "2024-06-01")
    // OAuth-secured path
    assert(Ingestion.customers(spark, sfDir).count() == 150)
  }

  test("dup gate aborts an ingestion BEFORE anything is written") {
    val legacy = Files.createTempDirectory("gate").toString + "/legacy"
    val dup = Seq((1L, "a"), (1L, "b")).toDF("ID", "V")
      .withColumn("DAY_DT", to_date(lit("2024-06-01")))
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    assertThrows[DuplicateKeyException] {
      Sinks.doubleWrite(dup, legacy + "_raw", legacy,
        gate = Quality.requireUnique(_, Seq("ID"))) // as pipelines pass it
    }
    assert(!new File(legacy).exists() && !new File(legacy + "_raw").exists(),
      "written despite failing gate")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached,
      "the failed gate left its frame cached")
  }

  test("a REST feed over the cap is refused before anything is staged") {
    val sf = Files.createTempDirectory("rest_cap_sf").toString
    val landing = new File("target/ingest", new File(sf).getName)
    val feed = spark.range(10).toDF("ID")
    val schema = StructType(Seq(StructField("id", LongType)))
    def extract(cap: Long): DataFrame = Ingestion.viaRest(spark, sf, feed,
      "capped", Map.empty, secured = false, schema, cap = cap)
    try {
      val e = intercept[IllegalArgumentException](extract(cap = 5))
      assert(e.getMessage.contains("more than 5 rows"), e.getMessage)
      assert(!landing.exists(), "staged despite the cap")
      assert(extract(cap = 10).count() == 10) // a feed at the cap lands
    } finally FileUtils.deleteQuietly(landing)
  }

  test("a supplier ingest stays under its job ceiling") {
    val jobs = Listened(spark)(Ingestion.suppliers(spark, sfDir)).jobs
    info(s"Ingestion.suppliers: $jobs jobs")
    assert(jobs <= SuppliersJobCeiling, s"$jobs jobs")
  }

  test("ingestion conformance survives messy raw names end-to-end") {
    val raw = Seq((7L, "x")).toDF(" Supplier Id ", "supplier name")
    val conformed = Normalize.selectCols(
      Normalize.normalizeColumnNames(raw),
      Seq("SUPPLIER_ID", "SUPPLIER_NAME"))
    assert(conformed.columns.toSeq == Seq("SUPPLIER_ID", "SUPPLIER_NAME"))
    assert(conformed.as[(Long, String)].head() == ((7L, "x")))
  }

  /** Jobs `Ingestion.suppliers` may start on the sf0.001 fixture: its
    * measured 13 (three fixture schema reads, the extract's one collect
    * with its broadcasts, the gate, the two writes, the read-back's
    * schema). A size-guard count before the collect adds two.
    */
  private val SuppliersJobCeiling = 13
}
