package graft.retail

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.io.Tables

/** `Retail.sales` is one published artifact: the lineitem ⨝ orders entity
  * built once per fingerprint of both inputs and scanned by every call.
  * The suite builds under its own artifact root, so every build here is
  * cold.
  */
class RetailSalesSpec extends SparkSpec {

  private val root = Files.createTempDirectory("retail_sales_root").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    System.setProperty("graft.artifact.root", root)
  }

  override def afterAll(): Unit = {
    System.clearProperty("graft.artifact.root")
    FileUtils.deleteQuietly(new File(root))
    super.afterAll()
  }

  /** The entity joined straight from `sf`'s fixture files by the oracle's
    * SQL definition (`Retail.sql.sales`).
    */
  private def direct(sf: String): DataFrame = {
    val views = Seq("lineitem", "orders")
    views.foreach(t => Tables.load(spark, sf, t).createOrReplaceTempView(t))
    try spark.sql(s"WITH ${Retail.sql.sales} SELECT * FROM sales")
    finally views.foreach(spark.catalog.dropTempView)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty, "rows not in the direct join")
    assert(want.exceptAll(got).isEmpty, "direct-join rows missing")
    assert(got.count() == want.count())
  }

  /** The directories `df` scans. */
  private def dirsOf(df: DataFrame): Seq[String] =
    df.inputFiles.toSeq.map(f => new Path(f).getParent.toUri.getPath)
      .distinct

  test("the artifact equals lineitem ⨝ orders joined from the fixture") {
    assertSameRows(Retail.sales(spark, sfDir), direct(sfDir))
  }

  test("a call scans the artifact: no join, no broadcast") {
    val p = Retail.sales(spark, sfDir).queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"), p)
  }

  test("a second call reuses the published artifact") {
    val first = Retail.sales(spark, sfDir)
    val dirs = dirsOf(first)
    assert(dirs.size == 1, dirs)
    assert(dirs.head.startsWith(
      Paths.get(root, "retail_sales").toAbsolutePath.toString), dirs)
    val success = new File(dirs.head, "_SUCCESS")
    assert(success.isFile)
    val stamp = success.lastModified()
    val second = Retail.sales(spark, sfDir)
    assert(dirsOf(second) == dirs)
    assert(success.lastModified() == stamp, "the artifact was rebuilt")
  }

  test("a changed orders file alone builds a new artifact") {
    val sf = Files.createTempDirectory("retail_sales_sf").toFile
    try {
      for (t <- Seq("lineitem", "orders"))
        Files.copy(Paths.get(sfDir, s"$t.parquet"),
          new File(sf, s"$t.parquet").toPath)
      val before = Retail.sales(spark, sf.getPath)
      assert(!before.filter(col("ORDER_STATUS") =!= "Cancelled").isEmpty)
      // every order turns pending ('P' maps to Cancelled)
      FileUtils.forceDelete(new File(sf, "orders.parquet"))
      Tables.load(spark, sfDir, "orders")
        .withColumn("o_orderstatus", lit("P"))
        .write.parquet(new File(sf, "orders.parquet").getPath)
      val after = Retail.sales(spark, sf.getPath)
      assert(dirsOf(after) != dirsOf(before))
      assert(after.filter(col("ORDER_STATUS") =!= "Cancelled").isEmpty)
      assertSameRows(after, direct(sf.getPath))
    } finally FileUtils.deleteQuietly(sf)
  }
}
