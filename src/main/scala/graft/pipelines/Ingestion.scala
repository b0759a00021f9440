package graft.pipelines

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Rest, Sinks, Sources}
import graft.ops.{Canon, Normalize, Quality}
import graft.retail.Retail

/** The four daily ingestion pipelines (reference ingestion_task.py:15–295),
  * each ending in the raw-overwrite + legacy-append double-write and
  * returning the read-back of the day's legacy partition:
  *
  *  - suppliers / products: REST JSON extract (S1)  → reference :15–76, 79–151
  *  - customers: OAuth2-secured REST extract (S1+S2) → reference :154–215
  *    (only the customers endpoint is secured — server/server.py:89–106)
  *  - sales: CSV bulk file with declared schema (S3) → reference :218–295
  *
  * Each pipeline reads its extract ONCE:
  *
  *  1. extract: a REST feed is one collect of at most
  *     `maxRestFeedRows + 1` rows (one row over the cap fails the feed,
  *     so the driver's copy is bounded by construction), paged through
  *     the HTTP client into staged JSON lines; the sales feed is a CSV
  *     drop synthesized from [[Retail.sales]];
  *  2. conform: rename raw fields (P2) → normalize names (P1) → select
  *     target columns (P3) → DAY_DT stamp;
  *  3. [[Sinks.doubleWrite]] (S7) persists the conformed frame, runs the
  *     PK-uniqueness gate (A1) on it and, only if it passes, writes both
  *     copies from the cache — the staged JSON or CSV is parsed once,
  *     and a failing gate throws before any write;
  *  4. partition-pruned read-back of the day's legacy partition.
  *
  * Scale notes: the REST extracts carry only dimension feeds and run on the
  * driver (as in the reference); the fact table (sales) arrives as bulk
  * files read by executors with a declared schema — single pass, no
  * inference scan. The legacy read-back prunes to one DAY_DT partition.
  * The fixture feeds are synthesized from the entity views (the harness has
  * no live API/GCS); the pipeline code is the production path.
  */
object Ingestion {

  private def workDir(sfDir: String, entity: String): String =
    s"target/ingest/${new File(sfDir).getName}/$entity"

  /** `entity`'s DAY_DT-partitioned history: a feed's, or a report's or
    * mart's that the Runner lands beside them. */
  def legacyDir(sfDir: String, entity: String): String =
    workDir(sfDir, s"$entity/legacy")

  /** REST dimension feeds are DRIVER-SIDE by architecture (the reference's
    * extracts are too): one HTTP body per entity. That is only safe for
    * dimension-sized data, so the collect is capped — above this size a
    * feed must move to a paginated/bulk-file extract instead of silently
    * ballooning driver memory at a 100× data scale.
    */
  val maxRestFeedRows = 5000000L

  /** Serve the entity rows over an in-process REST server with RAW field
    * names (pre-normalization, as the reference's feeds arrive), extract
    * through the real HTTP client path, and land INCREMENTALLY: each page
    * is written to a staging JSON-lines file as it arrives, so the
    * driver's peak during the extract loop is ONE page (plus the HTTP
    * body), not the feed — at a 100× feed, page size and peak stay
    * constant while only the page count and staging bytes grow. The
    * staged files are then read back with the declared schema; offset
    * paging preserves order, so the landed rows are identical to the
    * one-body extract. (The fixture SERVER still holds the docs — that is
    * the stand-in for the external API, not the pipeline under test.)
    *
    * The docs are one collect of at most `cap + 1` rows: a feed over
    * `cap` fails before anything is staged, and the driver never holds
    * more than `cap + 1` docs.
    */
  private[graft] def viaRest(spark: SparkSession, sfDir: String,
                             df: DataFrame, entity: String,
                             rawNames: Map[String, String], secured: Boolean,
                             schema: StructType,
                             cap: Long = maxRestFeedRows): DataFrame = {
    val stagingDir = workDir(sfDir, s"$entity/feed_staging")
    val rawDf = df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(rawNames.getOrElse(c, c.toLowerCase))): _*)
    val docs = rawDf.limit(Math.toIntExact(cap + 1)).toJSON.collect()
      .toIndexedSeq
    require(docs.size <= cap,
      s"REST feed '$entity' has more than $cap rows: the in-process " +
        "fixture server holds the feed in memory; a real upstream has no " +
        "such cap — the extract loop itself is paged")
    val server = new Rest.FixtureServer(Map(entity -> docs),
      if (secured) Set(entity) else Set.empty)
    try {
      val token =
        if (secured) Some(Rest.fetchToken(server.baseUrl, "svc", "secret"))
        else None
      val staging = new File(stagingDir)
      if (staging.exists())
        staging.listFiles().foreach(f => Files.delete(f.toPath))
      Files.createDirectories(staging.toPath)
      var i = 0
      Rest.extractPages(server.baseUrl, entity, token).foreach { page =>
        if (page.nonEmpty) {
          Files.write(new File(staging, f"page-$i%05d.json").toPath,
            scala.jdk.CollectionConverters.SeqHasAsJava(page).asJava)
          i += 1
        }
      }
      Sources.jsonFiles(spark, stagingDir, schema)
    } finally server.stop()
  }

  private def conform(extracted: DataFrame, renames: Map[String, String],
                      targetCols: Seq[String], pk: String,
                      spark: SparkSession, sfDir: String, entity: String,
                      rawIncludesDayDt: Boolean = false,
                      day: String = Retail.asOf): DataFrame = {
    val conformed = Sinks.withDay(Normalize.selectCols(
      Normalize.normalizeColumnNames( // P1
        Normalize.renameAll(extracted, renames)), // P2
      targetCols), day) // P3
    val legacy = legacyDir(sfDir, entity)
    Sinks.doubleWrite(conformed, workDir(sfDir, s"$entity/raw"), legacy,
      rawIncludesDayDt,
      gate = Quality.requireUnique(_, Seq(pk))) // A1 fail-fast gate
    Canon.canonicalize(Sinks.readLegacyDay(spark, legacy, day))
  }

  // ---- suppliers (REST, unsecured) — reference ingestion_task.py:15–76

  private val suppliersRaw = Map(
    "SUPPLIER_ID" -> "supplier id", "SUPPLIER_NAME" -> "supplier name",
    "CONTACT_DETAILS" -> "contact", "REGION" -> "region")
  private val suppliersSchema = StructType(Seq(
    StructField("supplier id", LongType), StructField("supplier name", StringType),
    StructField("contact", StringType), StructField("region", StringType)))

  def suppliers(spark: SparkSession, sfDir: String,
                day: String = Retail.asOf): DataFrame = {
    val extracted = viaRest(spark, sfDir, Retail.suppliers(spark, sfDir),
      "suppliers", suppliersRaw, secured = false, suppliersSchema)
    conform(extracted, Map("contact" -> "contact details"),
      Seq("SUPPLIER_ID", "SUPPLIER_NAME", "CONTACT_DETAILS", "REGION"),
      "SUPPLIER_ID", spark, sfDir, "suppliers", day = day)
  }

  // ---- products (REST, unsecured) — reference ingestion_task.py:79–151

  private val productsRaw = Map(
    "PRODUCT_ID" -> "product id", "PRODUCT_NAME" -> "product name",
    "CATEGORY" -> "category", "SELLING_PRICE" -> "selling price",
    "COST_PRICE" -> "cost price", "STOCK_QUANTITY" -> "stock quantity",
    "REORDER_LEVEL" -> "reorder level")
  private val productsSchema = StructType(Seq(
    StructField("product id", LongType), StructField("product name", StringType),
    StructField("category", StringType),
    StructField("selling price", DecimalType(10, 2)),
    StructField("cost price", DecimalType(11, 3)),
    StructField("stock quantity", IntegerType),
    StructField("reorder level", IntegerType)))

  def products(spark: SparkSession, sfDir: String,
               day: String = Retail.asOf): DataFrame = {
    val extracted = viaRest(spark, sfDir, Retail.products(spark, sfDir),
      "products", productsRaw, secured = false, productsSchema)
    conform(extracted, Map.empty,
      Seq("PRODUCT_ID", "PRODUCT_NAME", "CATEGORY", "SELLING_PRICE",
        "COST_PRICE", "STOCK_QUANTITY", "REORDER_LEVEL"),
      "PRODUCT_ID", spark, sfDir, "products", day = day)
  }

  // ---- customers (REST + OAuth2) — reference ingestion_task.py:154–215

  private val customersRaw = Map(
    "CUSTOMER_ID" -> "customer id", "NAME" -> "name", "CITY" -> "city",
    "EMAIL" -> "email", "PHONE_NUMBER" -> "phone")
  private val customersSchema = StructType(Seq(
    StructField("customer id", LongType), StructField("name", StringType),
    StructField("city", StringType), StructField("email", StringType),
    StructField("phone", StringType)))

  def customers(spark: SparkSession, sfDir: String,
                day: String = Retail.asOf): DataFrame = {
    val extracted = viaRest(spark, sfDir, Retail.customers(spark, sfDir),
      "customers", customersRaw, secured = true, customersSchema)
    conform(extracted, Map("phone" -> "phone number"),
      Seq("CUSTOMER_ID", "NAME", "CITY", "EMAIL", "PHONE_NUMBER"),
      "CUSTOMER_ID", spark, sfDir, "customers", day = day)
  }

  // ---- sales (bulk CSV, declared schema) — reference ingestion_task.py:218–295

  private val salesCsvSchema = StructType(Seq(
    StructField("sale id", LongType), StructField("customer id", LongType),
    StructField("product id", LongType), StructField("supplier id", LongType),
    StructField("sale date", DateType),
    StructField("quantity", DecimalType(6, 2)),
    StructField("discount", DecimalType(6, 2)),
    StructField("shipping cost", DecimalType(6, 2)),
    StructField("order status", StringType),
    StructField("payment mode", StringType)))

  def sales(spark: SparkSession, sfDir: String,
            day: String = Retail.asOf): DataFrame = {
    // Synthesize the daily CSV drop (the reference reads
    // gs://meta-morph-flow/{yyyymmdd}/sales_{yyyymmdd}.csv), then ingest it
    // through the declared-schema CSV source — executors read it directly.
    // A real drop carries one record per sale id; the fixture join can emit
    // SALE_ID collisions ((l_orderkey, l_linenumber) is not unique in the
    // synthetic lineitem), so feed synthesis keeps the deterministic first
    // record per id — a keyed shuffle, no global sort.
    val csvPath = workDir(sfDir, "sales/feed")
    // Feed synthesis is test-input preparation, not the pipeline under
    // measurement; it is deterministic per sfDir, so an existing feed is
    // reused — but keyed on a SPEC STAMP (schema + dedup rule), not bare
    // existence: if a later commit changes the synthesis, a stale cached
    // feed must regenerate rather than silently verify old data.
    val feedSpec = "v2|first-per-sale-id|" +
      salesCsvSchema.fields.map(f => s"${f.name}:${f.dataType.sql}")
        .mkString(",")
    // underscore prefix: Spark's file listing ignores '_'/'.' files, so
    // the stamp can never leak into the CSV read as a data file (it
    // previously contributed zero rows only because header=true happened
    // to swallow its single line — an accident, not a contract)
    val stampFile = new File(s"$csvPath/_feed_spec")
    val stampOk = stampFile.exists() &&
      Files.readString(stampFile.toPath) == feedSpec
    if (!new File(s"$csvPath/_SUCCESS").exists() || !stampOk) {
      val entity = Retail.sales(spark, sfDir)
      val wDedup = org.apache.spark.sql.expressions.Window
        .partitionBy("SALE_ID")
        .orderBy(entity.columns.filter(_ != "SALE_ID")
          .toIndexedSeq.map(col(_).asc): _*)
      entity
        .withColumn("feed_rn", row_number().over(wDedup))
        .filter(col("feed_rn") === 1).drop("feed_rn")
        .select(salesCsvSchema.fields.toIndexedSeq.map(f =>
          col(f.name.toUpperCase.replace(' ', '_')).as(f.name)): _*)
        .write.mode("overwrite").option("header", true).csv(csvPath)
      Files.writeString(stampFile.toPath, feedSpec)
    }
    val extracted = Sources.csv(spark, csvPath, salesCsvSchema)
    conform(extracted, Map.empty,
      Seq("SALE_ID", "CUSTOMER_ID", "PRODUCT_ID", "SUPPLIER_ID", "SALE_DATE",
        "QUANTITY", "DISCOUNT", "SHIPPING_COST", "ORDER_STATUS",
        "PAYMENT_MODE"),
      "SALE_ID", spark, sfDir, "sales",
      rawIncludesDayDt = true, // reference defect #4 parity, SURVEY §2.13.4
      day = day)
  }

  // ---- oracles: read-back of the day's legacy partition == entity + DAY_DT

  private def dayLit = s"strftime(DATE '${Retail.asOf}', '%Y-%m-%d') AS DAY_DT"

  val suppliersOracle: String =
    s"""WITH ${Retail.sql.suppliers}
       |SELECT SUPPLIER_ID, SUPPLIER_NAME, CONTACT_DETAILS, REGION, $dayLit
       |FROM suppliers""".stripMargin

  val productsOracle: String =
    s"""WITH ${Retail.sql.products}
       |SELECT PRODUCT_ID, PRODUCT_NAME, CATEGORY,
       |       CAST(SELLING_PRICE AS DOUBLE) AS SELLING_PRICE,
       |       CAST(COST_PRICE AS DOUBLE) AS COST_PRICE,
       |       CAST(STOCK_QUANTITY AS BIGINT) AS STOCK_QUANTITY,
       |       CAST(REORDER_LEVEL AS BIGINT) AS REORDER_LEVEL, $dayLit
       |FROM products""".stripMargin

  val customersOracle: String =
    s"""WITH ${Retail.sql.customers}
       |SELECT CUSTOMER_ID, NAME, CITY, EMAIL, PHONE_NUMBER, $dayLit
       |FROM customers""".stripMargin

  val salesOracle: String =
    s"""WITH ${Retail.sql.sales},
       |feed AS (
       |  SELECT * FROM sales
       |  QUALIFY row_number() OVER (PARTITION BY SALE_ID
       |    ORDER BY CUSTOMER_ID, PRODUCT_ID, SUPPLIER_ID, SALE_DATE,
       |             QUANTITY, DISCOUNT, SHIPPING_COST, ORDER_STATUS,
       |             PAYMENT_MODE) = 1)
       |SELECT SALE_ID, CUSTOMER_ID, PRODUCT_ID, SUPPLIER_ID,
       |       strftime(SALE_DATE, '%Y-%m-%d') AS SALE_DATE,
       |       CAST(QUANTITY AS DOUBLE) AS QUANTITY,
       |       CAST(DISCOUNT AS DOUBLE) AS DISCOUNT,
       |       CAST(SHIPPING_COST AS DOUBLE) AS SHIPPING_COST,
       |       ORDER_STATUS, PAYMENT_MODE, $dayLit
       |FROM feed""".stripMargin
}
