package graft.retail

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables

/** Retail entity views over the driver's TPC-H-ish fixtures, following the
  * reference's post-normalization schemas (FIXTURES.md §A/§C).
  *
  * The reference's entities (suppliers/products/customers/sales — see
  * reference ingestion_task.py:29–42, 92–114, 161–179, 235–258) are mapped
  * onto the fixture star schema so every downstream pipeline keeps the exact
  * operator structure of the reference while staying verifiable against a
  * DuckDB oracle on the same parquet.
  *
  * Money/percent columns are carried as DECIMAL, not DOUBLE: decimal
  * arithmetic is exact, so aggregate results are independent of Spark's
  * partial-aggregation order — a requirement for hash-exact differential
  * testing, and the right call at 100 TB where double-sum drift compounds.
  */
object Retail {

  /** The pinned snapshot day (DAY_DT) of every retail query and chain. */
  val asOf = "2024-06-01"

  /** SUPPLIER_ID, SUPPLIER_NAME, CONTACT_DETAILS, REGION
    * (reference ingestion_task.py:29–42). REGION resolves via the
    * nation→region dimension chain; both dims are tiny → broadcast.
    */
  def suppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.load(spark, sfDir, "supplier")
    val n = Tables.load(spark, sfDir, "nation")
    val r = Tables.load(spark, sfDir, "region")
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(
        col("s_suppkey").as("SUPPLIER_ID"),
        col("s_name").as("SUPPLIER_NAME"),
        concat_ws(":", col("n_name"), col("s_suppkey").cast("string"))
          .as("CONTACT_DETAILS"),
        col("r_name").as("REGION"))
  }

  /** PRODUCT_ID, PRODUCT_NAME, CATEGORY, SELLING_PRICE, COST_PRICE,
    * STOCK_QUANTITY, REORDER_LEVEL (reference ingestion_task.py:92–114).
    * COST_PRICE is a deterministic 70% margin stand-in; stock levels come
    * from p_size so both stock statuses occur.
    */
  def products(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "part").select(
      col("p_partkey").as("PRODUCT_ID"),
      col("p_name").as("PRODUCT_NAME"),
      col("p_brand").as("CATEGORY"),
      col("p_retailprice").cast(DecimalType(10, 2)).as("SELLING_PRICE"),
      (col("p_retailprice").cast(DecimalType(10, 2)) *
        lit(0.7).cast(DecimalType(2, 1))).cast(DecimalType(11, 3))
        .as("COST_PRICE"),
      col("p_size").as("STOCK_QUANTITY"),
      lit(25).as("REORDER_LEVEL"))

  /** CUSTOMER_ID, NAME, CITY, EMAIL, PHONE_NUMBER
    * (reference ingestion_task.py:161–179; server drops loyalty_tier —
    * server/server.py:99 — so the tier is recomputed downstream, W1).
    */
  def customers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "customer").select(
      col("c_custkey").as("CUSTOMER_ID"),
      col("c_name").as("NAME"),
      col("c_mktsegment").as("CITY"),
      concat(lower(regexp_replace(col("c_name"), " ", ".")),
        lit("@example.com")).as("EMAIL"),
      col("c_custkey").cast("string").as("PHONE_NUMBER"))

  /** SALE_ID, CUSTOMER_ID, PRODUCT_ID, SUPPLIER_ID, SALE_DATE, QUANTITY,
    * DISCOUNT (percent 0–100), SHIPPING_COST, ORDER_STATUS, PAYMENT_MODE
    * (reference ingestion_task.py:235–258). lineitem ⨝ orders on the order
    * key — a fact-to-fact join, so both sides read from the bucketed
    * sorted layout (graft.io.Bucketing): the join runs with no exchange
    * and no sort, verified in BucketingSpec. The one-time bucketed write
    * is amortized across every mart that consumes `sales`.
    */
  def sales(spark: SparkSession, sfDir: String): DataFrame = {
    val li = graft.io.Bucketing.bucketed(spark, sfDir, "lineitem", "l_orderkey")
    val o = graft.io.Bucketing.bucketed(spark, sfDir, "orders", "o_orderkey")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("SALE_ID"),
        col("o_custkey").as("CUSTOMER_ID"),
        col("l_partkey").as("PRODUCT_ID"),
        col("l_suppkey").as("SUPPLIER_ID"),
        col("l_shipdate").cast("date").as("SALE_DATE"),
        col("l_quantity").cast(DecimalType(6, 2)).as("QUANTITY"),
        (col("l_discount").cast(DecimalType(4, 2)) * 100)
          .cast(DecimalType(6, 2)).as("DISCOUNT"),
        (col("l_tax").cast(DecimalType(4, 2)) * 100)
          .cast(DecimalType(6, 2)).as("SHIPPING_COST"),
        when(col("o_orderstatus") === "O", "Shipped")
          .when(col("o_orderstatus") === "F", "Delivered")
          .when(col("o_orderstatus") === "P", "Cancelled")
          .otherwise(col("o_orderstatus")).as("ORDER_STATUS"),
        col("o_orderpriority").as("PAYMENT_MODE"))
  }

  /** The same mapping as DuckDB-flavored SQL CTEs, so every pipeline oracle
    * can be written against the raw fixture tables. Kept adjacent to the
    * Scala definitions above — they must stay semantically identical.
    */
  object sql {
    val suppliers: String =
      """suppliers AS (
        |  SELECT s.s_suppkey AS SUPPLIER_ID, s.s_name AS SUPPLIER_NAME,
        |         concat_ws(':', n.n_name, CAST(s.s_suppkey AS VARCHAR)) AS CONTACT_DETAILS,
        |         r.r_name AS REGION
        |  FROM supplier s
        |  LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  LEFT JOIN region r ON n.n_regionkey = r.r_regionkey)""".stripMargin

    val products: String =
      """products AS (
        |  SELECT p_partkey AS PRODUCT_ID, p_name AS PRODUCT_NAME,
        |         p_brand AS CATEGORY,
        |         CAST(p_retailprice AS DECIMAL(10,2)) AS SELLING_PRICE,
        |         CAST(CAST(p_retailprice AS DECIMAL(10,2)) * CAST(0.7 AS DECIMAL(2,1)) AS DECIMAL(11,3)) AS COST_PRICE,
        |         p_size AS STOCK_QUANTITY, 25 AS REORDER_LEVEL
        |  FROM part)""".stripMargin

    val customers: String =
      """customers AS (
        |  SELECT c_custkey AS CUSTOMER_ID, c_name AS NAME,
        |         c_mktsegment AS CITY,
        |         lower(replace(c_name, ' ', '.')) || '@example.com' AS EMAIL,
        |         CAST(c_custkey AS VARCHAR) AS PHONE_NUMBER
        |  FROM customer)""".stripMargin

    val sales: String =
      """sales AS (
        |  SELECT l.l_orderkey * 10 + l.l_linenumber AS SALE_ID,
        |         o.o_custkey AS CUSTOMER_ID, l.l_partkey AS PRODUCT_ID,
        |         l.l_suppkey AS SUPPLIER_ID,
        |         CAST(l.l_shipdate AS DATE) AS SALE_DATE,
        |         CAST(l.l_quantity AS DECIMAL(6,2)) AS QUANTITY,
        |         CAST(CAST(l.l_discount AS DECIMAL(4,2)) * 100 AS DECIMAL(6,2)) AS DISCOUNT,
        |         CAST(CAST(l.l_tax AS DECIMAL(4,2)) * 100 AS DECIMAL(6,2)) AS SHIPPING_COST,
        |         CASE o.o_orderstatus WHEN 'O' THEN 'Shipped'
        |           WHEN 'F' THEN 'Delivered' WHEN 'P' THEN 'Cancelled'
        |           ELSE o.o_orderstatus END AS ORDER_STATUS,
        |         o.o_orderpriority AS PAYMENT_MODE
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)""".stripMargin

    /** All four entity CTEs, ready for `WITH $entities, ...`. */
    val entities: String =
      Seq(suppliers, products, customers, sales).mkString(",\n")
  }
}
