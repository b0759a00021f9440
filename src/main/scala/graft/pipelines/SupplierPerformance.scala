package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Canon, Quality}
import graft.retail.Retail

/** Supplier performance mart (reference supplier_performance_task.py:13–177):
  * filter non-cancelled sales → join products → keep all suppliers →
  * per-supplier {sum revenue, sum qty, countDistinct product} + top product
  * by single-sale revenue → null-repair ('No sales' / zero-fill) → DAY_DT.
  *
  * Plan (single-pass — the reference recomputes the shared sales⨝products
  * frame for both consumers, SURVEY §2.13.6; round-1 here did too):
  *
  *   1. sales ⨝broadcast products → partial-aggregate to the
  *      (SUPPLIER_ID, PRODUCT_ID) grain in ONE shuffle: sum(REVENUE),
  *      sum(QUANTITY), max(REVENUE). Map-side combine shrinks the exchange
  *      to ≤ |supplier×product-pairs| rows regardless of fact size.
  *   2. One SUPPLIER_ID-partitioned window pass over that small frame
  *      computes the per-supplier totals (unbounded sums/count) AND the
  *      top-product row_number — no second execution of the join lineage,
  *      no self-join between aggregate and top-product.
  *   3. suppliers ⟕ broadcast(result) — the per-supplier frame is ≤ |dim|.
  *
  * Top-product equivalence: ranking sale *rows* by (REVENUE desc,
  * PRODUCT_NAME, PRODUCT_ID) picks the same product as ranking products by
  * (max(REVENUE) desc, PRODUCT_NAME, PRODUCT_ID) — rows of the same product
  * collapse to their max, and cross-product ties break identically.
  */
object SupplierPerformance {

  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val suppliers = Retail.suppliers(spark, sfDir)
    val products = Retail.products(spark, sfDir)
      .select("PRODUCT_ID", "PRODUCT_NAME", "SELLING_PRICE")
    val sales = Retail.sales(spark, sfDir)
      .filter(col("ORDER_STATUS") =!= "Cancelled") // F2: NULL status drops too
      .select("SUPPLIER_ID", "PRODUCT_ID", "QUANTITY")

    // J4 + one shuffle: aggregate to (supplier, product) grain.
    val perPair = sales
      .join(broadcast(products), Seq("PRODUCT_ID"), "left")
      .withColumn("REVENUE",
        (col("QUANTITY") * col("SELLING_PRICE")).cast(DecimalType(25, 4)))
      .groupBy("SUPPLIER_ID", "PRODUCT_ID", "PRODUCT_NAME")
      .agg(
        sum("REVENUE").as("revSum"),
        sum("QUANTITY").as("qtySum"),
        max("REVENUE").as("revMax"))

    // A3 + W3 in one SUPPLIER_ID exchange: unbounded-window totals + top-1.
    val wSup = Window.partitionBy("SUPPLIER_ID")
    val wTop = wSup.orderBy(col("revMax").desc_nulls_last,
      col("PRODUCT_NAME").asc_nulls_last, col("PRODUCT_ID").asc_nulls_last)
    val perSupplier = perPair
      .withColumn("TOTAL_REVENUE",
        sum("revSum").over(wSup).cast(DecimalType(38, 4)))
      .withColumn("TOTAL_QUANTITY_SOLD",
        sum("qtySum").over(wSup).cast(DecimalType(38, 2)))
      .withColumn("UNIQUE_PRODUCTS_SOLD", count("PRODUCT_ID").over(wSup))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") === 1) // F4
      .select(col("SUPPLIER_ID"), col("TOTAL_REVENUE"),
        col("TOTAL_QUANTITY_SOLD"), col("UNIQUE_PRODUCTS_SOLD"),
        col("PRODUCT_NAME").as("TOP_SELLING_PRODUCT"))

    // J6/J7: glue the tiny per-supplier frame onto the dimension.
    val out = suppliers.join(broadcast(perSupplier), Seq("SUPPLIER_ID"), "left")

    val repaired = Quality.nullRepair(out,
        stringFills = Map("TOP_SELLING_PRODUCT" -> "No sales"),
        zeroFills = Seq("TOTAL_REVENUE", "TOTAL_QUANTITY_SOLD",
          "UNIQUE_PRODUCTS_SOLD"))
      .withColumn("DAY_DT", to_date(lit(Retail.asOf)))
      .select("SUPPLIER_ID", "SUPPLIER_NAME", "TOTAL_REVENUE",
        "TOTAL_QUANTITY_SOLD", "UNIQUE_PRODUCTS_SOLD", "TOP_SELLING_PRODUCT",
        "DAY_DT")

    Canon.canonicalize(repaired)
  }

  /** DuckDB oracle — same semantics over the raw fixture parquet. */
  val oracle: String =
    s"""WITH ${Retail.sql.entities},
       |fil AS (SELECT * FROM sales WHERE ORDER_STATUS <> 'Cancelled'),
       |sp AS (
       |  SELECT f.SUPPLIER_ID, f.PRODUCT_ID, p.PRODUCT_NAME, f.QUANTITY,
       |         CAST(f.QUANTITY * p.SELLING_PRICE AS DECIMAL(25,4)) AS REVENUE
       |  FROM fil f LEFT JOIN products p USING (PRODUCT_ID)),
       |agg AS (
       |  SELECT SUPPLIER_ID,
       |         CAST(sum(REVENUE) AS DECIMAL(38,4)) AS TOTAL_REVENUE,
       |         CAST(sum(QUANTITY) AS DECIMAL(38,2)) AS TOTAL_QUANTITY_SOLD,
       |         count(DISTINCT PRODUCT_ID) AS UNIQUE_PRODUCTS_SOLD
       |  FROM sp GROUP BY SUPPLIER_ID),
       |ranked AS (
       |  SELECT SUPPLIER_ID, PRODUCT_NAME,
       |         row_number() OVER (PARTITION BY SUPPLIER_ID
       |           ORDER BY REVENUE DESC NULLS LAST,
       |                    PRODUCT_NAME ASC NULLS LAST,
       |                    PRODUCT_ID ASC NULLS LAST) AS rnk
       |  FROM sp),
       |top AS (SELECT SUPPLIER_ID, PRODUCT_NAME AS TOP_SELLING_PRODUCT
       |        FROM ranked WHERE rnk = 1)
       |SELECT s.SUPPLIER_ID, s.SUPPLIER_NAME,
       |       CAST(coalesce(a.TOTAL_REVENUE, 0) AS DOUBLE) AS TOTAL_REVENUE,
       |       CAST(coalesce(a.TOTAL_QUANTITY_SOLD, 0) AS DOUBLE) AS TOTAL_QUANTITY_SOLD,
       |       coalesce(a.UNIQUE_PRODUCTS_SOLD, 0) AS UNIQUE_PRODUCTS_SOLD,
       |       coalesce(t.TOP_SELLING_PRODUCT, 'No sales') AS TOP_SELLING_PRODUCT,
       |       strftime(DATE '${Retail.asOf}', '%Y-%m-%d') AS DAY_DT
       |FROM suppliers s
       |LEFT JOIN agg a USING (SUPPLIER_ID)
       |LEFT JOIN top t USING (SUPPLIER_ID)""".stripMargin
}
