package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Canon, Quality}
import graft.retail.Retail

/** Product performance mart (reference product_performance_task.py:11–120):
  * non-cancelled sales → products ⟕ sales (keep all products) → grouped
  * {sum qty, sum sales amount, avg price, sum profit} → stock status →
  * null-repair for sale-less products → DAY_DT stamp.
  *
  * Implements the reference's *intent*: the reference as written selects
  * only (PRODUCT_ID, QUANTITY) and then filters ORDER_STATUS — an
  * AnalysisException (SURVEY §2.13.1). Here ORDER_STATUS is kept through
  * the filter, as its sibling task does (supplier_performance_task.py:14–44).
  *
  * Plan (agg-first; round 1 hinted broadcast on the PRESERVED side of a
  * left-outer join, which Spark must ignore — it fell back to shuffling the
  * whole fact into a sort-merge join):
  *
  *   1. Aggregate the fact FIRST: groupBy(PRODUCT_ID){sum QUANTITY} — map-
  *      side partial aggregation shrinks the shuffle to ≤ |products| rows.
  *   2. products ⟕ broadcast(aggregate) — the small side is now the BUILD
  *      side, so the broadcast is legal and no fact-sized shuffle feeds a
  *      dimension join.
  *   3. Because SELLING_PRICE/COST_PRICE are per-product constants,
  *      sum(qty·price) = price·sum(qty) — exact in decimal arithmetic — so
  *      revenue/profit are computed after the join from the quantity sum.
  */
object ProductPerformance {

  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val products = Retail.products(spark, sfDir)
    val sales = Retail.sales(spark, sfDir)
      .select("PRODUCT_ID", "QUANTITY", "ORDER_STATUS")
      .filter(col("ORDER_STATUS") =!= "Cancelled") // F2 (fixed intent)

    // One shuffle, pre-combined map-side: quantity sum per product.
    val salesAgg = sales.groupBy("PRODUCT_ID")
      .agg(sum("QUANTITY").as("qtySum"))

    // J3: keep every product, even ones that never sold; aggregate broadcast.
    val joined = products.join(broadcast(salesAgg), Seq("PRODUCT_ID"), "left")

    val out = joined
      .withColumn("TOTAL_QUANTITY_SOLD",
        col("qtySum").cast(DecimalType(38, 2)))
      // A2: sum(qty * price) == price * sum(qty), exact in decimal.
      .withColumn("TOTAL_SALES_AMOUNT",
        (col("qtySum") * col("SELLING_PRICE")).cast(DecimalType(38, 4)))
      .withColumn("PROFIT",
        (col("qtySum") * (col("SELLING_PRICE") - col("COST_PRICE")))
          .cast(DecimalType(38, 5)))
      // The reference's avg(SELLING_PRICE) aggregates a per-product constant
      // (price comes from the products side of the left join) — the price.
      .withColumn("AVG_SELLING_PRICE", col("SELLING_PRICE").cast("double"))
      .withColumn("STOCK_STATUS",
        when(col("STOCK_QUANTITY") <= col("REORDER_LEVEL"),
          lit("Below Reorder Level")).otherwise(lit("Sufficient Stock")))
      .withColumn("DAY_DT", to_date(lit(Retail.asOf)))

    val repaired = Quality.nullRepair(out, stringFills = Map.empty,
        zeroFills = Seq("TOTAL_QUANTITY_SOLD", "TOTAL_SALES_AMOUNT", "PROFIT"))
      .select("PRODUCT_ID", "PRODUCT_NAME", "CATEGORY",
        "TOTAL_QUANTITY_SOLD", "TOTAL_SALES_AMOUNT", "AVG_SELLING_PRICE",
        "STOCK_QUANTITY", "REORDER_LEVEL", "STOCK_STATUS", "PROFIT", "DAY_DT")

    Canon.canonicalize(repaired)
  }

  val oracle: String =
    s"""WITH ${Retail.sql.entities},
       |fil AS (SELECT PRODUCT_ID, QUANTITY FROM sales
       |        WHERE ORDER_STATUS <> 'Cancelled'),
       |agg AS (
       |  SELECT p.PRODUCT_ID, p.PRODUCT_NAME, p.CATEGORY, p.SELLING_PRICE,
       |         p.COST_PRICE, p.STOCK_QUANTITY, p.REORDER_LEVEL,
       |         CAST(sum(f.QUANTITY) AS DECIMAL(38,2)) AS TOTAL_QUANTITY_SOLD,
       |         CAST(sum(f.QUANTITY * p.SELLING_PRICE) AS DECIMAL(38,4)) AS TOTAL_SALES_AMOUNT,
       |         CAST(sum(f.QUANTITY * (p.SELLING_PRICE - p.COST_PRICE)) AS DECIMAL(38,5)) AS PROFIT
       |  FROM products p LEFT JOIN fil f USING (PRODUCT_ID)
       |  GROUP BY 1,2,3,4,5,6,7)
       |SELECT PRODUCT_ID, PRODUCT_NAME, CATEGORY,
       |       CAST(coalesce(TOTAL_QUANTITY_SOLD, 0) AS DOUBLE) AS TOTAL_QUANTITY_SOLD,
       |       CAST(coalesce(TOTAL_SALES_AMOUNT, 0) AS DOUBLE) AS TOTAL_SALES_AMOUNT,
       |       CAST(SELLING_PRICE AS DOUBLE) AS AVG_SELLING_PRICE,
       |       CAST(STOCK_QUANTITY AS BIGINT) AS STOCK_QUANTITY,
       |       CAST(REORDER_LEVEL AS BIGINT) AS REORDER_LEVEL,
       |       CASE WHEN STOCK_QUANTITY <= REORDER_LEVEL
       |            THEN 'Below Reorder Level'
       |            ELSE 'Sufficient Stock' END AS STOCK_STATUS,
       |       CAST(coalesce(PROFIT, 0) AS DOUBLE) AS PROFIT,
       |       strftime(DATE '${Retail.asOf}', '%Y-%m-%d') AS DAY_DT
       |FROM agg""".stripMargin
}
