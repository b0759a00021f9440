package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Canon, LoyaltyTiers}
import graft.retail.Retail

/** Customer sales report mart (reference customer_sales_report_task.py:
  * 12–159): keep Delivered/Shipped sales → join products → join customers →
  * derive date/price/amount columns → global percent_rank loyalty tier →
  * per-customer top-performer flag → 16-column report.
  *
  * Deliberate divergences from the reference (documented, SURVEY §2.13):
  *  - SALE_DATE keeps the real sale date instead of being overwritten with
  *    `date_sub(current_date(), 1)` (defect #2); the snapshot date lives in
  *    DAY_DT, pinned to `asOf` for determinism.
  *  - The TOP_PERFORMER window adds a SALE_ID tie-break (defect #5 made the
  *    flag nondeterministic under equal sale amounts).
  *
  * Scale notes:
  *  - The loyalty tier is computed via LoyaltyTiers.tierByAmount — an EXACT
  *    rewrite of the reference's global percent_rank that sorts only the
  *    distinct-value histogram and broadcasts two thresholds, so no
  *    full-fact single-partition exchange exists anywhere in this plan.
  *  - products is broadcast (small dim); customers joins via one hash
  *    exchange that is then reused by the TOP_PERFORMER window — both are
  *    keyed work that scales horizontally.
  *  - No output orderBy: sinks don't need order and the driver's comparator
  *    sorts canonically; a global sort here would be a full range exchange.
  */
object CustomerSalesReport {

  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val sales = Retail.sales(spark, sfDir)
      .filter(col("ORDER_STATUS").isin("Delivered", "Shipped")) // F1
    val products = Retail.products(spark, sfDir)
    val customers = Retail.customers(spark, sfDir)

    val joined = sales
      .join(broadcast(products), Seq("PRODUCT_ID"), "left") // J1
      .join(customers, Seq("CUSTOMER_ID"), "left") // J2

    // Exact decimal arithmetic: DISCOUNT is a percent with 2 fractional
    // digits, so (1 - DISCOUNT*0.01) is exact at scale 4 and the product is
    // exact at scale 6 — multiplication only, no decimal division/rounding.
    val derived = joined
      .withColumn("DAY_DT", to_date(lit(Retail.asOf)))
      .withColumn("SALE_MONTH", month(col("SALE_DATE")))
      .withColumn("SALE_YEAR", year(col("SALE_DATE")))
      .withColumn("PRICE", col("SELLING_PRICE")) // already scale-2 decimal
      .withColumn("SALE_AMOUNT",
        (col("QUANTITY") * col("SELLING_PRICE") *
          (lit(1) - col("DISCOUNT") * lit(0.01).cast(DecimalType(3, 2))))
          .cast(DecimalType(25, 6)))
      .withColumn("LOAD_TSTMP", to_timestamp(lit(s"${Retail.asOf} 00:00:00")))

    // W1 (exact rewrite): global percent_rank tier without the global sort.
    // The histogram pass reads a PRUNED twin of the amount derivation —
    // sales (4 columns) ⋈ broadcast price dim only; the customers join and
    // the other derived columns don't affect SALE_AMOUNT's multiset (LEFT
    // join on the fact preserves row count), so the full joined fact is
    // derived once, not twice.
    val amountsOnly = sales
      .select("PRODUCT_ID", "QUANTITY", "DISCOUNT")
      .join(broadcast(products.select("PRODUCT_ID", "SELLING_PRICE")),
        Seq("PRODUCT_ID"), "left")
      .select((col("QUANTITY") * col("SELLING_PRICE") *
        (lit(1) - col("DISCOUNT") * lit(0.01).cast(DecimalType(3, 2))))
        .cast(DecimalType(25, 6)).as("SALE_AMOUNT"))
    val tiered = LoyaltyTiers.tierByAmount(derived, "SALE_AMOUNT",
      "LOYALTY_TIER", histSource = amountsOnly)

    // W2: per-customer top sale flag (tie-break added for determinism).
    val wCust = Window.partitionBy("CUSTOMER_ID")
      .orderBy(col("SALE_AMOUNT").desc, col("SALE_ID").asc)
    val flagged = tiered
      .withColumn("rn", row_number().over(wCust))
      .withColumn("TOP_PERFORMER", col("rn") === 1)
      .drop("rn") // P6

    Canon.canonicalize(flagged.select(
      col("SALE_ID"), col("DAY_DT"), col("CUSTOMER_ID"),
      col("NAME").as("CUSTOMER_NAME"), // P4
      col("CITY"), col("PRODUCT_ID"), col("PRODUCT_NAME"), col("CATEGORY"),
      col("SALE_DATE"), col("SALE_MONTH"), col("SALE_YEAR"),
      col("QUANTITY"), col("PRICE"), col("SALE_AMOUNT"),
      col("LOYALTY_TIER"), col("TOP_PERFORMER"), col("LOAD_TSTMP")))
  }

  val oracle: String =
    s"""WITH ${Retail.sql.entities},
       |fil AS (SELECT * FROM sales
       |        WHERE ORDER_STATUS IN ('Delivered','Shipped')),
       |joined AS (
       |  SELECT f.*, p.PRODUCT_NAME, p.CATEGORY, p.SELLING_PRICE,
       |         c.NAME, c.CITY
       |  FROM fil f
       |  LEFT JOIN products p USING (PRODUCT_ID)
       |  LEFT JOIN customers c USING (CUSTOMER_ID)),
       |derived AS (
       |  SELECT *, DATE '${Retail.asOf}' AS DAY_DT,
       |         month(SALE_DATE) AS SALE_MONTH,
       |         year(SALE_DATE) AS SALE_YEAR,
       |         SELLING_PRICE AS PRICE,
       |         CAST(QUANTITY * SELLING_PRICE *
       |              (1 - DISCOUNT * CAST(0.01 AS DECIMAL(3,2)))
       |              AS DECIMAL(25,6)) AS SALE_AMOUNT,
       |         TIMESTAMP '${Retail.asOf} 00:00:00' AS LOAD_TSTMP
       |  FROM joined),
       |tiered AS (
       |  SELECT *, percent_rank() OVER (ORDER BY SALE_AMOUNT DESC) AS pr,
       |         row_number() OVER (PARTITION BY CUSTOMER_ID
       |           ORDER BY SALE_AMOUNT DESC, SALE_ID ASC) AS rn
       |  FROM derived)
       |SELECT SALE_ID, strftime(DAY_DT, '%Y-%m-%d') AS DAY_DT, CUSTOMER_ID,
       |       NAME AS CUSTOMER_NAME, CITY, PRODUCT_ID, PRODUCT_NAME,
       |       CATEGORY, strftime(SALE_DATE, '%Y-%m-%d') AS SALE_DATE,
       |       CAST(SALE_MONTH AS BIGINT) AS SALE_MONTH,
       |       CAST(SALE_YEAR AS BIGINT) AS SALE_YEAR,
       |       CAST(QUANTITY AS DOUBLE) AS QUANTITY,
       |       CAST(PRICE AS DOUBLE) AS PRICE,
       |       CAST(SALE_AMOUNT AS DOUBLE) AS SALE_AMOUNT,
       |       CASE WHEN pr <= 0.2 THEN 'Gold'
       |            WHEN pr <= 0.5 THEN 'Silver' ELSE 'Bronze' END AS LOYALTY_TIER,
       |       rn = 1 AS TOP_PERFORMER,
       |       strftime(LOAD_TSTMP, '%Y-%m-%d %H:%M:%S') AS LOAD_TSTMP
       |FROM tiered""".stripMargin
}
