package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sources
import graft.ops.{Canon, Normalize, Quality}
import graft.retail.Retail

/** One cheap oracle-verified query per operator family that is not already
  * load-bearing inside a composite pipeline (SURVEY §7.2.6): these give
  * P1/P2 (normalize/rename), A1/F3 (dup detector), F1/F2 (filters), F5/F6
  * (null/compound predicates), S6 (in-memory + explicit schema) a direct
  * correctness signal instead of only an indirect one.
  */
object MicroQueries {

  /** P3 scan + projection pushdown: narrow select straight off the scan
    * (plan shows ReadSchema pruned to 2 columns + PushedFilters).
    */
  def scanProject(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(
      graft.io.Tables.load(spark, sfDir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_quantity")))

  val scanProjectOracle: String =
    """SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS l_quantity
      |FROM lineitem WHERE l_quantity > 45""".stripMargin

  /** P1+P2: normalization + rename over a deliberately messy-named frame. */
  def normalizeRename(spark: SparkSession, sfDir: String): DataFrame = {
    val messy = Retail.suppliers(spark, sfDir)
      .withColumnRenamed("SUPPLIER_ID", "  supplier id ")
      .withColumnRenamed("SUPPLIER_NAME", "Supplier Name")
      .withColumnRenamed("CONTACT_DETAILS", "contact")
    val conformed = Normalize.selectCols(
      Normalize.normalizeColumnNames(
        Normalize.renameAll(messy, Map("contact" -> "contact details"))),
      Seq("SUPPLIER_ID", "SUPPLIER_NAME", "CONTACT_DETAILS", "REGION"))
    Canon.canonicalize(conformed)
  }

  val normalizeRenameOracle: String =
    s"""WITH ${Retail.sql.suppliers}
       |SELECT SUPPLIER_ID, SUPPLIER_NAME, CONTACT_DETAILS, REGION
       |FROM suppliers""".stripMargin

  /** A1+F3: the duplicate detector's own output (groupBy keys → count →
    * HAVING cnt > 1) on a key known to collide in the fixture.
    */
  def dupDetect(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(
      Quality.duplicates(Retail.sales(spark, sfDir), Seq("SALE_ID")))

  val dupDetectOracle: String =
    s"""WITH ${Retail.sql.sales}
       |SELECT SALE_ID, count(*) AS cnt FROM sales
       |GROUP BY SALE_ID HAVING count(*) > 1""".stripMargin

  /** F6 compound boolean + F1 isin + when/otherwise in one projection. */
  def compoundFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Retail.sales(spark, sfDir)
    Canon.canonicalize(s
      .filter(col("ORDER_STATUS").isin("Delivered", "Shipped") &&
        col("QUANTITY") > 10 && col("DISCOUNT") <= 50)
      .select(col("SALE_ID"), col("ORDER_STATUS"),
        when(col("DISCOUNT") > 25, lit("high"))
          .when(col("DISCOUNT") > 5, lit("mid"))
          .otherwise(lit("low")).as("DISCOUNT_BAND")))
  }

  val compoundFilterOracle: String =
    s"""WITH ${Retail.sql.sales}
       |SELECT SALE_ID, ORDER_STATUS,
       |       CASE WHEN DISCOUNT > 25 THEN 'high'
       |            WHEN DISCOUNT > 5 THEN 'mid' ELSE 'low' END AS DISCOUNT_BAND
       |FROM sales
       |WHERE ORDER_STATUS IN ('Delivered','Shipped')
       |  AND QUANTITY > 10 AND DISCOUNT <= 50""".stripMargin

  /** S6: in-memory rows + explicit StructType joined (broadcast) onto the
    * fact — the reference's dag.py:63–82 source as a lookup dimension.
    */
  def inMemoryDimJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val statusDim = Sources.inMemory(spark,
      Seq(Row("Delivered", "complete"), Row("Shipped", "in_transit"),
        Row("Cancelled", "void")),
      StructType(Seq(
        StructField("ORDER_STATUS", StringType),
        StructField("STATUS_GROUP", StringType))))
    val s = Retail.sales(spark, sfDir)
    Canon.canonicalize(s
      .join(broadcast(statusDim), Seq("ORDER_STATUS"), "left")
      .groupBy("STATUS_GROUP")
      .agg(count(lit(1)).as("n_sales"),
        sum(col("QUANTITY")).cast(DecimalType(38, 2)).as("total_qty")))
  }

  val inMemoryDimJoinOracle: String =
    s"""WITH ${Retail.sql.sales},
       |dim(ORDER_STATUS, STATUS_GROUP) AS (
       |  VALUES ('Delivered','complete'), ('Shipped','in_transit'),
       |         ('Cancelled','void'))
       |SELECT d.STATUS_GROUP, count(*) AS n_sales,
       |       CAST(CAST(sum(s.QUANTITY) AS DECIMAL(38,2)) AS DOUBLE) AS total_qty
       |FROM sales s LEFT JOIN dim d USING (ORDER_STATUS)
       |GROUP BY 1""".stripMargin

  /** F5 + null-repair: seeded nulls repaired by marker/zero fills. */
  def nullRepair(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Retail.sales(spark, sfDir)
      .withColumn("PAYMENT_MODE",
        when(col("SALE_ID") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("PAYMENT_MODE")))
      .withColumn("QUANTITY",
        when(col("SALE_ID") % 11 === 0, lit(null).cast("decimal(6,2)"))
          .otherwise(col("QUANTITY")))
    Canon.canonicalize(
      Quality.nullRepair(s, Map("PAYMENT_MODE" -> "unknown"),
        Seq("QUANTITY"))
        .select("SALE_ID", "PAYMENT_MODE", "QUANTITY"))
  }

  val nullRepairOracle: String =
    s"""WITH ${Retail.sql.sales}
       |SELECT SALE_ID,
       |       coalesce(CASE WHEN SALE_ID % 7 = 0 THEN NULL
       |                     ELSE PAYMENT_MODE END, 'unknown') AS PAYMENT_MODE,
       |       CAST(coalesce(CASE WHEN SALE_ID % 11 = 0 THEN NULL
       |                     ELSE QUANTITY END, 0) AS DOUBLE) AS QUANTITY
       |FROM sales""".stripMargin

  /** W2/W3-style top-k through the NATIVE TopKPerKey operator (custom
    * logical node + strategy + bounded-heap exec — graft.plans): same
    * result as `row_number().over(...) <= k` with no per-group sort.
    */
  def topkNative(spark: SparkSession, sfDir: String): DataFrame = {
    val sales = Retail.sales(spark, sfDir)
      .select("CUSTOMER_ID", "SALE_ID", "QUANTITY")
    Canon.canonicalize(graft.plans.TopK.perKey(sales,
      Seq("CUSTOMER_ID"),
      Seq("QUANTITY" -> graft.plans.TopK.Desc,
        "SALE_ID" -> graft.plans.TopK.Asc), k = 3))
  }

  val topkNativeOracle: String =
    s"""WITH ${Retail.sql.sales},
       |ranked AS (
       |  SELECT CUSTOMER_ID, SALE_ID, QUANTITY,
       |         row_number() OVER (PARTITION BY CUSTOMER_ID
       |           ORDER BY QUANTITY DESC, SALE_ID ASC) AS rn
       |  FROM sales)
       |SELECT CUSTOMER_ID, SALE_ID, CAST(QUANTITY AS DOUBLE) AS QUANTITY
       |FROM ranked WHERE rn <= 3""".stripMargin

  /** The same top-k phrased in the COMPOSABLE window idiom — the shape a
    * library user writes without knowing the native operator exists. The
    * session's TopKRewriteRule (graft.plans, injected via
    * GraftExtensions) compiles it to TopKPerKey, so this query puts the
    * optimizer rule itself under the DuckDB hash gate: a rewrite that
    * changed row selection OR rank assignment in any way would go red
    * here. TopKRewriteSpec asserts the plan is in fact rewritten
    * (sort-free, no window exec) for this exact frame.
    */
  def topkRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sales = Retail.sales(spark, sfDir)
      .select("CUSTOMER_ID", "SALE_ID", "QUANTITY")
    val w = Window.partitionBy("CUSTOMER_ID")
      .orderBy(col("QUANTITY").desc, col("SALE_ID").asc)
    Canon.canonicalize(sales
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3))
  }

  /** The GLOBAL top-k antipattern — `row_number().over(orderBy(...))`
    * with no partition funnels the corpus through ONE task's sort — as
    * a user would write it; the rule's second arm rewrites the window's
    * input to Limit∘Sort so the plan is TakeOrderedAndProject
    * (per-partition heap + merge of k rows per partition,
    * TopKRewriteSpec-asserted), with ranks untouched.
    */
  def topkGlobal(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sales = Retail.sales(spark, sfDir)
      .select("CUSTOMER_ID", "SALE_ID", "QUANTITY")
    val w = Window.orderBy(col("QUANTITY").desc, col("SALE_ID").asc)
    Canon.canonicalize(sales
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 100))
  }

  val topkGlobalOracle: String =
    s"""WITH ${Retail.sql.sales},
       |ranked AS (
       |  SELECT CUSTOMER_ID, SALE_ID, QUANTITY,
       |         row_number() OVER (ORDER BY QUANTITY DESC, SALE_ID ASC)
       |           AS rn
       |  FROM sales)
       |SELECT CUSTOMER_ID, SALE_ID, CAST(QUANTITY AS DOUBLE) AS QUANTITY,
       |       CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 100""".stripMargin

  val topkRewriteOracle: String =
    s"""WITH ${Retail.sql.sales},
       |ranked AS (
       |  SELECT CUSTOMER_ID, SALE_ID, QUANTITY,
       |         row_number() OVER (PARTITION BY CUSTOMER_ID
       |           ORDER BY QUANTITY DESC, SALE_ID ASC) AS rn
       |  FROM sales)
       |SELECT CUSTOMER_ID, SALE_ID, CAST(QUANTITY AS DOUBLE) AS QUANTITY,
       |       CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 3""".stripMargin

  /** §2.9 date/scalar family: date_sub/add_months-style derives pinned to
    * the asOf snapshot (reference customer_sales_report_task.py:91–97 uses
    * current_date; pinned for determinism per SURVEY §7.4.1), plus
    * round(col, 2) through DECIMAL, where HALF_UP agrees across engines
    * (double-round ties do not — SURVEY §7.4.2).
    */
  /** Set operators — union/intersect/except with DISTINCT set semantics,
    * matching the SQL operators. Each set op plans as a keyed aggregate
    * (or anti/semi hash join) — shuffle-keyed, horizontal.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.io.Tables.load(spark, sfDir, "documents")
    val en = d.filter(col("lang") === "en").select("doc_id")
    val src1 = d.filter(col("source") === "src1").select("doc_id")
    val zh = d.filter(col("lang") === "zh").select("doc_id")
    val short = d.filter(col("n_chars") < 200).select("doc_id")
    Canon.canonicalize(
      en.intersect(src1).union(zh).except(short).distinct())
  }

  val setOpsOracle: String =
    """SELECT doc_id FROM (
      |  SELECT doc_id FROM documents WHERE lang = 'en'
      |  INTERSECT
      |  SELECT doc_id FROM documents WHERE source = 'src1'
      |  UNION
      |  SELECT doc_id FROM documents WHERE lang = 'zh')
      |EXCEPT
      |SELECT doc_id FROM documents WHERE n_chars < 200""".stripMargin

  /** Semi/anti joins — existence predicates as joins (the engine form of
    * EXISTS / NOT EXISTS): no payload from the right side crosses the
    * wire, and the build side deduplicates to keys.
    */
  def semiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val suppliers = Retail.suppliers(spark, sfDir)
    val sales = Retail.sales(spark, sfDir).select("SUPPLIER_ID")
    val active = suppliers.join(sales, Seq("SUPPLIER_ID"), "left_semi")
      .select(col("SUPPLIER_ID"), lit(true).as("has_sales"))
    val dormant = suppliers.join(sales, Seq("SUPPLIER_ID"), "left_anti")
      .select(col("SUPPLIER_ID"), lit(false).as("has_sales"))
    Canon.canonicalize(active.union(dormant))
  }

  val semiAntiOracle: String =
    s"""WITH ${Retail.sql.suppliers}, ${Retail.sql.sales}
       |SELECT s.SUPPLIER_ID, TRUE AS has_sales FROM suppliers s
       |WHERE EXISTS (SELECT 1 FROM sales x
       |              WHERE x.SUPPLIER_ID = s.SUPPLIER_ID)
       |UNION ALL
       |SELECT s.SUPPLIER_ID, FALSE AS has_sales FROM suppliers s
       |WHERE NOT EXISTS (SELECT 1 FROM sales x
       |                  WHERE x.SUPPLIER_ID = s.SUPPLIER_ID)""".stripMargin

  /** Pivot — the wide-format report op (RelationalGroupedDataset.pivot).
    * Pivot values are FIXED literals: the scalable form — a dynamic pivot
    * needs a driver-side distinct over the fact before the plan can even
    * be built. Absent combinations surface as null counts → filled to 0
    * to match the CASE-sum oracle.
    */
  def pivotStatus(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Retail.sales(spark, sfDir)
    Canon.canonicalize(s.groupBy("PAYMENT_MODE")
      .pivot("ORDER_STATUS", Seq("Shipped", "Delivered", "Cancelled"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("PAYMENT_MODE"),
        col("Shipped").as("n_shipped"),
        col("Delivered").as("n_delivered"),
        col("Cancelled").as("n_cancelled")))
  }

  val pivotStatusOracle: String =
    s"""WITH ${Retail.sql.sales}
       |SELECT PAYMENT_MODE,
       |  CAST(sum(CASE WHEN ORDER_STATUS = 'Shipped' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_shipped,
       |  CAST(sum(CASE WHEN ORDER_STATUS = 'Delivered' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_delivered,
       |  CAST(sum(CASE WHEN ORDER_STATUS = 'Cancelled' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_cancelled
       |FROM sales GROUP BY 1""".stripMargin

  /** Rollup — hierarchical subtotals in one pass (partial aggregation
    * handles each grouping-set level; no repeated scans). Subtotal rows'
    * null keys are labeled ALL (the fixture keys are never null).
    */
  def rollupDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.io.Tables.load(spark, sfDir, "documents")
    Canon.canonicalize(d.rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_chars")))
  }

  val rollupDocsOracle: String =
    """SELECT coalesce(lang, 'ALL') AS lang,
      |       coalesce(source, 'ALL') AS source,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin

  /** §2.8 completion: CUBE — all 2ⁿ grouping-set combinations in one
    * pass (rollup covers only the hierarchy prefixes). Same partial-agg
    * expansion as rollup at scale: the map side emits one record per
    * grouping set, all sets share a single shuffle.
    */
  def cubeDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.io.Tables.load(spark, sfDir, "documents")
    Canon.canonicalize(d.cube("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_chars")))
  }

  val cubeDocsOracle: String =
    """SELECT coalesce(lang, 'ALL') AS lang,
      |       coalesce(source, 'ALL') AS source,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY CUBE(lang, source)""".stripMargin

  def dateAndRound(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Retail.sales(spark, sfDir)
    Canon.canonicalize(s.select(
      col("SALE_ID"),
      to_date(lit(Retail.asOf)).as("DAY_DT"),
      date_sub(to_date(lit(Retail.asOf)), 1).as("YESTERDAY"),
      month(col("SALE_DATE")).as("SALE_MONTH"),
      year(col("SALE_DATE")).as("SALE_YEAR"),
      datediff(to_date(lit(Retail.asOf)), col("SALE_DATE")).as("AGE_DAYS"),
      round((col("QUANTITY") * lit(7)).cast(DecimalType(12, 3)) / lit(3), 2)
        .as("ROUNDED_AMT")))
  }

  val dateAndRoundOracle: String =
    s"""WITH ${Retail.sql.sales}
       |SELECT SALE_ID,
       |       strftime(DATE '${Retail.asOf}', '%Y-%m-%d') AS DAY_DT,
       |       strftime(DATE '${Retail.asOf}' - INTERVAL 1 DAY, '%Y-%m-%d') AS YESTERDAY,
       |       CAST(month(SALE_DATE) AS BIGINT) AS SALE_MONTH,
       |       CAST(year(SALE_DATE) AS BIGINT) AS SALE_YEAR,
       |       CAST(date_diff('day', SALE_DATE, DATE '${Retail.asOf}') AS BIGINT) AS AGE_DAYS,
       |       CAST(round(CAST(QUANTITY * 7 AS DECIMAL(12,3)) / 3, 2)
       |            AS DOUBLE) AS ROUNDED_AMT
       |FROM sales""".stripMargin

  /** Z-order (Morton) key derivation over the lineitem fact — the
    * arithmetic half of [[graft.io.Layout]]'s two-dimensional clustering,
    * oracle-checked bit-for-bit (the layout half — range partition +
    * sort — is asserted in LayoutSpec; row ORDER is invisible to the
    * driver compare by design).
    */
  def zorderKey(spark: SparkSession, sfDir: String): DataFrame = {
    val li = graft.io.Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey").cast("long"), lit(1L << graft.io.Layout.zBits))
          .as("zx"),
        pmod(col("l_suppkey").cast("long"), lit(1L << graft.io.Layout.zBits))
          .as("zy"))
    Canon.canonicalize(
      li.withColumn("zval", graft.io.Layout.zValue(col("zx"), col("zy"))))
  }

  val zorderKeyOracle: String = {
    val m = 1L << graft.io.Layout.zBits
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  l_partkey % $m AS zx, l_suppkey % $m AS zy,
       |  ${graft.io.Layout.zValueSql(s"l_partkey % $m", s"l_suppkey % $m")}
       |    AS zval
       |FROM lineitem WHERE l_orderkey % 10 = 0""".stripMargin
  }

  /** Pre-flight data profile of the orders feed ([[Quality.profile]]):
    * per column, rows / nulls / exact NDV. min/max are profiled
    * natively by the library but projected away here — numeric→string
    * literal formatting is engine-specific, the Canon boundary rule.
    */
  def profileOrders(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(
      Quality.profile(graft.io.Tables.load(spark, sfDir, "orders"))
        .select("col_name", "n_rows", "n_nulls", "n_distinct"))

  val profileOrdersOracle: String =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .map(c => s"""SELECT '$c' AS col_name, count(*) AS n_rows,
                   |  count(*) - count($c) AS n_nulls,
                   |  count(DISTINCT $c) AS n_distinct FROM orders"""
        .stripMargin)
      .mkString("\nUNION ALL\n")

  val skewTopK = 20

  /** Heavy-key diagnostic over lineitem's supplier key
    * ([[Quality.skewReport]]) — the pre-flight before sizing a salt
    * factor for the supplier-side joins.
    */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(Quality.skewReport(
      graft.io.Tables.load(spark, sfDir, "lineitem"), "l_suppkey",
      skewTopK))

  val skewReportOracle: String =
    s"""WITH c AS (
       |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
       |s AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys
       |  FROM c)
       |SELECT CAST(l_suppkey AS VARCHAR) AS key, cnt,
       |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |       CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
       |         / CAST(total AS DOUBLE) AS ratio_to_mean
       |FROM c, s
       |ORDER BY cnt DESC, l_suppkey ASC LIMIT $skewTopK""".stripMargin

  /** SCD2 snapshot-merge exercise of [[graft.ops.Scd2]] on the customer
    * fixture. The "yesterday" dimension and "today" snapshot are both
    * deterministic functions of the fixture, arranged to hit every merge
    * branch at once:
    *  - keys ≡ 0 (mod 13) are missing from the dim → inserted-new;
    *  - keys ≡ 0 (mod 7) get c_acctbal + 100 in the snapshot → close+open;
    *  - keys ≡ 0 (mod 11) get a changed segment → close+open (overlap
    *    with mod 7 exercises multi-attribute change);
    *  - everything else is unchanged → passes through.
    */
  def scd2Merge(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.io.Tables.load(spark, sfDir, "customer")
    val dim = c.filter(col("c_custkey") % 13 =!= 0).select(
      col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
      lit("2026-01-01").as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      lit(true).as("is_current"))
    val snap = c.select(
      col("c_custkey"),
      (col("c_acctbal") +
        when(col("c_custkey") % 7 === 0, 100).otherwise(0))
        .as("c_acctbal"),
      when(col("c_custkey") % 11 === 0, lit("CHANGED"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    Canon.canonicalize(graft.ops.Scd2.merge(dim, snap,
      Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"), "2026-02-01"))
  }

  val scd2MergeOracle: String =
    """WITH dim AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment,
      |         '2026-01-01' AS valid_from,
      |         CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      |  FROM customer WHERE c_custkey % 13 <> 0),
      |snap AS (
      |  SELECT c_custkey,
      |         c_acctbal +
      |           (CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END)
      |           AS c_acctbal,
      |         CASE WHEN c_custkey % 11 = 0 THEN 'CHANGED'
      |              ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer),
      |j AS (
      |  SELECT dim.c_custkey AS k_o, dim.c_acctbal AS bal_o,
      |         dim.c_mktsegment AS seg_o, dim.valid_from AS vf,
      |         dim.valid_to AS vt,
      |         snap.c_custkey AS k_n, snap.c_acctbal AS bal_n,
      |         snap.c_mktsegment AS seg_n,
      |         (dim.c_custkey IS NOT NULL
      |          AND snap.c_custkey IS NOT NULL) AS in_both,
      |         (dim.c_acctbal IS NOT DISTINCT FROM snap.c_acctbal
      |          AND dim.c_mktsegment IS NOT DISTINCT FROM
      |              snap.c_mktsegment) AS same
      |  FROM dim FULL OUTER JOIN snap ON dim.c_custkey = snap.c_custkey),
      |merged AS (
      |  SELECT k_o AS c_custkey, bal_o AS c_acctbal,
      |         seg_o AS c_mktsegment, vf AS valid_from, vt AS valid_to,
      |         TRUE AS is_current
      |  FROM j WHERE k_o IS NOT NULL AND (NOT in_both OR same)
      |  UNION ALL
      |  SELECT k_o, bal_o, seg_o, vf, '2026-02-01', FALSE
      |  FROM j WHERE in_both AND NOT same
      |  UNION ALL
      |  SELECT k_n, bal_n, seg_n, '2026-02-01',
      |         CAST(NULL AS VARCHAR), TRUE
      |  FROM j WHERE k_n IS NOT NULL AND (NOT in_both OR NOT same))
      |SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
      |       c_mktsegment, valid_from, valid_to, is_current
      |FROM merged""".stripMargin

  /** Snapshot-DIFF exercise of [[graft.ops.Snapshot]] on the documents
    * fixture. "Yesterday" is a deterministic function of today arranged
    * to hit every branch:
    *  - doc_id ≡ 0 (mod 13) are missing from prev → `added` today;
    *  - doc_id ≡ 0 (mod 7), not caught above, have n_chars+1 in prev →
    *    `changed` (overlap with mod 13 stays `added` — absent beats
    *    modified);
    *  - doc_id ≡ 0 (mod 11) also exist in prev re-keyed +1,000,000,000 →
    *    those keys are `removed` today (the offset must stay ≥ 1e9:
    *    tools/make_scale10.py's replica shifts real keys by 10M, so
    *    anything smaller could collide with scaled data);
    *  - everything else is identical → not in the report.
    */
  /** The synthetic "yesterday" frame (the Spark twin of
    * [[snapshotPrevCte]]) — shared by the diff and the drift report.
    */
  private def documentsPrev(d: DataFrame): DataFrame = {
    val base = d.filter(col("doc_id") % 13 =!= 0).select(
      col("doc_id"), col("lang"), col("source"),
      (col("n_chars") +
        when(col("doc_id") % 7 === 0, 1).otherwise(0)).as("n_chars"))
    val ghosts = d.filter(col("doc_id") % 11 === 0).select(
      (col("doc_id") + 1000000000L).as("doc_id"),
      col("lang"), col("source"), col("n_chars"))
    base.unionByName(ghosts)
  }

  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.io.Tables.load(spark, sfDir, "documents")
    val prev = documentsPrev(d)
    val cur = d.select("doc_id", "lang", "source", "n_chars")
    Canon.canonicalize(graft.ops.Snapshot.diff(cur, prev,
      Seq("doc_id"), Seq("lang", "source", "n_chars")))
  }

  /** The diff CTE chain (synthetic `prev`, the full-outer `j`, the
    * classified `sdiff`), shared by the standalone report oracle and
    * the incremental-scoring composition.
    */
  /** The synthetic "yesterday" alone — shared by the diff chain and the
    * drift report so the two can never disagree about what prev is.
    */
  private val snapshotPrevCte: String =
    """prev AS (
      |  SELECT doc_id, lang, source,
      |         n_chars + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
      |           AS n_chars
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000, lang, source, n_chars
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  private val snapshotDiffCtes: String =
    s"""$snapshotPrevCte,
      |j AS (
      |  SELECT c.doc_id AS k_c, p.doc_id AS k_p,
      |         (c.doc_id IS NOT NULL AND p.doc_id IS NOT NULL) AS in_both,
      |         (c.lang IS NOT DISTINCT FROM p.lang
      |          AND c.source IS NOT DISTINCT FROM p.source
      |          AND c.n_chars IS NOT DISTINCT FROM p.n_chars) AS same
      |  FROM documents c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id),
      |sdiff AS (
      |  SELECT coalesce(k_c, k_p) AS doc_id,
      |         CASE WHEN k_p IS NULL THEN 'added'
      |              WHEN k_c IS NULL THEN 'removed'
      |              ELSE 'changed' END AS change
      |  FROM j WHERE NOT in_both OR NOT same)""".stripMargin

  val snapshotDiffOracle: String =
    s"""WITH $snapshotDiffCtes
       |SELECT doc_id, change FROM sdiff""".stripMargin

  /** INCREMENTAL re-scoring: quality-score ONLY the documents the
    * snapshot diff reports as `added` or `changed` — the
    * incremental-compute pattern that turns a daily full-corpus scoring
    * pass into delta-sized work (at 100 TB with a 0.1% daily delta,
    * that is the difference between rescoring 100 TB and 100 GB).
    * Composes [[snapshotDiff]]'s report (semi-join shape: the diff is
    * delta-sized, so AQE broadcasts it) with the shared
    * [[graft.ext.TextOps.withQualityScore]] projection — the score
    * cannot drift from q_quality_score.
    */
  def incrementalScore(spark: SparkSession, sfDir: String): DataFrame = {
    val delta = snapshotDiff(spark, sfDir)
      .filter(col("change").isin("added", "changed"))
    val scored = graft.ext.TextOps.withQualityScore(
      graft.io.Tables.load(spark, sfDir, "documents")
        .withColumn("norm", graft.ext.TextOps.normText(col("text"))))
      .select(col("doc_id"), col("quality_score"))
    Canon.canonicalize(delta.join(scored, Seq("doc_id"))
      .select("doc_id", "change", "quality_score"))
  }

  val incrementalScoreOracle: String =
    s"""WITH $snapshotDiffCtes,
       |${graft.ext.TextOps.qualityCte}
       |SELECT s.doc_id, s.change, q.quality_score
       |FROM sdiff s JOIN qs q ON s.doc_id = q.doc_id
       |WHERE s.change IN ('added', 'changed')""".stripMargin

  /** The expectation suite run against the orders feed — a mix of rules
    * that hold on this feed (PK unique, no NULL keys, sane priorities)
    * and rules that deliberately fail (tight price ceiling, a status
    * keep-list missing 'P') so the report exercises both branches.
    */
  val orderExpectations: Seq[Quality.Rule] = Seq(
    Quality.Rule.NotNull("o_custkey"),
    Quality.Rule.NotNull("o_orderdate"),
    Quality.Rule.InRange("o_totalprice", 0.0, 100000.0),
    Quality.Rule.InSet("o_orderstatus", Seq("O", "F")),
    Quality.Rule.MatchesRegex("o_orderpriority", "^[1-5]-"),
    Quality.Rule.Unique(Seq("o_orderkey")),
    // referential: every order's customer must exist (holds on the
    // fixture); orderkeys deliberately checked against the 25-row
    // nation table so the FAILING branch of the FK path is exercised
    Quality.Rule.RefIntegrity(Seq("o_custkey"), "customer",
      Seq("c_custkey")),
    Quality.Rule.RefIntegrity(Seq("o_orderkey"), "nation",
      Seq("n_nationkey")))

  /** Declarative data-quality expectations over orders
    * ([[Quality.expectations]]): every value rule in ONE scan, the
    * uniqueness rule as one keyed agg — the Deequ-style pre-flight
    * contract check a pipeline runs before promoting a feed.
    */
  def expectations(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(Quality.expectations(
      graft.io.Tables.load(spark, sfDir, "orders"), orderExpectations,
      refs = Map(
        "customer" -> graft.io.Tables.load(spark, sfDir, "customer"),
        "nation" -> graft.io.Tables.load(spark, sfDir, "nation"))))

  /** Oracle generated from the SAME rule objects (names + predicates via
    * [[Quality.satisfiedSql]]) so it cannot drift from the evaluator.
    */
  val expectationsOracle: String = {
    val valueRules = orderExpectations.filter(r =>
      !r.isInstanceOf[Quality.Rule.Unique] &&
        !r.isInstanceOf[Quality.Rule.RefIntegrity])
    val uniques =
      orderExpectations.collect { case u: Quality.Rule.Unique => u }
    val fks =
      orderExpectations.collect { case f: Quality.Rule.RefIntegrity => f }
    val baseCols = valueRules.zipWithIndex.map { case (r, i) =>
      s"""CAST(sum(CASE WHEN ${Quality.satisfiedSql(r)}
         |  THEN 0 ELSE 1 END) AS BIGINT) AS v_$i""".stripMargin
    }.mkString(",\n  ")
    val valueSelects = valueRules.zipWithIndex.map { case (r, i) =>
      s"""SELECT '${r.name}' AS rule_name, n_rows,
         |  v_$i AS n_violations, v_$i = 0 AS passed FROM base"""
        .stripMargin
    }
    val uniqueSelects = uniques.map { u =>
      val keys = u.columns.mkString(", ")
      s"""SELECT '${u.name}' AS rule_name,
         |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0)
         |    AS BIGINT) AS n_violations,
         |  coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0) = 0 AS passed
         |FROM (SELECT count(*) AS cnt FROM orders GROUP BY $keys)"""
        .stripMargin
    }
    val fkSelects = fks.map { f =>
      val nonNull = f.columns.map(c => s"t.$c IS NOT NULL").mkString(" AND ")
      val on = f.columns.zip(f.refColumns)
        .map { case (c, rc) => s"r.$rc = t.$c" }.mkString(" AND ")
      s"""SELECT '${f.name}' AS rule_name,
         |  (SELECT count(*) FROM orders) AS n_rows,
         |  (SELECT count(*) FROM orders t WHERE $nonNull AND NOT EXISTS
         |    (SELECT 1 FROM ${f.refName} r WHERE $on)) AS n_violations,
         |  (SELECT count(*) FROM orders t WHERE $nonNull AND NOT EXISTS
         |    (SELECT 1 FROM ${f.refName} r WHERE $on)) = 0 AS passed"""
        .stripMargin
    }
    s"""WITH base AS (
       |  SELECT count(*) AS n_rows,
       |  $baseCols
       |  FROM orders)
       |${(valueSelects ++ uniqueSelects ++ fkSelects).mkString("\nUNION ALL\n")}"""
      .stripMargin
  }

  // ---- corpus distribution drift --------------------------------------

  /** Drift flag threshold on total-variation distance. */
  val driftTvMax = 0.01

  /** n_chars histogram boundaries (powers of two). */
  private val driftCharBounds = Seq(64, 128, 256, 512, 1024)

  /** CORPUS DISTRIBUTION DRIFT between yesterday's snapshot and today:
    * per-feature total-variation distance over bounded histograms
    * (source mix, language mix, doc-length buckets) — the ops dashboard
    * number that catches a crawler change or upstream filter regression
    * BEFORE it trains into a model. Uses the same synthetic `prev` as
    * [[snapshotDiff]] so the two reports describe the same day pair.
    *
    * Determinism: TV = Σ_bins |c_prev·N_cur − c_cur·N_prev| / (2·N_prev
    * ·N_cur) — integer numerators summed exactly (no double
    * accumulation), ONE final division. The cross-product form bounds
    * per-bin magnitude by N_prev·N_cur: fine through ~10⁹-doc snapshots
    * in BIGINT; lift to DECIMAL(38) (or pre-normalize counts per-mille)
    * beyond that — the histogram SHAPE is unchanged.
    *
    * Scale shape: two pruned scans fold to ≤|bins| rows per feature
    * (langs, sources, ≤6 length buckets), histograms full-outer-join on
    * the bin key at bounded size, totals broadcast as 1-row frames.
    */
  def corpusDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.io.Tables.load(spark, sfDir, "documents")
    corpusDriftFrames(documentsPrev(d),
      d.select("doc_id", "lang", "source", "n_chars"))
  }

  /** The drift report over EXPLICIT (prev, cur) snapshot frames — the
    * seam the index-freshness gate's failure drill feeds a genuinely
    * skewed "today" through (a mega-source crawl), where the fixture
    * only ever supplies its synthetic small-delta day pair.
    */
  private[graft] def corpusDriftFrames(prev: DataFrame,
                                       cur: DataFrame): DataFrame = {
    val charBucket = driftCharBounds.zipWithIndex.foldRight(
      lit(driftCharBounds.length)) { case ((bound, i), acc) =>
      when(col("n_chars") <= bound, i).otherwise(acc)
    }.cast("string")
    def tv(feature: String, bin: Column): DataFrame = {
      def hist(df: DataFrame, cName: String) =
        df.select(bin.as("bin")).groupBy("bin")
          .agg(count(lit(1)).as(cName))
      val hp = hist(prev, "c_p")
      val hc = hist(cur, "c_c")
      val np = prev.agg(count(lit(1)).as("n_prev"))
      val nc = cur.agg(count(lit(1)).as("n_cur"))
      hp.join(hc, Seq("bin"), "full_outer")
        .crossJoin(broadcast(np)).crossJoin(broadcast(nc))
        .agg(
          count(lit(1)).as("n_bins"),
          first("n_prev").as("n_prev"),
          first("n_cur").as("n_cur"),
          sum(abs(coalesce(col("c_p"), lit(0L)) * col("n_cur") -
            coalesce(col("c_c"), lit(0L)) * col("n_prev"))).as("num"))
        .select(lit(feature).as("feature"), col("n_bins"),
          col("n_prev"), col("n_cur"),
          (col("num").cast("double") /
            (lit(2L) * col("n_prev") * col("n_cur")).cast("double"))
            .as("tv"))
    }
    val out = tv("source", col("source"))
      .unionByName(tv("lang", col("lang")))
      .unionByName(tv("n_chars_bucket", charBucket))
      .withColumn("drifted", col("tv") > driftTvMax)
    Canon.canonicalize(out)
  }

  /** Action threshold of the INDEX-FRESHNESS gate — deliberately above
    * the [[driftTvMax]] dashboard flag: the 1% flag is an early warning
    * a human reads; 5% is the auto-refresh trigger. (The fixture's
    * synthetic day pair measures TV ≤ ~0.018 across features and SFs —
    * its sampling noise trips the flag at small n but must NOT trip
    * the refresh gate.)
    */
  val driftGateTvMax = 0.05

  /** ACT on the drift telemetry — the lshRecallGate pattern applied to
    * INDEX FRESHNESS, the rule "drift > ε ⇒ refresh the trained
    * indexes": the persisted ANN postings/codebooks, LM count tables
    * and LSH bands were built from a corpus snapshot; when today's
    * distribution has moved past `tvMax` on any tracked feature, those
    * artifacts are STALE for today's feed (frozen-codebook recall
    * decays, reference-LM terciles shift — the staleness VectorOps'
    * lifecycle scaladoc declares an observable), so the gate THROWS and
    * the fail-fast chain never probes them; the resolution is a
    * rebuild, which the fingerprint-stamped artifact dirs turn into
    * retrain-on-next-touch. Within bounds it returns the worst TV.
    * The collect is features-sized (3 rows).
    */
  def driftIndexGate(spark: SparkSession, sfDir: String,
                     tvMax: Double = driftGateTvMax): Double =
    driftIndexGateFrom(corpusDrift(spark, sfDir), tvMax)

  /** Gate core over an explicit drift report — the drill seam
    * ([[corpusDriftFrames]] of a skewed feed). */
  private[graft] def driftIndexGateFrom(drift: DataFrame,
                                        tvMax: Double): Double = {
    val rows = drift.collect()
    val worst = rows.maxBy(_.getAs[Double]("tv"))
    val tv = worst.getAs[Double]("tv")
    if (tv > tvMax)
      throw new IllegalStateException(
        f"[drift-index-gate] feature=${worst.getAs[String]("feature")} " +
          f"tv=$tv%.4f exceeds tvMax=$tvMax%.4f — today's corpus has " +
          "shifted distribution vs the snapshot the persisted indexes " +
          "(ANN postings + frozen codebooks, LM counts, LSH bands) were " +
          "built from; refusing to serve the stale index. Refresh " +
          "ann_index/lm_index (fingerprint-stamped dirs retrain on next " +
          "touch) before probing today's feed")
    tv
  }

  val corpusDriftOracle: String = {
    val bucketCase = driftCharBounds.zipWithIndex
      .map { case (bound, i) => s"WHEN n_chars <= $bound THEN $i" }
      .mkString(" ")
    val charBin =
      s"CAST(CASE $bucketCase ELSE ${driftCharBounds.length} END AS VARCHAR)"
    def tvSql(feature: String, binExpr: String): String =
      s"""SELECT '$feature' AS feature,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(any_value(n_prev) AS BIGINT) AS n_prev,
         |  CAST(any_value(n_cur) AS BIGINT) AS n_cur,
         |  CAST(CAST(sum(abs(coalesce(c_p, 0) * n_cur
         |                    - coalesce(c_c, 0) * n_prev)) AS BIGINT)
         |       AS DOUBLE)
         |    / CAST(2 * any_value(n_prev) * any_value(n_cur) AS DOUBLE)
         |    AS tv
         |FROM (
         |  SELECT coalesce(p.bin, c.bin) AS bin, p.c_p, c.c_c
         |  FROM (SELECT $binExpr AS bin, count(*) AS c_p
         |        FROM prev GROUP BY 1) p
         |  FULL OUTER JOIN (SELECT $binExpr AS bin, count(*) AS c_c
         |        FROM documents GROUP BY 1) c
         |  ON p.bin = c.bin),
         |  (SELECT count(*) AS n_prev FROM prev),
         |  (SELECT count(*) AS n_cur FROM documents)""".stripMargin
    s"""WITH $snapshotPrevCte,
       |alltv AS (
       |${tvSql("source", "source")}
       |UNION ALL
       |${tvSql("lang", "lang")}
       |UNION ALL
       |${tvSql("n_chars_bucket", charBin)})
       |SELECT feature, n_bins, n_prev, n_cur, tv,
       |       tv > $driftTvMax AS drifted
       |FROM alltv""".stripMargin
  }
}
