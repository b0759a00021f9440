package graft.io

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Canon

/** Hive-style partitioned fact layout + DYNAMIC partition pruning — the
  * second half of the layout story [[Bucketing]] starts (bucketing
  * kills the join shuffle; partitioning kills the SCAN):
  *
  * A 100 TB fact table partitioned on a dimension key is only half the
  * win if queries must name partitions literally. The production shape
  * is a join against a FILTERED dimension — "conversion events only" —
  * where the partition list isn't known until the dim side is
  * evaluated. Spark's dynamic partition pruning (DPP) turns the
  * broadcast dim into a runtime IN-subquery on the fact's partition
  * column, so the scan reads two of five partitions without the query
  * author naming either. [[dppJoin]] is that query end to end, and the
  * PlanSpec row asserts `dynamicpruningexpression` is actually in the
  * fact scan's PartitionFilters — silently losing DPP (a config
  * regression, a non-broadcastable dim) would re-scan the full fact
  * table while results stay correct, the classic invisible 50× at
  * scale.
  *
  * The partitioned copy lands once under target/dpp (published through
  * the [[Artifacts]] store, fingerprint-keyed).
  */
object Partitioned {

  private def baseDir(sfDir: String): String = {
    val fp = Fingerprint.ofPath(s"$sfDir/events.parquet")
    new File(s"${Artifacts.root}/dpp/events_${Artifacts.tag(sfDir)}_$fp")
      .getAbsolutePath
  }

  /** Events re-laid-out partitioned by event_type. */
  def eventsByType(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(Artifacts.getOrBuild(baseDir(sfDir))(
      graft.ext.EventOps.events(spark, sfDir)
        .write.partitionBy("event_type").parquet(_)))

  /** The dimension as a REAL datasource scan (written beside the
    * fact): a `Seq.toDF` dim is a LocalRelation whose filter constant-
    * folds at planning time, leaving no selective predicate for the
    * PartitionPruning rule to key on — DPP silently never fires. A
    * parquet dim keeps the Filter node alive, which is also the
    * production shape (the dim lives in the lakehouse, not in the
    * driver).
    */
  def typeDim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Artifacts.frame(spark, s"${baseDir(sfDir)}__dim")(
      typeCategories.toDF("event_type", "category").coalesce(1))
  }

  /** The event-type dimension with the category rollup the filter
    * rides. Tiny and broadcastable — exactly the DPP-qualifying shape.
    */
  val typeCategories: Seq[(String, String)] = Seq(
    "signup" -> "conversion", "purchase" -> "conversion",
    "click" -> "engagement", "view" -> "engagement",
    "error" -> "ops")

  /** Conversion-category rollup over the PARTITIONED fact: the dim
    * filter prunes the fact scan at runtime (DPP). Decimal
    * accumulation keeps the value sum order-exact; one double cast at
    * the boundary.
    */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = typeDim(spark, sfDir)
      .filter(col("category") === "conversion")
    val facts = eventsByType(spark, sfDir)
    Canon.canonicalize(facts
      .join(broadcast(dim), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value")))
  }

  /** Return-flag dimension for the combined-layout query: flag →
    * settlement class, tiny and broadcastable. */
  val flagClasses: Seq[(String, String)] = Seq(
    "A" -> "accepted", "N" -> "open", "R" -> "returned")

  /** The dim as a real datasource scan (same LocalRelation trap as
    * [[typeDim]]: a constant-folded dim leaves nothing for the
    * PartitionPruning rule to key on). */
  def flagDim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Artifacts.frame(spark, s"${baseDir(sfDir)}__flagdim")(
      flagClasses.toDF("l_returnflag", "flag_class").coalesce(1))
  }

  /** THE SECOND DPP SHAPE — fact-to-fact over the COMBINED layout
    * ([[Bucketing.bucketedPartitioned]]): lineitem partitioned by
    * l_returnflag AND bucketed by l_orderkey, orders bucketed by
    * o_orderkey. One query exercises both layout wins at once, the way
    * a 100 TB star schema actually runs:
    *
    *  - the broadcast dim filter (`flag_class = 'returned'`) reaches
    *    the fact scan as a DYNAMIC partition filter — 1 of 3
    *    partitions read, without the query naming a flag;
    *  - the lineitem ⨝ orders leg runs on matching 32-bucket layouts
    *    with ZERO exchange and ZERO sort. Partitioning makes a
    *    bucket's rows span one file per partition, which voids the
    *    per-bucket sort claim sort-merge would need — so the
    *    exchange-free partner here is the SHUFFLED-HASH join (hinted;
    *    no sort on either side, build side = the pruned stream's
    *    per-bucket slice). PlanSpec pins dynamicpruningexpression in
    *    PartitionFilters, the ShuffledHashJoin, and the absence of
    *    shuffle exchanges and sorts — losing any of the three is the
    *    invisible full-scan/full-shuffle regression at scale.
    */
  def dppBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Bucketing.bucketedPartitioned(spark, sfDir, "lineitem",
      "l_returnflag", "l_orderkey")
    val o = Bucketing.bucketed(spark, sfDir, "orders", "o_orderkey")
    val dim = flagDim(spark, sfDir)
      .filter(col("flag_class") === "returned")
    Canon.canonicalize(li
      .join(broadcast(dim), Seq("l_returnflag"))
      .join(o.hint("SHUFFLE_HASH"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .withColumnRenamed("o_orderpriority", "priority"))
  }

  val dppBucketedJoinOracle: String = {
    val dimRows = flagClasses
      .map { case (f, c) => s"('$f', '$c')" }.mkString(", ")
    s"""WITH dim AS (
       |  SELECT * FROM (VALUES $dimRows) t(l_returnflag, flag_class)
       |  WHERE flag_class = 'returned')
       |SELECT o.o_orderpriority AS priority,
       |       count(*) AS n_rows,
       |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18, 2))) AS DOUBLE)
       |         AS sum_qty
       |FROM lineitem l
       |JOIN dim USING (l_returnflag)
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |GROUP BY 1""".stripMargin
  }

  val dppJoinOracle: String = {
    val dimRows = typeCategories
      .map { case (t, c) => s"('$t', '$c')" }.mkString(", ")
    s"""WITH dim AS (
       |  SELECT * FROM (VALUES $dimRows) t(event_type, category)
       |  WHERE category = 'conversion')
       |SELECT e.event_type,
       |       count(*) AS n_events,
       |       CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE)
       |         AS total_value
       |FROM events e JOIN dim USING (event_type)
       |GROUP BY 1""".stripMargin
  }
}
