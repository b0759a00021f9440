package graft.io

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed fact-table materialization — the shuffle-free path for
  * fact-to-fact joins (SURVEY §2 join family at 100 TB scale).
  *
  * `lineitem ⨝ orders` on the order key is a co-partitionable join of two
  * FACT tables: broadcasting is impossible and a plain parquet read pays a
  * full shuffle of both sides on every query. Writing both sides once,
  * hash-bucketed AND sorted by the join key with matching bucket counts,
  * lets every subsequent sort-merge join run with ZERO exchanges and ZERO
  * sorts — the write is amortized across all downstream marts exactly the
  * way a production lakehouse lays out its fact tables.
  *
  * Mechanics:
  *  - Data lands under target/bucketed/<table>_<sf-tag> the first time a
  *    dataset+table pair is requested (`_SUCCESS`-gated), repartitioned
  *    into `numBuckets` by the bucket column first so each bucket is ONE
  *    file — required for Spark to trust per-bucket sort order and elide
  *    the merge-join sorts.
  *  - The session catalog is in-memory, so on a fresh JVM the existing
  *    files are re-registered metadata-only via CREATE TABLE ... USING
  *    parquet CLUSTERED BY ... LOCATION (schema read from the parquet
  *    footer; no data rewrite).
  *
  * Used by [[graft.io.Partitioned.dppBucketedJoin]] (the partitioned
  * lineitem layout beside the bucketed orders) and BucketingSpec. The
  * sales entity is not joined from these layouts: at fixture scale the
  * planner broadcasts orders, so the merge join never runs and every
  * scan is 32 tasks; `Retail.sales` reads one published artifact of the
  * joined entity instead.
  */
object Bucketing {

  val numBuckets = 32

  private def tag(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "")

  private def root = new File("target/bucketed").getAbsolutePath

  /** Bucketed, sorted, catalog-registered copy of a fixture table. */
  def bucketed(spark: SparkSession, sfDir: String, table: String,
               bucketCol: String): DataFrame = synchronized {
    val name = s"graft_${table}_${tag(sfDir)}"
    if (!spark.catalog.tableExists(name)) {
      val path = s"$root/${table}_${tag(sfDir)}"
      if (new File(path, "_SUCCESS").exists()) {
        // files from a previous JVM: metadata-only re-registration
        val schema = spark.read.parquet(path).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $name ($schema) USING parquet
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
             |INTO $numBuckets BUCKETS
             |LOCATION '$path'""".stripMargin)
      } else {
        Tables.load(spark, sfDir, table)
          // repartition by the bucket column into numBuckets: the writer
          // then emits exactly one file per bucket (same murmur3+pmod
          // assignment), which is what lets the scan claim sortedness
          .repartition(numBuckets, col(bucketCol))
          .write.format("parquet")
          .bucketBy(numBuckets, bucketCol)
          .sortBy(bucketCol)
          .option("path", path)
          .mode("overwrite")
          .saveAsTable(name)
      }
    }
    spark.table(name)
  }

  /** PARTITIONED **and** bucketed copy — the layout a 100 TB star-
    * schema fact actually uses: Hive-style partitions on a
    * low-cardinality pruning column (so selective dim joins prune the
    * SCAN, statically or via DPP) and hash buckets on the join key
    * inside every partition (so fact-to-fact joins run exchange-free).
    * Within a partition each bucket is one file, but a bucket's data
    * now spans one file PER partition, so the scan can no longer claim
    * per-bucket sortedness — the exchange-free join partner for this
    * layout is the shuffled-hash join (no sort required), not
    * sort-merge; [[graft.io.Partitioned.dppBucketedJoin]] asserts
    * exactly that plan.
    */
  def bucketedPartitioned(spark: SparkSession, sfDir: String,
                          table: String, partCol: String,
                          bucketCol: String): DataFrame = synchronized {
    val name = s"graft_${table}_p${partCol}_${tag(sfDir)}"
    if (!spark.catalog.tableExists(name)) {
      val path = s"$root/${table}_p${partCol}_${tag(sfDir)}"
      if (new File(path, "_SUCCESS").exists()) {
        // files from a previous JVM: metadata-only re-registration;
        // partition columns live in directory names, not the footer,
        // so the DDL appends the partition column explicitly
        val dataSchema = spark.read.parquet(path).schema
        val ddl = dataSchema.filterNot(_.name == partCol)
          .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        val pType = dataSchema.find(_.name == partCol)
          .map(_.dataType.sql).getOrElse("STRING")
        spark.sql(
          s"""CREATE TABLE $name ($ddl, $partCol $pType) USING parquet
             |PARTITIONED BY ($partCol)
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
             |INTO $numBuckets BUCKETS
             |LOCATION '$path'""".stripMargin)
        spark.sql(s"MSCK REPAIR TABLE $name")
      } else {
        Tables.load(spark, sfDir, table)
          .repartition(numBuckets, col(bucketCol))
          .write.format("parquet")
          .partitionBy(partCol)
          .bucketBy(numBuckets, bucketCol)
          .sortBy(bucketCol)
          .option("path", path)
          .mode("overwrite")
          .saveAsTable(name)
      }
    }
    spark.table(name)
  }
}
