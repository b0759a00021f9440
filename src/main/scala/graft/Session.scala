package graft

import org.apache.spark.sql.SparkSession

/** The one way to get a graft session. Every main and the spec suites
  * build their session here, so the settings the queries depend on are
  * decided in one place and no entry point can drift from them.
  *
  * Deployment settings, read only here:
  *  - `SPARK_GRAFT_CPUS`: local task slots and shuffle partitions
  *    (default 4);
  *  - `SPARK_GRAFT_MASTER`: a cluster manager URL (`spark://host:7077`)
  *    in place of `local[cpus]`.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 4: the local task slots and the shuffle
    * partition count of an entry point's session.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Builds the session, or returns the one this JVM already has
    * (`getOrCreate`: a second call starts no second SparkContext).
    *
    * @param appName   the Spark application name
    * @param localCpus `Some(n)` runs `local[n]` with n shuffle partitions
    *                  and ignores both environment variables (the spec
    *                  suites' fixed parallelism); `None` reads them
    */
  def apply(appName: String, localCpus: Option[Int] = None): SparkSession = {
    val n = localCpus.getOrElse(cpus)
    val master = localCpus.map(c => s"local[$c]")
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"))
    val spark = SparkSession.builder()
      .appName(appName)
      // the native SQL functions and the top-k rule and strategy; they
      // install only when the session is built, never into a live one
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", n)
      // dates and timestamps render as the DuckDB oracle renders them,
      // whatever the machine's zone
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed fact scans emit per-bucket sort order (Bucketing writes
      // exactly one file per bucket, which makes this safe) so fact-fact
      // merge joins run sort-free as well as shuffle-free
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // the events fixture is TIMESTAMP(NANOS) parquet; its reader
      // requires this mapping and fails loudly if unset (EventOps.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // one chain pass compiles more generated classes than the default
      // 100-entry cache holds (214 for the daily chain: a class is keyed
      // by the compiling thread's class loader as well as its source, so
      // the driver and the task threads each compile it), and the LRU
      // evicts them all: every later pass recompiled 2.4–3.6 s of classes
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      // nothing reads the web UI; without it a JVM binds no port and
      // keeps no UI state
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
