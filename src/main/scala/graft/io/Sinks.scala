package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, to_date}
import org.apache.spark.storage.StorageLevel

/** Double-write sink (reference S7, ingestion_task.py:63–66 et al.): every
  * ingestion writes the same frame twice — a `raw.*_pre` current snapshot
  * (overwrite) and a `legacy.*` history (append keyed by DAY_DT).
  *
  * Differences from the reference, both deliberate:
  *  - the frame is persisted across its gate and the two writes — the
  *    reference recomputes the full extract lineage per write
  *    (SURVEY §2.13.6);
  *  - the history write is an idempotent DAY_DT dynamic-partition overwrite
  *    rather than a blind append: the reference's append duplicates the day
  *    on any Airflow retry. Cross-day behavior is identical (new days
  *    accumulate); same-day reruns replace instead of duplicate.
  *
  * At 100 TB `legacy` is a DAY_DT-partitioned table: per-day writes touch
  * only their partition, and readers of one snapshot prune to one
  * partition (verified: read-back plans show PartitionFilters on DAY_DT).
  */
object Sinks {

  /** `rawIncludesDayDt`: the reference keeps raw.* snapshot-date-free for
    * suppliers/products/customers but leaves DAY_DT in `raw.sales_pre`
    * (ingestion_task.py:283–286 vs :63/:139/:201 — SURVEY §2.13.4);
    * replicated so downstream readers see the same raw schemas.
    *
    * `gate` runs on the persisted frame before either write: a gate that
    * throws leaves nothing written, and a gate that passes has filled the
    * cache both writes read, so the frame's source is read once. This is
    * the one place the frame is persisted and unpersisted, whether the
    * gate or a write throws.
    */
  def doubleWrite(df: DataFrame, rawPath: String, legacyPath: String,
                  rawIncludesDayDt: Boolean = false,
                  gate: DataFrame => Unit = _ => ()): Unit = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      gate(df)
      val raw = if (rawIncludesDayDt) df else df.drop("DAY_DT")
      raw.write.mode("overwrite").parquet(rawPath)
      dayPartition(df, legacyPath)
    } finally df.unpersist()
  }

  /** DAY_DT dynamic-partition overwrite: replaces only the days `df`
    * holds. Returns the rows written, counted by an [[Observation]] on
    * the write itself — no second job. */
  def dayPartition(df: DataFrame, path: String): Long = {
    val written = new Observation()
    df.observe(written, count(lit(1)).as("rows")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").partitionBy("DAY_DT")
      .parquet(path)
    written.get("rows").asInstanceOf[Long]
  }

  /** `df` stamped with `day` as DAY_DT unless it carries one already. */
  def withDay(df: DataFrame, day: String): DataFrame =
    if (df.columns.contains("DAY_DT")) df
    else df.withColumn("DAY_DT", to_date(lit(day)))

  /** One snapshot day out of the legacy history — partition-pruned scan. */
  def readLegacyDay(spark: SparkSession, legacyPath: String,
                    dayDt: String): DataFrame =
    spark.read.parquet(legacyPath).filter(col("DAY_DT") === dayDt)

  /** JSONL (NDJSON) corpus sink — the interchange format LLM corpora
    * ship in (one JSON object per line, one file per partition,
    * overwrite). Pair with [[Sources.jsonl]] for the schema-declared,
    * malformed-policy read-back.
    */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
