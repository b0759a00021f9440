package graft.io

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Non-parquet sources (SURVEY §2.1).
  *
  * All readers take a DECLARED schema: the reference infers CSV/JSON schemas
  * (ingestion_task.py:232, :26) which is nondeterministic across feeds and
  * forces a full extra pass at scale — a 100 TB CSV scan just to guess
  * types. Explicit `StructType` makes reads single-pass and stable.
  */
object Sources {

  /** CSV with header + declared schema (reference S3,
    * ingestion_task.py:222–232 reads `gs://.../sales_{yyyymmdd}.csv` with
    * header=True, inferSchema=True — inference deliberately replaced).
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)

  /** JSON-lines staging directory with declared schema — the read side of
    * the incremental paged landing (Ingestion streams each REST page to a
    * `page-N.json` file as it arrives; this reads them back without the
    * whole feed ever living in driver memory).
    */
  def jsonFiles(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSONL (NDJSON) corpus source with declared schema AND an explicit
    * malformed-line policy — the format LLM corpora actually ship in.
    * `mode` is the standard Spark triad: FAILFAST (default here: a
    * corrupt feed should stop an ingest loudly), DROPMALFORMED, or
    * PERMISSIVE with `corruptCol` naming the capture column (the
    * quarantine pattern — count the bad lines, keep the run). Reads are
    * line-splittable, so a 100 TB JSONL directory parallelizes by file
    * and by block like any text source.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType,
            mode: String = "FAILFAST",
            corruptCol: Option[String] = None): DataFrame = {
    val withCorrupt = corruptCol.fold(schema)(c =>
      schema.add(c, org.apache.spark.sql.types.StringType))
    val r = spark.read.schema(withCorrupt).option("mode", mode)
    corruptCol.fold(r)(c => r.option("columnNameOfCorruptRecord", c))
      .json(path)
  }

  /** In-memory rows + explicit StructType (reference S6, dag.py:63–82). */
  def inMemory(spark: SparkSession, rows: Seq[Row],
               schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}
