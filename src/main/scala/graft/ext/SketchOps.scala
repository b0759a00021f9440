package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Artifacts, Generations}
import graft.ops.Canon

/** Approximate-sketch twins of the exact aggregates — the forms a 100 TB
  * run reaches for when the exact operator's cost profile stops fitting:
  *
  *  - `approx_count_distinct` (HyperLogLog++) beside the exact
  *    `countDistinct` of the supplier mart (SURVEY §2.5 A3): the exact
  *    form shuffles every distinct (group, value) pair; the sketch
  *    carries a fixed-size register array per group through map-side
  *    combine — constant state per group regardless of cardinality.
  *  - `percentile_approx` (Greenwald-Khanna) beside the exact
  *    interpolated `percentile` of EventOps.groupPercentiles: the exact
  *    form materializes and sorts each group's full value list; the
  *    sketch is a bounded quantile summary mergeable across partitions.
  *
  * These are LIBRARY operators with property specs, not driver queries:
  * no cross-engine oracle exists by nature (HLL++ register layouts and
  * GK summaries are engine-specific), so correctness is stated as error
  * bounds against the exact twins plus determinism — exactly the
  * contract a user of the sketch gets (see SketchOpsSpec).
  *
  * Two exceptions ship as gated driver queries: [[heavyHitters]], whose
  * sketch (Misra-Gries) only GENERATES candidates that an exact pass
  * verifies — output exact whenever the MG bound clears, sharing the
  * exact topTokens oracle — and the register-explicit HLL family
  * ([[hllDistinct]]/[[hllMerged]]), which rebuilds the sketch on an
  * md5 hash both engines share so even its register table is
  * oracle-checkable.
  */
object SketchOps {

  /** Relative standard deviation for the HLL++ sketch. Spark's default;
    * kept explicit so the spec's error-bound claim names its parameter.
    */
  val hllRsd = 0.05

  /** Per-supplier product-cardinality twin of the mart's exact
    * countDistinct: same grouping, sketched distinct count. At scale the
    * winner whenever the distinct-value set per group is large (the
    * shuffle carries HLL registers, not values).
    */
  def supplierDistinctProductsApprox(spark: SparkSession, sfDir: String,
                                     rsd: Double = hllRsd): DataFrame = {
    val sales = graft.retail.Retail.sales(spark, sfDir)
    Canon.canonicalize(sales
      .groupBy(col("SUPPLIER_ID").as("supplier_id"))
      .agg(approx_count_distinct(col("PRODUCT_ID"), rsd)
        .as("approx_distinct_products")))
  }

  /** Exact twin used by the error-bound spec (same input, same grain). */
  def supplierDistinctProductsExact(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val sales = graft.retail.Retail.sales(spark, sfDir)
    Canon.canonicalize(sales
      .groupBy(col("SUPPLIER_ID").as("supplier_id"))
      .agg(countDistinct(col("PRODUCT_ID")).as("distinct_products")))
  }

  /** Accuracy knob for the GK sketch: maximum rank error is
    * 1/accuracy of the group size. 10000 → 0.01% rank error.
    */
  val percentileAccuracy = 10000

  /** Approximate twin of EventOps.groupPercentiles: same groups, same
    * probe points, Greenwald-Khanna summaries instead of full per-group
    * sorts. Rank-error contract: the returned value's rank is within
    * n/accuracy of the requested quantile's rank.
    */
  def groupPercentilesApprox(spark: SparkSession, sfDir: String,
                             accuracy: Int = percentileAccuracy)
      : DataFrame = {
    val e = EventOps.events(spark, sfDir)
    Canon.canonicalize(e.groupBy("event_type").agg(
      percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
      percentile_approx(col("value"), lit(0.9), lit(accuracy)).as("p90"),
      percentile_approx(col("value"), lit(0.99), lit(accuracy)).as("p99")))
  }

  /** Count-Min parameters: estimate ≤ true + eps·N with probability
    * ≥ confidence, and NEVER below true (one-sided error) — the frequency
    * member of the sketch family beside HLL (cardinality) and GK
    * (quantiles). eps 0.0001 → width 2⁷-ish·e buckets; tiny vs a token
    * dictionary.
    */
  val cmsEps = 0.0001
  val cmsConfidence = 0.99
  val cmsSeed = 42

  /** Per-lang token document-frequency sketch: the same distinct
    * (doc, token) stream the exact topTokens aggregates, folded into one
    * fixed-size Count-Min sketch per lang via Spark's codegen'd
    * `count_min_sketch` aggregate. The shuffle carries sketch bytes, not
    * (token, count) pairs — constant per-group state regardless of
    * vocabulary size, the same scale trade as the HLL twin.
    */
  def tokenFrequencySketch(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = TextOps.documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(
          split(TextOps.normText(col("text")), " "))).as("token"))
      .filter(col("token") =!= "")
    tok.groupBy("lang").agg(
      count_min_sketch(col("token"), lit(cmsEps), lit(cmsConfidence),
        lit(cmsSeed)).as("cms"),
      count(lit(1)).as("n_stream"))
  }

  /** Driver-side point queries against a collected sketch — the read API
    * a candidate-driven heavy-hitter pass uses (CMS answers "how often
    * did X occur", not "what occurred"; candidates come from elsewhere,
    * e.g. a per-partition pre-pass or a dictionary).
    */
  def estimateCounts(sketchBytes: Array[Byte],
                     tokens: Seq[String]): Map[String, Long] = {
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    tokens.map(t => t -> cms.estimateCount(t)).toMap
  }

  /** Misra-Gries summary size for [[heavyHitters]]. Per partition of
    * n_p stream items the summary's undercount is ≤ n_p/m, so any key
    * whose TRUE global frequency exceeds Σ_p n_p/m = n/m survives into
    * the candidate set (the classic MG guarantee, summed over
    * partitions). 4096 counters ≈ 64 KB per task — fixed, regardless of
    * vocabulary size.
    */
  val mgSummarySize = 4096

  /** Bounded-memory MG pass over one partition's iterator: the ONLY
    * imperative per-partition logic in the repo's approx family —
    * exactly the case the architecture reserves `mapPartitions` for
    * (per-partition state with a decrement step no builtin aggregate
    * expresses). Emits the surviving keys; counts are NOT emitted
    * because MG counts are lower bounds and the exact pass below
    * re-counts candidates anyway.
    */
  private[ext] def mgKeys[T](it: Iterator[T], m: Int): Iterator[T] = {
    val counts = scala.collection.mutable.HashMap.empty[T, Long]
    it.foreach { k =>
      if (counts.contains(k)) counts(k) += 1L
      else if (counts.size < m) counts(k) = 1L
      else {
        // decrement-all; amortized O(1)/item (each decrement cancels
        // one prior increment, so total decrements ≤ total items).
        // Iterate a key snapshot — mutating a mutable.HashMap while
        // iterating it is undefined, even for value updates.
        counts.keys.toList.foreach { key =>
          val c = counts(key)
          if (c == 1L) counts.remove(key) else counts(key) = c - 1L
        }
      }
    }
    counts.keysIterator
  }

  /** Exact top-k heavy hitters by document frequency, per lang — the
    * same contract as TextOps.topTokens, computed the way a 100 TB
    * corpus has to when even `groupBy(token)` is too hot to run over the
    * full stream: (1) each partition reduces its stream to ≤ m
    * Misra-Gries survivors (constant memory, one pass); (2) the union of
    * survivors — ≤ m·partitions keys, independent of vocabulary — is
    * broadcast back as a semi-join filter; (3) ONLY candidate keys are
    * exactly counted and ranked (TopKPerKey heap, no vocabulary sort).
    *
    * Exactness: a true top-k key with frequency > n/m is guaranteed into
    * step 2 (see [[mgSummarySize]]), so for any stream where the k-th
    * heavy hitter clears that bound the output EQUALS the all-keys
    * aggregation — on the fixture (and any Zipf-ish corpus with sane m)
    * it is bit-identical to topTokens, which is what the oracle asserts;
    * the saturation path (tiny m) is property-tested in SketchOpsSpec.
    */
  def heavyHitters(spark: SparkSession, sfDir: String,
                   m: Int = mgSummarySize): DataFrame = {
    import spark.implicits._
    val stream = TextOps.documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(
          split(TextOps.normText(col("text")), " "))).as("token"))
      .filter(col("token") =!= "")
      .select("lang", "token")
    val candidates = stream.as[(String, String)]
      .mapPartitions(it => mgKeys(it, m))
      .toDF("lang", "token").distinct()
    val exact = stream
      .join(broadcast(candidates), Seq("lang", "token"), "left_semi")
      .groupBy("lang", "token").agg(count(lit(1)).as("doc_freq"))
    val top = graft.plans.TopK.perKey(exact, Seq("lang"),
      Seq("doc_freq" -> graft.plans.TopK.Desc,
        "token" -> graft.plans.TopK.Asc),
      TextOps.topTokensK, rankCol = Some("rank"))
    graft.ops.Canon.canonicalize(
      top.select("lang", "rank", "token", "doc_freq"))
  }

  // ---- oracle-gated register-explicit HLL ------------------------------

  /** The engine-native HLL++ above trades oracle-checkability for
    * convenience (register layouts are engine-internal). This family is
    * the opposite trade: a REGISTER-EXPLICIT HyperLogLog whose hash is
    * md5 — available bit-identically in both engines — so the whole
    * sketch, register table included, carries a full DuckDB oracle.
    * Stream: per-lang [[CurationOps.decontGramTokens]]-token shingles —
    * the dedup key space, whose cardinality is exactly what prices a
    * near-dup pass at 100 TB (the fixture's word vocabulary is ~31
    * types/lang; the gram space is 3k–95k, a real sketch regime).
    *
    * Register r of lang L holds max over grams hashing to r of
    * (leading zeros of the next [[hllRegW]] hash bits) + 1: index =
    * first 2 hex digits of md5, rank from hex digits 3–12 via the
    * `length(bin(v))` bit-length identity (integer in both engines; the
    * [[TextOps.freqSpectrum]] discipline — float log2 wavers at
    * power-of-two boundaries). The harmonic denominator is EXACT
    * integer arithmetic: Σ 2^(41−rank) as BIGINT (order-independent
    * where the textbook Σ2^−rank double sum is not; max term 256·2⁴¹ ≈
    * 5.6e14), and the estimate is ONE double division at the end.
    *
    * Why this matters at scale: per-(lang) state is 256 registers
    * regardless of gram cardinality, partial-aggregates map-side
    * (`max` combines), and registers MERGE by pointwise max —
    * [[hllMerged]] builds four doc-shard sketches and proves
    * merged ≡ whole by sharing [[hllDistinctOracle]] verbatim (the
    * driver hash-compares the merged sketch against the never-sharded
    * oracle). `exact_distinct` rides along so the gated output itself
    * prices the estimator's error (raw, uncorrected; the
    * linear-counting small-range correction needs ln(), whose last-ulp
    * behavior is libm-specific — it stays in the spec, not the oracle).
    */
  val hllRegM = 256
  val hllRegW = 40
  val hllMaxRank: Int = hllRegW + 1

  /** α_m·m²·2⁴¹ for m = 256, as ONE Scala double literal interpolated
    * into both twins (Double.toString round-trips, both engines parse
    * to the identical bits).
    */
  val hllAlphaScaled: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 2199023255552.0

  private val hexDigits = "0123456789abcdef"

  /** Shared SQL snippet: register index = first 2 hex digits of `$h`. */
  private[ext] def hllIdxSql(h: String): String =
    s"((instr('$hexDigits', substr($h, 1, 1)) - 1) * 16 + " +
      s"(instr('$hexDigits', substr($h, 2, 1)) - 1))"

  /** Shared SQL snippet: hex digits 3..12 of `$h` as a 40-bit BIGINT. */
  private[ext] def hllV40Sql(h: String): String =
    // CAST every multiplier: the small ones fit in INT and ANSI
    // INT×INT would overflow at digit value 15 (e.g. 15 · 16⁷)
    (3 to 12).map(i =>
      s"(instr('$hexDigits', substr($h, $i, 1)) - 1) * " +
        s"CAST(${1L << (4 * (12 - i))} AS BIGINT)")
      .mkString("(", " + ", ")")

  /** (doc_id, lang, gram) stream — one explode shared by the register
    * and exact passes. Per-doc `array_distinct` only thins the stream —
    * a register max and a global distinct are both duplicate-
    * insensitive, so the oracle need not mirror it.
    */
  private def hllGrams(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(CurationOps.grams(
          CurationOps.toksCol, CurationOps.decontGramTokens))).as("gram"))

  /** Per-(lang, register) max rank over a gram stream. */
  private def registersOfGrams(grams: DataFrame): DataFrame =
    grams
      .select(col("lang"), md5(col("gram")).as("gh"))
      .select(col("lang"), expr(hllIdxSql("gh")).as("idx"),
        expr(hllV40Sql("gh")).as("v"))
      .withColumn("rank", when(col("v") === 0L, lit(hllMaxRank))
        .otherwise(lit(hllMaxRank) - length(bin(col("v")))))
      .groupBy("lang", "idx").agg(max("rank").as("rank"))

  private[ext] def hllRegisters(docs: DataFrame): DataFrame =
    registersOfGrams(hllGrams(docs))

  /** (lang, register-table) → estimator columns; no exact twin. */
  private[ext] def hllSummaryCore(regs: DataFrame): DataFrame =
    regs.groupBy("lang").agg(
        count(lit(1)).as("n_registers"),
        max("rank").as("max_rank"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $hllMaxRank - rank)"))
          .as("denom_hit"))
      .withColumn("n_zero", lit(hllRegM.toLong) - col("n_registers"))
      .withColumn("denom",
        col("denom_hit") + col("n_zero") * (1L << hllMaxRank))
      .withColumn("est_raw",
        lit(hllAlphaScaled) / col("denom").cast("double"))

  /** (lang, register-table) → the gated summary row. */
  private def hllSummary(regs: DataFrame, exact: DataFrame): DataFrame =
    hllSummaryCore(regs)
      .join(exact, Seq("lang"))
      .withColumn("rel_err",
        abs(col("est_raw") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double"))
      .select("lang", "n_registers", "n_zero", "max_rank", "denom",
        "est_raw", "exact_distinct", "rel_err")

  private def hllExact(grams: DataFrame): DataFrame =
    grams.groupBy("lang").agg(countDistinct("gram").as("exact_distinct"))

  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = hllGrams(TextOps.documents(spark, sfDir))
      .persist() // register pass + exact-distinct pass
    Canon.materialized(
      Canon.canonicalize(
        hllSummary(registersOfGrams(grams), hllExact(grams))),
      grams)
  }

  /** Shard-union proof: four doc-shard register tables merged by
    * pointwise max must equal the never-sharded sketch — the driver
    * gate enforces it by hash-comparing this against
    * [[hllDistinctOracle]] built on the whole corpus.
    */
  val hllShards = 4

  def hllMerged(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = hllGrams(TextOps.documents(spark, sfDir))
      .persist() // the sharded register pass + the exact pass
    grams.count() // EAGER: before r14 the 4 shard subtrees + the exact
    // pass raced on the unmaterialized cache and re-ran the gram scan
    // (bench telemetry: 101 MB scanned = 3× the corpus)
    // r14 (guide §2.4): the four per-shard register tables are ONE
    // keyed aggregation keyed by (lang, shard, idx) — filter+union of
    // disjoint doc_id%4 slices computed the same rows in four passes
    // over the gram stream; max is associative, so shard-then-merge is
    // unchanged row for row and the pointwise-max merge law is still
    // what the oracle gate proves.
    val shardRegs = grams
      .select(col("lang"), (col("doc_id") % hllShards).as("shard"),
        md5(col("gram")).as("gh"))
      .select(col("lang"), col("shard"), expr(hllIdxSql("gh")).as("idx"),
        expr(hllV40Sql("gh")).as("v"))
      .withColumn("rank", when(col("v") === 0L, lit(hllMaxRank))
        .otherwise(lit(hllMaxRank) - length(bin(col("v")))))
      .groupBy("lang", "shard", "idx").agg(max("rank").as("rank"))
    val merged = shardRegs
      .groupBy("lang", "idx").agg(max("rank").as("rank"))
    Canon.materialized(
      Canon.canonicalize(hllSummary(merged, hllExact(grams))),
      grams)
  }

  val hllDistinctOracle: String = {
    val g = CurationOps.decontGramTokens
    s"""WITH nd AS (
       |  SELECT doc_id, lang, ${CurationOps.toksSql} AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT lang,
       |    array_to_string(list_slice(toks, i, i + ${g - 1}), ' ') AS gram
       |  FROM nd, unnest(range(1, len(toks) - ${g - 2})) AS r(i)),
       |hashed AS (
       |  SELECT lang, ${hllIdxSql("md5(gram)")} AS idx,
       |         ${hllV40Sql("md5(gram)")} AS v
       |  FROM grams),
       |regs AS (
       |  SELECT lang, idx,
       |         max(CASE WHEN v = 0 THEN $hllMaxRank
       |             ELSE $hllMaxRank - length(bin(v)) END) AS rank
       |  FROM hashed GROUP BY 1, 2),
       |summ AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_registers,
       |         CAST(max(rank) AS BIGINT) AS max_rank,
       |         CAST(sum(CAST(1 AS BIGINT) << ($hllMaxRank - rank))
       |              AS BIGINT) AS denom_hit
       |  FROM regs GROUP BY 1),
       |ex AS (
       |  SELECT lang, CAST(count(DISTINCT gram) AS BIGINT)
       |           AS exact_distinct
       |  FROM grams GROUP BY 1)
       |SELECT s.lang, s.n_registers, $hllRegM - s.n_registers AS n_zero,
       |       s.max_rank,
       |       s.denom_hit + ($hllRegM - s.n_registers) *
       |         ${1L << 41} AS denom,
       |       $hllAlphaScaled /
       |         CAST(s.denom_hit + ($hllRegM - s.n_registers) *
       |              ${1L << 41} AS DOUBLE) AS est_raw,
       |       ex.exact_distinct,
       |       abs($hllAlphaScaled /
       |           CAST(s.denom_hit + ($hllRegM - s.n_registers) *
       |                ${1L << 41} AS DOUBLE) -
       |           CAST(ex.exact_distinct AS DOUBLE)) /
       |         CAST(ex.exact_distinct AS DOUBLE) AS rel_err
       |FROM summ s JOIN ex USING (lang)""".stripMargin
  }

  // ---- streaming cardinality fold --------------------------------------

  /** Fingerprinted base-sketch dir — any fixture change misses the
    * old artifact.
    */
  private[graft] def hllBaseDir(sfDir: String): String =
    Artifacts.path("hll_index", sfDir, "documents.parquet",
      s"m${hllRegM}_w$hllRegW")

  /** Build-or-reuse the PERSISTED corpus register sketch. 256 registers
    * per lang — the whole artifact is KB-sized at any corpus size,
    * which is the point of carrying a sketch instead of the key set.
    */
  def hllIndex(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.frame(spark, hllBaseDir(sfDir))(
      hllRegisters(TextOps.documents(spark, sfDir)))

  /** Retire old sketch generations — the [[Generations]] contract. */
  def hllGc(sfDir: String, feedTag: String, keepLast: Int): Seq[Long] =
    Generations.gc(hllBaseDir(sfDir), feedTag, keepLast,
      Artifacts.complete(_))

  /** Streaming CARDINALITY fold — the ingest dashboard's "how many
    * distinct grams has this corpus seen, as of this batch" row,
    * maintained without ever re-touching the corpus: micro-batch N's
    * register table merges (pointwise max — HLL's defining algebra)
    * into the generation left by batches 0..N−1 (one
    * [[Generations.fold]]), seeded by the persisted corpus sketch.
    * State is 256 registers per lang REGARDLESS of feed length — the
    * streaming twin of what makes the sketch the 100 TB cardinality
    * primitive. Idempotent under
    * foreachBatch's at-least-once replay: a re-run batch finds its
    * generation published and re-reads instead of re-merging
    * (merge with max is idempotent anyway — the store makes it also
    * cheap). Returns the batch's summary row per lang, batch-stamped.
    *
    * `batch` must carry (doc_id, lang, text). Estimates are monotone
    * non-decreasing across batches by construction (registers only
    * grow), which the spec asserts along with stream ≡ batch and
    * fold ≡ one-shot-union register equality across a restart.
    */
  def hllFold(spark: SparkSession, sfDir: String, feedTag: String,
              batch: DataFrame, batchId: Long): DataFrame = {
    hllIndex(spark, sfDir) // ensure the base sketch exists
    val out = Generations.fold(hllBaseDir(sfDir), Nil, feedTag, batchId) {
      (prev, tmp) =>
        spark.read.parquet(prev)
          .union(hllRegisters(batch))
          .groupBy("lang", "idx").agg(max("rank").as("rank"))
          .write.parquet(tmp)
    }
    graft.ops.Canon.canonicalize(
      hllSummaryCore(spark.read.parquet(out))
        .withColumn("batch_id", lit(batchId))
        .select("batch_id", "lang", "n_registers", "n_zero",
          "max_rank", "denom", "est_raw"))
  }

  /** GATED twin of the streaming fold: a deterministic two-batch feed
    * (each half of the corpus re-enters with a per-batch token prefix,
    * so every batch contributes fresh grams) folds into the "gate"
    * feed chain, and the per-batch running summaries are the output —
    * which makes the STREAMING cardinality path itself
    * oracle-hash-checked, not just spec'd: the oracle recomputes each
    * generation as the from-scratch sketch of corpus ∪ feed-prefix
    * (the merge law the spec proves is what makes that equality
    * valid). Published generations make re-runs byte-identical.
    */
  /** Gate-batch definition constants, baked into [[hllGateTag]] so a
    * persisted gate chain self-invalidates when the batch definition
    * changes (stale published generations would otherwise keep
    * serving the old chain until target/ is cleaned by hand).
    */
  private val hllGateMod = 2
  private val hllGateIdOff = 2000000000L
  private val hllGatePrefix = "hfgate"
  private[graft] val hllGateTag: String =
    s"gate-${hllGatePrefix}-m$hllGateMod-o$hllGateIdOff"

  def hllFoldGate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TextOps.documents(spark, sfDir)
    def batch(k: Int) = docs.filter(col("doc_id") % hllGateMod === k)
      .select((col("doc_id") + hllGateIdOff).as("doc_id"), col("lang"),
        concat(lit(s"$hllGatePrefix$k "), col("text")).as("text"))
    Canon.canonicalize(
      hllFold(spark, sfDir, hllGateTag, batch(0), 0L)
        .union(hllFold(spark, sfDir, hllGateTag, batch(1), 1L)))
  }

  /** Register + summary CTE chain over a docs relation `$docsSql`
    * (must expose doc_id, lang, text), names prefixed `$pre` — ends at
    * `${pre}summ` (lang, n_registers, max_rank, denom_hit).
    */
  private def hllSummCtes(pre: String, docsSql: String): String = {
    val g = CurationOps.decontGramTokens
    s"""${pre}nd AS (
       |  SELECT doc_id, lang, ${CurationOps.toksSql} AS toks
       |  FROM ($docsSql)),
       |${pre}grams AS (
       |  SELECT lang,
       |    array_to_string(list_slice(toks, i, i + ${g - 1}), ' ') AS gram
       |  FROM ${pre}nd, unnest(range(1, len(toks) - ${g - 2})) AS r(i)),
       |${pre}hashed AS (
       |  SELECT lang, ${hllIdxSql("md5(gram)")} AS idx,
       |         ${hllV40Sql("md5(gram)")} AS v
       |  FROM ${pre}grams),
       |${pre}regs AS (
       |  SELECT lang, idx,
       |         max(CASE WHEN v = 0 THEN $hllMaxRank
       |             ELSE $hllMaxRank - length(bin(v)) END) AS rank
       |  FROM ${pre}hashed GROUP BY 1, 2),
       |${pre}summ AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_registers,
       |         CAST(max(rank) AS BIGINT) AS max_rank,
       |         CAST(sum(CAST(1 AS BIGINT) << ($hllMaxRank - rank))
       |              AS BIGINT) AS denom_hit
       |  FROM ${pre}regs GROUP BY 1)""".stripMargin
  }

  private def hllGateArm(pre: String, batchId: Int): String =
    s"""SELECT CAST($batchId AS BIGINT) AS batch_id, lang, n_registers,
       |       $hllRegM - n_registers AS n_zero, max_rank,
       |       denom_hit + ($hllRegM - n_registers) * ${1L << 41} AS denom,
       |       $hllAlphaScaled /
       |         CAST(denom_hit + ($hllRegM - n_registers) *
       |              ${1L << 41} AS DOUBLE) AS est_raw
       |FROM ${pre}summ""".stripMargin

  val hllFoldGateOracle: String = {
    def feed(k: Int) =
      s"""SELECT doc_id, lang, '$hllGatePrefix$k ' || text AS text
         | FROM documents WHERE doc_id % $hllGateMod = $k""".stripMargin
    s"""WITH ${hllSummCtes("g0",
        s"SELECT doc_id, lang, text FROM documents UNION ALL ${feed(0)}")},
       |${hllSummCtes("g1",
        s"SELECT doc_id, lang, text FROM documents UNION ALL ${feed(0)}" +
          s" UNION ALL ${feed(1)}")}
       |${hllGateArm("g0", 0)}
       |UNION ALL
       |${hllGateArm("g1", 1)}""".stripMargin
  }

  // ---- oracle-gated mergeable quantile sketch (HDR-histogram form) ----

  /** Mantissa bits kept per bucket — relative quantile error is
    * bounded by 2^-(mantissa+1) ≈ 1.6%.
    */
  val hdrMantissaBits = 5

  /** Fixed-point quantization of the (positive) metric: cents. */
  val hdrScale = 100L

  /** Reported quantiles, in integer percent (exact rank predicate). */
  val hdrPhis = Seq(50L, 90L, 99L)

  /** Doc shards for the merge-law proof, the [[hllShards]] pattern. */
  val hdrShards = 4

  /** MERGEABLE QUANTILE SKETCH, oracle-gated — the quantile member of
    * the sketch family beside [[hllDistinct]] (cardinality) and the
    * CMS/Misra-Gries pair (frequency): the HDR-histogram construction
    * (Tene's high-dynamic-range histogram; DDSketch's log buckets with
    * base 2), kept EXACTLY twin-able by doing the logarithm in integer
    * arithmetic — a value quantizes to q = floor(v·100), truncates to
    * its top [[hdrMantissaBits]]+1 significant bits via the
    * `length(bin(q))` bit-length identity (the [[hllDistinct]]
    * discipline — no float log anywhere), and the truncation IS the
    * bucket key: lb = (q >> sh) << sh, monotone in q, so per-group
    * bucket counts plus one cumulative pass yield rank queries with
    * relative error ≤ 2^-(mantissa+1).
    *
    * Why this matters at 100 TB: the exact percentile
    * (EventOps.groupPercentiles) shuffles and sorts each group's FULL
    * value list; this sketch's shuffle carries at most one row per
    * (group, bucket) after map-side combine — bounded by the value
    * RANGE (≤ ~64·2⁵ buckets), not the row count — and buckets merge
    * by count addition, so shard/stream/partial sketches compose
    * losslessly ([[hdrQuantilesMerged]] proves merged ≡ whole by
    * sharing this oracle verbatim). Estimates are bucket midpoints:
    * one double division at the very end.
    *
    * Output: (event_type, phi, n, n_buckets, est) — n_buckets rides
    * along so the gated row itself shows the compression (10k values →
    * dozens of buckets).
    */
  def hdrQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    hdrFromBuckets(spark, hdrBuckets(EventOps.events(spark, sfDir)))

  /** Four doc-shard sketches merged by count addition ≡ the whole-
    * corpus sketch — gated against [[hdrQuantilesOracle]] verbatim.
    */
  def hdrQuantilesMerged(spark: SparkSession, sfDir: String): DataFrame = {
    val e = EventOps.events(spark, sfDir)
    val shards = (0 until hdrShards).map(k =>
      hdrBuckets(e.filter(col("event_id") % hdrShards === k)))
    val merged = shards.reduce(_ unionByName _)
      .groupBy("event_type", "lb").agg(sum("cnt").as("cnt"))
    hdrFromBuckets(spark, merged)
  }

  /** The sketch itself: per (group, bucket-lower-bound) counts.
    * Supported value range is [0, 2^62/hdrScale): negative metrics
    * would hit the 64-char two's-complement `bin` path and collapse
    * into one bucket, so both twins FILTER them out explicitly; the
    * upper bound keeps every shift exact in 64-bit arithmetic (both
    * engines shift BIGINTs — no 32-bit literal wrap).
    */
  private[graft] def hdrBuckets(events: DataFrame): DataFrame =
    events
      .filter(col("value") >= 0)
      .select(col("event_type"),
        floor(col("value") * hdrScale.toDouble).cast("long").as("q"))
      .withColumn("sh",
        expr(s"greatest(length(bin(q)) - 1 - $hdrMantissaBits, 0)"))
      .withColumn("lb", expr("shiftleft(shiftright(q, sh), sh)"))
      .groupBy("event_type", "lb").agg(count(lit(1)).as("cnt"))

  /** Rank extraction over a bucket table: cumulative counts in bucket
    * order, smallest bucket whose cumulative count reaches the exact
    * integer rank predicate 100·cum ≥ phi·n, midpoint estimate.
    */
  private def hdrFromBuckets(spark: SparkSession,
                             buckets: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("event_type").orderBy(col("lb").asc)
    val wAll = Window.partitionBy("event_type")
    val cum = buckets
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("n_buckets", count(lit(1)).over(wAll))
    val hit = cum.crossJoin(hdrPhis.toDF("phi"))
      .filter(col("cum") * 100 >= col("phi") * col("n"))
      .groupBy("event_type", "phi")
      .agg(min("lb").as("lb"), max("n").as("n"),
        max("n_buckets").as("n_buckets"))
    Canon.canonicalize(hit
      .withColumn("sh",
        expr(s"greatest(length(bin(lb)) - 1 - $hdrMantissaBits, 0)"))
      .withColumn("est",
        expr(s"CAST(2 * lb + shiftleft(CAST(1 AS BIGINT), sh) - 1" +
          s" AS DOUBLE) / ${2 * hdrScale}.0")
      )
      .select("event_type", "phi", "n", "n_buckets", "est"))
  }

  /** PER-DAY VALUE-DISTRIBUTION DRIFT on the HDR bucket space — for
    * each event day, the total variation distance between that day's
    * bucket distribution and the corpus-wide one:
    *
    *   TVD(d) = ½ Σ_b |c_d(b)/n_d − c(b)/n|
    *
    * computed EXACTLY as Σ_b |c_d(b)·n − c(b)·n_d| over
    * DECIMAL(38)/HUGEINT cross-products (integer, order-independent —
    * a float Σ of per-bucket ratio gaps would be partition-order
    * noise) with ONE double division by 2·n_d·n at the end. The
    * drift-dashboard row for numeric metrics, beside the token-space
    * corpus_drift gate: a day whose value distribution walks away
    * from the corpus baseline is a pipeline incident (collector bug,
    * currency change, bot flood) that per-day means alone smear out.
    * Bucket-space work is (days × buckets) — bounded by the value
    * RANGE, never the row count, so the comparison grid is
    * dashboard-sized at any corpus scale.
    */
  def hdrDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val qb = EventOps.events(spark, sfDir)
      .filter(col("value") >= 0) // hdrBuckets' supported-range guard
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        floor(col("value") * hdrScale.toDouble).cast("long").as("q"))
      .withColumn("sh",
        expr(s"greatest(length(bin(q)) - 1 - $hdrMantissaBits, 0)"))
      .withColumn("lb", expr("shiftleft(shiftright(q, sh), sh)"))
      .persist() // slice-bucket and corpus-bucket passes
    Canon.materialized(
      Canon.canonicalize(tvdOf(qb, "day", "n_events")), qb)
  }

  /** Generic per-slice TVD core over a (`$key`, lb) frame — the
    * integer-cross-product arithmetic shared by [[hdrDrift]] (slices
    * = days) and [[DomainOps.domainLenDrift]] (slices = registered
    * domains): one frame, two count passes, a (slices × buckets)
    * comparison grid. Output (`$key`, `$nName`, tvd).
    */
  private[graft] def tvdOf(qb: DataFrame, key: String,
                           nName: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val sliceB = qb.groupBy(key, "lb").agg(count(lit(1)).as("cd"))
    val allB = qb.groupBy("lb").agg(count(lit(1)).as("c"))
    val sliceN = sliceB.groupBy(key).agg(sum("cd").as("nd"))
    val nAll = allB.agg(sum("c").as("n"))
    val grid = sliceN.crossJoin(allB).crossJoin(nAll)
      .join(sliceB, Seq(key, "lb"), "left")
      .withColumn("cdz", coalesce(col("cd"), lit(0L)))
      .withColumn("term",
        abs(col("cdz").cast(dec) * col("n") - col("c").cast(dec)
          * col("nd")))
    grid.groupBy(key)
      .agg(max("nd").as(nName), max("n").as("n_total"),
        sum("term").as("s"))
      .select(col(key), col(nName),
        (col("s").cast("double") /
          (lit(2).cast(dec) * col(nName) * col("n_total"))
            .cast("double")).as("tvd"))
  }

  /** The TVD chain in SQL over a `qb` CTE exposing (`$key`, lb) —
    * shared the same way; the caller supplies the qb CTE and appends
    * this tail. Final SELECT emits (`$key`, `$nName`, tvd).
    */
  private[graft] def tvdSql(key: String, nName: String): String =
    s"""db AS (SELECT $key, lb, count(*) AS cd FROM qb GROUP BY 1, 2),
       |ab AS (SELECT lb, count(*) AS c FROM qb GROUP BY 1),
       |dn AS (SELECT $key, CAST(sum(cd) AS BIGINT) AS nd
       |       FROM db GROUP BY 1),
       |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ab),
       |grid AS (
       |  SELECT dn.$key, dn.nd, t.n, ab.lb, ab.c,
       |         coalesce(db.cd, 0) AS cd
       |  FROM dn CROSS JOIN ab CROSS JOIN t
       |  LEFT JOIN db ON db.$key = dn.$key AND db.lb = ab.lb),
       |drift AS (
       |  SELECT $key, nd, n,
       |         CAST(sum(abs(CAST(cd AS HUGEINT) * n
       |                - CAST(c AS HUGEINT) * nd)) AS HUGEINT) AS s
       |  FROM grid GROUP BY 1, 2, 3)
       |SELECT $key, nd AS $nName,
       |       CAST(s AS DOUBLE) /
       |         CAST(2 * CAST(nd AS HUGEINT) * n AS DOUBLE) AS tvd
       |FROM drift""".stripMargin

  val hdrDriftOracle: String =
    s"""WITH qb AS (
       |  SELECT day, (q >> sh) << sh AS lb FROM (
       |    SELECT day, q,
       |           greatest(length(bin(q)) - 1 - $hdrMantissaBits, 0) AS sh
       |    FROM (SELECT strftime(ts, '%Y-%m-%d') AS day,
       |                 CAST(floor(value * $hdrScale) AS BIGINT) AS q
       |          FROM events WHERE value >= 0))),
       |${tvdSql("day", "n_events")}""".stripMargin

  /** Bucket + rank-extraction CTE chain over `$srcSql` (event_type,
    * value), prefixed `$pre`, ending at `${pre}hit` — shared by the
    * standalone oracle and the fold gate's per-generation arms.
    */
  private def hdrSketchSql(pre: String, srcSql: String): String =
    s"""${pre}b AS (
       |  SELECT event_type, (q >> sh) << sh AS lb, count(*) AS cnt
       |  FROM (
       |    SELECT event_type, q,
       |           greatest(length(bin(q)) - 1 - $hdrMantissaBits, 0) AS sh
       |    FROM (SELECT event_type,
       |                 CAST(floor(value * $hdrScale) AS BIGINT) AS q
       |          FROM ($srcSql) WHERE value >= 0))
       |  GROUP BY 1, 2),
       |${pre}c AS (
       |  SELECT event_type, lb,
       |         CAST(sum(cnt) OVER (PARTITION BY event_type
       |                ORDER BY lb) AS BIGINT) AS cum,
       |         CAST(sum(cnt) OVER (PARTITION BY event_type)
       |                AS BIGINT) AS n,
       |         CAST(count(*) OVER (PARTITION BY event_type)
       |                AS BIGINT) AS n_buckets
       |  FROM ${pre}b),
       |${pre}hit AS (
       |  SELECT event_type, phi, min(lb) AS lb, max(n) AS n,
       |         max(n_buckets) AS n_buckets
       |  FROM ${pre}c, (VALUES (${hdrPhis.mkString("), (")})) t(phi)
       |  WHERE cum * 100 >= phi * n
       |  GROUP BY 1, 2)""".stripMargin

  private def hdrHitSelect(pre: String, extra: String = ""): String =
    s"""SELECT ${extra}event_type, CAST(phi AS BIGINT) AS phi, n,
       |       n_buckets,
       |       CAST(2 * lb + (CAST(1 AS BIGINT)
       |              << greatest(length(bin(lb)) - 1
       |              - $hdrMantissaBits, 0)) - 1 AS DOUBLE)
       |         / ${2 * hdrScale}.0 AS est
       |FROM ${pre}hit""".stripMargin

  val hdrQuantilesOracle: String =
    s"""WITH ${hdrSketchSql("", "SELECT event_type, value FROM events")}
       |${hdrHitSelect("")}""".stripMargin

  // ---- streaming HDR fold (the admission-fold family, quantile arm) --

  private[graft] def hdrBaseDir(sfDir: String): String =
    Artifacts.path("hdr_index", sfDir, "events.parquet",
      s"m${hdrMantissaBits}_s$hdrScale")

  /** Build-or-reuse the PERSISTED corpus bucket table — one row per
    * (group, bucket), bounded by the value range at any corpus size.
    */
  def hdrIndex(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.frame(spark, hdrBaseDir(sfDir))(
      hdrBuckets(EventOps.events(spark, sfDir)))

  /** STREAMING BUCKET FOLD — each micro-batch's bucket counts ADD onto
    * the running sketch (counts are additive, so fold ≡ from-scratch
    * sketch of corpus ∪ batches — the HLL/PCA admission-fold law, on
    * the quantile arm). One [[Generations.fold]] per batch;
    * the return value is the folded sketch's quantile rows stamped
    * with the batch id.
    */
  def hdrFold(spark: SparkSession, sfDir: String, feedTag: String,
              batch: DataFrame, batchId: Long): DataFrame = {
    hdrIndex(spark, sfDir)
    val out = Generations.fold(hdrBaseDir(sfDir), Nil, feedTag, batchId) {
      (prev, tmp) =>
        spark.read.parquet(prev)
          .unionByName(hdrBuckets(batch))
          .groupBy("event_type", "lb").agg(sum("cnt").as("cnt"))
          .write.parquet(tmp)
    }
    Canon.canonicalize(
      hdrFromBuckets(spark, spark.read.parquet(out))
        .withColumn("batch_id", lit(batchId))
        .select("batch_id", "event_type", "phi", "n", "n_buckets",
          "est"))
  }

  /** Retire old bucket generations — the Generations contract. */
  def hdrGc(sfDir: String, feedTag: String, keepLast: Int): Seq[Long] =
    Generations.gc(hdrBaseDir(sfDir), feedTag, keepLast,
      Artifacts.complete(_))

  /** Gate-batch definition constants, baked into [[hdrGateTag]] so a
    * persisted gate chain self-invalidates when the batch definition
    * changes (the [[hllGateTag]] discipline).
    */
  private val hdrGateMod = 2
  private def hdrGateScale(k: Int): Int = k + 2
  private[graft] val hdrGateTag: String =
    s"gate-m$hdrGateMod-s" +
      (0 until hdrGateMod).map(hdrGateScale).mkString("-")

  /** Deterministic two-batch feed for the GATE: batch k is the
    * event_id ≡ k (mod [[hdrGateMod]]) half with values scaled
    * ×[[hdrGateScale]](k) — each batch genuinely moves the buckets
    * and the quantiles.
    */
  private def hdrGateBatch(spark: SparkSession, sfDir: String,
                           k: Int): DataFrame =
    EventOps.events(spark, sfDir)
      .filter(col("event_id") % hdrGateMod === k)
      .select(col("event_type"),
        (col("value") * lit(hdrGateScale(k).toDouble)).as("value"))

  /** GATED twin of the streaming bucket fold (the
    * [[graft.ext.VectorOps.pcaFoldGate]] pattern): two deterministic
    * batches fold into the "gate" feed chain; each generation's
    * quantile rows hash-compare against an oracle that re-sketches
    * corpus ∪ batches≤b from scratch — valid exactly because counts
    * are additive.
    */
  def hdrFoldGate(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(
      hdrFold(spark, sfDir, hdrGateTag,
          hdrGateBatch(spark, sfDir, 0), 0L)
        .unionByName(
          hdrFold(spark, sfDir, hdrGateTag,
            hdrGateBatch(spark, sfDir, 1), 1L)))

  val hdrFoldGateOracle: String = {
    def armSrc(b: Int): String =
      (Seq("SELECT event_type, value FROM events") ++
        (0 to b).map(k =>
          s"SELECT event_type, value * ${hdrGateScale(k)}.0 AS value " +
            s"FROM events WHERE event_id % $hdrGateMod = $k"))
        .mkString("\nUNION ALL\n")
    s"""WITH ${hdrSketchSql("g0", armSrc(0))},
       |${hdrSketchSql("g1", armSrc(1))}
       |${hdrHitSelect("g0", "CAST(0 AS BIGINT) AS batch_id, ")}
       |UNION ALL
       |${hdrHitSelect("g1", "CAST(1 AS BIGINT) AS batch_id, ")}""".stripMargin
  }
}
