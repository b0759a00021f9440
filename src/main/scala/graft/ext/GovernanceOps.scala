package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Canon

/** Cross-tier GOVERNANCE compositions.
  *
  * [[takedownSweep]] is the right-to-be-forgotten path a deployment
  * actually executes: a takedown request names documents, and the
  * forget must propagate to EVERY persisted derived artifact — the
  * exact-dup ledger, the near-dup index, the reference LM, both
  * tokenizer word ledgers, and the ANN index — not just the corpus
  * table. Each family already owns an exact, store-published,
  * spec-pinned forget (delete-propagation semantics documented at the
  * family: anti-join for doc-keyed tiers, subtractive counts for the
  * ledgers, whole-document semantics for the lossy slot-min fold);
  * this coordinator guarantees none of them is skipped and stamps one
  * shared tag so the derived set is auditable as a unit.
  *
  * THE CLIP RULE — the coordinator's one piece of real logic. The
  * doc-keyed tiers (SHA rows/groups, LSH sigs/shingles/bands, IVF
  * postings) forget by anti-join, which is naturally idempotent: an
  * id the tier never ingested simply matches nothing. The
  * count-ledger tiers (reference LM, BPE and unigram word ledgers)
  * forget by SUBTRACTING the departed documents' own counts — which
  * is only exact for documents the ledger actually ingested.
  * Subtracting a never-ingested document's counts silently corrupts
  * shared words' mass (the `f > 0` clamp hides, not heals, it). So
  * the sweep clips the takedown set to each count tier's ingested
  * population before delegating ([[LmOps.inBaseSlice]],
  * [[BpeOps.inBaseSlice]], [[UnigramOps.inBaseSlice]] — each family
  * owns its own membership predicate so this coordinator can't
  * drift from the build). A deployment whose ledgers ingest
  * everything passes everything through; the clip is then a no-op.
  *
  * Scale shape: pure composition — each family's forget is one
  * anti-join or one subtractive count-merge over its own artifact,
  * all batch-sized in the forget set; nothing here adds corpus-scaled
  * work. Idempotent by construction: every family's `…_f_<tag>` dir
  * is published through [[graft.io.Artifacts]], so a replayed sweep
  * (crash recovery, retried orchestration) re-reads instead of
  * re-applying.
  *
  * `forgetDocs` must carry (doc_id, text, lang): the count-ledger
  * tiers subtract the departed documents' OWN counts, which requires
  * their text — a deployment keeps the original bytes until the
  * sweep commits, then drops them. Embeddings are addressed by the
  * fixture's doc_id ≡ vec_id alignment; a deployment with a separate
  * mapping passes its own vec ids through the same seam.
  */
object GovernanceOps {

  /** Tier names in the order the sweep runs them (stable for specs
    * and audit logs).
    */
  val takedownTiers: Seq[String] = Seq(
    "sha_ledger", "lsh_index", "lm_index",
    "bpe_index", "unigram_index", "ivf_index")

  def takedownSweep(spark: SparkSession, sfDir: String,
                    forgetDocs: DataFrame, tag: String)
      : Map[String, String] = {
    require(tag.matches("[A-Za-z0-9_-]+"),
      s"tag must be path-safe, got '$tag'")
    val docs = forgetDocs.select("doc_id", "text", "lang").persist()
    docs.count()
    val ids = docs.select("doc_id")
    val vecIds = ids.withColumnRenamed("doc_id", "vec_id")
    // ensure every base artifact exists before deriving from it
    val shaBase = LedgerOps.shaLedger(spark, sfDir)
    DedupOps.lshIndex(spark, sfDir)
    LmOps.lmIndex(spark, sfDir)
    val bpeBase = BpeOps.bpeIndex(spark, sfDir)
    val uniBase = UnigramOps.unigramIndex(spark, sfDir)
    val ivfBase = VectorOps.ivfIndex(spark, sfDir)
    val out = Map(
      "sha_ledger" ->
        LedgerOps.shaLedgerForget(spark, shaBase, ids, tag),
      "lsh_index" ->
        DedupOps.lshIndexForget(spark, DedupOps.lshIndexDir(sfDir),
          ids, tag),
      "lm_index" ->
        LmOps.lmIndexForget(spark, LmOps.lmIndexDir(sfDir),
          LmOps.inBaseSlice(docs), tag),
      "bpe_index" ->
        BpeOps.bpeIndexForget(spark, bpeBase,
          BpeOps.inBaseSlice(docs), tag),
      "unigram_index" ->
        UnigramOps.unigramIndexForget(spark, uniBase,
          UnigramOps.inBaseSlice(docs), tag),
      "ivf_index" ->
        VectorOps.ivfIndexForget(spark, ivfBase, vecIds, tag))
    docs.unpersist(false)
    out
  }

  /** The takedown slice of the GATED query: every 20th document — a
    * slice that intersects every tier's ingest population
    * non-trivially (even → BPE/unigram halves; ≡0 mod 5 → LM
    * reference slice; ≡0 mod 10 → half the SHA base; ~80% land under
    * the LSH/IVF side-bucket boundary), so the audit below measures a
    * real forget at all six tiers, not a no-op at some.
    */
  private def takedownSlice(c: Column): Column = c % 20 === 0

  /** One-call sweep + cross-tier AUDIT, the gated query: run the
    * takedown for the `% 20 = 0` slice, then report one row per tier
    * with two deterministic post-forget measures — a row count and a
    * mass total over the tier's primary table. The DuckDB oracle
    * recomputes both from the BASE tables under never-existed
    * semantics (build predicate ∧ not-forgotten), so a skipped tier,
    * an unclipped subtraction, or an over-deletion all hash-mismatch.
    */
  def takedownSweepQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val gone = TextOps.documents(spark, sfDir)
      .filter(takedownSlice(col("doc_id")))
    val dirs = takedownSweep(spark, sfDir, gone, "td20")
    def audit(tier: String, table: String, mass: Column): DataFrame =
      spark.read.parquet(s"${dirs(tier)}/$table")
        .agg(count(lit(1)).as("n_rows"), mass.as("mass"))
        .select(lit(tier).as("tier"), col("n_rows"),
          col("mass").cast("long").as("mass"))
    val lshAudit = spark.read.parquet(s"${dirs("lsh_index")}/sigs")
      .agg(count(lit(1)).as("n_rows"))
      .crossJoin(spark.read.parquet(s"${dirs("lsh_index")}/bands")
        .agg(count(lit(1)).cast("long").as("mass")))
      .select(lit("lsh_index").as("tier"), col("n_rows"), col("mass"))
    val rows = Seq(
      audit("sha_ledger", "groups", sum("n_copies")),
      lshAudit,
      audit("lm_index", "cab", sum("c_ab")),
      audit("bpe_index", "words", sum("f")),
      audit("unigram_index", "words", sum("f")),
      audit("ivf_index", "postings", sum("vec_id")))
    Canon.canonicalize(rows.reduce(_.unionByName(_)))
  }

  /** Never-existed oracle: six UNION ALL arms, each re-deriving the
    * tier's primary table from the raw `documents` / `embeddings`
    * fixtures with the tier's own build predicate AND the takedown
    * slice excluded. The LM arm reuses [[LmOps.lmCteBodyFor]] — the
    * same CTE body every LM lifecycle oracle is pinned to.
    */
  val takedownSweepOracle: String = {
    val norm = TextOps.normSql
    val toks = CurationOps.toksSql
    val keep = "doc_id % 20 <> 0"
    val wordsArm =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(f) AS BIGINT) AS mass
         |FROM (SELECT w, count(*) AS f FROM (
         |        SELECT unnest($toks) AS w FROM documents
         |        WHERE ${BpeOps.baseSliceSql} AND $keep)
         |      GROUP BY 1)""".stripMargin
    s"""WITH ${LmOps.lmCteBodyFor(s"${LmOps.baseSliceSql} AND $keep")}
       |SELECT 'sha_ledger' AS tier,
       |       CAST(count(DISTINCT sha) AS BIGINT) AS n_rows,
       |       CAST(count(*) AS BIGINT) AS mass
       |FROM (SELECT sha256($norm) AS sha FROM documents
       |      WHERE doc_id % 10 = 0 AND $keep)
       |UNION ALL
       |SELECT 'lsh_index',
       |       CAST(count(*) AS BIGINT),
       |       CAST(${DedupOps.numBands} * count(*) AS BIGINT)
       |FROM documents
       |WHERE ${DedupOps.sideBucketSql("doc_id")}
       |        < ${DedupOps.incrementalCorpusPermille}
       |  AND $keep AND length($norm) >= ${DedupOps.shingleLen}
       |UNION ALL
       |SELECT 'lm_index', CAST(count(*) AS BIGINT),
       |       CAST(sum(c_ab) AS BIGINT)
       |FROM cab
       |UNION ALL
       |SELECT 'bpe_index', n_rows, mass FROM ($wordsArm)
       |UNION ALL
       |SELECT 'unigram_index', n_rows, mass FROM ($wordsArm)
       |UNION ALL
       |SELECT 'ivf_index',
       |       CAST(count(*) AS BIGINT),
       |       CAST(sum(vec_id) AS BIGINT)
       |FROM embeddings
       |WHERE ${DedupOps.sideBucketSql("vec_id")}
       |        < ${DedupOps.incrementalCorpusPermille}
       |  AND vec_id % 20 <> 0""".stripMargin
  }

  // ---- k-anonymity release suppression ---------------------------------

  /** Minimum documents a (lang, source) cell needs before its source
    * is NAMED in a released rollup.
    */
  val kAnonMinDocs = 10L

  /** Label of the suppression bucket every under-k cell folds into. */
  val kAnonOther = "__other__"

  /** K-ANONYMITY RELEASE — the dataset-card discipline for publishing
    * per-source statistics: a rollup cell naming a source with very
    * few documents can identify a contributor (small crawl feeds,
    * single-site sources), so cells with fewer than [[kAnonMinDocs]]
    * docs are suppressed and folded, mass-conserving, into one
    * [[kAnonOther]] row per lang. The fold row is released regardless
    * of its own size: it aggregates ≥1 suppressed sources and names
    * none of them, which is the property k-anonymity wants (n_cells
    * says how many sources it hides — the auditor's number). Totals
    * are conserved by construction: suppression REASSIGNS mass, never
    * deletes it, so the released table still sums to the corpus.
    *
    * Scale shape: two keyed aggregations, the second over the
    * cell table (≤ |langs|·|sources| rows — metadata-sized); the
    * corpus is scanned once. All counts exact integers.
    */
  def kanonRelease(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = TextOps.documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), col("source"),
        size(CurationOps.toksCol).cast("long").as("n_toks"))
      .groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val released = cells
      .withColumn("rel_source",
        when(col("n_docs") >= kAnonMinDocs, col("source"))
          .otherwise(lit(kAnonOther)))
      .groupBy(col("lang"), col("rel_source").as("source"))
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        count(lit(1)).as("n_cells"))
    Canon.canonicalize(released)
  }

  val kanonReleaseOracle: String =
    s"""WITH kc AS (
       |  SELECT lang, source, count(*) AS n_docs,
       |         CAST(sum(len(${CurationOps.toksSql})) AS BIGINT)
       |           AS n_tokens
       |  FROM documents GROUP BY 1, 2)
       |SELECT lang,
       |       CASE WHEN n_docs >= $kAnonMinDocs THEN source
       |            ELSE '$kAnonOther' END AS source,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS n_cells
       |FROM kc GROUP BY 1, 2""".stripMargin

  // ---- differentially-private release (discrete Laplace) --------------

  /** Privacy parameter ε of [[dpRelease]]. Counts have sensitivity 1
    * (a document lives in exactly one (lang, source) cell), so the
    * geometric decay is α = e^(-ε) per unit of noise.
    */
  val dpEps = 1.0

  /** Noise clamp: the ladder maps every hash to a z with |z| ≤ dpZMax.
    * On the 2^32 lattice the realized tail is already zero past |z|≈22
    * for ε=1 (the CDF moves by less than one lattice step), so the
    * clamp's privacy cost is the lattice discretization itself: total
    * variation vs the exact discrete Laplace ≤ 2·(2·dpZMax+1)·2⁻³² ≈
    * 2.4e-8 — the release is (ε, δ)-DP with that δ.
    */
  val dpZMax = 25

  /** Suppression threshold on the NOISY count: a cell is released by
    * name only if its noisy count clears τ; the rest fold,
    * noisy-mass-conserving, into one [[dpSuppressed]] row per lang
    * (the [[kanonRelease]] discipline — post-processing of a DP
    * release is DP, so the fold row is free).
    */
  val dpTau = 10L

  /** Label of the per-lang fold row for suppressed cells. */
  val dpSuppressed = "__suppressed__"

  /** Release tag folded into the noise seed: the noise is a PURE
    * FUNCTION of (cell identity, tag), so re-running the same release
    * reuses the same noise — the privacy budget is spent once per tag,
    * not once per execution (re-drawing fresh noise per run would leak
    * the true count through averaging). A new release epoch bumps the
    * tag and spends fresh budget.
    */
  val dpTag = "graft_dp_v1"

  /** Per-document CONTRIBUTION CLIP for the released token sums: a
    * document adds at most dpClip tokens to its cell, so the sum's
    * sensitivity is dpClip and the discrete-Laplace noise is
    * dpClip·z — the standard bounded-contribution construction for
    * DP sums (a clip is mandatory: an unclipped sum has unbounded
    * sensitivity and NO finite noise privatizes it).
    */
  val dpClip = 1000L

  /** Integer thresholds of the discrete-Laplace CDF on the 2^32
    * lattice: T(z) = floor(F(z)·2^32) for z ∈ [-ZMax, ZMax), where
    * F(z) = α^(−z)/(1+α) below zero and 1 − α^(z+1)/(1+α) at/above.
    * THE LADDER IS THE MECHANISM: the realized probability of z is the
    * exact lattice measure (T(z) − T(z−1))/2^32, and z is a pure
    * integer function of the hash — computed once here in the JVM,
    * emitted as integer literals into BOTH engines' SQL, so the twin
    * is bit-exact by construction with no ln() anywhere near the
    * compared output (the repo-wide no-cross-engine-ln rule, see
    * TextOps.tfIdf).
    */
  private[ext] val dpThresholds: Seq[(Int, Long)] = {
    val alpha = math.exp(-dpEps)
    def cdf(z: Int): Double =
      if (z < 0) math.pow(alpha, -z) / (1 + alpha)
      else 1.0 - math.pow(alpha, z + 1) / (1 + alpha)
    (-dpZMax until dpZMax)
      .map(z => z -> math.floor(cdf(z) * 4294967296.0).toLong)
  }

  /** The noise seed: cell identity + release tag (see [[dpTag]]). */
  private[ext] val dpKeySql: String = s"lang || '|' || source || '|$dpTag'"

  /** Fold the first 8 md5 hex digits of the seed to a BIGINT in
    * [0, 2^32) — md5 is the repo's one cross-engine string hash and
    * the digit fold keeps the draw a pure integer function of the hex
    * (the [[SampleOps.dsirBucketSql]] pattern, widened to 8 digits for
    * a 2^32 lattice). The leading CAST keeps Spark's INT instr
    * arithmetic from overflowing at 16^8.
    */
  private[ext] def dpFoldSql(keySql: String): String = {
    def d(i: Int) =
      s"(instr('0123456789abcdef', substr(md5($keySql), $i, 1)) - 1)"
    (2 to 8).map(d).foldLeft(s"CAST(${d(1)} AS BIGINT)")(
      (acc, di) => s"($acc * 16 + $di)")
  }

  /** The CASE ladder mapping a lattice draw to its noise value. Equal
    * and zero thresholds (the zero-measure far tail) are trimmed —
    * those branches can never fire. `foldSql` should name a
    * precomputed column so the hash is evaluated once per cell.
    */
  private[ext] def dpNoiseSql(foldSql: String): String = {
    val ladder = dpThresholds.filter(_._2 > 0L)
      .foldLeft(Vector.empty[(Int, Long)]) { case (acc, (z, t)) =>
        if (acc.nonEmpty && acc.last._2 == t) acc else acc :+ (z -> t)
      }
    "(CASE " + ladder.map { case (z, t) =>
      s"WHEN $foldSql < $t THEN ($z)"
    }.mkString(" ") + s" ELSE $dpZMax END)"
  }

  /** DIFFERENTIALLY-PRIVATE RELEASE of the per-(lang, source) document
    * counts — the other half of the dataset-card privacy story beside
    * [[kanonRelease]]: k-anonymity hides small cells, DP bounds what
    * ANY released number reveals about any single document's presence
    * (ε = [[dpEps]], δ from the lattice, see [[dpZMax]]).
    *
    * Mechanism: discrete Laplace (two-sided geometric — Ghosh et al.,
    * the canonical integer mechanism for counts), sampled by inverse
    * CDF over a 2^32 lattice whose draw is the md5 fold of the cell
    * identity + release tag. Everything the two engines compare is
    * integer arithmetic on shared literals. Cells whose noisy count
    * clears [[dpTau]] are released by name; the rest fold into one
    * [[dpSuppressed]] row per lang (noisy mass conserved, n_cells
    * saying how many sources it hides). Beside the count, each cell
    * releases its token sum under per-document contribution clipping
    * ([[dpClip]]; noise dpClip·z from an INDEPENDENT draw — the seed
    * gets a `:tok` suffix, so the two statistics don't share noise).
    *
    * Scale shape: one keyed aggregation over the corpus, then a
    * metadata-sized projection (≤ |langs|·|sources| cells) carrying
    * the hash + ladder; nothing downstream is corpus-scaled.
    */
  def dpRelease(spark: SparkSession, sfDir: String,
                tag: String = dpTag): DataFrame = {
    val keySql = s"lang || '|' || source || '|$tag'"
    val keyTokSql = s"lang || '|' || source || '|$tag:tok'"
    val noisy = TextOps.documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), col("source"),
        least(size(CurationOps.toksCol).cast("long"), lit(dpClip))
          .as("n_tok"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
      .withColumn("fold", expr(dpFoldSql(keySql)))
      .withColumn("fold_tok", expr(dpFoldSql(keyTokSql)))
      .withColumn("n_noisy", col("n_docs") + expr(dpNoiseSql("fold")))
      .withColumn("tok_noisy",
        col("n_tok") + lit(dpClip) * expr(dpNoiseSql("fold_tok")))
    val released = noisy
      .withColumn("rel_source",
        when(col("n_noisy") >= dpTau, col("source"))
          .otherwise(lit(dpSuppressed)))
      .groupBy(col("lang"), col("rel_source").as("source"))
      .agg(sum("n_noisy").as("n_released"),
        sum("tok_noisy").as("n_tokens_released"),
        count(lit(1)).as("n_cells"))
    Canon.canonicalize(released)
  }

  /** Total ε a dataset may spend across release epochs before the
    * accountant refuses further releases.
    */
  val dpBudget = 10.0

  /** One release epoch's spend: two statistics (count + clipped token
    * sum) over the SAME rows is sequential composition, so the epoch
    * costs 2ε (the independent seeds buy unbiased noise, not parallel
    * composition — that would need disjoint data).
    */
  val dpEpochSpend: Double = 2 * dpEps

  /** Where a dataset's budget ledger lives (append-only `tag=eps`
    * lines, the Runner-watermark discipline: under target/, keyed by
    * fixture name, never inside the read-only data dir).
    */
  private[graft] def dpLedgerFile(sfDir: String): java.io.File =
    new java.io.File(
      s"target/dp_ledger/${new java.io.File(sfDir).getName}.ledger")

  /** Cumulative ε already spent, by tag. */
  private[graft] def dpSpent(ledger: java.io.File): Map[String, Double] =
    if (!ledger.exists()) Map.empty
    else java.nio.file.Files.readString(ledger.toPath).linesIterator
      .filter(_.contains('=')).map { l =>
        val Array(t, e) = l.split("=", 2); t -> e.trim.toDouble
      }.toMap

  /** PRIVACY-BUDGET ACCOUNTANT around [[dpRelease]]: a release epoch
    * (tag) is charged [[dpEpochSpend]] ONCE — re-running an already
    * charged tag is free, because the noise is a pure function of the
    * tag and re-serving the same numbers reveals nothing new (the
    * [[dpTag]] reuse discipline, now enforced rather than assumed). A
    * NEW tag that would push the cumulative spend past [[dpBudget]]
    * throws BEFORE any data is read — the fail-fast gate shape every
    * admission fold uses (drift/recall/dup gates): the chain stops at
    * the accountant, not after the leak.
    */
  def dpReleaseAccounted(spark: SparkSession, sfDir: String,
                         tag: String = dpTag,
                         ledger: java.io.File = null): DataFrame = {
    val lf = Option(ledger).getOrElse(dpLedgerFile(sfDir))
    val spent = dpSpent(lf)
    if (!spent.contains(tag)) {
      val total = spent.values.sum
      if (total + dpEpochSpend > dpBudget)
        throw new IllegalStateException(
          f"dp budget exhausted: spent ε=$total%.1f of ${dpBudget}%.1f, " +
            f"epoch '$tag' needs ${dpEpochSpend}%.1f more — refusing the " +
            "release (raise dpBudget deliberately or reuse a spent tag)")
      lf.getParentFile.mkdirs()
      java.nio.file.Files.writeString(lf.toPath,
        spent.map { case (t, e) => s"$t=$e" }
          .mkString("", "\n", if (spent.isEmpty) "" else "\n") +
          s"$tag=$dpEpochSpend")
    }
    dpRelease(spark, sfDir, tag)
  }

  /** THE COST-OF-PRIVACY ROW: per-lang accounting of what [[dpRelease]]
    * gave up — how many cells were released by name vs folded, and the
    * TOTAL ABSOLUTE NOISE injected into each statistic (|z| summed for
    * counts, clip·|z₂| for token sums). This is the curator's internal
    * telemetry (the data owner knows the truth; only the release is
    * public) — the standard way a DP deployment prices ε against
    * utility before committing a budget. All exact integers: the noise
    * is the same pure ladder function of (cell, tag), so the row is a
    * bit-deterministic twin with zero extra privacy spend (it is never
    * published).
    */
  def dpUtility(spark: SparkSession, sfDir: String): DataFrame = {
    val noisy = TextOps.documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), col("source"),
        least(size(CurationOps.toksCol).cast("long"), lit(dpClip))
          .as("n_tok"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
      .withColumn("fold", expr(dpFoldSql(dpKeySql)))
      .withColumn("fold_tok", expr(dpFoldSql(
        s"lang || '|' || source || '|$dpTag:tok'")))
      .withColumn("z", expr(dpNoiseSql("fold")).cast("long"))
      .withColumn("z_tok", expr(dpNoiseSql("fold_tok")).cast("long"))
    Canon.canonicalize(noisy
      .groupBy("lang")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("n_docs") + col("z") >= dpTau, 1L).otherwise(0L))
          .as("n_named"),
        sum(when(col("n_docs") + col("z") >= dpTau, 0L).otherwise(1L))
          .as("n_suppressed"),
        sum(abs(col("z"))).as("abs_err_docs"),
        sum(abs(col("z_tok")) * dpClip).as("abs_err_tokens")))
  }

  val dpUtilityOracle: String =
    s"""WITH cells AS (
       |  SELECT lang, source, count(*) AS n_docs,
       |         CAST(sum(least(len(${CurationOps.toksSql}), $dpClip))
       |              AS BIGINT) AS n_tok
       |  FROM documents GROUP BY 1, 2),
       |folded AS (
       |  SELECT lang, source, n_docs,
       |         ${dpFoldSql(dpKeySql)} AS fold,
       |         ${dpFoldSql(s"lang || '|' || source || '|$dpTag:tok'")}
       |           AS fold_tok
       |  FROM cells),
       |noisy AS (
       |  SELECT lang,
       |         n_docs + ${dpNoiseSql("fold")} AS n_noisy,
       |         ${dpNoiseSql("fold")} AS z,
       |         ${dpNoiseSql("fold_tok")} AS z_tok
       |  FROM folded)
       |SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_cells,
       |       CAST(sum(CASE WHEN n_noisy >= $dpTau THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_named,
       |       CAST(sum(CASE WHEN n_noisy >= $dpTau THEN 0 ELSE 1 END)
       |            AS BIGINT) AS n_suppressed,
       |       CAST(sum(abs(z)) AS BIGINT) AS abs_err_docs,
       |       CAST(sum(abs(z_tok) * $dpClip) AS BIGINT) AS abs_err_tokens
       |FROM noisy GROUP BY 1""".stripMargin

  val dpReleaseOracle: String =
    s"""WITH cells AS (
       |  SELECT lang, source, count(*) AS n_docs,
       |         CAST(sum(least(len(${CurationOps.toksSql}), $dpClip))
       |              AS BIGINT) AS n_tok
       |  FROM documents GROUP BY 1, 2),
       |folded AS (
       |  SELECT lang, source, n_docs, n_tok,
       |         ${dpFoldSql(dpKeySql)} AS fold,
       |         ${dpFoldSql(s"lang || '|' || source || '|$dpTag:tok'")}
       |           AS fold_tok
       |  FROM cells),
       |noisy AS (
       |  SELECT lang, source,
       |         n_docs + ${dpNoiseSql("fold")} AS n_noisy,
       |         n_tok + $dpClip * ${dpNoiseSql("fold_tok")} AS tok_noisy
       |  FROM folded)
       |SELECT lang,
       |       CASE WHEN n_noisy >= $dpTau THEN source
       |            ELSE '$dpSuppressed' END AS source,
       |       CAST(sum(n_noisy) AS BIGINT) AS n_released,
       |       CAST(sum(tok_noisy) AS BIGINT) AS n_tokens_released,
       |       CAST(count(*) AS BIGINT) AS n_cells
       |FROM noisy GROUP BY 1, 2""".stripMargin
}
