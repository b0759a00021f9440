package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Canon

/** Text-analysis operators for large-scale training-data pipelines, over
  * the `documents` fixture (doc_id, text, lang, source, n_chars).
  *
  * All operators are single-pass, codegen-friendly column expressions plus
  * at most one keyed aggregation — no driver-side loops, no UDFs — so every
  * one of them scales linearly with executors at 100 TB:
  *
  *  - exact dedup: sha256 over normalized text → groupBy(hash). The shuffle
  *    carries one row per DISTINCT content hash (map-side combine), the
  *    canonical web-scale exact-dedup plan.
  *  - text stats: groupBy(lang, source) with explicit sum/count arithmetic.
  *  - token counting: regexp word-token count + a BPE-ish chars/4 estimate.
  *  - fingerprinting: md5 + sha256 content fingerprints.
  *  - quality scoring: length/stopword/punctuation ratios, one projection.
  *  - language-ID: marker-word n-gram counts + deterministic argmax. The
  *    synthetic corpus shares one vocabulary across lang labels, so
  *    predictions are exercised for mechanics here; real multilingual
  *    behavior is asserted in TextOpsSpec on crafted samples.
  */
object TextOps {

  /** Whitespace-collapse + trim + lowercase; the normalization key for
    * dedup/fingerprints (equivalent arithmetic exists in DuckDB).
    */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  // a DEF, not a val: TextOps and CurationOps interpolate each other's
  // SQL snippets inside oracle vals, and a val here creates an
  // object-initialization CYCLE — whichever object initializes second
  // captures the other's still-null snippet into its oracle strings
  // (caught as unnest(null) when the query-map iteration order changed).
  // A pure def has no init-order state to capture.
  private[ext] def normSql: String =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Opt-in Unicode-aware variant of [[normText]]: NFC + lowercase
    * (optionally width folding) BEFORE whitespace normalization, so two
    * canonically-equal spellings (é composed vs e+combining acute)
    * produce identical shingles. Default-off everywhere — the shipped
    * near-dup oracles predate it and stay byte-stable; pass this where
    * a multilingual crawl needs it (see [[graft.functions.UnicodeNorm]]).
    */
  def normTextUnicode(c: Column, widthFold: Boolean = false): Column =
    normText(if (widthFold) graft.functions.UnicodeNorm.folded(c)
             else graft.functions.UnicodeNorm(c))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")

  // ---- exact dedup ---------------------------------------------------

  /** One row per distinct normalized content: the kept doc (min id), the
    * copy count, and the content hash. Rows with n_copies > 1 are the
    * duplicate groups; keeping min(doc_id) makes the winner deterministic.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .withColumn("text_sha", sha2(normText(col("text")), 256))
    Canon.canonicalize(
      d.groupBy("text_sha").agg(
        min("doc_id").as("keep_doc_id"),
        count(lit(1)).as("n_copies")))
  }

  val dedupExactOracle: String =
    s"""SELECT sha256($normSql) AS text_sha,
       |       min(doc_id) AS keep_doc_id,
       |       count(*) AS n_copies
       |FROM documents GROUP BY 1""".stripMargin

  // ---- corpus stats --------------------------------------------------

  /** Per (lang, source) corpus statistics. AVG is spelled out as
    * sum/count in DOUBLE so both engines perform the identical IEEE
    * division (engine-native AVG accumulation orders differ).
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
    Canon.canonicalize(
      d.groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        (sum("n_chars").cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars")))
  }

  val textStatsOracle: String =
    """SELECT lang, source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ---- token counting ------------------------------------------------

  // ---- unicode canonicalization --------------------------------------

  /** Per-document Unicode canonical form (NFC + lowercase, the
    * [[graft.functions.UnicodeNorm]] native) plus a changed flag. On the
    * ASCII fixture the NFC step is an asserted no-op and `changed`
    * reduces to "had an uppercase letter" — the real multi-script
    * behavior (composed ≡ decomposed, width folding) is pinned in
    * TextOpsSpec on crafted fixtures.
    */
  def unicodeNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
    Canon.canonicalize(d.select(
      col("doc_id"),
      graft.functions.UnicodeNorm(col("text")).as("unorm"),
      (graft.functions.UnicodeNorm(col("text")) =!= col("text"))
        .as("changed")))
  }

  val unicodeNormalizeOracle: String =
    """SELECT doc_id,
      |       lower(nfc_normalize(text)) AS unorm,
      |       lower(nfc_normalize(text)) <> text AS changed
      |FROM documents""".stripMargin

  // ---- markup extraction ---------------------------------------------

  /** Opt-in markup front-end for [[normText]]: tag strip + entity
    * decode ([[graft.functions.HtmlExtract]]) BEFORE whitespace
    * normalization — the step that completes the head of the funnel
    * when the crawl arrives as HTML instead of clean text. Default-off
    * like [[normTextUnicode]] so every shipped oracle stays byte-stable.
    */
  def normTextMarkup(c: Column): Column =
    normText(graft.functions.HtmlExtract(c))

  /** Markup→text extraction over a DETERMINISTIC wrapper: each document
    * is embedded in a fixed HTML shell (encoded entities in the title,
    * a per-doc attribute id, an unknown entity that must pass through,
    * a self-closing tag) built identically by both engines from the
    * same columns, so the query exercises every strip/decode rule of
    * [[graft.functions.HtmlExtract]] against the DuckDB
    * regexp_replace + chained-replace twin on the full corpus.
    */
  def htmlExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
    val idStr = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Q&amp;A &quot;notes&quot;</title></head>" +
        "<body><h1 class=\"hd\">&lt;doc&gt;&nbsp;"),
      idStr, lit("</h1><p id=\""), idStr, lit("\">"), col("text"),
      lit("</p><br/><footer>it&#39;s &copy; unknown</footer>" +
        "</body></html>"))
    Canon.canonicalize(d.select(
      col("doc_id"),
      graft.functions.HtmlExtract(html).as("text_out")))
  }

  val htmlExtractOracle: String =
    """SELECT doc_id,
      |  replace(replace(replace(replace(replace(replace(
      |    regexp_replace(html, '<[^>]*>', '', 'g'),
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS text_out
      |FROM (
      |  SELECT doc_id,
      |    '<html><head><title>Q&amp;A &quot;notes&quot;</title></head>'
      |    || '<body><h1 class="hd">&lt;doc&gt;&nbsp;'
      |    || CAST(doc_id AS VARCHAR) || '</h1><p id="'
      |    || CAST(doc_id AS VARCHAR) || '">' || text
      |    || '</p><br/><footer>it&#39;s &copy; unknown</footer>'
      |    || '</body></html>' AS html
      |  FROM documents)""".stripMargin

  private[ext] val wordPat = "[a-z0-9]+"

  /** Word-regex token count plus the ceil(chars/4) BPE-style estimate used
    * for budget planning when no tokenizer is available.
    */
  /** READABILITY — Flesch reading-ease per document, the classic
    * curation signal the length/stopword/punct score
    * ([[qualityScore]]) doesn't carry: word-per-sentence and
    * syllable-per-word density,
    *
    *   flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
    *
    * with syllables approximated as VOWEL-GROUP RUNS (`[aeiouy]+` on
    * the normalized text — the standard cheap heuristic; documented
    * approximation, not hyphenation-grade) and sentences as
    * terminal-punctuation runs on the RAW text. Everything is
    * `regexp_count` + three double ops in a fixed order — pure
    * projection, no shuffle, codegen'd; the same shared-RE2-subset
    * discipline as the quality CTE. Clamps (≥1) keep degenerate docs
    * (no punctuation, all digits) finite instead of NULL/∞.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
      .withColumn("w",
        greatest(regexp_count(col("norm"), lit(wordPat)), lit(1))
          .cast("double"))
      .withColumn("s",
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("double"))
      .withColumn("sy",
        greatest(regexp_count(col("norm"), lit("[aeiouy]+")), lit(1))
          .cast("double"))
    Canon.canonicalize(d.select(
      col("doc_id"),
      col("w").cast("long").as("n_words"),
      col("s").cast("long").as("n_sents"),
      col("sy").cast("long").as("n_syll"),
      (lit(206.835) - lit(1.015) * (col("w") / col("s"))
        - lit(84.6) * (col("sy") / col("w"))).as("flesch")))
  }

  val readabilityOracle: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    CAST(greatest(len(regexp_extract_all($normSql, '$wordPat')),
       |      1) AS DOUBLE) AS w,
       |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')),
       |      1) AS DOUBLE) AS s,
       |    CAST(greatest(len(regexp_extract_all($normSql, '[aeiouy]+')),
       |      1) AS DOUBLE) AS sy
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(w AS BIGINT) AS n_words,
       |       CAST(s AS BIGINT) AS n_sents,
       |       CAST(sy AS BIGINT) AS n_syll,
       |       206.835 - 1.015 * (w / s) - 84.6 * (sy / w) AS flesch
       |FROM r""".stripMargin

  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
    Canon.canonicalize(d.select(
      col("doc_id"),
      regexp_count(col("norm"), lit(wordPat)).as("n_tokens"),
      length(col("text")).as("len_chars"),
      ceil(length(col("text")).cast("double") / lit(4.0)).as("est_bpe_tokens")))
  }

  val tokenCountOracle: String =
    s"""SELECT doc_id,
       |       len(regexp_extract_all($normSql, '$wordPat')) AS n_tokens,
       |       length(text) AS len_chars,
       |       CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)
       |         AS est_bpe_tokens
       |FROM documents""".stripMargin

  // ---- fingerprinting ------------------------------------------------

  /** Polynomial rolling hash of a normalized-text column:
    * h = fold(h·31 + codepoint) mod (2³¹−1). The per-character recurrence
    * is the building block of rolling-window fingerprints (Rabin–Karp
    * style); modulus and base chosen so every intermediate fits a 64-bit
    * integer identically in both engines. ASCII-safe (the corpus is);
    * codepoint semantics beyond ASCII differ per engine.
    */
  def rollingHash(norm: Column): Column =
    aggregate(
      // java-regex split("") keeps a trailing "" at limit -1; drop it
      filter(split(norm, ""), ch => ch =!= ""),
      lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % lit(2147483647L))

  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
    Canon.canonicalize(d.select(
      col("doc_id"),
      md5(col("norm")).as("fp_md5"),
      sha2(col("norm"), 256).as("fp_sha256"),
      rollingHash(col("norm")).as("fp_rolling")))
  }

  val fingerprintOracle: String =
    s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents)
       |SELECT doc_id, md5(norm) AS fp_md5,
       |       sha256(norm) AS fp_sha256,
       |       list_reduce(
       |         list_prepend(CAST(0 AS BIGINT),
       |           list_transform(
       |             list_filter(string_split(norm, ''), ch -> ch <> ''),
       |             ch -> CAST(ord(ch) AS BIGINT))),
       |         (acc, c) -> (acc * 31 + c) % 2147483647) AS fp_rolling
       |FROM n""".stripMargin

  // ---- quality scoring -----------------------------------------------

  /** Adds the quality ingredients (doubles) and `quality_score` to a
    * frame that already carries `text` and `norm` — shared by the
    * standalone scoring query and the corpus-curation funnel so the two
    * can never drift.
    */
  private[graft] def withQualityScore(d: DataFrame): DataFrame = {
    val parts = d
      .withColumn("n_tokens",
        regexp_count(col("norm"), lit(wordPat)).cast("double"))
      .withColumn("n_stop",
        regexp_count(col("norm"), lit("\\b(the|a|of|and|to)\\b"))
          .cast("double"))
      .withColumn("n_punct",
        regexp_count(col("text"), lit("[.,!?;:]")).cast("double"))
      .withColumn("len_chars", length(col("text")).cast("double"))
    parts.withColumn("quality_score",
      lit(0.4) * least(lit(1.0), col("n_tokens") / lit(100.0)) +
        lit(0.3) * (col("n_stop") / greatest(col("n_tokens"), lit(1.0))) +
        lit(0.3) * (lit(1.0) -
          col("n_punct") / greatest(col("len_chars"), lit(1.0))))
  }

  /** The identical score in DuckDB SQL over the `f` ingredient columns. */
  private val qualityScoreSql: String =
    """0.4 * least(1.0, n_tokens / 100.0) +
      |       0.3 * (n_stop / greatest(n_tokens, 1.0)) +
      |       0.3 * (1.0 - n_punct / greatest(len_chars, 1.0))""".stripMargin

  /** Heuristic document quality in [0,1]: token volume (capped), stopword
    * ratio, and punctuation-noise penalty — the standard pre-training
    * corpus filters, as one codegen'd projection.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val d = withQualityScore(documents(spark, sfDir)
      .withColumn("norm", normText(col("text"))))
    Canon.canonicalize(d.select(
      col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
      col("n_stop").cast("long").as("n_stop"),
      col("n_punct").cast("long").as("n_punct"),
      col("quality_score")))
  }

  /** The quality-score CTE pair (`qf` ingredients → `qs` scored docs),
    * shared by every oracle that consumes the score — the standalone
    * scoring query, the per-source cap, and the quality-policy dedup
    * apply compose THIS text, so the score SQL exists exactly once.
    */
  private[graft] val qualityCte: String =
    s"""qf AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_extract_all($normSql, '$wordPat')) AS DOUBLE) AS n_tokens,
       |    CAST(len(regexp_extract_all($normSql, '\\b(the|a|of|and|to)\\b')) AS DOUBLE) AS n_stop,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS len_chars
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, lang, source, n_tokens, n_stop, n_punct,
       |         $qualityScoreSql AS quality_score
       |  FROM qf)""".stripMargin

  val qualityScoreOracle: String =
    s"""WITH $qualityCte
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(n_stop AS BIGINT) AS n_stop,
       |       CAST(n_punct AS BIGINT) AS n_punct,
       |       quality_score
       |FROM qs""".stripMargin

  // ---- dataset card ---------------------------------------------------

  /** One-row DATASET CARD: the summary block a corpus release ships —
    * volume (docs/chars/tokens), diversity (distinct langs/sources),
    * exact-duplication rate, and mean quality. Composes the SHARED
    * quality projection and the exact-dedup hash so no number can
    * drift from the operator that owns it.
    *
    * Determinism: mean quality sums ⌊q·10⁶+0.5⌋ as exact integers (the
    * embedMoments fixed-point trick) — a raw double sum is
    * accumulation-order-dependent and would hash-differ per
    * partitioning. Scale shape: the volume block is ONE scan folding
    * to one row (no Expand — the multi-countDistinct trap profiling
    * avoids); each distinct count is its own bounded agg (lang/source
    * key spaces are tiny; the text-hash distinct is the dedupExact
    * exchange); the four 1-row frames meet in broadcast cross joins
    * (the LoyaltyTiers frame pattern).
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withQualityScore(documents(spark, sfDir)
      .withColumn("norm", normText(col("text"))))
      .withColumn("fp", floor(col("quality_score") * lit(1000000.0) +
        lit(0.5)).cast("long"))
    val vol = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("len_chars").cast("long")).as("total_chars"),
      sum(col("n_tokens").cast("long")).as("total_tokens"),
      sum("fp").as("sum_fp"))
    val langs = base.agg(countDistinct("lang").as("n_langs"))
    val sources = base.agg(countDistinct("source").as("n_sources"))
    val uniq = base.agg(
      countDistinct(sha2(col("norm"), 256)).as("n_unique_texts"))
    Canon.canonicalize(vol
      .crossJoin(broadcast(langs))
      .crossJoin(broadcast(sources))
      .crossJoin(broadcast(uniq))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("total_chars"), col("total_tokens"), col("n_unique_texts"),
        (lit(1.0) - col("n_unique_texts").cast("double") /
          col("n_docs").cast("double")).as("dup_frac"),
        (col("sum_fp").cast("double") / lit(1000000.0) /
          col("n_docs").cast("double")).as("mean_quality")))
  }

  val datasetCardOracle: String =
    s"""WITH $qualityCte,
       |vol AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(CAST(qf.len_chars AS BIGINT)) AS BIGINT)
       |           AS total_chars,
       |         CAST(sum(CAST(qf.n_tokens AS BIGINT)) AS BIGINT)
       |           AS total_tokens,
       |         CAST(sum(CAST(floor(qs.quality_score * 1000000.0 + 0.5)
       |           AS BIGINT)) AS BIGINT) AS sum_fp
       |  FROM qf JOIN qs USING (doc_id)),
       |lg AS (SELECT count(DISTINCT lang) AS n_langs FROM documents),
       |sc AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
       |uq AS (SELECT count(DISTINCT sha256($normSql)) AS n_unique_texts
       |       FROM documents)
       |SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
       |       n_unique_texts,
       |       1.0 - CAST(n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |         AS dup_frac,
       |       CAST(sum_fp AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)
       |         AS mean_quality
       |FROM vol, lg, sc, uq""".stripMargin

  // ---- per-source quality cap (data-mixing curation) -----------------

  /** Docs kept per source by [[sourceCap]]. */
  val sourceCapK = 10

  /** Per-SOURCE quality cap: keep the `sourceCapK` highest-quality
    * documents of every source (ties broken by doc_id) — the
    * domain-level capping step of data mixing, which stops one huge
    * low-diversity domain from dominating the corpus no matter how many
    * documents it contributes.
    *
    * Scale shape: the score is the shared codegen'd projection
    * (withQualityScore — can't drift from q_quality_score), and the cap
    * runs on the native TopKPerKey bounded heap: per-source state is
    * O(k), no per-group sort, no window — the same operator the judge's
    * W2/W3 family uses, pointed at the curation problem.
    */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = withQualityScore(documents(spark, sfDir)
        .withColumn("norm", normText(col("text"))))
      .select(col("doc_id"), col("source"), col("quality_score"))
    Canon.canonicalize(graft.plans.TopK.perKey(scored, Seq("source"),
      Seq("quality_score" -> graft.plans.TopK.Desc,
        "doc_id" -> graft.plans.TopK.Asc), k = sourceCapK))
  }

  val sourceCapOracle: String =
    s"""WITH $qualityCte,
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY quality_score DESC, doc_id ASC) AS rn
       |  FROM qs)
       |SELECT doc_id, source, quality_score FROM r WHERE rn <= $sourceCapK""".stripMargin

  // ---- vocabulary statistics -----------------------------------------

  val topTokensK = 10

  /** Heavy hitters: top-K tokens per lang by DOCUMENT frequency. The
    * shuffle is keyed on (lang, token) with map-side combine, so hot
    * tokens cost one partial count per partition, not a skewed exchange —
    * the canonical vocabulary-building pass.
    */
  def topTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"),
        array_distinct(split(normText(col("text")), " ")).as("toks"))
    val df = d.select(col("lang"), col("doc_id"),
        explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("doc_freq"))
    // per-lang top-k via the sort-free TopKPerKey heap — no full sort of
    // the vocabulary per lang, same rank semantics as row_number()
    val top = graft.plans.TopK.perKey(df, Seq("lang"),
      Seq("doc_freq" -> graft.plans.TopK.Desc,
        "token" -> graft.plans.TopK.Asc),
      topTokensK, rankCol = Some("rank"))
    Canon.canonicalize(top.select("lang", "rank", "token", "doc_freq"))
  }

  val topTokensOracle: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT lang, doc_id, t.token
       |  FROM documents,
       |       unnest(string_split($normSql, ' ')) AS t(token)
       |  WHERE t.token <> ''),
       |freq AS (
       |  SELECT lang, token, count(*) AS doc_freq
       |  FROM toks GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |            ORDER BY doc_freq DESC, token ASC) AS rank
       |  FROM freq)
       |SELECT lang, rank, token, doc_freq FROM ranked
       |WHERE rank <= $topTokensK""".stripMargin

  /** Corpus FREQUENCY SPECTRUM — the Zipf/hapax dashboard row: bucket
    * every vocabulary type by the binary order of magnitude of its
    * occurrence count (band = bit length of freq, so band 1 is exactly
    * the hapax legomena) and report type/occurrence mass per band. A
    * healthy natural corpus is Zipfian (hapax-heavy types, head-heavy
    * occurrences); machine-generated or template spam shows up as a
    * collapsed spectrum before any per-doc filter can see it.
    *
    * The band is INTEGER arithmetic in both engines — `length(bin(f))`
    * — deliberately instead of floor(log2): both engines' `bin` is
    * exact while float log2 wavers at power-of-two boundaries.
    *
    * Scale shape: one token-keyed count with map-side combine (the
    * vocabulary pass), one ≤64-row band rollup, one broadcast of the
    * two totals. Nothing here is corpus-order-dependent.
    */
  def freqSpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    val occ = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(explode(filter(split(normText(col("text")), " "),
        t => t =!= "")).as("token"))
    val tf = occ.groupBy("token").agg(count(lit(1)).as("freq"))
    val bands = tf
      .withColumn("band", length(bin(col("freq"))).cast("long"))
      .groupBy("band").agg(
        count(lit(1)).as("n_types"),
        sum("freq").as("n_occurrences"))
      .persist() // ≤64 rows; totals + final read — one vocabulary pass
    val tot = bands.agg(sum("n_types").as("t_types"),
      sum("n_occurrences").as("t_occ"))
    Canon.materialized(
      Canon.canonicalize(bands.crossJoin(broadcast(tot)).select(
        col("band"), col("n_types"), col("n_occurrences"),
        (col("n_types").cast("double") / col("t_types").cast("double"))
          .as("type_share"),
        (col("n_occurrences").cast("double") / col("t_occ").cast("double"))
          .as("occ_share"))),
      bands)
  }

  val freqSpectrumOracle: String =
    s"""WITH fo AS (
       |  SELECT t.token FROM documents,
       |       unnest(string_split($normSql, ' ')) AS t(token)
       |  WHERE t.token <> ''),
       |ftf AS (
       |  SELECT token, count(*) AS freq FROM fo GROUP BY 1),
       |fb AS (
       |  SELECT CAST(length(bin(freq)) AS BIGINT) AS band,
       |         CAST(count(*) AS BIGINT) AS n_types,
       |         CAST(sum(freq) AS BIGINT) AS n_occurrences
       |  FROM ftf GROUP BY 1),
       |ft AS (
       |  SELECT CAST(sum(n_types) AS BIGINT) AS t_types,
       |         CAST(sum(n_occurrences) AS BIGINT) AS t_occ
       |  FROM fb)
       |SELECT band, n_types, n_occurrences,
       |       CAST(n_types AS DOUBLE) / CAST(t_types AS DOUBLE)
       |         AS type_share,
       |       CAST(n_occurrences AS DOUBLE) / CAST(t_occ AS DOUBLE)
       |         AS occ_share
       |FROM fb, ft""".stripMargin

  val tfIdfK = 5

  /** Per-doc top-K tokens by tf·idf. idf is the RATIONAL surrogate
    * (N+1)/(df+1) rather than its logarithm: ln() is not bit-reproducible
    * across libm implementations, and ranking by tf·(N+1)/(df+1) orders
    * within a document identically to tf·ln((N+1)/(df+1)) whenever idf>1
    * comparisons agree — the monotone-transform trade that keeps the
    * differential oracle exact.
    */
  def tfIdf(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        split(normText(col("text")), " ").as("toks"))
    val tf = d.select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .persist() // feeds df-count aggregation AND the scoring join
    val docFreq = tf.groupBy("token")
      .agg(count(lit(1)).as("df"))
    val n = d.select(countDistinct("doc_id").as("n"))
    val scored = tf.join(docFreq, Seq("token")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n") + 1).cast("double") /
          (col("df") + 1).cast("double"))
    // per-doc top-k via the sort-free TopKPerKey heap; state is
    // (k+1)=6 narrow rows per doc in the partition — the operator's
    // intended regime
    val top = graft.plans.TopK.perKey(
      scored.select("doc_id", "token", "tf", "df", "tfidf"),
      Seq("doc_id"),
      Seq("tfidf" -> graft.plans.TopK.Desc,
        "token" -> graft.plans.TopK.Asc),
      tfIdfK, rankCol = Some("rank"))
    Canon.canonicalize(
      top.select("doc_id", "rank", "token", "tf", "df", "tfidf"))
  }

  val tfIdfOracle: String =
    s"""WITH tf AS (
       |  SELECT doc_id, t.token, count(*) AS tf
       |  FROM documents,
       |       unnest(string_split($normSql, ' ')) AS t(token)
       |  WHERE t.token <> ''
       |  GROUP BY 1, 2),
       |docfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, docfreq.df,
       |         CAST(tf.tf AS DOUBLE) * CAST(n.n + 1 AS DOUBLE)
       |           / CAST(docfreq.df + 1 AS DOUBLE) AS tfidf
       |  FROM tf JOIN docfreq USING (token) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |            ORDER BY tfidf DESC, token ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, token, tf, df, tfidf FROM ranked
       |WHERE rank <= $tfIdfK""".stripMargin

  // ---- document chunking ---------------------------------------------

  /** Token budget per chunk and the overlap carried between consecutive
    * chunks — the standard splitter shape for embedding / training-window
    * preparation. stride = budget − overlap; chunk i covers tokens
    * [i·stride, i·stride + budget). The chunk count
    * `max(1, ⌈(n − overlap) / stride⌉)` guarantees full coverage with no
    * degenerate tail chunk that lies entirely inside its predecessor.
    */
  val chunkTokens = 64
  val chunkOverlap = 16
  val chunkStride: Int = chunkTokens - chunkOverlap

  /** Token-budgeted overlapping chunks per document: one narrow
    * projection + a per-doc explode of the chunk index — no shuffle at
    * all (the chunker is a flat map over documents; at 100 TB it
    * pipelines inside the scan stage). Whitespace tokens of the
    * normalized text; empty documents produce no chunks.
    */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .repartition(col("doc_id")) // one-split fixture; chunking is narrow
      .withColumn("norm", normText(col("text")))
      .filter(length(col("norm")) > 0)
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("n", size(col("toks")))
      .withColumn("nchunks",
        expr(s"greatest(1, (n - $chunkOverlap + $chunkStride - 1) " +
          s"div $chunkStride)"))
    Canon.canonicalize(d
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("nchunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("toks"),
          (col("chunk_idx") * chunkStride + 1).cast("int"),
          lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens),
          col("n") - col("chunk_idx") * chunkStride).as("n_tokens")))
  }

  val docChunksOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, $normSql AS norm FROM documents),
       |t AS (
       |  SELECT doc_id, string_split(norm, ' ') AS toks
       |  FROM d WHERE length(norm) > 0),
       |m AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |         greatest(1, (len(toks) - $chunkOverlap + $chunkStride - 1)
       |                     // $chunkStride) AS nchunks
       |  FROM t),
       |c AS (
       |  SELECT doc_id, toks, n, i AS chunk_idx
       |  FROM m, UNNEST(range(0, nchunks)) AS u(i))
       |SELECT doc_id, chunk_idx,
       |       array_to_string(list_slice(toks,
       |         CAST(chunk_idx * $chunkStride + 1 AS INT),
       |         CAST(chunk_idx * $chunkStride + $chunkTokens AS INT)), ' ')
       |         AS chunk_text,
       |       least($chunkTokens, n - chunk_idx * $chunkStride) AS n_tokens
       |FROM c""".stripMargin

  // ---- language identification ---------------------------------------

  /** Marker words per language — high-frequency function words, the
    * classic cheap lang-ID signal (scores are \b-bounded match counts).
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|to)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "es" -> "\\b(el|la|los|es|y)\\b",
    "fr" -> "\\b(le|la|les|est|et)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]") // \x{...}: valid in Java regex AND RE2

  /** Per-doc marker scores + deterministic argmax prediction (ties break
    * in `langMarkers` declaration order).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
    val scored = langMarkers.foldLeft(d) { case (acc, (l, pat)) =>
      acc.withColumn(s"score_$l", regexp_count(col("norm"), lit(pat)))
    }
    val langs = langMarkers.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit("und"): Column) {
      case ((l, i), els) =>
        val beatsAll = langs.drop(i + 1)
          .map(o => col(s"score_$l") >= col(s"score_$o"))
          .foldLeft(col(s"score_$l") > 0)(_ && _)
        val notBeaten = langs.take(i)
          .map(o => col(s"score_$o") < col(s"score_$l"))
          .foldLeft(lit(true))(_ && _)
        when(beatsAll && notBeaten, lit(l)).otherwise(els)
    }
    Canon.canonicalize(scored.select(
      col("doc_id") +: col("lang").as("labeled_lang") +:
        langs.map(l => col(s"score_$l")) :+ pred.as("predicted_lang"): _*))
  }

  // ---- PII scrubbing --------------------------------------------------

  /** RE2-safe patterns (the DuckDB twin uses RE2; Java regex agrees on
    * this subset).
    */
  val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val longNumPat = "\\d{4,}"

  /** PII redaction — the corpus-curation scrub pass: count and replace
    * emails and long digit runs in free text. Runs over profile strings
    * synthesized from the customer entity, the fixture's only source of
    * real emails/phone digits; one codegen'd projection, trivially
    * horizontal.
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val profiles = graft.retail.Retail.customers(spark, sfDir)
      .select(col("CUSTOMER_ID").as("customer_id"),
        concat_ws(" ", col("NAME"), col("EMAIL"),
          concat(lit("phone:"), col("PHONE_NUMBER"))).as("profile"))
    Canon.canonicalize(profiles.select(
      col("customer_id"),
      regexp_count(col("profile"), lit(emailPat)).as("n_emails"),
      regexp_count(col("profile"), lit(longNumPat)).as("n_long_numbers"),
      regexp_replace(
        regexp_replace(col("profile"), emailPat, "[EMAIL]"),
        longNumPat, "[NUM]").as("scrubbed")))
  }

  val piiScrubOracle: String =
    s"""WITH ${graft.retail.Retail.sql.customers},
       |p AS (
       |  SELECT CUSTOMER_ID AS customer_id,
       |         NAME || ' ' || EMAIL || ' ' || 'phone:' || PHONE_NUMBER
       |           AS profile
       |  FROM customers)
       |SELECT customer_id,
       |  CAST(len(regexp_extract_all(profile, '$emailPat')) AS BIGINT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(profile, '$longNumPat')) AS BIGINT)
       |    AS n_long_numbers,
       |  regexp_replace(regexp_replace(profile, '$emailPat', '[EMAIL]', 'g'),
       |                 '$longNumPat', '[NUM]', 'g') AS scrubbed
       |FROM p""".stripMargin

  // ---- corpus curation funnel ----------------------------------------

  val curateQualityMin = 0.5

  /** The end-to-end curation funnel a training-data pipeline runs before
    * tokenization, as ONE relational query: exact-dedup keepers (min
    * doc_id per normalized-content hash) gated by the quality score, with
    * per-(lang, source) retention counts and the token budget of what
    * survives. Shuffles: one hash exchange for the dedup window, one for
    * the final rollup — both keyed and combiner-friendly.
    */
  def corpusCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("text_sha")
    val d = withQualityScore(documents(spark, sfDir)
      .withColumn("norm", normText(col("text"))))
      .withColumn("text_sha", sha2(col("norm"), 256))
      .withColumn("is_keeper", col("doc_id") === min("doc_id").over(w))
      .withColumn("is_kept",
        col("is_keeper") && col("quality_score") >= curateQualityMin)
    Canon.canonicalize(d.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_unique"),
      sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("is_kept"),
        ceil(col("len_chars") / lit(4.0)).cast("long")).otherwise(0L))
        .as("kept_est_tokens")))
  }

  val corpusCurateOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_extract_all($normSql, '$wordPat')) AS DOUBLE) AS n_tokens,
       |    CAST(len(regexp_extract_all($normSql, '\\b(the|a|of|and|to)\\b')) AS DOUBLE) AS n_stop,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS len_chars,
       |    sha256($normSql) AS text_sha
       |  FROM documents),
       |g AS (
       |  SELECT *, $qualityScoreSql AS quality_score,
       |         doc_id = min(doc_id) OVER (PARTITION BY text_sha) AS is_keeper
       |  FROM f),
       |h AS (
       |  SELECT *, is_keeper AND quality_score >= $curateQualityMin AS is_kept
       |  FROM g)
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_unique,
       |       CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       CAST(sum(CASE WHEN is_kept
       |           THEN CAST(ceil(len_chars / 4.0) AS BIGINT) ELSE 0 END)
       |         AS BIGINT) AS kept_est_tokens
       |FROM h GROUP BY 1, 2""".stripMargin

  val langIdOracle: String = {
    val scores = langMarkers.map { case (l, pat) =>
      s"len(regexp_extract_all($normSql, '$pat')) AS score_$l"
    }.mkString(",\n    ")
    val langs = langMarkers.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val beats = (langs.drop(i + 1).map(o => s"score_$l >= score_$o") ++
        langs.take(i).map(o => s"score_$o < score_$l") :+
        s"score_$l > 0").mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString("\n    ")
    s"""WITH f AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    $scores
       |  FROM documents)
       |SELECT doc_id, labeled_lang, ${langs.map(l => s"score_$l").mkString(", ")},
       |  CASE $cases ELSE 'und' END AS predicted_lang
       |FROM f""".stripMargin
  }

  // ---- vocabulary build ------------------------------------------------

  /** Corpus-frequency cutoff for [[vocabBuild]]: tokens below it stay
    * out of the vocabulary (the OOV tail).
    */
  val vocabMinFreq = 5L

  /** Token-table construction — the id assignment every tokenizer ships
    * with: corpus-wide token OCCURRENCE counts (not document frequency —
    * this is the term stream a tokenizer trains on), frequency cutoff,
    * then dense ids in (freq desc, token asc) order.
    *
    * Scale note on the single global window: the pre-cutoff counting is
    * a keyed aggregation with map-side combine (linear, corpus-wide);
    * the rank only runs over the POST-cutoff vocabulary, which is the
    * model's token table — bounded by construction (a few hundred k for
    * real tokenizers), so one bounded-frame window is the honest plan,
    * not a scale hole (same argument as LoyaltyTiers' small-histogram
    * branch).
    */
  def vocabBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(explode(CurationOps.toksCol).as("token"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= vocabMinFreq)
    // Distributed two-level rank (r15): a global RANGE sort spreads the
    // vocabulary across partitions in rank order, and zipWithIndex adds
    // each partition's offset (one bounded per-partition count sync) —
    // the id assignment is bounded by construction at any vocabulary
    // size, where the previous single global window moved the whole
    // post-cutoff vocab to one partition (and WARNed). The (freq desc,
    // token asc) order is total (tokens unique), so ids are identical.
    val indexed = freq
      .orderBy(col("freq").desc, col("token").asc)
      .as[(String, Long)].rdd.zipWithIndex
      .map { case ((token, f), i) => (i + 1, token, f) }
    Canon.canonicalize(
      indexed.toDF("token_id", "token", "freq"))
  }

  val vocabBuildOracle: String =
    s"""WITH c AS (
       |  SELECT t.token, count(*) AS freq
       |  FROM documents,
       |       unnest(${CurationOps.toksSql}) AS t(token)
       |  GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
       |            AS BIGINT) AS token_id,
       |       token, freq
       |FROM c WHERE freq >= $vocabMinFreq""".stripMargin

  /** Vocabulary BUDGET for the coverage report below: the top-K entries
    * of [[vocabBuild]]'s ranking. Real tokenizers are size-capped, not
    * frequency-capped — coverage against the budget is the number that
    * moves when the budget does.
    */
  val oovVocabK = 20

  /** Out-of-vocabulary rate per language under a size-capped vocabulary
    * — the tokenizer-coverage number read before freezing a vocab: the
    * fraction of TOKEN OCCURRENCES (not types) the top-[[oovVocabK]]
    * entries of [[vocabBuild]]'s ranking (same freq-cut, same
    * freq-desc/token-asc order) fail to cover, per lang. A language
    * whose OOV mass stays high under the shared budget needs its own
    * vocabulary allocation, not more epochs.
    *
    * Scale shape: ONE tokenization pass → one (lang, token) keyed count;
    * the vocabulary re-derives from that same table (a vocabulary-sized
    * re-agg + one bounded window, not a second corpus pass); the
    * coverage join is token-keyed against the K-row vocab (AQE
    * broadcasts it) and the final rollup is per-lang.
    */
  def oovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val byLangTok = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), explode(CurationOps.toksCol).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .persist()
    // Top-K cut by construction (r15): `row_number ≤ K` over the total
    // (freq desc, token asc) order IS the global top-K, so take it with
    // orderBy+limit (TakeOrderedAndProject — a per-partition bounded
    // heap + one K-row driver merge) instead of a single-partition
    // window over the whole vocabulary.
    val vocab = byLangTok.groupBy("token")
      .agg(sum("cnt").as("freq"))
      .filter(col("freq") >= vocabMinFreq)
      .orderBy(col("freq").desc, col("token").asc)
      .limit(oovVocabK)
      .select(col("token"), lit(true).as("in_vocab"))
    val out = byLangTok.join(vocab, Seq("token"), "left")
      .groupBy("lang").agg(
        sum("cnt").as("n_tokens"),
        coalesce(sum(when(col("in_vocab").isNull, col("cnt"))), lit(0L))
          .as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
    Canon.materialized(Canon.canonicalize(out), byLangTok)
  }

  val oovRateOracle: String =
    s"""WITH lt AS (
       |  SELECT lang, t.token, count(*) AS cnt
       |  FROM documents, unnest(${CurationOps.toksSql}) AS t(token)
       |  GROUP BY 1, 2),
       |v AS (
       |  SELECT token FROM (
       |    SELECT token,
       |      row_number() OVER (ORDER BY freq DESC, token ASC) AS token_id
       |    FROM (SELECT token, sum(cnt) AS freq FROM lt GROUP BY 1)
       |    WHERE freq >= $vocabMinFreq)
       |  WHERE token_id <= $oovVocabK),
       |j AS (
       |  SELECT l.lang, l.cnt, v.token AS vt
       |  FROM lt l LEFT JOIN v ON l.token = v.token)
       |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(sum(CASE WHEN vt IS NULL THEN cnt END), 0)
       |    AS BIGINT) AS n_oov,
       |  CAST(coalesce(sum(CASE WHEN vt IS NULL THEN cnt END), 0)
       |    AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS oov_rate
       |FROM j GROUP BY 1""".stripMargin

  // ---- inverted index ------------------------------------------------

  /** Posting-list head length. The full posting list of a stopword is
    * corpus-sized; an index row must stay bounded, so the materialized
    * list is capped (real engines page the tail from the same sorted
    * stream — the cap is where that seam sits).
    */
  val postingsHead = 20

  /** Inverted index over the corpus: per token, document frequency,
    * collection frequency, and the head of the doc_id-sorted posting
    * list.
    *
    * Scale shape: ONE tokenization pass — everything derives from a
    * single (token, doc_id)-grained count whose exchange both branches
    * reuse (df/cf are its rollup; at 100 TB the corpus is scanned and
    * exploded once, plan-audited via ReusedExchange). The posting head
    * is capped BEFORE any list materializes — the TopKPerKey heap keeps
    * ≤ `postingsHead`+1 rows per token in the partition, so no
    * aggregation buffer ever holds a stopword's full posting list (the
    * unbounded collect_list trap). The head is emitted as a
    * comma-joined string: representation-stable across engines (Canon
    * boundary types only).
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(CurationOps.toksCol).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("cnt"))
      .persist() // df/cf rollup + posting heap (tfIdf cache discipline)
    val agg = perDoc.groupBy("token").agg(
      count(lit(1)).as("df"), sum("cnt").as("cf"))
    val head = graft.plans.TopK.perKey(perDoc.select("token", "doc_id"),
        Seq("token"), Seq("doc_id" -> graft.plans.TopK.Asc), postingsHead)
      .groupBy("token")
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string"))).as("postings_head"))
    Canon.materialized(
      Canon.canonicalize(
        agg.join(head, Seq("token"))
          .select("token", "df", "cf", "postings_head")),
      perDoc)
  }

  val invertedIndexOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, tt.token
       |  FROM documents, unnest(${CurationOps.toksSql}) AS tt(token)),
       |tok_cf AS (SELECT token, count(*) AS cf FROM t GROUP BY 1),
       |p AS (SELECT DISTINCT token, doc_id FROM t),
       |tok_df AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
       |rn AS (
       |  SELECT token, doc_id,
       |         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
       |  FROM p),
       |head AS (
       |  SELECT token,
       |         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
       |           AS postings_head
       |  FROM rn WHERE rn <= $postingsHead GROUP BY 1)
       |SELECT token, df, cf, postings_head
       |FROM tok_df JOIN tok_cf USING (token) JOIN head USING (token)"""
      .stripMargin

  // ---- collocations (PMI) --------------------------------------------

  /** Per-document token cap for co-occurrence pairing, and the minimum
    * joint document count for an emitted pair. The cap is THE scale
    * lever: pairing is quadratic per document, so each doc contributes
    * only its [[cooccurTopM]] highest-tf tokens → ≤ C(M,2) = 28 pairs
    * per doc regardless of document length or vocabulary size.
    */
  val cooccurTopM = 8
  val cooccurMinPairs = 5

  /** Collocation mining: token pairs that co-occur in documents far
    * more often than their marginals predict — ranked by the RATIONAL
    * PMI surrogate `(n_ab · N) / (n_a · n_b)` (= p(a,b)/(p(a)p(b));
    * the ln() of true PMI is monotone in it, the [[tfIdf]] trade).
    * Marginals count docs where the token SURVIVED the per-doc top-M
    * cap, so numerator and denominator live in the same filtered
    * universe. The two integer products are exact; the one division is
    * bit-deterministic.
    *
    * Scale shape: tf aggregation (keyed, map-side combine) → per-doc
    * top-M on the TopKPerKey heap → doc_id-keyed self-join bounded to
    * ≤ C(M,2) pairs per doc → pair-keyed count with map-side combine.
    * No unbounded quadratic anywhere.
    */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(CurationOps.toksCol).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val kept = graft.plans.TopK.perKey(tf, Seq("doc_id"),
      Seq("tf" -> graft.plans.TopK.Desc, "token" -> graft.plans.TopK.Asc),
      cooccurTopM).persist() // marginals + both pair sides
    val nDocs = documents(spark, sfDir)
      .select(countDistinct("doc_id").as("n"))
    val marg = kept.groupBy("token").agg(count(lit(1)).as("n_tok"))
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("x.token") < col("y.token"))
      .select(col("x.token").as("token_a"), col("y.token").as("token_b"))
      .groupBy("token_a", "token_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= cooccurMinPairs)
    val out = pairs
      .join(marg.select(col("token").as("token_a"),
        col("n_tok").as("n_a")), Seq("token_a"))
      .join(marg.select(col("token").as("token_b"),
        col("n_tok").as("n_b")), Seq("token_b"))
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi_ratio",
        (col("n_ab") * col("n")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
      .select("token_a", "token_b", "n_ab", "n_a", "n_b", "pmi_ratio")
    Canon.materialized(Canon.canonicalize(out), kept)
  }

  val collocationsOracle: String =
    s"""WITH tf AS (
       |  SELECT doc_id, t.token, count(*) AS tf
       |  FROM documents,
       |       unnest(${CurationOps.toksSql}) AS t(token)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |            ORDER BY tf DESC, token ASC) AS rk
       |  FROM tf),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, token FROM ranked WHERE rk <= $cooccurTopM),
       |marg AS (SELECT token, count(*) AS n_tok FROM kept GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
       |p AS (
       |  SELECT x.token AS token_a, y.token AS token_b, count(*) AS n_ab
       |  FROM kept x JOIN kept y
       |    ON x.doc_id = y.doc_id AND x.token < y.token
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $cooccurMinPairs)
       |SELECT p.token_a, p.token_b, p.n_ab,
       |       ma.n_tok AS n_a, mb.n_tok AS n_b,
       |       CAST(p.n_ab * n.n AS DOUBLE)
       |         / CAST(ma.n_tok * mb.n_tok AS DOUBLE) AS pmi_ratio
       |FROM p JOIN marg ma ON p.token_a = ma.token
       |       JOIN marg mb ON p.token_b = mb.token
       |       CROSS JOIN n""".stripMargin

  // ---- n-gram diversity ----------------------------------------------

  /** Word-trigram type/token diversity per lang: total trigram
    * occurrences, distinct trigrams, and their ratio — the standard
    * repetitiveness/diversity health metric for a training corpus (a
    * crawl dominated by boilerplate collapses the ratio long before
    * any per-document signal fires).
    *
    * Scale shape: trigrams are built MAP-SIDE per document (an array
    * transform over the token list — no window, no doc_id exchange),
    * then ONE (lang, gram) aggregation with map-side combine carries a
    * single row per distinct trigram; the per-lang rollup is over the
    * distinct-gram table, so no mixed count/countDistinct Expand ever
    * touches the token stream. All outputs are exact integers plus one
    * division.
    */
  def ngramDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("lang"), CurationOps.toksCol.as("t"))
      .filter(size(col("t")) >= 3)
    // lambda references only the attribute `t` and the lambda variable —
    // nothing non-attribute is inlined per element (the O(n²) trap)
    val grams = d.select(col("lang"),
      explode(transform(sequence(lit(1), size(col("t")) - 2),
        i => concat_ws(" ",
          element_at(col("t"), i),
          element_at(col("t"), i + 1),
          element_at(col("t"), i + 2)))).as("gram"))
    val perGram = grams.groupBy("lang", "gram")
      .agg(count(lit(1)).as("c"))
    val out = perGram.groupBy("lang").agg(
      sum("c").as("n_grams"),
      count(lit(1)).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_grams").cast("double"))
    Canon.canonicalize(out)
  }

  val ngramDiversityOracle: String =
    s"""WITH toks AS (
       |  SELECT lang, ${CurationOps.toksSql} AS t FROM documents),
       |grams AS (
       |  SELECT lang, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
       |  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
       |  WHERE len(t) >= 3),
       |pergram AS (
       |  SELECT lang, gram, count(*) AS c FROM grams GROUP BY 1, 2)
       |SELECT lang, CAST(sum(c) AS BIGINT) AS n_grams,
       |       count(*) AS n_distinct,
       |       CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS diversity
       |FROM pergram GROUP BY 1""".stripMargin

  // ---- BM25 retrieval ------------------------------------------------

  /** Okapi BM25 constants. `bm25IdfSurrogate`: idf is the RATIONAL
    * surrogate (N − df + 0.5)/(df + 0.5) without the ln() — same
    * monotone-transform trade as [[tfIdf]] (libm ln is not
    * bit-reproducible across engines); per-term ranking order is
    * unchanged, and the two-term sum uses FIXED slot order so the
    * double addition is deterministic too.
    */
  val bm25K1 = 1.2
  val bm25B = 0.75
  val bm25TopK = 10
  private val bm25K1p1 = "2.2"   // k1 + 1, spelled as the same literal
  private val bm25OneMinusB = "0.25" // 1 − b, same literal both engines

  /** BM25 top-k retrieval, one query per lang: the query is that lang's
    * two highest-document-frequency tokens (slot 1, slot 2 — a
    * deterministic, corpus-derived query set), scored against the
    * lang's documents with per-lang N/avgdl — the per-shard index shape
    * of a distributed search engine.
    *
    * Scale shape: tf/dl/df are keyed aggregations over the token
    * stream; query terms and per-lang stats are tiny frames BROADCAST
    * against the corpus-sized tf table (two joins, no corpus shuffle
    * beyond the tf aggregation); the final rank is the TopKPerKey heap,
    * never a global sort. Slot scores land in fixed columns (s1, s2)
    * and add in slot order, so the score is bit-deterministic.
    */
  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    // the DESIGNATED BUILDER query of the bm25 family: always rebuilds
    // the tf postings from the corpus so the bench keeps measuring the
    // tokenize+aggregate build cost; the downstream rankers (rerank,
    // rrf, retrieval eval) read the shared tier instead.
    val (top, _, tf, dl) = bm25Top(spark, sfDir, useTier = false)
    Canon.materialized(
      Canon.canonicalize(top.select("lang", "rank", "doc_id", "score")),
      tf, dl)
  }

  /** Dir of the persisted tf postings ([[lshPairsDir]] rule: every
    * parameter in the path; the tokenizer is [[CurationOps.toksCol]],
    * versioned by the tag).
    */
  private def bm25TfDir(sfDir: String): String =
    graft.io.Artifacts.path("bm25_tf", sfDir, "documents.parquet", "toks1")

  private def buildTf(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(CurationOps.toksCol).as("token"))
      .groupBy("lang", "doc_id", "token")
      .agg(count(lit(1)).as("tf"))

  /** The (lang, doc_id, token, tf) postings table, shared-tier form:
    * the corpus tokenization is the expensive half of every text
    * ranker, and it is a pure function of the corpus — so it is built
    * once (published through the store, fingerprint-stamped) and
    * every ranker after the first reads it. Derived frames (dl, df,
    * per-lang stats) are keyed rollups of THIS table, orders smaller
    * than the token stream, and stay in-memory per query. All
    * downstream arithmetic is single-valued or integer-summed per
    * group, so tier ≡ rebuilt bit-for-bit and the standalone oracles
    * stay valid.
    */
  private[ext] def tfPostings(spark: SparkSession, sfDir: String,
                              useTier: Boolean): DataFrame =
    if (!useTier || !graft.io.Artifacts.sharedTier) buildTf(spark, sfDir)
    else graft.io.Artifacts.frame(spark, bm25TfDir(sfDir))(
        buildTf(spark, sfDir))
      .select("lang", "doc_id", "token", "tf")

  /** The BM25 chain up to the per-lang ranked top-k list — shared by
    * the standalone query, the RRF fusion, and the retrieval-eval
    * telemetry so the scorings can never drift. Also returns the
    * per-lang query-term frame (the relevance-label basis for
    * [[graft.ext.ScoringOps.retrievalEval]]) and the persisted tf/dl
    * frames; the caller releases the latter via [[Canon.materialized]].
    */
  private[ext] def bm25Top(spark: SparkSession, sfDir: String,
                           useTier: Boolean = true)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = tfPostings(spark, sfDir, useTier).persist()
    val dl = tf.groupBy("lang", "doc_id")
      .agg(sum("tf").as("dl")).persist()
    val stats = dl.groupBy("lang").agg(
      count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val docFreq = tf.groupBy("lang", "token").agg(count(lit(1)).as("df"))
    val terms = graft.plans.TopK.perKey(docFreq, Seq("lang"),
      Seq("df" -> graft.plans.TopK.Desc, "token" -> graft.plans.TopK.Asc),
      2, rankCol = Some("slot"))
    val idf = (col("n").cast("double") - col("df").cast("double")
      + lit(0.5)) / (col("df").cast("double") + lit(0.5))
    val sat = (col("tf").cast("double") * lit(bm25K1p1.toDouble)) /
      (col("tf").cast("double") + lit(bm25K1) *
        (lit(bm25OneMinusB.toDouble) +
          lit(bm25B) * col("dl").cast("double") / col("avgdl")))
    val contrib = tf
      .join(broadcast(terms.select("lang", "token", "slot", "df")),
        Seq("lang", "token"))
      .join(dl, Seq("lang", "doc_id"))
      .join(broadcast(stats), Seq("lang"))
      .withColumn("s", idf * sat)
    val perDoc = contrib.groupBy("lang", "doc_id").agg(
      sum(when(col("slot") === 1, col("s"))).as("s1"),
      sum(when(col("slot") === 2, col("s"))).as("s2"))
      .withColumn("score",
        coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0)))
    val top = graft.plans.TopK.perKey(
      perDoc.select("lang", "doc_id", "score"), Seq("lang"),
      Seq("score" -> graft.plans.TopK.Desc,
        "doc_id" -> graft.plans.TopK.Asc),
      bm25TopK, rankCol = Some("rank"))
    (top, terms, tf, dl)
  }

  /** Shared CTE chain ending in `bmtop` (lang, rank, doc_id, score) —
    * used by the BM25 oracle and the RRF-fusion oracle. A def (not a
    * val) to stay out of object-initialization-order trouble; `tf` is
    * MATERIALIZED because three CTEs consume it and DuckDB inlines
    * non-materialized CTEs per reference.
    */
  private[ext] def bm25Cte: String =
    s"""t AS (
       |  SELECT doc_id, lang, tt.token
       |  FROM documents, unnest(${CurationOps.toksSql}) AS tt(token)),
       |tf AS MATERIALIZED (
       |  SELECT lang, doc_id, token, count(*) AS tf FROM t GROUP BY 1,2,3),
       |dl AS (
       |  SELECT lang, doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tf GROUP BY 1,2),
       |stats AS (
       |  SELECT lang, count(*) AS n,
       |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM dl GROUP BY 1),
       |tok_df AS (
       |  SELECT lang, token, count(*) AS df FROM tf GROUP BY 1,2),
       |ranked_terms AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |            ORDER BY df DESC, token ASC) AS slot
       |  FROM tok_df),
       |terms AS (SELECT * FROM ranked_terms WHERE slot <= 2),
       |contrib AS (
       |  SELECT tf.lang, tf.doc_id, terms.slot,
       |    ((CAST(stats.n AS DOUBLE) - CAST(terms.df AS DOUBLE) + 0.5)
       |      / (CAST(terms.df AS DOUBLE) + 0.5))
       |    * ((CAST(tf.tf AS DOUBLE) * $bm25K1p1)
       |      / (CAST(tf.tf AS DOUBLE) + $bm25K1 *
       |         ($bm25OneMinusB + $bm25B * CAST(dl.dl AS DOUBLE)
       |          / stats.avgdl))) AS s
       |  FROM tf
       |  JOIN terms ON tf.lang = terms.lang AND tf.token = terms.token
       |  JOIN dl ON tf.lang = dl.lang AND tf.doc_id = dl.doc_id
       |  JOIN stats ON tf.lang = stats.lang),
       |perdoc AS (
       |  SELECT lang, doc_id,
       |    coalesce(sum(CASE WHEN slot = 1 THEN s END), 0.0)
       |      + coalesce(sum(CASE WHEN slot = 2 THEN s END), 0.0) AS score
       |  FROM contrib GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |            ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM perdoc),
       |bmtop AS (
       |  SELECT lang, rank, doc_id, score FROM ranked
       |  WHERE rank <= $bm25TopK)""".stripMargin

  val bm25Oracle: String =
    s"""WITH $bm25Cte
       |SELECT lang, rank, doc_id, score FROM bmtop""".stripMargin

  // ---- reciprocal-rank-fusion hybrid retrieval -----------------------

  /** RRF constant (the standard 60) and list sizes: each source list
    * contributes its top-[[bm25TopK]]; the fused list keeps
    * [[rrfTopK]]. 1/(60+rank) is an IEEE division of small exact
    * integers and the two slots add in FIXED order, so the fused score
    * is bit-deterministic on any engine — no ln(), no data-ordered sum.
    */
  val rrfK = 60
  val rrfTopK = 10

  /** Hybrid retrieval by reciprocal-rank fusion: per lang, fuse the
    * BM25 relevance ranking with the quality-score ranking (a
    * relevance × document-prior combination — the standard shape for
    * fusing retrieval systems with incomparable score scales; only the
    * RANKS are consumed, so any second system — an ANN list, a click
    * model — drops in unchanged).
    *
    * Scale shape: both source lists are already top-k-per-key (heap,
    * never a global sort); the fusion full-outer join touches at most
    * 2·k rows per lang — driver-trivial regardless of corpus size. The
    * expensive parts (BM25 chain, quality projection) are the same
    * plans as their standalone queries.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val (bmTop, _, tf, dl) = bm25Top(spark, sfDir)
    Canon.materialized(
      Canon.canonicalize(rrfTopFrom(spark, sfDir, bmTop)
        .select("lang", "rank", "doc_id", "rrf")),
      tf, dl)
  }

  /** The fusion stage over an already-built BM25 top list — ONE
    * definition serves [[rrfFusion]] and the retrieval-eval telemetry
    * ([[graft.ext.ScoringOps.retrievalEval]]), so the ranking those two
    * queries see cannot drift.
    */
  private[ext] def rrfTopFrom(spark: SparkSession, sfDir: String,
                              bmTop: DataFrame): DataFrame = {
    val qual = withQualityScore(documents(spark, sfDir)
      .withColumn("norm", normText(col("text"))))
      .select(col("doc_id"), col("lang"), col("quality_score"))
    val qTop = graft.plans.TopK.perKey(qual, Seq("lang"),
      Seq("quality_score" -> graft.plans.TopK.Desc,
        "doc_id" -> graft.plans.TopK.Asc),
      bm25TopK, rankCol = Some("rank"))
    def rr(rank: Column): Column =
      coalesce(lit(1.0) / (lit(rrfK).cast("double") + rank.cast("double")),
        lit(0.0))
    val fused = bmTop.select(col("lang"), col("doc_id"),
        col("rank").as("r_bm"))
      .join(qTop.select(col("lang"), col("doc_id"), col("rank").as("r_q")),
        Seq("lang", "doc_id"), "full_outer")
      .withColumn("rrf", rr(col("r_bm")) + rr(col("r_q")))
    graft.plans.TopK.perKey(
      fused.select("lang", "doc_id", "rrf"), Seq("lang"),
      Seq("rrf" -> graft.plans.TopK.Desc,
        "doc_id" -> graft.plans.TopK.Asc),
      rrfTopK, rankCol = Some("rank"))
  }

  /** The RRF chain as composable CTEs (assumes `bmtop` exists; ends in
    * `rranked`) — shared by [[rrfFusionOracle]] and the retrieval-eval
    * oracle.
    */
  private[ext] def rrfCtes: String =
    s"""qf AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all($normSql, '$wordPat')) AS DOUBLE) AS n_tokens,
       |    CAST(len(regexp_extract_all($normSql, '\\b(the|a|of|and|to)\\b')) AS DOUBLE) AS n_stop,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS len_chars
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, lang, $qualityScoreSql AS quality_score FROM qf),
       |qranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |            ORDER BY quality_score DESC, doc_id ASC) AS rank
       |  FROM q),
       |qtop AS (
       |  SELECT lang, doc_id, rank FROM qranked WHERE rank <= $bm25TopK),
       |pool AS (
       |  SELECT coalesce(b.lang, t.lang) AS lang,
       |         coalesce(b.doc_id, t.doc_id) AS doc_id,
       |         coalesce(1.0 / (CAST($rrfK AS DOUBLE) + CAST(b.rank AS DOUBLE)), 0.0)
       |           + coalesce(1.0 / (CAST($rrfK AS DOUBLE) + CAST(t.rank AS DOUBLE)), 0.0) AS rrf
       |  FROM bmtop b FULL OUTER JOIN qtop t
       |    ON b.lang = t.lang AND b.doc_id = t.doc_id),
       |rranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |            ORDER BY rrf DESC, doc_id ASC) AS rank
       |  FROM pool)""".stripMargin

  val rrfFusionOracle: String =
    s"""WITH $bm25Cte,
       |$rrfCtes
       |SELECT lang, rank, doc_id, rrf FROM rranked
       |WHERE rank <= $rrfTopK""".stripMargin
}
