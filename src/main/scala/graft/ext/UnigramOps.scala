package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Artifacts
import graft.ops.Canon

/** Unigram-LM (SentencePiece-style) tokenizer: a seeded piece
  * vocabulary re-estimated by HARD-EM rounds (Viterbi-count-reprice)
  * and pruned to a budget, then used for globally-optimal per-word
  * segmentation — the third tokenizer family beside BPE merge replay
  * ([[BpeOps.bpeEncode]]) and WordPiece greedy longest-match
  * ([[BpeOps.wordpieceEncode]]); cf. the published SentencePiece
  * unigram trainer (Kudo 2018), whose soft-EM + loss-ranked prune this
  * re-expresses as hard-EM + count-ranked prune so every step is exact
  * integer arithmetic a DuckDB oracle reproduces bit-for-bit.
  *
  * Model semantics (all fixed-point, the repo's no-ln discipline):
  *
  *  - seed: every substring of corpus words up to [[uniMaxPiece]]
  *    chars, occurrence-counted weighted by word frequency; single
  *    chars all kept (coverage), multi-char pieces capped to the
  *    [[uniSeedBudget]] best by (count desc, piece asc).
  *  - piece cost = `floor(sqrt(sqrt(T·2²⁴ div count)) · 2¹⁰)` — the
  *    QUARTER-POWER inverse frequency, computed with the repo's no-ln
  *    iterated-sqrt trick (sqrt is IEEE-correctly-rounded in BOTH
  *    engines; the integer division is exact; one final floor). The
  *    exponent matters, not just monotonicity: a LINEAR inverse
  *    frequency over-punishes rarer-but-longer pieces so badly that
  *    on natural frequency distributions the optimal segmentation
  *    degenerates to single characters (chars are ~10-40× more
  *    frequent than the syllables containing them, and 4·T/c_char <
  *    2·T/c_syl) — UnigramScaleSpec caught exactly that. x^(1/4)
  *    compresses the rarity penalty the way log does, so frequent
  *    multi-char pieces win cells, while staying bit-reproducible.
  *  - E-step: Viterbi-segment every DISTINCT word under current costs
  *    ([[graft.functions.UnigramViterbi]], codegen'd); piece emissions
  *    weighted by word frequency are the new counts.
  *  - M-step/prune: single chars keep `emitted + 1` (smoothed — a char
  *    may lose every occurrence to multi-char pieces but must stay
  *    encodable); multi-char pieces keep the [[uniBudget]] best
  *    emitted, others drop (the unigram prune). Costs reprice against
  *    the new total. [[uniRounds]] rounds.
  *
  * Scale shape: training runs entirely on the DISTINCT-WORD table
  * (the [[BpeOps]] ledger discipline — corpus text is scanned once to
  * build it); each EM round is one codegen'd segmentation pass plus a
  * keyed count, and the only driver syncs are model-sized (≤ seed
  * budget + alphabet rows — the BPE 64-row-sync discipline, wider but
  * still bounded and corpus-independent). Encoding rides the same
  * distinct-word table: segment once per word in codegen, broadcast
  * the per-word stats back onto the token stream. The trained table is
  * a fingerprint-stamped parquet artifact in the store (the
  * [[BpeOps.trainedMerges]] / LSH-index contract): a new JVM reloads
  * instead of retraining.
  *
  * Fixed-point bounds are guarded loudly: the pre-root numerator is
  * T·2²⁴, so training `require`s T < Long.Max / 2²⁴ ≈ 5·10^11 corpus
  * word occurrences per trained tokenizer — past it the fix is
  * shrinking the pre-scale, not silent overflow. Post-root costs are
  * tiny (≤ (T·2²⁴)^(1/4)·2¹⁰ ≈ 7·10^7), so DP sums can never overflow.
  */
object UnigramOps {

  import TextOps.documents

  /** Longest piece the model may contain (the DP window). Shorter than
    * the 8-char fixture word ceiling ON PURPOSE: full words cannot all
    * become single pieces, so segmentation is structurally non-trivial
    * on the gate corpus.
    */
  val uniMaxPiece = 6

  /** Multi-char pieces kept at seed / after each EM round. */
  val uniSeedBudget = 256
  val uniBudget = 192

  /** Hard-EM rounds (seed model counts as round 0). */
  val uniRounds = 2

  /** Fixed-point pre-scale under the quarter root (power of two; the
    * div is exact integer arithmetic) and the post-root resolution
    * multiplier (2¹⁰ sub-steps per ×e^(1/4) of rarity).
    */
  val uniQuarterPow = 1L << 24
  val uniCostRes = 1L << 10

  /** Oracle DP unroll depth = max word length the twins support. */
  val uniWordSteps = 8

  // ---- training -------------------------------------------------------

  private def tokenWords(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(explode(CurationOps.toksCol).as("w"))
      // invariant: word tables never contain '' — toksCol already drops
      // empties, but every consumer (seed, encode wl, drift) relies on
      // it, so it is enforced where the table is built, not per caller.
      // An empty word would (a) emit junk seeds via sequence(1, 0)
      // descending, (b) appear in encode's wl on the Spark side only
      // (UnigramViterbi returns [] ⇒ n_p=0 row) while the oracle's
      // backtrace omits it.
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** (piece, count) seed: all substrings up to [[uniMaxPiece]] chars.
    * Distinct-substring cardinality is O(distinct words · maxPiece²) —
    * ledger-bounded, never corpus-bounded.
    */
  private def seedCounts(words: DataFrame): DataFrame =
    words
      // no-empty-words invariant enforced by the word-table builders
      // (tokenWords / wordCounts) — see tokenWords
      .select(col("w"), col("f"),
        explode(expr("sequence(1, char_length(w))")).as("i"))
      .select(col("f"),
        expr(s"substring(w, i, least($uniMaxPiece, char_length(w) - i + 1))")
          .as("s"))
      .select(col("f"), explode(expr(
        "transform(sequence(1, char_length(s)), l -> substring(s, 1, l))"))
        .as("p"))
      .groupBy("p").agg(sum("f").as("cnt"))

  /** Cost table from retained counts; the `require` is the fixed-point
    * overflow guard (see scaladoc). The double round trip is safe to
    * twin: BIGINT→DOUBLE conversion, sqrt, multiplication by a power
    * of two, and floor are each IEEE-deterministic and identical in
    * Spark, the JVM, and DuckDB.
    */
  private def costsOf(entries: Seq[(String, Long)])
      : Seq[(String, Long, Long)] = {
    val t = entries.iterator.map(_._2).sum
    require(t > 0, "unigram: empty training corpus")
    require(t < Long.MaxValue / uniQuarterPow,
      s"unigram: corpus total $t exceeds the fixed-point budget at " +
        s"pre-scale=$uniQuarterPow; shrink the pre-scale or shard the " +
        "trainer")
    entries.map { case (p, c) =>
      val x = t * uniQuarterPow / c
      (p, c, math.floor(
        math.sqrt(math.sqrt(x.toDouble)) * uniCostRes).toLong)
    }
  }

  /** One hard-EM round: segment the distinct-word table under `model`,
    * count weighted emissions (bounded driver sync — emissions ⊆ model
    * vocabulary), smooth singles, prune multis, reprice.
    */
  private def emRound(words: DataFrame, alphabet: Seq[String],
                      model: Seq[(String, Long, Long)],
                      budget: Int)
      : Seq[(String, Long, Long)] = {
    val pieces = graft.functions.UnigramViterbi(col("w"),
      model.map(e => (e._1, e._3)))
    val emitted = words
      .select(explode(pieces).as("p"), col("f"))
      .groupBy("p").agg(sum("f").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val singles = alphabet.map(c => (c, emitted.getOrElse(c, 0L) + 1L))
    // byte-order tie on ASCII pieces == DuckDB binary collation; the
    // corpus normalizer lowercases to ASCII so String ordering is safe
    val multis = emitted.iterator
      .filter { case (p, _) => p.length > 1 }
      .toSeq.sortBy { case (p, c) => (-c, p) }
      .take(budget)
    costsOf(singles ++ multis)
  }

  /** Full training chain on a words frame (spec seam; budgets
    * parameterized for the scale suite, defaults = the gated model).
    */
  private[ext] def trainLoop(spark: SparkSession, words: DataFrame,
                             seedBudget: Int = uniSeedBudget,
                             budget: Int = uniBudget,
                             rounds: Int = uniRounds)
      : Seq[(String, Long, Long)] = {
    val w = words.persist()
    w.count()
    val lenRow = w.agg(max(length(col("w"))), min(length(col("w")))).head()
    val maxW = Option(lenRow.get(0)).fold(0)(_.asInstanceOf[Int])
    val minW = Option(lenRow.get(1)).fold(1)(_.asInstanceOf[Int])
    require(maxW <= uniWordSteps,
      s"unigram: corpus has a $maxW-char word but the DP oracle " +
        s"unrolls $uniWordSteps steps; raise uniWordSteps")
    // the no-empty-words invariant (see tokenWords) must hold for any
    // externally supplied frame too: '' would seed zero-length pieces
    // via a descending sequence(1, 0) on the Spark side only.
    require(minW > 0,
      "unigram: words frame contains an empty word; filter " +
        "length(w) > 0 before calling trainLoop")
    val seed = seedCounts(w).persist()
    seed.count()
    val alphabet = seed.filter(length(col("p")) === 1)
      .select("p").collect().map(_.getString(0)).toSeq.sorted
    val singles0 = seed.filter(length(col("p")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val multis0 = seed.filter(length(col("p")) > 1)
      .orderBy(col("cnt").desc, col("p").asc).limit(seedBudget)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    seed.unpersist(false)
    var model = costsOf(singles0 ++ multis0)
    for (_ <- 0 until rounds) model = emRound(w, alphabet, model, budget)
    w.unpersist(false)
    model
  }

  private val uniKind = "unigram_index"

  /** Trained (piece, cnt, cost_fp) table for a fixture dir — JVM memo
    * over a fingerprint-stamped parquet artifact (the
    * [[BpeOps.trainedMerges]] contract; UnigramOpsSpec pins the
    * artifact round trip).
    */
  private[graft] def trainedPieces(spark: SparkSession, sfDir: String)
      : Seq[(String, Long, Long)] = {
    import spark.implicits._
    val dir = Artifacts.path(uniKind, sfDir, "documents.parquet",
      s"q4_p${uniMaxPiece}_s${uniSeedBudget}_b${uniBudget}_r$uniRounds") +
      "/pieces"
    Artifacts.memoized(uniKind, dir) {
      Artifacts.frame(spark, dir)(
          spark.createDataset(trainLoop(spark, tokenWords(spark, sfDir)))
            .toDF("piece", "cnt", "cost_fp").coalesce(1))
        .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    }
  }

  // ---- gated queries --------------------------------------------------

  /** The trained model itself: every retained piece with its count and
    * fixed-point cost — model-sized output (≤ budget + alphabet rows).
    */
  def unigramTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = trainedPieces(spark, sfDir)
      .toDF("piece", "cnt", "cost_fp")
    Canon.canonicalize(out)
  }

  /** Per-doc Viterbi-encode rollup under the trained model: word,
    * piece, and single-char-piece counts ([[BpeOps.wordpieceEncode]]'s
    * shape — distinct-word encode in codegen, broadcast probe back).
    */
  def unigramEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val model = trainedPieces(spark, sfDir)
    val words = tokenWords(spark, sfDir).persist()
    val pieces = graft.functions.UnigramViterbi(col("w"),
      model.map(e => (e._1, e._3)))
    // filter() runs interpreted, but only over the distinct-word table
    val wl = words.select(col("w"), pieces.as("pcs"))
      .select(col("w"), size(col("pcs")).as("n_p"),
        size(filter(col("pcs"), p => length(p) === 1)).as("n_s"))
    val docTokens = documents(spark, sfDir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(CurationOps.toksCol).as("w"))
    val out = documents(spark, sfDir).select("doc_id")
      .join(docTokens
          .join(broadcast(wl), Seq("w"))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_words"),
            sum("n_p").as("n_pieces"),
            sum("n_s").as("n_single")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_single"), lit(0L)).as("n_single"))
    Canon.materialized(Canon.canonicalize(out), words)
  }

  /** Per-lang unigram FERTILITY: chars-per-piece and the single-char
    * share under the trained model — [[BpeOps.compressionRatio]]'s
    * twin for this family, so freezing a tokenizer is a side-by-side
    * read of q_compression_ratio (BPE) vs q_unigram_fertility on the
    * same corpus. Scale shape: the encode chain dominates; the rollup
    * is one lang-keyed agg.
    */
  def unigramFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = unigramEncode(spark, sfDir)
    val docs = documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars")
    Canon.canonicalize(enc.join(docs, Seq("doc_id"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum("n_pieces").as("sum_pieces"),
        sum("n_single").as("sum_single"))
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        col("sum_pieces"), col("sum_single"),
        (col("sum_chars").cast("double") /
          greatest(col("sum_pieces").cast("double"), lit(1.0)))
          .as("chars_per_piece"),
        (col("sum_single").cast("double") /
          greatest(col("sum_pieces").cast("double"), lit(1.0)))
          .as("single_share")))
  }

  /** Share of single-char pieces the drifted batch must exceed,
    * relative to the corpus baseline, for the gate to fire (×N in
    * exact cross-multiplied integers — no division in the compared
    * predicate).
    */
  val uniDriftFactor = 3L

  /** TOKENIZER-COVERAGE DRIFT GATE — the [[graft.pipelines]]
    * driftIndexGate analogue for the tokenizer artifact: under a
    * frozen unigram model, text the vocabulary fits segments into
    * multi-char pieces, while text from a shifted distribution falls
    * back to single characters (the model's coverage floor). A rising
    * single-char emission share on a new batch is therefore a direct,
    * label-free staleness signal — the number a 100 TB pipeline reads
    * before deciding to retrain its tokenizer.
    *
    * The gated query measures the baseline share on the training
    * corpus itself and the drifted share on a deterministic drift
    * proxy (the odd-doc half with every token REVERSED — same
    * alphabet, so coverage never fails, but the piece inventory
    * misses), and fires when the drifted share exceeds
    * [[uniDriftFactor]]× the baseline by exact integer
    * cross-multiplication (DECIMAL(38,0)-widened: emission counts are
    * corpus-scaled, and BIGINT×BIGINT products are exactly what the
    * ×100 posture run caught overflowing in the classifier).
    *
    * Scale shape: two codegen'd segmentation passes over
    * distinct-word tables + one global sum each; the model is already
    * trained (artifact) — the gate itself is ledger-bounded work.
    *
    * NOTE the deliberate divergence from [[tokenizerDriftGate]]'s
    * fallback definition: the chain gate also counts whole-word [UNK]s
    * (a new-script batch must read as drifted), while THIS query's
    * share counts single chars only — its reversed-token proxy shares
    * the training alphabet, so an [UNK] is structurally impossible
    * here and the term would be dead weight in the oracle.
    */
  def unigramDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val model = trainedPieces(spark, sfDir)
    val pieces = graft.functions.UnigramViterbi(col("w"),
      model.map(e => (e._1, e._3)))
    def stats(words: DataFrame): DataFrame =
      words.select(pieces.as("pcs"), col("f"))
        .select(explode(col("pcs")).as("p"), col("f"))
        .agg(sum(col("f")).as("n_emits"),
          sum(when(length(col("p")) === 1, col("f")).otherwise(0L))
            .as("n_single"))
    val drifted = documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
      .repartition(col("doc_id"))
      .select(explode(CurationOps.toksCol).as("t"))
      .select(reverse(col("t")).as("w"))
      .filter(length(col("w")) > 0) // no-empty-words invariant (tokenWords)
      .groupBy("w").agg(count(lit(1)).as("f"))
    val b = stats(tokenWords(spark, sfDir))
      .select(col("n_emits").as("base_emits"),
        col("n_single").as("base_single"))
    val d = stats(drifted)
      .select(col("n_emits").as("drift_emits"),
        col("n_single").as("drift_single"))
    val out = b.crossJoin(d).select(
      col("base_emits"), col("base_single"),
      col("drift_emits"), col("drift_single"),
      (col("base_single").cast("double") /
        col("base_emits").cast("double")).as("base_share"),
      (col("drift_single").cast("double") /
        col("drift_emits").cast("double")).as("drift_share"),
      (col("drift_single").cast("decimal(38,0)") * col("base_emits") >
        col("base_single").cast("decimal(38,0)") * col("drift_emits") *
          uniDriftFactor).as("drift_gate"))
    Canon.canonicalize(out)
  }

  /** Weighted (emissions, fallback emissions) of a words frame under a
    * model — fallback = single-char pieces PLUS whole-word [UNK]s, so
    * a batch in a genuinely NEW script (chars outside the model's
    * alphabet, which the byte-coverage smoothing cannot have seen)
    * counts as drifted rather than hiding behind the UNK token's
    * 5-char length.
    */
  private def emitStats(words: DataFrame,
                        model: Seq[(String, Long, Long)]): (Long, Long) = {
    val pieces = graft.functions.UnigramViterbi(col("w"),
      model.map(e => (e._1, e._3)))
    val unk = graft.functions.WordPieceGreedy.defaultUnk
    val r = words.select(pieces.as("pcs"), col("f"))
      .select(explode(col("pcs")).as("p"), col("f"))
      .agg(sum(col("f")).as("e"),
        sum(when(length(col("p")) === 1 || col("p") === unk, col("f"))
          .otherwise(0L)).as("s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** CHAIN-FACING fail-fast form of the drift gate ([[unigramDrift]]
    * is the gated telemetry twin): segments an explicit batch under
    * the frozen model and THROWS when its fallback-emission share
    * exceeds [[uniDriftFactor]]× the training-corpus baseline — the
    * [[graft.pipelines.MicroQueries.driftIndexGate]] contract (the
    * incremental chain stops before anything encodes with a stale
    * tokenizer). Returns the batch share for the dashboard row.
    */
  def tokenizerDriftGate(spark: SparkSession, sfDir: String,
                         batchDocs: DataFrame): Double = {
    val model = trainedPieces(spark, sfDir)
    val (be, bs) = emitStats(tokenWords(spark, sfDir), model)
    val batchWords = batchDocs.repartition(col("doc_id"))
      .select(explode(CurationOps.toksCol).as("w"))
      .filter(length(col("w")) > 0) // no-empty-words invariant (tokenWords)
      .groupBy("w").agg(count(lit(1)).as("f"))
    val (de, ds) = emitStats(batchWords, model)
    val share = if (de == 0L) 0.0 else ds.toDouble / de.toDouble
    if (BigInt(ds) * be > BigInt(bs) * de * uniDriftFactor)
      throw new IllegalStateException(
        f"tokenizer-drift-gate: batch fallback share $share%.3f exceeds " +
          s"${uniDriftFactor}× the training baseline ($bs/$be) — the " +
          "frozen tokenizer artifact is stale for this feed; retrain " +
          "before encoding")
    share
  }

  // ---- artifact lifecycle ----------------------------------------------

  /** Word-frequency counts of an explicit document frame — the
    * lifecycle's unit of account, additive across disjoint sets and
    * subtractive for deletions (the [[BpeOps]] / [[LmOps]] count
    * algebra), which is what makes merge/forget EXACT: retraining from
    * an identical word ledger is deterministic, so merged/forgotten ≡
    * rebuilt holds bit-for-bit.
    */
  private def wordCounts(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))
      .select(explode(CurationOps.toksCol).as("w"))
      .filter(length(col("w")) > 0) // no-empty-words invariant (tokenWords)
      .groupBy("w").agg(count(lit(1)).as("f"))

  private val lifecycleParts = Seq("words", "pieces")

  /** Lifecycle BASE corpus: even doc_ids; the odd half arrives later
    * as the merge batch, so base ∪ batch = the whole fixture — which
    * is why [[unigramMerged]] shares [[unigramTrainOracle]].
    */
  private def baseHalf(spark: SparkSession, sfDir: String): DataFrame =
    inBaseSlice(documents(spark, sfDir))

  /** Membership predicate of the persisted index's ingest population
    * (the [[unigramIndex]] build slice), owned beside the builder so
    * the takedown coordinator's clip
    * ([[GovernanceOps.takedownSweep]]) can never drift from the
    * build — subtractive word-ledger forgets are only exact for
    * documents the ledger actually counted.
    */
  private[ext] def inBaseSlice(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)

  private def oddHalf(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).filter(col("doc_id") % 2 === 1)

  private def lifecycleDir(sfDir: String): String =
    Artifacts.path(uniKind, sfDir, "documents.parquet",
      s"base2_q4_p${uniMaxPiece}_s${uniSeedBudget}_b${uniBudget}" +
        s"_r$uniRounds")

  private def writeIndex(spark: SparkSession, dir: String,
                         words: DataFrame): Unit = {
    import spark.implicits._
    words.write.parquet(s"$dir/words")
    val persisted = spark.read.parquet(s"$dir/words")
    spark.createDataset(trainLoop(spark, persisted))
      .toDF("piece", "cnt", "cost_fp")
      .coalesce(1).write.parquet(s"$dir/pieces")
  }

  /** Build (or reuse) the base-half unigram index: the word ledger
    * AND the piece table trained from it.
    */
  def unigramIndex(spark: SparkSession, sfDir: String): String =
    Artifacts.getOrBuild(lifecycleDir(sfDir), lifecycleParts)(
      writeIndex(spark, _, wordCounts(baseHalf(spark, sfDir))))

  /** MERGE a document batch into a persisted unigram index: batch word
    * counts ADD to the ledger (base corpus never re-tokenized), pieces
    * retrain from the summed table — vocabulary-sized work plus one
    * batch-sized tokenization. New stamped `…_m_<tag>` dir.
    */
  def unigramIndexMerge(spark: SparkSession, sfDir: String,
                        batchDocs: DataFrame, batchTag: String): String = {
    val base = unigramIndex(spark, sfDir)
    Artifacts.derived(base, "m", batchTag, lifecycleParts)(
      writeIndex(spark, _, spark.read.parquet(s"$base/words")
        .union(wordCounts(batchDocs))
        .groupBy("w").agg(sum("f").as("f"))))
  }

  /** FORGET a document batch: its word counts SUBTRACT from the
    * ledger (zero rows dropped), pieces retrain. `…_f_<tag>` dir;
    * forgotten ≡ a build that never saw those documents, exactly.
    */
  def unigramIndexForget(spark: SparkSession, baseDir: String,
                         forgetDocs: DataFrame, tag: String): String =
    Artifacts.derived(baseDir, "f", tag, lifecycleParts)(
      writeIndex(spark, _, spark.read.parquet(s"$baseDir/words")
        .union(wordCounts(forgetDocs)
          .select(col("w"), (-col("f")).as("f")))
        .groupBy("w").agg(sum("f").as("f"))
        .filter(col("f") > 0)))

  private def readPieces(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Canon.canonicalize(spark.read.parquet(s"$dir/pieces")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
      .toDF("piece", "cnt", "cost_fp"))
  }

  /** Merge lifecycle as one query: base index on the even half, MERGE
    * the odd half in, report the retrained pieces — must equal
    * training on the whole fixture (summed ledger ≡ full count), so it
    * SHARES [[unigramTrainOracle]].
    */
  def unigramMerged(spark: SparkSession, sfDir: String): DataFrame =
    readPieces(spark,
      unigramIndexMerge(spark, sfDir, oddHalf(spark, sfDir), "oddhalf"))

  /** Forget ROUND TRIP: merge the odd half in, then forget it — the
    * retrained pieces must equal a build that only ever saw the even
    * half (the slice-restricted oracle).
    */
  def unigramForgotten(spark: SparkSession, sfDir: String): DataFrame = {
    val merged =
      unigramIndexMerge(spark, sfDir, oddHalf(spark, sfDir), "oddhalf")
    readPieces(spark,
      unigramIndexForget(spark, merged, oddHalf(spark, sfDir), "oddhalf"))
  }

  // ---- oracles ---------------------------------------------------------

  /** DP + backtrace CTE block: segment every `wt` word under cost
    * table `pc`, emitting `dp$tag$k` cells, `bt$tag$k` walk steps, and
    * the per-word stats view `wl$tag` (n pieces / n single-char
    * pieces). One CTE per unrolled position — the [[BpeOps]]
    * recursion-free unroll discipline; per-cell winner via
    * `row_number() OVER (ORDER BY v, n, ptr)`, the expression's exact
    * tie-break.
    */
  private def dpCtes(tag: String, pc: String,
                     wt: String = "w0"): String = {
    val dp = (1 to uniWordSteps).map { k =>
      s"""dp$tag$k AS MATERIALIZED (
         |  SELECT * FROM dp$tag${k - 1}
         |  UNION ALL
         |  SELECT w, pos, v, n, ptr FROM (
         |    SELECT d.w, $k AS pos, d.v + p.cost AS v, d.n + 1 AS n,
         |           d.pos AS ptr,
         |           row_number() OVER (PARTITION BY d.w
         |             ORDER BY d.v + p.cost, d.n + 1, d.pos) AS rn
         |    FROM dp$tag${k - 1} d JOIN $pc p
         |      ON d.pos >= $k - $uniMaxPiece AND d.pos < $k
         |     AND len(d.w) >= $k
         |     AND p.p = substr(d.w, d.pos + 1, $k - d.pos))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bt = (1 to uniWordSteps).map { k =>
      s"""bt$tag$k AS (
         |  SELECT b.w, b.f, d.ptr AS pos,
         |         substr(b.w, d.ptr + 1, b.pos - d.ptr) AS p
         |  FROM bt$tag${k - 1} b JOIN dp$tag$uniWordSteps d
         |    ON d.w = b.w AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }.mkString(",\n")
    s"""dp${tag}0 AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS v, 0 AS n, 0 AS ptr
       |  FROM $wt),
       |$dp,
       |bt${tag}0 AS (SELECT w, f, len(w) AS pos FROM $wt),
       |$bt,
       |em$tag AS MATERIALIZED (
       |  SELECT p, f, w FROM (
       |    ${(1 to uniWordSteps)
           .map(k => s"SELECT p, f, w FROM bt$tag$k").mkString("\n    UNION ALL ")})),
       |wl$tag AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_p,
       |         CAST(sum(CASE WHEN len(p) = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_s
       |  FROM em$tag GROUP BY 1)""".stripMargin
  }

  /** Model-update CTE block: weighted emission counts from `em$tag` →
    * smoothed singles ∪ top-[[uniBudget]] multis → repriced cost table
    * `pc$out`.
    */
  private def modelCtes(tag: String, out: String): String =
    s"""emc$tag AS MATERIALIZED (
       |  SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM em$tag GROUP BY 1),
       |m$out AS MATERIALIZED (
       |  SELECT a.p, CAST(coalesce(e.cnt, 0) + 1 AS BIGINT) AS cnt
       |  FROM alpha a LEFT JOIN emc$tag e USING (p)
       |  UNION ALL
       |  SELECT p, cnt FROM (
       |    SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p ASC) AS rn
       |    FROM emc$tag WHERE len(p) > 1)
       |  WHERE rn <= $uniBudget),
       |pc$out AS MATERIALIZED (
       |  SELECT p, cnt,
       |         CAST(floor(sqrt(sqrt(CAST((t.t * $uniQuarterPow) // cnt
       |           AS DOUBLE))) * $uniCostRes) AS BIGINT) AS cost
       |  FROM m$out, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM m$out) t)"""
      .stripMargin

  /** Shared chain: words → seed model pc0 → EM round 1 → pc1 → EM
    * round 2 → pc2 (the final model both queries consume). `docCond`
    * narrows the training corpus (the forget oracle's base-half
    * restriction — the [[BpeOps]] oracleChainCtesFor discipline).
    */
  private def chainCtesFor(docCond: String): String =
    s"""w0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(${CurationOps.toksSql}) AS w FROM documents
       |    WHERE $docCond)
       |  GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT substr(s, 1, CAST(l AS INT)) AS p, CAST(sum(f) AS BIGINT)
       |           AS cnt
       |  FROM (
       |    SELECT substr(w, CAST(i AS INT),
       |                  least($uniMaxPiece, len(w) - CAST(i AS INT) + 1))
       |             AS s, f
       |    FROM w0, range(1, ${uniWordSteps + 1}) gi(i)
       |    WHERE i <= len(w)),
       |    range(1, ${uniMaxPiece + 1}) gl(l)
       |  WHERE l <= len(s)
       |  GROUP BY 1),
       |alpha AS MATERIALIZED (SELECT p FROM seed WHERE len(p) = 1),
       |m0 AS MATERIALIZED (
       |  SELECT p, cnt FROM seed WHERE len(p) = 1
       |  UNION ALL
       |  SELECT p, cnt FROM (
       |    SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p ASC) AS rn
       |    FROM seed WHERE len(p) > 1)
       |  WHERE rn <= $uniSeedBudget),
       |pc0 AS MATERIALIZED (
       |  SELECT p, cnt,
       |         CAST(floor(sqrt(sqrt(CAST((t.t * $uniQuarterPow) // cnt
       |           AS DOUBLE))) * $uniCostRes) AS BIGINT) AS cost
       |  FROM m0, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM m0) t),
       |${dpCtes("a", "pc0")},
       |${modelCtes("a", "1")},
       |${dpCtes("b", "pc1")},
       |${modelCtes("b", "2")}""".stripMargin

  private def chainCtes: String = chainCtesFor("TRUE")

  /** Composable TOKEN-TELEMETRY chain for an explicit accepted-doc-id
    * table (the admission seam: [[graft.streaming.EventStream
    * .ingestFunnelBatch]] counts tokens of what it admits): the full
    * trained-model chain plus a Viterbi encode of the accepted docs'
    * word table. Consumers read `wt_acc` (word, f) and `wlt` (word,
    * n_p, n_s): total tokens = Σ f·n_p, total words = Σ f.
    */
  private[graft] def acceptedTokenCtes(acceptedTable: String): String =
    s"""$chainCtes,
       |wt_acc AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(${CurationOps.toksSql}) AS w FROM documents
       |    WHERE doc_id IN (SELECT doc_id FROM $acceptedTable))
       |  GROUP BY 1),
       |${dpCtes("t", "pc2", "wt_acc")}""".stripMargin

  val unigramTrainOracle: String =
    s"""WITH
       |$chainCtes
       |SELECT p AS piece, cnt, cost AS cost_fp FROM pc2""".stripMargin

  /** Merged ≡ full-fixture training (ledger sum ≡ full count). */
  val unigramMergedOracle: String = unigramTrainOracle

  /** Forgotten ≡ a build that only ever saw the even half. */
  val unigramForgottenOracle: String =
    s"""WITH
       |${chainCtesFor("doc_id % 2 = 0")}
       |SELECT p AS piece, cnt, cost AS cost_fp FROM pc2""".stripMargin

  /** Fertility twin: the encode chain's per-doc rollup grouped by
    * lang, with the same greatest-guarded double divisions.
    */
  val unigramFertilityOracle: String =
    s"""WITH
       |$chainCtes,
       |${dpCtes("e", "pc2")},
       |wdt AS (
       |  SELECT doc_id, unnest(${CurationOps.toksSql}) AS w
       |  FROM documents),
       |wagg AS (
       |  SELECT doc_id, sum(n_p) AS n_pieces, sum(n_s) AS n_single
       |  FROM wdt JOIN wle USING (w) GROUP BY 1)
       |SELECT d.lang, count(*) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(coalesce(wagg.n_pieces, 0)) AS BIGINT) AS sum_pieces,
       |  CAST(sum(coalesce(wagg.n_single, 0)) AS BIGINT) AS sum_single,
       |  CAST(sum(d.n_chars) AS DOUBLE) /
       |    greatest(CAST(sum(coalesce(wagg.n_pieces, 0)) AS DOUBLE), 1.0)
       |    AS chars_per_piece,
       |  CAST(sum(coalesce(wagg.n_single, 0)) AS DOUBLE) /
       |    greatest(CAST(sum(coalesce(wagg.n_pieces, 0)) AS DOUBLE), 1.0)
       |    AS single_share
       |FROM documents d LEFT JOIN wagg USING (doc_id)
       |GROUP BY d.lang""".stripMargin

  /** Drift twin: the full-fixture model chain, the base encode, a
    * reversed-odd-half word table encoded under the SAME model, and
    * the cross-multiplied gate (HUGEINT-widened products).
    */
  val unigramDriftOracle: String =
    s"""WITH
       |$chainCtes,
       |${dpCtes("e", "pc2")},
       |wr AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT reverse(w) AS w FROM (
       |      SELECT unnest(${CurationOps.toksSql}) AS w FROM documents
       |      WHERE doc_id % 2 = 1))
       |  GROUP BY 1),
       |${dpCtes("r", "pc2", "wr")},
       |bstat AS (
       |  SELECT CAST(sum(f) AS BIGINT) AS be,
       |         CAST(sum(CASE WHEN len(p) = 1 THEN f ELSE 0 END)
       |           AS BIGINT) AS bs
       |  FROM eme),
       |dstat AS (
       |  SELECT CAST(sum(f) AS BIGINT) AS de,
       |         CAST(sum(CASE WHEN len(p) = 1 THEN f ELSE 0 END)
       |           AS BIGINT) AS ds
       |  FROM emr)
       |SELECT be AS base_emits, bs AS base_single,
       |       de AS drift_emits, ds AS drift_single,
       |       CAST(bs AS DOUBLE) / CAST(be AS DOUBLE) AS base_share,
       |       CAST(ds AS DOUBLE) / CAST(de AS DOUBLE) AS drift_share,
       |       (CAST(ds AS HUGEINT) * be >
       |        CAST(bs AS HUGEINT) * de * $uniDriftFactor) AS drift_gate
       |FROM bstat, dstat""".stripMargin

  val unigramEncodeOracle: String =
    s"""WITH
       |$chainCtes,
       |${dpCtes("e", "pc2")},
       |wdt AS (
       |  SELECT doc_id, unnest(${CurationOps.toksSql}) AS w
       |  FROM documents),
       |wagg AS (
       |  SELECT doc_id, count(*) AS n_words, sum(n_p) AS n_pieces,
       |         sum(n_s) AS n_single
       |  FROM wdt JOIN wle USING (w) GROUP BY 1)
       |SELECT documents.doc_id,
       |  CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(n_pieces, 0) AS BIGINT) AS n_pieces,
       |  CAST(coalesce(n_single, 0) AS BIGINT) AS n_single
       |FROM documents LEFT JOIN wagg USING (doc_id)""".stripMargin
}
