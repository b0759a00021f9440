package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Canon

/** Multimodal-column plumbing: opaque `BINARY` payloads + typed metadata,
  * the layout for image/audio/video at corpus scale (content stays an
  * opaque blob; all relational work happens on extracted metadata).
  *
  * The harness container has no image/audio codecs, so `decodeStub` is a
  * DETERMINISTIC FAKE decoder (parses dimensions from payload bytes, never
  * a real codec) — clearly marked; the Spark-side plumbing around it is
  * real and tested: binary column construction, per-partition batched
  * decode through a typed Dataset (the mapPartitions seam where a codec
  * library would be called), metadata schema, and frame-sampling index
  * arithmetic.
  *
  * The fixture has no binary table, so payloads derive from `documents`
  * text bytes — the binary-column machinery (octet lengths, byte slicing,
  * hex, content hashing) is identical for real media bytes.
  */
object MultimodalOps {

  case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long,
                       height: Long, n_frames: Long,
                       sampled_frames: Seq[Long])

  /** Binary payloads + relational metadata, fully oracle-expressible
    * (byte length, first-8-bytes hex, md5, fake dimensions from the lead
    * byte — all byte arithmetic both engines implement identically).
    */
  def binaryMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
      .withColumn("content", col("text").cast("binary"))
    Canon.canonicalize(d.select(
      col("doc_id"),
      length(col("content")).as("n_bytes"),
      lower(hex(substring(col("content"), 1, 8))).as("head_hex"),
      md5(col("content")).as("content_md5"),
      // FAKE dimensions — lead-byte arithmetic standing in for a codec
      (ascii(col("text")) % 64 + 1).as("fake_width"),
      (ascii(col("text")) % 48 + 1).as("fake_height")))
  }

  val binaryMetaOracle: String =
    """SELECT doc_id,
      |       octet_length(encode(text)) AS n_bytes,
      |       lower(substring(hex(encode(text)), 1, 16)) AS head_hex,
      |       md5(text) AS content_md5, -- VARCHAR md5 hashes UTF-8 bytes = the payload
      |       CAST(ascii(text) % 64 + 1 AS BIGINT) AS fake_width,
      |       CAST(ascii(text) % 48 + 1 AS BIGINT) AS fake_height
      |FROM documents""".stripMargin

  val frameBytes = 16
  val frameSampleStep = 10

  /** Frame sampling over binary payloads as a RELATIONAL op: the payload
    * is a sequence of fixed-width frames (stand-in for a real container
    * format's frame index); every `frameSampleStep`-th frame gets its
    * byte offset and a content fingerprint of its slice. This is the
    * shape of video/audio sampling at corpus scale — pure byte arithmetic
    * + explode, linear, no codec needed until the decode seam below —
    * and every step is DuckDB-expressible, so the op is hash-verified.
    *
    * The fingerprint hashes the LOWERCASE HEX of the frame slice (not the
    * raw bytes) so both engines hash an identical string regardless of
    * their blob-digest support.
    */
  def frameSamples(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
      .withColumn("content", col("text").cast("binary"))
      .withColumn("n_frames",
        (length(col("content")) / frameBytes).cast("long"))
      .filter(col("n_frames") > 0)
    val frames = d.select(col("doc_id"), col("n_frames"), col("content"),
        explode(sequence(lit(0L), col("n_frames") - 1,
          lit(frameSampleStep.toLong))).as("frame_idx"))
      .withColumn("frame_off", col("frame_idx") * frameBytes)
      .withColumn("frame_md5",
        md5(lower(hex(col("content")
          .substr(col("frame_off").cast("int") + 1, lit(frameBytes))))))
    Canon.canonicalize(frames
      .select("doc_id", "n_frames", "frame_idx", "frame_off", "frame_md5"))
  }

  val frameSamplesOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS content_hex,
       |         octet_length(encode(text)) // $frameBytes AS n_frames
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n_frames, i AS frame_idx, i * $frameBytes AS frame_off,
       |         md5(lower(substring(content_hex,
       |           CAST(i * ${frameBytes * 2} + 1 AS INT),
       |           ${frameBytes * 2}))) AS frame_md5
       |  FROM d, UNNEST(range(0, n_frames, $frameSampleStep)) AS t(i)
       |  WHERE n_frames > 0)
       |SELECT doc_id, n_frames, frame_idx, frame_off, frame_md5 FROM f""".stripMargin

  /** Per-payload 64-bit dHash perceptual hashes (the content-level image
    * signal the byte-level meta above cannot give: two RE-ENCODED copies
    * of the same image differ in every byte hash but agree in gradient
    * structure). The hash is the native codegen'd
    * [[graft.functions.ImageHash64]]; its grid stage is the
    * deterministic byte-percentile fake documented there (this
    * container's [[decodeStub]] situation) — swap a real decode+resize
    * at that seam and everything downstream is unchanged. Empty
    * payloads drop (NULL hash).
    */
  def imageHashes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .repartition(col("doc_id")) // one-split source; hashing is the cost
      .select(col("doc_id"),
        graft.functions.ImageHash64(col("text").cast("binary"))
          .as("phash"))
      .filter(col("phash").isNotNull)

  /** Perceptual NEAR-duplicate image pairs at Hamming distance ≤
    * [[DedupOps.simhashMaxHamming]] of 64 bits — the multimodal member
    * of the near-dup family, reusing the Hamming-LSH chunk banding
    * machinery verbatim (DedupOps.chunkValExprs: 9 chunks, pigeonhole
    * 100% recall pre-cap, mega-bucket guard, exact Hamming verify).
    *
    * Shape at scale: identical to simhashNearDup minus the lang
    * blocking (images carry no language) — one narrow (chunk, cval,
    * doc_id) table, 9 rows per payload, self-joined on (chunk, cval);
    * hashes attach late on bare ids so the banding shuffle carries no
    * payload; nothing broadcast, no all-pairs join anywhere.
    */
  def imageNearDup(spark: SparkSession, sfDir: String,
                   maxChunkBucket: Int = DedupOps.simhashMaxChunkBucket)
      : DataFrame =
    hammingNearDup(imageHashes(spark, sfDir)
      .withColumnRenamed("phash", "sig"), maxChunkBucket)

  /** The 64-bit Hamming chunk-band near-dup pipeline over ANY
    * (doc_id, sig) fingerprint frame — shared by [[imageNearDup]] and
    * [[audioNearDup]] so the banding/cap/verify machinery cannot
    * diverge between modalities (the clustersFromPairs composition
    * rule applied to fingerprints).
    */
  private def hammingNearDup(sigs: DataFrame,
                             maxChunkBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15: no persists — the fingerprint frame ends in a doc_id
    // exchange ABOVE the hash projection, so the chunk fan-out and both
    // signature attaches share ONE reused shuffle stage (the payload
    // hashing — the cost here — runs once; the caches raced across the
    // three first-wave consumers). The bucket cap is a count window
    // over the (chunk, cval) exchange both self-join sides reuse.
    val d = sigs.repartition(col("doc_id"))
    val kept = d.select(col("doc_id"),
        posexplode(array(DedupOps.chunkValExprs(col("sig")): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "cval")
      .withColumn("bsz", count(lit(1))
        .over(Window.partitionBy("chunk", "cval")))
      .filter(col("bsz") <= maxChunkBucket)
      .select("doc_id", "chunk", "cval")
    val candidates = kept.as("x").join(kept.as("y"),
        col("x.chunk") === col("y.chunk")
          && col("x.cval") === col("y.cval")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct() // same pair may collide in several chunks
    val withSigs = candidates
      .join(d.select(col("doc_id").as("id_a"), col("sig").as("ph_a")),
        Seq("id_a"))
      .join(d.select(col("doc_id").as("id_b"), col("sig").as("ph_b")),
        Seq("id_b"))
    Canon.materialized(
      Canon.canonicalize(withSigs
        .withColumn("hamming",
          bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
        .filter(col("hamming") <= DedupOps.simhashMaxHamming)
        .select("id_a", "id_b", "hamming")))
  }

  /** Per-payload 64-bit spectral-band audio fingerprints (the
    * [[graft.functions.AudioFp64]] native expression over the binary
    * payload column). A map-side codegen'd projection — no exchange.
    */
  def audioFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .repartition(col("doc_id")) // one-split source; hashing is the cost
      .select(col("doc_id"),
        graft.functions.AudioFp64(col("text").cast("binary")).as("sig"))
      .filter(col("sig").isNotNull)

  /** Audio near-duplicate pairs at Hamming ≤
    * [[DedupOps.simhashMaxHamming]] over the spectral-band
    * fingerprints — [[imageNearDup]]'s plan with the audio
    * fingerprint swapped in: same 9-chunk pigeonhole banding, same
    * mega-bucket cap, same exact Hamming verify. At scale the payload
    * never moves: the banding shuffle carries (chunk, cval, doc_id)
    * rows only, fingerprints attach late on bare ids.
    */
  def audioNearDup(spark: SparkSession, sfDir: String,
                   maxChunkBucket: Int = DedupOps.simhashMaxChunkBucket)
      : DataFrame =
    hammingNearDup(audioFingerprints(spark, sfDir), maxChunkBucket)

  /** Full DuckDB oracle for [[imageNearDup]]: the dHash construction
    * (hex-nibble byte reads, nearest-neighbor sample positions, the 64
    * adjacent-comparison bits) and the whole chunk-band/cap/verify
    * pipeline, generated from the same constants as the Spark plan —
    * the SimHash oracle pattern applied to the binary payload.
    */
  /** The chunk-band/cap/verify pipeline in SQL over a `sigs`
    * (doc_id, sig) CTE — the oracle twin of [[hammingNearDup]], shared
    * by the image and audio oracles.
    */
  /** The band/cap/candidate/verify chain as CTEs only, ending in
    * `vpairs` (id_a, id_b, hamming) — composable by the recall
    * telemetry as well as the near-dup oracles.
    */
  private def chunkBandPairCtes: String = {
    import DedupOps.{chunkBits, chunkWidth, simhashChunks,
      simhashMaxChunkBucket, simhashMaxHamming}
    val maskCases = (0 until simhashChunks)
      .map(i => s"WHEN $i THEN ${(1L << chunkWidth(i)) - 1L}")
      .mkString(" ")
    s"""chunked AS (
       |  SELECT doc_id, i AS chunk,
       |         (sig >> CAST($chunkBits * i AS INT))
       |           & (CASE i $maskCases END) AS cval
       |  FROM sigs, UNNEST(range(0, $simhashChunks)) AS t(i)),
       |kept AS (
       |  SELECT chunk, cval FROM chunked
       |  GROUP BY chunk, cval
       |  HAVING count(*) <= $simhashMaxChunkBucket),
       |kc AS (
       |  SELECT c.doc_id, c.chunk, c.cval
       |  FROM chunked c JOIN kept k
       |    ON c.chunk = k.chunk AND c.cval = k.cval),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM kc x JOIN kc y
       |    ON x.chunk = y.chunk AND x.cval = y.cval
       |       AND x.doc_id < y.doc_id),
       |vpairs AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |  FROM cand c JOIN sigs a ON c.id_a = a.doc_id
       |              JOIN sigs b ON c.id_b = b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $simhashMaxHamming)"""
      .stripMargin
  }

  private def chunkBandTailSql: String =
    s"""$chunkBandPairCtes
       |SELECT id_a, id_b, hamming FROM vpairs""".stripMargin

  /** The dHash signature chain as CTEs ending in `sigs` — shared by
    * the image near-dup and recall oracles.
    */
  private def imageSigCtes: String = {
    import graft.functions.ImageHash64.{cols, samples, rows => gridRows}
    // percentile grid: v[k] = the (⌊k·n/72⌋)-th smallest byte — an
    // order statistic over the sorted byte list (1-based list indexing)
    val sampleExprs = (0 until samples).map { k =>
      s"srt[($k * n) // $samples + 1]"
    }
    val bitTerms = (0 until gridRows).flatMap { r =>
      (0 until cols - 1).map { c =>
        // v is 1-based; sample index r*cols+c
        s"""CASE WHEN v[${r * cols + c + 2}] > v[${r * cols + c + 1}]
           |  THEN CAST(${1L << (r * (cols - 1) + c)} AS BIGINT)
           |  ELSE 0 END""".stripMargin
      }
    }
    s"""b AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hx,
       |         octet_length(encode(text)) AS n
       |  FROM documents
       |  WHERE octet_length(encode(text)) > 0),
       |sb AS (
       |  SELECT doc_id, n,
       |         list_sort(list_transform(range(0, n), i ->
       |           (strpos('0123456789abcdef',
       |              substring(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
       |           + strpos('0123456789abcdef',
       |              substring(hx, CAST(2 * i + 2 AS INT), 1)) - 1)) AS srt
       |  FROM b),
       |sv AS (
       |  SELECT doc_id, [${sampleExprs.mkString(",\n    ")}] AS v
       |  FROM sb),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, ${bitTerms.mkString("\n  + ")} AS sig
       |  FROM sv)""".stripMargin
  }

  val imageNearDupOracle: String =
    s"""WITH $imageSigCtes,
       |$chunkBandTailSql""".stripMargin

  /** Full DuckDB oracle for [[audioNearDup]]: byte decode from hex,
    * the per-(frame, band) signed Walsh sums, the 64 band-difference
    * comparison bits ([[graft.functions.AudioFp64]]'s arithmetic
    * regenerated from the same constants), then the shared chunk
    * pipeline.
    */
  /** The byte-decode → band-energy → signature chain as CTEs ending in
    * `sigs` (doc_id, sig) — shared by the near-dup and recall oracles.
    */
  private def audioSigCtes: String = {
    import graft.functions.AudioFp64.{bands, frames}
    s"""b AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hx,
       |         octet_length(encode(text)) AS n
       |  FROM documents
       |  WHERE octet_length(encode(text)) > 0),
       |sm AS (
       |  SELECT doc_id, n, CAST(i AS BIGINT) AS i,
       |         CAST((strpos('0123456789abcdef',
       |             substring(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
       |           + strpos('0123456789abcdef',
       |             substring(hx, CAST(2 * i + 2 AS INT), 1)) - 1
       |           AS BIGINT) AS s
       |  FROM b, UNNEST(range(0, n)) AS t(i)),
       |en AS (
       |  SELECT doc_id, (i * $frames) // n AS f, bd,
       |         CAST(sum(CASE WHEN ((i >> CAST(bd AS INT)) & 1) = 0
       |                       THEN s ELSE -s END) AS BIGINT) AS e
       |  FROM sm, UNNEST(range(0, $bands)) AS g(bd)
       |  GROUP BY 1, 2, 3),
       |bv(bit, v) AS (
       |  VALUES ${(0 until 64)
        .map(k => s"(CAST($k AS BIGINT), CAST(${1L << k} AS BIGINT))")
        .mkString(",\n    ")}),
       |sigs AS MATERIALIZED (
       |  SELECT a.doc_id,
       |         CAST(coalesce(sum(CASE WHEN abs(b2.e) > abs(a.e)
       |           THEN bv.v ELSE 0 END), 0) AS BIGINT) AS sig
       |  FROM en a JOIN en b2
       |    ON a.doc_id = b2.doc_id AND a.f = b2.f AND b2.bd = a.bd + 1
       |  JOIN bv ON bv.bit = a.f * ${bands - 1} + a.bd
       |  WHERE a.bd < ${bands - 1}
       |  GROUP BY 1)""".stripMargin
  }

  val audioNearDupOracle: String =
    s"""WITH $audioSigCtes,
       |$chunkBandTailSql""".stripMargin

  /** Deterministic sample size of the audio recall telemetry. */
  /** `final` is load-bearing: a compile-time constant INLINES at every
    * cross-object use site. As a plain `val`, DedupOps' strict
    * `simhashRecallOracle` init could read it MID-MultimodalOps-init
    * (circular object initialization) and bake `LIMIT 0` into the
    * oracle SQL — an init-ORDER-dependent oracle, caught in r14 when a
    * query subset touched MultimodalOps first.
    */
  final val audioRecallSample = 256

  /** RECALL TELEMETRY for the audio near-dup banding — the
    * [[graft.ext.DedupOps.lshRecall]] shape for the Hamming-LSH
    * family: on a deterministic hash-ordered sample, count the exact
    * Hamming-≤-threshold pairs, the banded operator's pairs restricted
    * to the sample, and their overlap. The pigeonhole argument makes
    * the banding 100 % recall BEFORE the mega-bucket cap; what this
    * measures is exactly the cap-induced loss — the ×100 replica run
    * showed pair counts FALLING at scale as clone families blow past
    * the bucket cap, and this is the dashboard row that makes that
    * loss visible instead of silent.
    *
    * Scale shape: the sample is a TakeOrderedAndProject (distributed
    * heap, no global sort); exact pairing is sample² — bounded by the
    * [[audioRecallSample]] constant, never corpus-sized; the banded
    * side reuses the operator's own bounded plan.
    */
  def audioRecall(spark: SparkSession, sfDir: String,
                  bucketCap: Int = DedupOps.simhashMaxChunkBucket)
      : DataFrame =
    hammingRecall(audioFingerprints(spark, sfDir),
      audioNearDup(spark, sfDir, bucketCap))

  /** [[audioRecall]]'s image twin — same sample, same question: what
    * did the cap cost against exact Hamming on the sample.
    */
  def imageRecall(spark: SparkSession, sfDir: String,
                  bucketCap: Int = DedupOps.simhashMaxChunkBucket)
      : DataFrame =
    hammingRecall(imageHashes(spark, sfDir)
        .withColumnRenamed("phash", "sig"),
      imageNearDup(spark, sfDir, bucketCap))

  /** The recall-measure core over ANY (doc_id, sig) fingerprint frame
    * and its banded pair output — one definition for every Hamming-LSH
    * family member.
    */
  private def hammingRecall(sigs: DataFrame,
                            bandedPairs: DataFrame): DataFrame = {
    val keyed = sigs.withColumn("h",
      ((col("doc_id") % SampleOps.P) * SampleOps.A + SampleOps.B)
        % SampleOps.P)
    val samp = keyed.orderBy(col("h").asc, col("doc_id").asc)
      .limit(audioRecallSample)
      .select("doc_id", "sig").persist()
    val exact = samp.as("x").join(samp.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .filter(col("hamming") <= DedupOps.simhashMaxHamming)
      .select("id_a", "id_b").persist()
    val ids = samp.select("doc_id")
    val banded = bandedPairs
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_semi")
      .select("id_a", "id_b").persist()
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val nb = banded.agg(count(lit(1)).as("n_banded"))
    val nc = exact.join(banded, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = ne.crossJoin(nb).crossJoin(nc).select(
      col("n_exact"), col("n_banded"), col("n_common"),
      when(col("n_exact") > 0,
        col("n_common").cast("double") / col("n_exact").cast("double"))
        .otherwise(lit(1.0)).as("recall"))
    Canon.materialized(Canon.canonicalize(out),
      samp, exact, banded, bandedPairs)
  }

  /** The sample/exact/banded/counts recall tail over a `sigs` CTE —
    * shared by the audio and image recall oracles.
    */
  private def hammingRecallTailSql: String = {
    import graft.ext.SampleOps.{A, B, P}
    s"""keyed AS (
       |  SELECT doc_id, sig, ((doc_id % $P) * $A + $B) % $P AS h
       |  FROM sigs),
       |samp AS MATERIALIZED (
       |  SELECT doc_id, sig FROM keyed
       |  ORDER BY h ASC, doc_id ASC LIMIT $audioRecallSample),
       |exact AS MATERIALIZED (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM samp x JOIN samp y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sig, y.sig))
       |          <= ${DedupOps.simhashMaxHamming}),
       |$chunkBandPairCtes,
       |bp AS MATERIALIZED (
       |  SELECT v.id_a, v.id_b FROM vpairs v
       |  JOIN samp sa ON v.id_a = sa.doc_id
       |  JOIN samp sb ON v.id_b = sb.doc_id)
       |SELECT
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM bp) AS n_banded,
       |  (SELECT count(*) FROM exact JOIN bp USING (id_a, id_b))
       |    AS n_common,
       |  CASE WHEN (SELECT count(*) FROM exact) > 0
       |    THEN CAST((SELECT count(*) FROM exact JOIN bp
       |               USING (id_a, id_b)) AS DOUBLE)
       |           / CAST((SELECT count(*) FROM exact) AS DOUBLE)
       |    ELSE 1.0 END AS recall""".stripMargin
  }

  val audioRecallOracle: String =
    s"""WITH $audioSigCtes,
       |$hammingRecallTailSql""".stripMargin

  val imageRecallOracle: String =
    s"""WITH $imageSigCtes,
       |$hammingRecallTailSql""".stripMargin

  /** Minimum shared sampled-frame fingerprints for a video pair, and the
    * mega-common-frame guard: a fingerprint appearing in more than
    * `videoFrameBucketCap` payloads (black frames, intro cards — the
    * boilerplate of video corpora) is excluded from pairing, the same
    * loud cap as the LSH mega-bucket guards.
    */
  val videoSharedFramesMin = 2
  val videoFrameBucketCap = 64

  /** Frame-level video/audio near-dup: payload pairs sharing ≥
    * [[videoSharedFramesMin]] sampled-frame fingerprints, with the
    * overlap fraction against the smaller sampled set — the signal that
    * catches CLIPPED or RE-CONTAINERED copies, which whole-payload
    * hashing ([[binaryMeta]]'s md5) and even perceptual whole-image
    * hashing ([[imageNearDup]]) both miss when content is a subrange.
    *
    * Shape at scale: the dup-spans pattern over frames — one exchange
    * on frame_md5 (each doc contributes its sampled frames only), the
    * bucket cap bounds every per-fingerprint join fan-out, pairs then
    * aggregate on (id_a, id_b). No broadcast, no all-pairs, nothing
    * quadratic beyond capped per-fingerprint groups.
    */
  def videoNearDup(spark: SparkSession, sfDir: String,
                   bucketCap: Int = videoFrameBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15: the r14 eager barrier is replaced by exchange reuse — the
    // frame-fingerprint chain sits below the distinct's (doc_id,
    // frame_md5) exchange, which the per-doc rollup and the pair chain
    // all share (one frame pass, no cache, no barrier job); the frame
    // bucket cap is a count window over the frame_md5 exchange both
    // self-join sides reuse, instead of an aggregate + join-back.
    val f = frameSamples(spark, sfDir)
      .select("doc_id", "frame_md5").distinct()
    val perDoc = f.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val kept = f
      .withColumn("c", count(lit(1))
        .over(Window.partitionBy("frame_md5")))
      .filter(col("c") <= bucketCap)
      .select("doc_id", "frame_md5")
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.frame_md5") === col("y.frame_md5") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= videoSharedFramesMin)
    val out = pairs
      .join(perDoc.select(col("doc_id").as("id_a"), col("nf").as("nf_a")),
        Seq("id_a"))
      .join(perDoc.select(col("doc_id").as("id_b"), col("nf").as("nf_b")),
        Seq("id_b"))
      .withColumn("overlap", col("n_shared").cast("double") /
        least(col("nf_a"), col("nf_b")).cast("double"))
      .select("id_a", "id_b", "n_shared", "overlap")
    Canon.materialized(Canon.canonicalize(out))
  }

  private def videoPairsDir(sfDir: String): String =
    graft.io.Artifacts.path("video_pairs", sfDir, "documents.parquet",
      s"fb$frameBytes-st$frameSampleStep-c$videoFrameBucketCap-" +
        s"m$videoSharedFramesMin-v1")

  /** The verified shared-frame pair table as a persisted artifact —
    * the [[graft.ext.DedupOps.lshPairs]] contract applied to the video
    * family (store publish, kill switch, cached ≡ rebuilt).
    * [[videoNearDup]] stays the designated builder; the recall row
    * reads this tier instead of re-deriving the frame chain.
    */
  def videoPairs(spark: SparkSession, sfDir: String): DataFrame =
    if (!graft.io.Artifacts.sharedTier) videoNearDup(spark, sfDir)
    else {
      val dir = graft.io.Artifacts.getOrBuild(videoPairsDir(sfDir)) { tmp =>
        val built = videoNearDup(spark, sfDir) // materialized (cached)
        built.write.parquet(tmp)
        built.unpersist(false)
      }
      graft.ops.Canon.materialized(spark.read.parquet(dir)
        .select("id_a", "id_b", "n_shared", "overlap"))
    }

  /** The frame-fingerprint → cap → shared-frame-pair chain as CTEs
    * (ends in `pairs`; `fr`/`per_doc` also consumable) — shared by the
    * video near-dup and recall oracles.
    */
  private def videoChainCtes: String =
    s"""d AS (
       |  SELECT doc_id, hex(encode(text)) AS content_hex,
       |         octet_length(encode(text)) // $frameBytes AS n_frames
       |  FROM documents),
       |fr AS (
       |  SELECT DISTINCT doc_id,
       |         md5(lower(substring(content_hex,
       |           CAST(i * ${frameBytes * 2} + 1 AS INT),
       |           ${frameBytes * 2}))) AS frame_md5
       |  FROM d, UNNEST(range(0, n_frames, $frameSampleStep)) AS t(i)
       |  WHERE n_frames > 0),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS nf FROM fr GROUP BY 1),
       |kept AS (
       |  SELECT fr.doc_id, fr.frame_md5
       |  FROM fr JOIN (
       |    SELECT frame_md5 FROM fr GROUP BY 1
       |    HAVING count(*) <= $videoFrameBucketCap) k
       |  ON fr.frame_md5 = k.frame_md5),
       |pairs AS MATERIALIZED (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_shared
       |  FROM kept x JOIN kept y
       |    ON x.frame_md5 = y.frame_md5 AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $videoSharedFramesMin)""".stripMargin

  val videoNearDupOracle: String =
    s"""WITH $videoChainCtes
       |SELECT p.id_a, p.id_b, p.n_shared,
       |       CAST(p.n_shared AS DOUBLE)
       |         / CAST(least(a.nf, b.nf) AS DOUBLE) AS overlap
       |FROM pairs p JOIN per_doc a ON p.id_a = a.doc_id
       |             JOIN per_doc b ON p.id_b = b.doc_id""".stripMargin

  /** Recall telemetry for the video shared-frame pairing — the fourth
    * and last near-dup family recall row (MinHash / simhash / image /
    * audio / video): exact ≥-[[videoSharedFramesMin]]-shared-frame
    * pairs on a deterministic doc sample, computed WITHOUT the
    * mega-common-frame cap, vs the capped operator's pairs restricted
    * to the sample — the price of dropping intro-card/black-frame
    * fingerprints, measured instead of assumed. Exact pairing is
    * bounded by sample² frame rows, never corpus-sized.
    */
  def videoRecall(spark: SparkSession, sfDir: String,
                  bucketCap: Int = videoFrameBucketCap): DataFrame = {
    val f = frameSamples(spark, sfDir)
      .select("doc_id", "frame_md5").distinct().persist()
    val keyed = f.select("doc_id").distinct()
      .withColumn("h",
        ((col("doc_id") % SampleOps.P) * SampleOps.A + SampleOps.B)
          % SampleOps.P)
    val samp = keyed.orderBy(col("h").asc, col("doc_id").asc)
      .limit(audioRecallSample)
      .select("doc_id").persist()
    val sf = f.join(samp, Seq("doc_id"), "left_semi").persist()
    val exact = sf.as("x").join(sf.as("y"),
        col("x.frame_md5") === col("y.frame_md5") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= videoSharedFramesMin)
      .select("id_a", "id_b").persist()
    // production cap ⇒ the shared pair tier (tier ≡ rebuilt is its own
    // contract); custom caps exercise the live chain
    val bandedSrc =
      if (bucketCap == videoFrameBucketCap) videoPairs(spark, sfDir)
      else videoNearDup(spark, sfDir, bucketCap)
    val banded = bandedSrc
      .join(samp.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(samp.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_semi")
      .select("id_a", "id_b").persist()
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val nb = banded.agg(count(lit(1)).as("n_banded"))
    val nc = exact.join(banded, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = ne.crossJoin(nb).crossJoin(nc).select(
      col("n_exact"), col("n_banded"), col("n_common"),
      when(col("n_exact") > 0,
        col("n_common").cast("double") / col("n_exact").cast("double"))
        .otherwise(lit(1.0)).as("recall"))
    Canon.materialized(Canon.canonicalize(out), f, samp, sf, exact, banded)
  }

  val videoRecallOracle: String = {
    val (sA, sB, sP) = (SampleOps.A, SampleOps.B, SampleOps.P)
    s"""WITH $videoChainCtes,
       |keyed AS (
       |  SELECT doc_id, ((doc_id % $sP) * $sA + $sB) % $sP AS h
       |  FROM (SELECT DISTINCT doc_id FROM fr)),
       |samp AS MATERIALIZED (
       |  SELECT doc_id FROM keyed
       |  ORDER BY h ASC, doc_id ASC LIMIT $audioRecallSample),
       |sfr AS MATERIALIZED (
       |  SELECT fr.doc_id, fr.frame_md5
       |  FROM fr JOIN samp USING (doc_id)),
       |exact AS MATERIALIZED (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM sfr x JOIN sfr y
       |    ON x.frame_md5 = y.frame_md5 AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $videoSharedFramesMin),
       |bp AS MATERIALIZED (
       |  SELECT p.id_a, p.id_b FROM pairs p
       |  JOIN samp sa ON p.id_a = sa.doc_id
       |  JOIN samp sb ON p.id_b = sb.doc_id)
       |SELECT
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM bp) AS n_banded,
       |  (SELECT count(*) FROM exact JOIN bp USING (id_a, id_b))
       |    AS n_common,
       |  CASE WHEN (SELECT count(*) FROM exact) > 0
       |    THEN CAST((SELECT count(*) FROM exact JOIN bp
       |               USING (id_a, id_b)) AS DOUBLE)
       |           / CAST((SELECT count(*) FROM exact) AS DOUBLE)
       |    ELSE 1.0 END AS recall""".stripMargin
  }

  /** ??? in spirit: the decode seam. Batched per partition exactly like a
    * real codec call (one library handle per partition, vectorized loop);
    * the decode itself is a deterministic fake over the payload bytes.
    */
  def decodeStub(spark: SparkSession, payloads: DataFrame,
                 frameSampleEvery: Int = frameSampleStep): Dataset[MediaMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"),
        col("content").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real codec integration point: open the library handle HERE, once
        // per partition, and feed it each payload below.
        it.map { case (id, bytes) =>
          val lead = if (bytes.nonEmpty) bytes(0) & 0xff else 0
          val width = lead % 64 + 1
          val height = lead % 48 + 1
          val nFrames = bytes.length / frameBytes.toLong
          val sampled = (0L until nFrames by frameSampleEvery.toLong).toSeq
          MediaMeta(id, bytes.length.toLong, width.toLong, height.toLong,
            nFrames, sampled)
        }
      }
  }
}
