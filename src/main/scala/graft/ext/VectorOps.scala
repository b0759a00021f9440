package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{Decimal, DecimalType}

import scala.collection.mutable

import graft.functions.CosineSimilarity
import graft.io.{Artifacts, Generations, Tables}
import graft.ops.Canon
import graft.plans.TopK

/** Similarity search over the `embeddings` fixture
  * (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).
  *
  * Numeric contract: cosine is computed as an explicit LEFT FOLD over the
  * element arrays in DOUBLE — `aggregate(zip_with(...))` in Spark,
  * `list_reduce(list_transform(...))` in the DuckDB oracle — so both
  * engines execute the identical IEEE operation sequence and the scores
  * compare bit-exact. (Engine-native cosine helpers use unspecified
  * accumulation orders; that is why they are not used.)
  *
  * Scale paths:
  *  - `cosineTopK` is the exact brute-force baseline: candidates stream
  *    against a BROADCAST probe set — O(N·P) work, embarrassingly parallel,
  *    no shuffle of the vector table itself; the only exchange carries
  *    P·k-sized per-partition top-k (partial `row_number` would be the next
  *    refinement at extreme N).
  *  - `annIvf` is the IVF refinement: vectors are bucketed by nearest
  *    coarse centroid once (an O(N·C) pass), probes search only the
  *    `nprobe` nearest buckets → O(N·P·nprobe/C) expected. With
  *    nprobe == C it degrades to exact brute force — VectorOpsSpec asserts
  *    that equivalence; the query runs nprobe = 4 of 16.
  *  - `embedNearDup` blocks pairs by `label` (standing in for a coarse
  *    quantizer cell): within-block all-pairs only, the standard
  *    embedding-near-dup sharding.
  */
object VectorOps {

  /** The fixture parquet is a single small split; the cosine folds are
    * interpreted higher-order lambdas, so compute parallelism must come
    * from an explicit repartition — at production scale the source is
    * many splits and this becomes a no-op-equivalent hash exchange.
    */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings").repartition(col("vec_id"))

  /** Element-wise double cast (FLOAT widening is exact). */
  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  private def fold(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Bit-exact mirrored by `cosSql` and by `cosineViaFold` (the
    * composed-builtins form, kept as the differential reference — the
    * native expression is codegen'd, the fold chain runs interpreted).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Higher-order-function formulation; same IEEE operation order. */
  def cosineViaFold(a: Column, b: Column): Column = {
    val dot = fold(zip_with(a, b, (x, y) => x * y))
    val na = fold(transform(a, x => x * x))
    val nb = fold(transform(b, x => x * x))
    dot / (sqrt(na) * sqrt(nb))
  }

  /** The identical computation in DuckDB SQL over `$a`/`$b` double lists. */
  private[ext] def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (acc, x) -> acc + x) /
       | (sqrt(list_reduce(list_transform($a, x -> x * x), (acc, x) -> acc + x)) *
       |  sqrt(list_reduce(list_transform($b, x -> x * x), (acc, x) -> acc + x)))""".stripMargin

  val nProbes = 10
  val topK = 10

  /** Exact brute-force cosine top-k: probes (vec_id < nProbes) broadcast
    * against all candidates; per-probe top-k via the in-repo sort-free
    * [[graft.plans.TopKPerKey]] heap operator (O(n log k), bounded state;
    * the former `row_number().over(...)` formulation sorted every probe's
    * full candidate list). Rank semantics are identical: heap drain order
    * under the same (cos DESC, vec_id ASC) total order.
    */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist() // candidate stream + probe subset
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
    val top = TopK.perKey(scored.select("probe_id", "vec_id", "cos"),
      Seq("probe_id"), Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select("probe_id", "rank", "vec_id", "cos")),
      e)
  }

  val cosineTopKOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |         ${cosSql("p.v", "c.v")} AS cos
       |  FROM e p, e c
       |  WHERE p.vec_id < $nProbes AND c.vec_id <> p.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked
       |WHERE rank <= $topK""".stripMargin

  /** HARD-NEGATIVE mining: for each probe vector, the top-k most
    * cosine-similar candidates carrying a DIFFERENT label — the
    * contrastive-training pair-miner (a negative that is nearly
    * indistinguishable from the anchor is worth a thousand random
    * negatives). Same broadcast-probe + [[graft.plans.TopKPerKey]]
    * heap shape as [[cosineTopK]]; the label inequality is one extra
    * codegen'd filter on the scored stream, so the mining cost is the
    * scoring cost — no second pass, no per-class join.
    *
    * Scale shape: probes broadcast (nProbes rows); candidate stream
    * scanned once; per-probe state bounded by the heap at k — the plan
    * survives a 100× corpus the same way cosineTopK does.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .persist() // candidate stream + probe subset
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"),
        col("label").as("probe_label"), col("v").as("pv"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("label") =!= col("probe_label"))
      .withColumn("cos", cosine(col("pv"), col("v")))
    val top = TopK.perKey(
      scored.select("probe_id", "probe_label", "vec_id", "label", "cos"),
      Seq("probe_id"), Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select(
        "probe_id", "probe_label", "rank", "vec_id", "label", "cos")),
      e)
  }

  val hardNegativesOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, p.label AS probe_label,
       |         c.vec_id, c.label,
       |         ${cosSql("p.v", "c.v")} AS cos
       |  FROM e p, e c
       |  WHERE p.vec_id < $nProbes AND c.label <> p.label),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, probe_label, rank, vec_id, label, cos
       |FROM ranked WHERE rank <= $topK""".stripMargin

  val nearDupThreshold = 0.4

  /** Label-blocked embedding near-duplicate pairs (cos ≥ threshold).
    * The self-join is salted (DedupOps.saltedBlockSelfJoin): 10 labels
    * would otherwise cap the quadratic scoring at 10 tasks.
    */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .persist() // both self-join sides
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"))
    Canon.materialized(
      Canon.canonicalize(
        DedupOps.saltedBlockSelfJoin(a, b, Seq("label"), "id_a")
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", cosine(col("va"), col("vb")))
          .filter(col("cos") >= nearDupThreshold)
          .select("label", "id_a", "id_b", "cos")),
      e)
  }

  val embedNearDupOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |p AS (
       |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${cosSql("a.v", "b.v")} AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT CAST(label AS BIGINT) AS label, id_a, id_b, cos FROM p
       |WHERE cos >= $nearDupThreshold""".stripMargin

  /** Mega-bucket cap for the sign-LSH family (embedLsh,
    * embedDecontaminate, BitextOps) — the [[DedupOps.maxBucketSize]]
    * discipline the MinHash/Hamming families already follow: a
    * (band, bucket) cell shared by hundreds of vectors signals a
    * low-information sketch slice, and its candidate pairs grow
    * QUADRATICALLY in cell density — measured concretely when the ×100
    * posture fixture (identical replicated vectors) multiplied every
    * cell by 100 and the candidate joins by 10⁴. 512 is inert at every
    * gated SF (max observed cell is 87 at sf0.1) and bounds the
    * adversarial-density case; genuinely similar pairs still collide
    * in their other bands.
    */
  val signBucketCap = 512

  /** Drop over-cap (band, bucket) cells. Two value-identical census
    * forms, chosen PER CALL SITE by x10-scale A/B (r15 wave 5,
    * bench_x10_w5 records):
    *  - `windowCensus = true`: COUNT WINDOW over the (band, bucket)
    *    exchange (the r15 DedupOps bucket-cap shape) — one pass over
    *    the banded stream instead of the sketch subtree appearing
    *    twice (once per join side). Measured 0.46–0.63× for
    *    embedLsh/embedRecall at 10× scale, whose downstream is the
    *    plain capped self-join.
    *  - default: aggregate + broadcast join-back — no global sort of
    *    the banded stream. Measured better (the window form was
    *    1.2–1.4×) for the decontaminate pair and the multi-probe
    *    variant, whose probe-explosion consumers dominate and pay the
    *    window's sort for nothing.
    */
  private[ext] def capSignBuckets(banded: DataFrame,
                                  windowCensus: Boolean = false)
      : DataFrame =
    if (windowCensus)
      banded
        .withColumn("bsz", count(lit(1))
          .over(Window.partitionBy("band", "bucket")))
        .filter(col("bsz") <= signBucketCap)
        .drop("bsz")
    else
      banded.join(
        banded.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= signBucketCap)
          .select("band", "bucket"),
        Seq("band", "bucket"))

  /** The shared `HAVING`-census twin of [[capSignBuckets]] over a bk
    * CTE named `$bk`.
    */
  private[ext] def capSignSql(bk: String): String =
    s"""(SELECT band, bucket FROM $bk GROUP BY band, bucket
       |   HAVING count(*) <= $signBucketCap)""".stripMargin

  /** Sign-LSH (random-hyperplane) embedding near-dup: banded 64-bit
    * hyperplane sketch → band-bucket candidate pairs → exact cosine
    * verification. The UNBLOCKED scale path: `embedNearDup`'s label
    * blocking assumes a natural partition key; this needs none and its
    * candidate join shuffles only (band, bucket, vec_id). Hyperplanes are
    * deterministic twin-family arithmetic (see functions/
    * HyperplaneBuckets), so the whole pipeline carries a full DuckDB
    * oracle despite approximate recall.
    */
  def embedLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist() // sketch pass + both candidate-attach joins
    val banded = capSignBuckets(e.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneBuckets(col("v")))
        .as(Seq("band", "bucket"))), windowCensus = true)
      .persist() // both sides of the candidate self-join
    val candidates = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct() // a pair may collide in several bands
    val withVecs = candidates
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
    Canon.materialized(
      Canon.canonicalize(withVecs
        .withColumn("cos", cosine(col("va"), col("vb")))
        .filter(col("cos") >= nearDupThreshold)
        .select("id_a", "id_b", "cos")),
      e, banded)
  }

  /** Full DuckDB oracle for `embedLsh`, generated from the same constants:
    * hyperplane components, signed projections, banding, candidate join,
    * and the bit-exact cosine verify.
    */
  private[ext] def signLshCtes: String = {
    import graft.functions.{HyperplaneBuckets => HB}
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |bits AS (
       |  SELECT vec_id, j,
       |         CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(range(0, len(v)), i ->
       |             v[CAST(i AS INT) + 1] *
       |             (CAST((${HB.A} * (j * len(v) + i + 1) + ${HB.B})
       |                   % ${HB.P} AS DOUBLE) / ${HB.P} - 0.5))),
       |           (acc, x) -> acc + x) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM e, UNNEST(range(0, ${HB.numBits})) AS t(j)),
       |bk AS (
       |  SELECT vec_id, j // ${HB.bitsPerBand} AS band,
       |         sum(bit << CAST(j % ${HB.bitsPerBand} AS INT)) AS bucket
       |  FROM bits GROUP BY 1, 2),
       |keptb AS (
       |  SELECT bk.* FROM bk JOIN ${capSignSql("bk")} kc
       |    ON bk.band = kc.band AND bk.bucket = kc.bucket),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM keptb a JOIN keptb b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |       AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("ea.v", "eb.v")} AS cos
       |  FROM cand c JOIN e ea ON c.id_a = ea.vec_id
       |              JOIN e eb ON c.id_b = eb.vec_id),
       |slp AS MATERIALIZED (
       |  SELECT id_a, id_b, cos FROM p
       |  WHERE cos >= $nearDupThreshold)""".stripMargin
  }

  val embedLshOracle: String =
    s"""WITH $signLshCtes
       |SELECT id_a, id_b, cos FROM slp""".stripMargin

  /** Benchmark-membership modulus/residue for SEMANTIC decontamination:
    * vec_id ≡ 6 (mod 25) is "the embedded eval benchmark" (4% — an
    * eval set is tiny next to the corpus; deterministic
    * hash-membership, the SampleOps rule). Residue 6 is the slice cut
    * so that verified sketch-collision pairs CROSS the benchmark
    * boundary at all three fixture SFs — any other residue risks a
    * vacuous (empty-but-matching) gate at sf0.001.
    */
  val decontamBenchMod = 25
  val decontamBenchRes = 6

  /** SEMANTIC (embedding-space) benchmark decontamination — the modern
    * complement of the n-gram recipes in [[CurationOps]]
    * (q_decontaminate*): an eval example can leak into training data
    * as a PARAPHRASE that shares no 8-gram, but its embedding still
    * lands next to the benchmark's. Flag every corpus vector whose
    * cosine to ANY benchmark vector reaches [[nearDupThreshold]],
    * reporting the strongest offending benchmark example per doc
    * (cos DESC, bench_id ASC — deterministic argmax via the in-repo
    * TopK heap, k=1).
    *
    * Plan shape at 100 TB: the corpus is sketched ONCE (codegen'd
    * [[graft.functions.HyperplaneBuckets]] projection, no exchange);
    * the benchmark side is eval-sized, so its band/bucket table and
    * its raw vectors both BROADCAST — the candidate join and the
    * verify attach never shuffle the corpus. Work is
    * candidate-bounded, not |corpus|×|bench| (the brute-force shape
    * this replaces): only bucket collisions pay a cosine. Approximate
    * in LSH recall, exact in verification — and fully oracled because
    * the hyperplanes are the deterministic twin-family arithmetic.
    */
  def embedDecontaminate(spark: SparkSession, sfDir: String): DataFrame =
    embedDecontaminateCore(spark, sfDir, multiProbe = false)

  /** Hamming-1 multi-probe variant: the probe expansion runs on the
    * BENCHMARK side — the eval-sized, broadcast side — so the extra
    * recall (the side where recall matters most: a missed leak trains
    * on the eval set) costs a ×9 on a table that was already
    * negligible, and the corpus still never shuffles.
    */
  def embedDecontaminateMultiProbe(spark: SparkSession,
                                   sfDir: String): DataFrame =
    embedDecontaminateCore(spark, sfDir, multiProbe = true)

  private def embedDecontaminateCore(spark: SparkSession, sfDir: String,
                                     multiProbe: Boolean): DataFrame = {
    import graft.functions.{HyperplaneBuckets => HB}
    val isBench = col("vec_id") % decontamBenchMod === decontamBenchRes
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist() // sketch pass + verify attach, both sides
    val banded = capSignBuckets(e.select(col("vec_id"),
        posexplode(HB(col("v")))
          .as(Seq("band", "bucket"))))
      .persist() // corpus and bench candidate sides
    val benchSide = {
      val base = banded.filter(isBench)
        .withColumnRenamed("vec_id", "bench_id")
      if (!multiProbe) base
      else {
        val probeKeys = col("bucket") +: (0 until HB.bitsPerBand)
          .map(b => col("bucket").bitwiseXOR(lit(1 << b)))
        base.select(col("bench_id"), col("band"),
          explode(array(probeKeys: _*)).as("bucket"))
      }
    }
    val candidates = banded.filter(!isBench).as("c")
      .join(broadcast(benchSide.as("b")),
        col("c.band") === col("b.band") &&
          col("c.bucket") === col("b.bucket"))
      .select(col("c.vec_id").as("vec_id"), col("bench_id"))
      .distinct() // a pair may collide in several bands
    val scored = candidates
      .join(e, Seq("vec_id")) // corpus-keyed: co-partitioned attach
      .join(broadcast(e.filter(isBench)
        .select(col("vec_id").as("bench_id"), col("v").as("bv"))),
        Seq("bench_id"))
      .withColumn("cos", cosine(col("v"), col("bv")))
      .filter(col("cos") >= nearDupThreshold)
    val worst = TopK.perKey(scored.select("vec_id", "bench_id", "cos"),
      Seq("vec_id"), Seq("cos" -> TopK.Desc, "bench_id" -> TopK.Asc), 1)
    Canon.materialized(
      Canon.canonicalize(worst.select("vec_id", "bench_id", "cos")),
      e, banded)
  }

  /** Twin-arithmetic oracle: same hyperplane bits, banding, asymmetric
    * corpus×bench candidate join, exact cosine verify, and rank-1
    * argmax as [[embedDecontaminate]].
    */
  val embedDecontaminateOracle: String = decontamOracleAt(multiProbe = false)

  val embedDecontaminateMultiProbeOracle: String =
    decontamOracleAt(multiProbe = true)

  private def decontamOracleAt(multiProbe: Boolean): String = {
    import graft.functions.{HyperplaneBuckets => HB}
    val benchSide =
      if (!multiProbe) "keptb"
      else s"""(SELECT vec_id, band,
         |     CASE WHEN k = 0 THEN bucket
         |          ELSE xor(bucket, 1 << CAST(k - 1 AS INT)) END AS bucket
         |   FROM keptb, range(0, ${HB.bitsPerBand + 1}) t(k))"""
        .stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |bits AS (
       |  SELECT vec_id, j,
       |         CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(range(0, len(v)), i ->
       |             v[CAST(i AS INT) + 1] *
       |             (CAST((${HB.A} * (j * len(v) + i + 1) + ${HB.B})
       |                   % ${HB.P} AS DOUBLE) / ${HB.P} - 0.5))),
       |           (acc, x) -> acc + x) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM e, UNNEST(range(0, ${HB.numBits})) AS t(j)),
       |bk AS (
       |  SELECT vec_id, j // ${HB.bitsPerBand} AS band,
       |         sum(bit << CAST(j % ${HB.bitsPerBand} AS INT)) AS bucket
       |  FROM bits GROUP BY 1, 2),
       |keptb AS (
       |  SELECT bk.* FROM bk JOIN ${capSignSql("bk")} kc
       |    ON bk.band = kc.band AND bk.bucket = kc.bucket),
       |cand AS (
       |  SELECT DISTINCT c.vec_id, b.vec_id AS bench_id
       |  FROM keptb c JOIN $benchSide b
       |    ON c.band = b.band AND c.bucket = b.bucket
       |  WHERE b.vec_id % $decontamBenchMod = $decontamBenchRes
       |    AND c.vec_id % $decontamBenchMod <> $decontamBenchRes),
       |p AS (
       |  SELECT cand.vec_id, cand.bench_id,
       |         ${cosSql("ec.v", "eb.v")} AS cos
       |  FROM cand JOIN e ec ON cand.vec_id = ec.vec_id
       |            JOIN e eb ON cand.bench_id = eb.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |            ORDER BY cos DESC, bench_id ASC) AS rank
       |  FROM p WHERE cos >= $nearDupThreshold)
       |SELECT vec_id, bench_id, cos FROM ranked WHERE rank = 1""".stripMargin
  }

  val ivfCentroids = 16
  val ivfIters = 3

  /** Nearest-centroid assignment of every vector (argmax cosine, ties to
    * the lowest cent_id) as an AGGREGATION, not a window: the N×C scored
    * cross join reduces map-side (partial max_by) to one row per vector
    * BEFORE any exchange, where the window form shuffles and sorts all
    * N×C rows on vec_id — a 16× shuffle-width difference at corpus scale
    * (caught by this round's plan audit; the probe-side top-nprobe rank
    * keeps its window — C rows per probe, probes are few). The struct
    * ordering (cent_cos, −cent_id) reproduces the window's exact
    * tie-break, so results — and the oracles — are unchanged.
    */
  private[ext] def assignNearest(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("cent_cos", cosine(col("cv"), col("v")))
      .groupBy("vec_id")
      .agg(
        max_by(col("cent_id"),
          struct(col("cent_cos"), (-col("cent_id")).as("tb"))).as("bucket"),
        first("v").as("v")) // constant within the group

  /** The index in `0 until n` whose score comes first — greatest if
    * `greatest`, else least — in Spark's SQL double order (NaN above
    * every number, -0.0 = 0.0), ties to the lowest index: the
    * `max_by`/`min_by` over (score, cent_id) of [[assignNearest]] and
    * [[pqEncode]], with the candidates in cent_id order. `n` ≥ 1.
    */
  private def bestIndex(n: Int, greatest: Boolean)(score: Int => Double): Int = {
    var best = 0
    var bestScore = score(0)
    var i = 1
    while (i < n) {
      val s = score(i)
      val c = SQLOrderingUtil.compareDoubles(s, bestScore)
      if (if (greatest) c > 0 else c < 0) { best = i; bestScore = s }
      i += 1
    }
    best
  }

  /** Exact partials of one Lloyd update, keyed by cell: the member count
    * and, per position, the sum of `Decimal(x)` changed to DECIMAL(30,15)
    * — what `sum(CAST(x AS DECIMAL(30,15)))` accumulates. Decimal
    * addition is exact, so neither the partitioning nor the merge order
    * can move a bit, and a partial holds cells × dim values whatever the
    * corpus size.
    */
  private final class CellSums extends Serializable {
    private val sums = mutable.LongMap.empty[Array[java.math.BigDecimal]]
    private val counts = mutable.LongMap.empty[Long]

    /** Fold `v(from until from + len)` into `cell`. */
    def add(cell: Long, v: Array[Double], from: Int, len: Int): Unit = {
      val s = sums.getOrElseUpdate(cell,
        Array.fill(len)(java.math.BigDecimal.ZERO))
      require(s.length == len,
        s"cell $cell: a member of length $len, the others ${s.length}")
      var p = 0
      while (p < len) {
        val d = Decimal(v(from + p))
        if (!d.changePrecision(30, 15))
          throw new ArithmeticException(s"${v(from + p)} overflows DECIMAL(30,15)")
        s(p) = s(p).add(d.toJavaBigDecimal)
        p += 1
      }
      counts(cell) = counts.getOrElse(cell, 0L) + 1
    }

    def merge(o: CellSums): CellSums = {
      o.sums.foreachEntry { (cell, s) =>
        sums.get(cell) match {
          case Some(t) => t.indices.foreach(p => t(p) = t(p).add(s(p)))
          case None => sums(cell) = s
        }
        counts(cell) = counts.getOrElse(cell, 0L) + o.counts(cell)
      }
      this
    }

    /** The cells that have members, ascending. */
    def cells: Seq[Long] = sums.keys.toSeq.sorted

    /** A cell's sums as `CAST(sum AS DOUBLE)`; None for an empty cell. */
    def sum(cell: Long): Option[Array[Double]] =
      sums.get(cell).map(_.map(Decimal(_).toDouble))

    /** [[sum]] divided by the member count, as
      * `CAST(sum AS DOUBLE) / CAST(count AS DOUBLE)`. */
    def mean(cell: Long): Option[Array[Double]] =
      sum(cell).map { s => val n = counts(cell).toDouble; s.map(_ / n) }
  }

  /** One distributed pass: every partition folds its rows into one
    * [[CellSums]] and a tree merge combines the partials — one job, and
    * the driver receives cells × dim values.
    */
  private def cellSums(rows: DataFrame)
                      (fold: (CellSums, InternalRow) => Unit): CellSums =
    rows.queryExecution.toRdd.treeAggregate(new CellSums)(
      (s, r) => { fold(s, r); s }, _.merge(_))

  /** Seed rows (vec_id < `n`, by vec_id) of a (vec_id, v) frame. */
  private def seedVectors(e: DataFrame, n: Int): Array[(Long, Array[Double])] = {
    import e.sparkSession.implicits._
    e.filter(col("vec_id") < n).select(col("vec_id"), col("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** Trained coarse-quantizer centroids: deterministic spherical k-means.
    * Seed = the first `c` vectors by vec_id (seedless, reproducible), then
    * `iters` Lloyd rounds: assign every vector to its nearest centroid by
    * cosine, recompute each centroid as the element-wise SUM of its
    * members. Sum, not mean, deliberately: cosine is invariant to
    * positive scaling, so the sum centroid assigns identically to the
    * mean — and unlike a decimal DIVISION (whose result scale/rounding
    * rules differ per engine) a decimal SUM of the members is exact
    * integer arithmetic both engines reproduce bit-identically, which is
    * what lets the ANN query carry a full DuckDB oracle. The decimal
    * accumulation also makes training independent of partial-aggregation
    * order (double sums are not). Empty clusters keep their previous
    * centroid.
    *
    * Each round is ONE partition pass: the C centroids are broadcast,
    * every partition assigns its vectors with [[assignNearest]]'s kernel
    * and folds them into [[CellSums]] (C×d exact partials), one tree
    * merge combines the partials, and the driver converts the C×d sums
    * to doubles. One job per round; the corpus never shuffles and the
    * driver never holds more than the centroid table, so the round
    * scales with the partition count, not with N.
    */
  private[ext] def trainedCentroids(e: DataFrame, c: Int = ivfCentroids,
                                    iters: Int = ivfIters): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val seed = seedVectors(e, c)
    var cents = seed.map(_._2)
    for (_ <- 0 until iters if cents.nonEmpty) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = try cellSums(e.select(col("v"))) { (s, r) =>
        if (!r.isNullAt(0)) {
          val v = r.getArray(0).toDoubleArray()
          val cs = bc.value
          s.add(bestIndex(cs.length, greatest = true)(
            i => CosineSimilarity.of(cs(i), v)), v, 0, v.length)
        }
      } finally bc.destroy()
      cents = cents.indices.map(i => sums.sum(i).getOrElse(cents(i))).toArray
    }
    seed.map(_._1).zip(cents.map(_.toSeq)).toSeq.toDF("cent_id", "cv")
  }

  /** IVF-style ANN: bucket every vector under its nearest coarse centroid
    * (k-means-trained, see `trainedCentroids`), then search only the
    * `nprobe` buckets nearest each probe. Hash-verified three ways: the
    * full `annIvfOracle` (training unrolled into SQL), the
    * `q_ann_ivf_fullprobe` twin (nprobe == C ≡ brute force against the
    * brute-force oracle), and recall@k floors in VectorOpsSpec.
    */
  /** Full DuckDB oracle for `annIvf` — INCLUDING the k-means training:
    * the `ivfIters` Lloyd rounds are unrolled into CTE stages (assignment
    * by cosine argmax, decimal-sum centroid update, empty-cluster
    * keep-alive), then bucketing, probe selection, and the per-bucket
    * ranked search. Every arithmetic step was chosen to be engine-exact
    * (sum centroids instead of means; the shared cosine fold), so even
    * the trained approximate index is hash-verified end to end.
    */
  /** Shared oracle prefix for the IVF family: training rounds, the final
    * assignment (`bucketed`: vec_id, v, cent_id), the probe set, and each
    * probe's `nprobe` nearest buckets (`pb`: probe_id, pv, bucket).
    */
  /** The generalized chain: `trainCond` slices the k-means training
    * corpus (`et`), `postCond` the indexed/bucketed corpus (`ep`),
    * `probesSql` defines the probe set — the fixture-wide family uses
    * TRUE/TRUE/id-head; the index LIFECYCLE oracles slice by the
    * DedupOps permille split with the codebook FROZEN on the base
    * slice (training always reads `et`, whatever `ep` holds).
    */
  private def ivfChain(nprobe: Int, trainCond: String, postCond: String,
                       probesSql: String): String = {
    s"""WITH ${ivfChainFrom(
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))" +
          " AS v\n  FROM embeddings",
        nprobe, trainCond, postCond, probesSql)}"""
  }

  /** [[ivfChain]] body with the vector source `eSql` as a parameter,
    * all CTE names prefixed `$pre`, and no leading WITH — lets the
    * whitened-quantizer oracle run the SAME training/bucketing/probe
    * chain over a transformed space, and lets the recall-comparison
    * oracle hold TWO chains (raw + whitened) in one query. `pre = ""`
    * reproduces the historical names byte-identically. */
  private def ivfChainFrom(eSql: String, nprobe: Int, trainCond: String,
                           postCond: String, probesSql: String,
                           pre: String = ""): String = {
    def assignCte(from: String, cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, c.cent_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosSql("c.cv", "e.v")} DESC, c.cent_id ASC) AS rn
         |    FROM $from e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    val rounds = (0 until ivfIters).flatMap { r =>
      val (prev, a, nxt) = (s"${pre}c$r", s"${pre}a${r + 1}", s"${pre}c${r + 1}")
      Seq(
        assignCte(s"${pre}et", prev, a),
        s"""${pre}s${r + 1} AS (
           |  SELECT cent_id, i AS pos,
           |         CAST(sum(CAST(v[CAST(i AS INT)+1] AS DECIMAL(30,15)))
           |              AS DOUBLE) AS m
           |  FROM $a, UNNEST(range(0, len(v))) t(i)
           |  GROUP BY cent_id, i)""".stripMargin,
        s"""$nxt AS (
           |  SELECT c.cent_id, coalesce(n.sv, c.cv) AS cv
           |  FROM $prev c LEFT JOIN (
           |    SELECT cent_id, list(m ORDER BY pos) AS sv
           |    FROM ${pre}s${r + 1} GROUP BY cent_id) n
           |  ON c.cent_id = n.cent_id)""".stripMargin)
    }
    val fin = s"${pre}c$ivfIters"
    s"""${pre}e AS (
       |  $eSql),
       |${pre}et AS MATERIALIZED (SELECT * FROM ${pre}e WHERE $trainCond),
       |${pre}ep AS MATERIALIZED (SELECT * FROM ${pre}e WHERE $postCond),
       |${pre}c0 AS (SELECT vec_id AS cent_id, v AS cv FROM ${pre}et WHERE vec_id < $ivfCentroids),
       |${rounds.mkString(",\n")},
       |${assignCte(s"${pre}ep", fin, s"${pre}bucketed")},
       |${pre}probes AS ($probesSql),
       |${pre}pb AS (
       |  SELECT probe_id, pv, cent_id AS bucket FROM (
       |    SELECT p.probe_id, p.pv, c.cent_id,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY ${cosSql("c.cv", "p.pv")} DESC, c.cent_id ASC) AS rn
       |    FROM ${pre}probes p CROSS JOIN $fin c) WHERE rn <= $nprobe)""".stripMargin
  }

  private def ivfOraclePrefix(nprobe: Int): String =
    ivfChain(nprobe, "TRUE", "TRUE",
      s"SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < $nProbes")

  def annIvfOracle(nprobe: Int = 4): String =
    s"""${ivfOraclePrefix(nprobe)},
       |scored AS (
       |  SELECT pb.probe_id, b.vec_id, ${cosSql("pb.pv", "b.v")} AS cos
       |  FROM (SELECT vec_id, v, cent_id AS bucket FROM bucketed) b
       |  JOIN pb ON b.bucket = pb.bucket
       |  WHERE b.vec_id <> pb.probe_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked
       |WHERE rank <= $topK""".stripMargin

  /** ANN QUALITY TELEMETRY: per-probe recall@k of the nprobe-bounded
    * IVF search against the exact top-k — the number an ANN deployment
    * watches to tune nprobe. The exact side is [[annIvf]] with
    * nprobe == C (≡ brute force, the equivalence q_ann_ivf_fullprobe
    * already hash-proves), so the report composes two plans that share
    * the memoized centroid index and the oracle composes the IVF CTE
    * prefix with the brute-force chain. Output: one row per probe +
    * exact integer counts + recall as one exact division.
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val approx = annIvf(spark, sfDir).select("probe_id", "vec_id")
    val exact = annIvf(spark, sfDir, nprobe = ivfCentroids)
      .select("probe_id", "vec_id")
    val nExact = exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
    val nCommon = approx.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_common"))
    Canon.canonicalize(nExact.join(nCommon, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("n_exact"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall")))
  }

  val annRecallOracle: String =
    s"""${ivfOraclePrefix(4)},
       |scored AS (
       |  SELECT pb.probe_id, b.vec_id, ${cosSql("pb.pv", "b.v")} AS cos
       |  FROM (SELECT vec_id, v, cent_id AS bucket FROM bucketed) b
       |  JOIN pb ON b.bucket = pb.bucket
       |  WHERE b.vec_id <> pb.probe_id),
       |a AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scored) WHERE rank <= $topK),
       |scoredF AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |         ${cosSql("p.v", "c.v")} AS cos
       |  FROM e p, e c
       |  WHERE p.vec_id < $nProbes AND c.vec_id <> p.vec_id),
       |x AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredF) WHERE rank <= $topK),
       |ne AS (SELECT probe_id, count(*) AS n_exact FROM x GROUP BY 1),
       |nc AS (
       |  SELECT a.probe_id, count(*) AS n_common
       |  FROM a JOIN x ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
       |  GROUP BY 1)
       |SELECT ne.probe_id,
       |       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       |       CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(coalesce(n_common, 0) AS DOUBLE)
       |         / CAST(n_exact AS DOUBLE) AS recall
       |FROM ne LEFT JOIN nc USING (probe_id)""".stripMargin

  // ---- FILTERED ANN (metadata predicate at query time) -----------------

  /** The predicate the filtered-ANN family searches under: label =
    * [[filterLabel]] (~10% of the corpus at every SF — selective enough
    * that fixed-nprobe probing visibly starves the candidate set). */
  val filterLabel = 1

  /** Adaptive probing target: buckets are taken in probe-affinity order
    * until the cumulative FILTERED candidate count reaches
    * [[candMult]]·topK. */
  val candMult = 3

  private def filteredIds(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir).filter(col("label") === filterLabel)
      .select("vec_id")

  /** FILTERED ANN: top-k under a metadata predicate, served by the SAME
    * full-corpus IVF index every unfiltered probe uses (the index is
    * built once; filters arrive per query — rebuilding per predicate is
    * not an option at corpus scale). Probing is CANDIDATE-COUNT
    * TARGETED: buckets are taken in probe-affinity order (cos DESC,
    * cent_id ASC — the annIvf total order) until the cumulative count
    * of predicate-passing members reaches candMult·topK, so a
    * selective filter probes DEEPER instead of starving — the
    * production answer to the classic filtered-ANN failure where a 10%
    * filter leaves fixed-nprobe with ~nprobe/10 of its usual
    * candidates. Costs stay index-shaped: the per-bucket filtered
    * census is C rows, probe×bucket ranking is nProbes×C rows (both
    * broadcast), the predicate reaches the candidate scan as a semi
    * join, and the corpus never shuffles on the probe path.
    */
  def annIvfFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val centroids = cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
    val bucketed = assignNearest(e, centroids)
      .select(col("vec_id"), col("v"), col("bucket"))
    val bucketedF = bucketed.join(filteredIds(spark, sfDir),
      Seq("vec_id"), "left_semi").persist()
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val searched = adaptiveBuckets(probes, centroids, bucketedF)
      .join(bucketedF, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val top = TopK.perKey(searched, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select("probe_id", "rank", "vec_id", "cos")),
      e, bucketedF)
  }

  /** The adaptive probe set: the affinity-ordered bucket prefix that is
    * AT LEAST the configured nprobe deep and extends until the
    * cumulative filtered-candidate count reaches candMult·topK (the
    * bucket crossing the target is included; empty-filtered buckets
    * inside the prefix cost nothing). The nprobe floor matters on the
    * permissive side: without it one dense bucket can satisfy the
    * count target and the filtered probe would be SHALLOWER than the
    * unfiltered one (measured at sf0.1: 0.66 vs fixed 0.69 before the
    * floor; equal-set 0.69 with it, while sf0.01's starved regime still
    * deepens to 0.80 vs 0.44). Returns (probe_id, pv, bucket); a
    * broadcast-sized frame by construction.
    */
  private def adaptiveBuckets(probes: DataFrame, centroids: DataFrame,
                              bucketedF: DataFrame): DataFrame = {
    val fc = bucketedF.groupBy("bucket")
      .agg(count(lit(1)).as("fc"))
      .select(col("bucket").as("fcb"), col("fc"))
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val wCum = Window.partitionBy("probe_id").orderBy(col("crank"))
      .rowsBetween(Window.unboundedPreceding, -1)
    broadcast(probes.crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("pv")))
      .withColumn("crank", row_number().over(wProbe))
      .join(broadcast(fc), col("cent_id") === col("fcb"), "left")
      .withColumn("cum_before",
        coalesce(sum(coalesce(col("fc"), lit(0L))).over(wCum), lit(0L)))
      // never SHALLOWER than the configured nprobe (a permissive filter
      // can reach the candidate target in one bucket — recall must not
      // regress below the unfiltered probe depth); deepen past it only
      // while the filtered census is still below target
      .filter(col("crank") <= 4 || col("cum_before") < candMult * topK)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket")))
  }

  /** Oracle CTEs shared by the filtered search and its recall row:
    * filtered corpus, per-bucket census, affinity-ranked buckets, the
    * adaptive prefix, and the adaptive-scan scores — mirrors
    * [[adaptiveBuckets]] bit-exactly (same cosine, same total orders,
    * exact-integer cumulative census).
    */
  private def filteredOracleCtes: String =
    s"""${ivfOraclePrefix(4)},
       |fids AS (SELECT vec_id FROM embeddings WHERE label = $filterLabel),
       |bf AS MATERIALIZED (
       |  SELECT b.vec_id, b.v, b.cent_id AS bucket
       |  FROM bucketed b JOIN fids USING (vec_id)),
       |fcnt AS (SELECT bucket, count(*) AS fc FROM bf GROUP BY 1),
       |prk AS (
       |  SELECT p.probe_id, p.pv, c.cent_id AS bucket,
       |         row_number() OVER (PARTITION BY p.probe_id
       |           ORDER BY ${cosSql("c.cv", "p.pv")} DESC, c.cent_id ASC)
       |           AS crank
       |  FROM probes p CROSS JOIN c$ivfIters c),
       |pk AS (
       |  SELECT probe_id, pv, bucket FROM (
       |    SELECT prk.*,
       |           coalesce(sum(coalesce(f.fc, 0)) OVER (
       |             PARTITION BY probe_id ORDER BY crank
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             AS cum_before
       |    FROM prk LEFT JOIN fcnt f USING (bucket))
       |  WHERE crank <= 4 OR cum_before < ${candMult * topK}),
       |fscored AS (
       |  SELECT pk.probe_id, b.vec_id, ${cosSql("pk.pv", "b.v")} AS cos
       |  FROM bf b JOIN pk USING (bucket)
       |  WHERE b.vec_id <> pk.probe_id)""".stripMargin

  val annIvfFilteredOracle: String =
    s"""$filteredOracleCtes,
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM fscored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked
       |WHERE rank <= $topK""".stripMargin

  /** FILTERED-ANN DECISION ROW: the three ways to serve a filtered
    * query from one shared index, priced against the exact filtered
    * top-k —
    *   post:     search unfiltered (nprobe=4), THEN filter the top-k
    *             (the naive composition; candidates are spent on
    *             vectors the filter throws away);
    *   fixed:    pre-filter the candidate scan at the same nprobe=4
    *             (right scan, starved probe depth under a selective
    *             filter);
    *   adaptive: [[annIvfFiltered]]'s candidate-count-targeted prefix.
    * One row per arm: overlap with the exact filtered top-k plus the
    * total scanned-candidate count — recall AND cost, so "adaptive
    * buys its recall with bounded extra scan" is a gated measurement,
    * not prose. (At sf0.001 the filtered corpus is smaller than
    * candMult·topK, every arm probes everything and all recalls
    * saturate — the row is informative from sf0.01 up.)
    */
  def annFilteredRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val centroids = cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
    // r14: the assignment pass is persisted — it feeds the filtered
    // slice AND the post-filter arm's scan (it was recomputed before).
    // No eager count: `exact.count()` below is the first action and
    // materializes this cache transitively before any consumer races.
    val bucketed = assignNearest(e, centroids)
      .select(col("vec_id"), col("v"), col("bucket")).persist()
    val fids = filteredIds(spark, sfDir)
    val bucketedF = bucketed.join(fids, Seq("vec_id"), "left_semi")
      .persist()
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

    // exact filtered top-k: brute force over the (small) filtered slice
    def rankTop(cands: DataFrame): DataFrame =
      TopK.perKey(cands, Seq("probe_id"),
        Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc), topK)
    def scored(cands: DataFrame): DataFrame = cands
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val exact = rankTop(scored(bucketedF.crossJoin(broadcast(probes))))
      .select("probe_id", "vec_id").persist()
    exact.count() // EAGER (r14): joined by all three arm rows

    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val fixedBuckets = broadcast(probes.crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("pv")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= 4)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket")))

    // arm candidate sets — persisted; ONE fused union-count job (r15)
    // materializes all three caches and returns every arm's n_scanned
    // (r14 had one materializing count per arm — three sequential
    // driver round trips for three bounded numbers; the arms' parents,
    // bucketed/bucketedF/fixedBuckets, are already cache-materialized
    // by exact.count() above, so the union's subtrees recompute nothing
    // expensive while they fill their own caches)
    val postScan = scored(fixedBuckets.join(bucketed, Seq("bucket")))
      .persist()
    val postTop = rankTop(postScan)
      .join(fids, Seq("vec_id"), "left_semi").select("probe_id", "vec_id")
    val fixedScan = scored(fixedBuckets.join(bucketedF, Seq("bucket")))
      .persist()
    val adaptScan = scored(
      adaptiveBuckets(probes, centroids, bucketedF)
        .join(bucketedF, Seq("bucket")))
      .persist()
    val armCounts = postScan.select(lit("post").as("arm"))
      .unionByName(fixedScan.select(lit("fixed").as("arm")))
      .unionByName(adaptScan.select(lit("adaptive").as("arm")))
      .groupBy("arm").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val nPostScan = armCounts.getOrElse("post", 0L)
    val nFixedScan = armCounts.getOrElse("fixed", 0L)
    val nAdaptScan = armCounts.getOrElse("adaptive", 0L)

    def armRow(name: String, top: DataFrame, nScanned: Long): DataFrame =
      top.join(exact, Seq("probe_id", "vec_id"))
        .agg(count(lit(1)).as("n_common"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(lit(name).as("arm"), col("n_common"), col("n_exact"),
          (col("n_common").cast("double") / col("n_exact").cast("double"))
            .as("recall"), lit(nScanned).as("n_scanned"))
    val out = armRow("post", postTop, nPostScan)
      .unionByName(armRow("fixed",
        rankTop(fixedScan).select("probe_id", "vec_id"), nFixedScan))
      .unionByName(armRow("adaptive",
        rankTop(adaptScan).select("probe_id", "vec_id"), nAdaptScan))
    Canon.materialized(Canon.canonicalize(out), e, bucketed, bucketedF,
      exact, postScan, fixedScan, adaptScan)
  }

  val annFilteredRecallOracle: String =
    s"""$filteredOracleCtes,
       |xf AS MATERIALIZED (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.vec_id AS probe_id, b.vec_id,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${cosSql("p.v", "b.v")} DESC, b.vec_id ASC)
       |             AS rank
       |    FROM e p CROSS JOIN bf b
       |    WHERE p.vec_id < $nProbes AND b.vec_id <> p.vec_id)
       |  WHERE rank <= $topK),
       |nx AS (SELECT count(*) AS n_exact FROM xf),
       |pb4 AS (SELECT probe_id, pv, bucket FROM prk WHERE crank <= 4),
       |postscan AS (
       |  SELECT pb4.probe_id, b.vec_id, ${cosSql("pb4.pv", "b.v")} AS cos
       |  FROM bucketed b JOIN pb4 ON b.cent_id = pb4.bucket
       |  WHERE b.vec_id <> pb4.probe_id),
       |posttop AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM postscan) WHERE rank <= $topK
       |    AND vec_id IN (SELECT vec_id FROM fids)),
       |fixedscan AS (
       |  SELECT pb4.probe_id, b.vec_id, ${cosSql("pb4.pv", "b.v")} AS cos
       |  FROM bf b JOIN pb4 ON b.bucket = pb4.bucket
       |  WHERE b.vec_id <> pb4.probe_id),
       |fixedtop AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM fixedscan) WHERE rank <= $topK),
       |adapttop AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM fscored) WHERE rank <= $topK),
       |arms AS (
       |  SELECT 'post' AS arm,
       |         (SELECT count(*) FROM posttop t JOIN xf USING (probe_id, vec_id)) AS n_common,
       |         (SELECT count(*) FROM postscan) AS n_scanned
       |  UNION ALL
       |  SELECT 'fixed',
       |         (SELECT count(*) FROM fixedtop t JOIN xf USING (probe_id, vec_id)),
       |         (SELECT count(*) FROM fixedscan)
       |  UNION ALL
       |  SELECT 'adaptive',
       |         (SELECT count(*) FROM adapttop t JOIN xf USING (probe_id, vec_id)),
       |         (SELECT count(*) FROM fscored))
       |SELECT arm, CAST(n_common AS BIGINT) AS n_common,
       |       CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall,
       |       CAST(n_scanned AS BIGINT) AS n_scanned
       |FROM arms CROSS JOIN nx""".stripMargin

  /** MULTI-PROBE FOR THE IVF ARM — spilled assignment (the SOAR-family
    * idea, Google 2023, public: index each vector under its few nearest
    * cells so boundary vectors are reachable from either side) rather
    * than probe-side rank expansion: each indexed vector is assigned to
    * its [[ivfSpill]] nearest centroids, and queries probe only their
    * [[ivfSpillNprobe]] nearest buckets. Measured on the fixture
    * (sf0.01, 10 probes, k=10): recall 0.86 → 0.92 while the scanned
    * candidate count per probe FALLS 126 → ~116 — the lift is free,
    * unlike nprobe=8 rank expansion (0.95 at 2× the scan cost). The
    * [[annRecallMp]] row records both arms' candidate counts so the
    * equal-cost claim stays a measured dashboard fact, not prose.
    */
  val ivfSpill = 2
  val ivfSpillNprobe = 2

  /** Map-side spilled assignment: the [[ivfSpill]] nearest of the
    * (driver-cached, literal) centroids per vector, computed as C
    * cosine expressions + one array_sort over a C-element array —
    * the assignment is a NARROW MAP with no crossJoin and NO SHUFFLE
    * at any corpus size (the single-assignment path pays an N-row
    * shuffle through its map-side-combined groupBy). Tie order
    * (cos DESC, cent_id ASC) matches the oracle's row_number via the
    * (-cos, cent_id) ascending struct sort.
    */
  private def spilledAssign(e: DataFrame,
                            cents: Seq[(Long, Seq[Double])],
                            n: Int): DataFrame = {
    val entries = cents.map { case (cid, cv) =>
      struct(negate(cosine(typedLit(cv), col("v"))).as("nc"),
        lit(cid).as("cent_id"))
    }
    e.withColumn("top", slice(array_sort(array(entries: _*)), 1, n))
      .select(col("vec_id"), col("v"), explode(col("top")).as("a"))
      .select(col("vec_id"), col("v"), col("a.cent_id").as("bucket"))
  }

  /** Probe-side bucket choice shared by both arms: each probe's `np`
    * nearest centroids. */
  private def probeBuckets(e: DataFrame, centroids: DataFrame,
                           np: Int): DataFrame = {
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    probes.crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("pv")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= np)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket"))
  }

  /** The spilled candidate set: distinct (probe, vector) pairs — a
    * vector spilled into BOTH probed buckets scores exactly once. */
  private def spillCands(e: DataFrame, cents: Seq[(Long, Seq[Double])],
                         centroids: DataFrame): DataFrame =
    spilledAssign(e, cents, ivfSpill)
      .join(broadcast(probeBuckets(e, centroids, ivfSpillNprobe)),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .dropDuplicates("probe_id", "vec_id")

  /** The multi-probe ANN search itself: spilled index, 2-bucket probe,
    * per-probe top-k via the sort-free heap. Same output shape as
    * [[annIvf]]. */
  def annIvfSpill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val cents = cachedCentroids(spark, sfDir, e)
    val centroids = cents.toDF("cent_id", "cv")
    val scored = spillCands(e, cents, centroids)
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val top = TopK.perKey(scored, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select("probe_id", "rank", "vec_id", "cos")),
      e)
  }

  /** Recall + COST telemetry for the multi-probe arm: per probe, the
    * overlap of the spilled 2-probe top-k with the exact top-k, plus
    * both arms' scanned-candidate counts (n_cand_mp vs the nprobe=4
    * baseline's n_cand_base) — the row that proves the recall lift is
    * bought at equal-or-lower scan cost, per probe, every run.
    */
  def annRecallMp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val cents = cachedCentroids(spark, sfDir, e)
    val centroids = cents.toDF("cent_id", "cv")
    val candMp = spillCands(e, cents, centroids)
    val topMp = TopK.perKey(
      candMp.withColumn("cos", cosine(col("pv"), col("v")))
        .select("probe_id", "vec_id", "cos"),
      Seq("probe_id"), Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK).select("probe_id", "vec_id")
    val candBase = assignNearest(e, centroids)
      .select(col("vec_id"), col("bucket"))
      .join(broadcast(probeBuckets(e, centroids, 4)), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
    val exact = annIvf(spark, sfDir, nprobe = ivfCentroids)
      .select("probe_id", "vec_id")
    val nExact = exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
    val nCommon = topMp.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_common"))
    val nCandM = candMp.groupBy("probe_id").agg(count(lit(1)).as("n_cand_mp"))
    val nCandB = candBase.groupBy("probe_id")
      .agg(count(lit(1)).as("n_cand_base"))
    Canon.canonicalize(nExact
      .join(nCommon, Seq("probe_id"), "left")
      .join(nCandM, Seq("probe_id"), "left")
      .join(nCandB, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("n_exact"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"),
        coalesce(col("n_cand_mp"), lit(0L)).as("n_cand_mp"),
        coalesce(col("n_cand_base"), lit(0L)).as("n_cand_base")))
  }

  /** Spilled-assignment + 2-probe candidate CTEs over the
    * [[ivfChain]] prefix (needs ep, probes, c$ivfIters): `candm` is
    * the distinct (probe_id, vec_id) set, `scoredm` its cosines. */
  private def ivfSpillCtes: String =
    s"""bucketed2 AS (
       |  SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("c.cv", "e.v")} DESC, c.cent_id ASC) AS rn
       |    FROM ep e CROSS JOIN c$ivfIters c) WHERE rn <= $ivfSpill),
       |pb2 AS (
       |  SELECT probe_id, pv, cent_id AS bucket FROM (
       |    SELECT p.probe_id, p.pv, c.cent_id,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY ${cosSql("c.cv", "p.pv")} DESC, c.cent_id ASC) AS rn
       |    FROM probes p CROSS JOIN c$ivfIters c) WHERE rn <= $ivfSpillNprobe),
       |candm AS (
       |  SELECT DISTINCT pb2.probe_id, b.vec_id
       |  FROM bucketed2 b JOIN pb2 ON b.cent_id = pb2.bucket
       |  WHERE b.vec_id <> pb2.probe_id),
       |scoredm AS (
       |  SELECT cm.probe_id, cm.vec_id, ${cosSql("p.pv", "x.v")} AS cos
       |  FROM candm cm
       |  JOIN probes p ON p.probe_id = cm.probe_id
       |  JOIN ep x ON x.vec_id = cm.vec_id)""".stripMargin

  val annIvfSpillOracle: String =
    s"""${ivfOraclePrefix(4)},
       |$ivfSpillCtes,
       |rankedm AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scoredm)
       |SELECT probe_id, rank, vec_id, cos FROM rankedm
       |WHERE rank <= $topK""".stripMargin

  val annRecallMpOracle: String =
    s"""${ivfOraclePrefix(4)},
       |$ivfSpillCtes,
       |am AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredm) WHERE rank <= $topK),
       |candb AS (
       |  SELECT pb.probe_id, b.vec_id
       |  FROM bucketed b JOIN pb ON b.cent_id = pb.bucket
       |  WHERE b.vec_id <> pb.probe_id),
       |scoredF AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |         ${cosSql("p.v", "c.v")} AS cos
       |  FROM e p, e c
       |  WHERE p.vec_id < $nProbes AND c.vec_id <> p.vec_id),
       |x AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredF) WHERE rank <= $topK),
       |ne AS (SELECT probe_id, count(*) AS n_exact FROM x GROUP BY 1),
       |nc AS (
       |  SELECT am.probe_id, count(*) AS n_common
       |  FROM am JOIN x ON am.probe_id = x.probe_id
       |              AND am.vec_id = x.vec_id
       |  GROUP BY 1),
       |nm AS (SELECT probe_id, count(*) AS n_cand_mp FROM candm GROUP BY 1),
       |nb AS (SELECT probe_id, count(*) AS n_cand_base FROM candb GROUP BY 1)
       |SELECT ne.probe_id,
       |       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       |       CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(coalesce(n_common, 0) AS DOUBLE)
       |         / CAST(n_exact AS DOUBLE) AS recall,
       |       CAST(coalesce(n_cand_mp, 0) AS BIGINT) AS n_cand_mp,
       |       CAST(coalesce(n_cand_base, 0) AS BIGINT) AS n_cand_base
       |FROM ne LEFT JOIN nc USING (probe_id)
       |        LEFT JOIN nm USING (probe_id)
       |        LEFT JOIN nb USING (probe_id)""".stripMargin

  /** PCA-WHITENED COARSE QUANTIZER — k-means trained on ABTT-whitened
    * vectors (v′ = v − (v·ŵ₁)ŵ₁ − (v·ŵ₂)ŵ₂, the [[semanticDedupAbtt]]
    * transform), bucket assignment and probe-bucket choice in whitened
    * space, FINAL SCORING in raw space against the true metric. The
    * hypothesis (Mu & Viswanath 2018): on anisotropic embeddings the
    * dominant directions carry corpus-wide common variance, so cells
    * carved in whitened space separate CONTENT better and recall rises
    * at equal nprobe. MEASURED VERDICT on this fixture: recall@10
    * 0.86 (raw) → 0.82 (whitened) at nprobe=4 — the synthetic
    * embeddings are near-isotropic (the q_embed_anisotropy row
    * measures exactly this precondition), so removing the top-2
    * directions deletes signal, not nuisance. The [[annRecallWhite]]
    * row gates BOTH arms' per-probe recall so the comparison — and the
    * anisotropy precondition it turns on — stays a measured dashboard
    * fact: a deployment reads q_embed_anisotropy first, and flips the
    * quantizer only when common-variance dominance is actually there.
    *
    * Scale shape: whitening is an elementwise map fused into the
    * assignment scan (raw payload rides along — no re-join against the
    * corpus to score); everything else is the [[annIvf]] plan.
    */
  def annIvfWhite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val models = pcaModels(spark, sfDir, 2)
    // whiten for geometry, carry the raw vector for scoring
    val ew = abttWhiten(e.withColumn("vr", col("v")), models).persist()
    val cents = cachedCentroids(spark, sfDir,
      ew.select(col("vec_id"), col("v")), variant = "_white")
    val centroids = cents.toDF("cent_id", "cv")
    val assigned = ew.crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("v")))
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"),
          struct(col("cent_cos"), (-col("cent_id")).as("tb"))).as("bucket"),
        first("vr").as("v"))
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val pb = ew.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pw"),
        col("vr").as("pv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("pw")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= 4)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket"))
    val scored = assigned.join(broadcast(pb), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val top = TopK.perKey(scored, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select("probe_id", "rank", "vec_id", "cos")),
      e, ew)
  }

  /** The raw-vs-whitened recall comparison row: per probe, both arms'
    * top-k overlap with the exact top-k at equal nprobe — the gated
    * evidence behind [[annIvfWhite]]'s measured verdict. */
  def annRecallWhite(spark: SparkSession, sfDir: String): DataFrame = {
    val aw = annIvfWhite(spark, sfDir).select("probe_id", "vec_id")
    val ar = annIvf(spark, sfDir).select("probe_id", "vec_id")
    val exact = annIvf(spark, sfDir, nprobe = ivfCentroids)
      .select("probe_id", "vec_id")
    val nExact = exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
    val ncW = aw.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_common_white"))
    val ncR = ar.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_common_raw"))
    Canon.canonicalize(nExact
      .join(ncW, Seq("probe_id"), "left")
      .join(ncR, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_common_white"), lit(0L)).as("n_common_white"),
        coalesce(col("n_common_raw"), lit(0L)).as("n_common_raw"),
        col("n_exact"),
        (coalesce(col("n_common_white"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall_white"),
        (coalesce(col("n_common_raw"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall_raw")))
  }

  /** Whitened-chain CTEs: raw doubles (`eb`), the PCA ladder, the
    * whitening, then the FULL k-means chain over `white` with all
    * names prefixed `w` — composable beside the raw chain. Ends at
    * `scoredw` (probe_id, vec_id, raw-space cos). */
  private def ivfWhiteCtes: String =
    s"""eb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${pcaLadderCtes(2)},
       |${abttWhiteSql("eb", Seq.empty)},
       |${ivfChainFrom("SELECT vec_id, v FROM white", 4, "TRUE", "TRUE",
        s"SELECT vec_id AS probe_id, v AS pv FROM we WHERE vec_id < $nProbes",
        pre = "w")},
       |candw AS (
       |  SELECT wpb.probe_id, b.vec_id
       |  FROM wbucketed b JOIN wpb ON b.cent_id = wpb.bucket
       |  WHERE b.vec_id <> wpb.probe_id),
       |scoredw AS (
       |  SELECT c.probe_id, c.vec_id, ${cosSql("p.v", "x.v")} AS cos
       |  FROM candw c JOIN eb p ON p.vec_id = c.probe_id
       |               JOIN eb x ON x.vec_id = c.vec_id)""".stripMargin

  // lazy: textually precedes the ladder vals it composes
  lazy val annIvfWhiteOracle: String =
    s"""WITH $ivfWhiteCtes,
       |rankedw AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scoredw)
       |SELECT probe_id, rank, vec_id, cos FROM rankedw
       |WHERE rank <= $topK""".stripMargin

  lazy val annRecallWhiteOracle: String =
    s"""${ivfOraclePrefix(4)},
       |$ivfWhiteCtes,
       |aw AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredw) WHERE rank <= $topK),
       |scoredr AS (
       |  SELECT pb.probe_id, b.vec_id, ${cosSql("pb.pv", "b.v")} AS cos
       |  FROM bucketed b JOIN pb ON b.cent_id = pb.bucket
       |  WHERE b.vec_id <> pb.probe_id),
       |ar AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredr) WHERE rank <= $topK),
       |scoredF AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |         ${cosSql("p.v", "c.v")} AS cos
       |  FROM e p, e c
       |  WHERE p.vec_id < $nProbes AND c.vec_id <> p.vec_id),
       |x AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredF) WHERE rank <= $topK),
       |ne AS (SELECT probe_id, count(*) AS n_exact FROM x GROUP BY 1),
       |ncw AS (
       |  SELECT aw.probe_id, count(*) AS n_common_white
       |  FROM aw JOIN x ON aw.probe_id = x.probe_id
       |              AND aw.vec_id = x.vec_id GROUP BY 1),
       |ncr AS (
       |  SELECT ar.probe_id, count(*) AS n_common_raw
       |  FROM ar JOIN x ON ar.probe_id = x.probe_id
       |              AND ar.vec_id = x.vec_id GROUP BY 1)
       |SELECT ne.probe_id,
       |       CAST(coalesce(n_common_white, 0) AS BIGINT) AS n_common_white,
       |       CAST(coalesce(n_common_raw, 0) AS BIGINT) AS n_common_raw,
       |       CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(coalesce(n_common_white, 0) AS DOUBLE)
       |         / CAST(n_exact AS DOUBLE) AS recall_white,
       |       CAST(coalesce(n_common_raw, 0) AS DOUBLE)
       |         / CAST(n_exact AS DOUBLE) AS recall_raw
       |FROM ne LEFT JOIN ncw USING (probe_id)
       |        LEFT JOIN ncr USING (probe_id)""".stripMargin

  /** Root dir of the PERSISTED trained-index artifacts for a dataset
    * (the store's `ivf_index` kind): centroids, PQ codebooks and code
    * tables land under here, fingerprint-stamped like the LSH index,
    * so a NEW JVM reloads the trained index instead of retraining.
    */
  private def ivfIndexDir(sfDir: String): String =
    Artifacts.path(ivfKind, sfDir, "embeddings.parquet",
      s"c${ivfCentroids}_i$ivfIters")

  private val ivfKind = "ivf_index"

  /** A trained table under [[ivfIndexDir]] through the THREE tiers:
    * JVM memo (keyed by the artifact dir) → persisted artifact →
    * train-and-publish. Trained quantizers are an INDEX, built once per
    * dataset and reused by every query (index build is offline, nprobe
    * search is online); training is bit-deterministic (decimal sums,
    * seedless init — spec'd in VectorOpsSpec), so all tiers agree by
    * construction (IvfPersistSpec pins reload ≡ retrain across a
    * simulated restart).
    */
  private def memoTable[T](spark: SparkSession, dir: String)
                          (train: => DataFrame)(load: DataFrame => T): T =
    Artifacts.memoized(ivfKind, dir)(load(Artifacts.frame(spark, dir)(train)))

  private def cachedCentroids(spark: SparkSession, sfDir: String,
                              e: DataFrame, variant: String = "")
      : Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    memoTable(spark, s"${ivfIndexDir(sfDir)}/centroids$variant")(
      trainedCentroids(e))(
      _.as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1))
  }

  /** PQ codebook rows (j, cent_id, cv) of a trained-codebook frame. */
  private def codebookFrame(spark: SparkSession, dir: String)
                           (train: => DataFrame): DataFrame = {
    import spark.implicits._
    memoTable(spark, dir)(train)(
      _.as[(Int, Long, Seq[Double])].collect().toSeq
        .sortBy(r => (r._1, r._2)))
      .toDF("j", "cent_id", "cv")
  }

  /** TEST HOOK: drop the in-JVM memo tier of this family's artifacts
    * (simulates a JVM restart so specs can prove the disk tier serves
    * the reload).
    */
  private[graft] def clearMemos(): Unit = Artifacts.clearMemos(ivfKind)

  def annIvf(spark: SparkSession, sfDir: String, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist() // assignment pass + probe set + centroid training
    val cachedRows = cachedCentroids(spark, sfDir, e)
    val centroids = cachedRows.toDF("cent_id", "cv")

    // one O(N·C) assignment pass — centroids broadcast, reduced to one
    // row per vector map-side (assignNearest)
    val bucketed = assignNearest(e, centroids)
      .select(col("vec_id"), col("v"), col("bucket"))

    // probes pick their nprobe nearest buckets
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probeBuckets = probes.crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("pv")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket"))

    // search only assigned buckets; final per-probe rank via the
    // sort-free TopKPerKey heap (same total order as the oracle's
    // row_number)
    val searched = bucketed
      .join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val top = TopK.perKey(searched, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select("probe_id", "rank", "vec_id", "cos")),
      e)
  }

  /** SEMANTIC DEDUP end-to-end — the SemDeDup shape (cluster the
    * embedding space, prune near-identical points within each cluster;
    * Abbas et al. 2023, public): k-means coarse clusters
    * ([[trainedCentroids]], the same memoized index the ANN family
    * uses), intra-cluster cosine near-dup pairs, connected components
    * ([[DedupOps.clustersFromPairs]] — the same adaptive union-find /
    * label-propagation step the text chain composes), and the apply:
    * every vector survives except non-representative cluster members
    * (representative = min vec_id = the component's cluster_id).
    *
    * Scale shape: pairing is INTRA-CLUSTER only — the self-join keys on
    * the centroid assignment (salted against the C≪N block count), so
    * no cross-cluster pair is ever scored; the quadratic work is
    * bounded per cluster, the standard SemDeDup decomposition. The
    * anti join carries no broadcast hint (the dedupApply lesson: loser
    * cardinality scales with the duplicate rate).
    *
    * Output: surviving (vec_id, bucket). Composes the same oracle
    * building blocks as the ANN family (k-means CTE prefix) and the
    * text dedup family (connected-components CTE), so the semantic
    * clustering can never drift from either.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist() // training + assignment + pair scoring
    val cachedRows = cachedCentroids(spark, sfDir, e)
    val centroids = cachedRows.toDF("cent_id", "cv")
    val bucketed = assignNearest(e, centroids)
      .select(col("vec_id"), col("v"), col("bucket"))
      .persist() // both self-join sides + the survivor projection
    val clusters = DedupOps.clustersFromPairs(spark, semanticPairs(bucketed))
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    Canon.materialized(
      Canon.canonicalize(
        bucketed.select(col("vec_id"), col("bucket"))
          .join(losers, Seq("vec_id"), "left_anti")),
      e, bucketed, clusters)
  }

  /** The intra-cluster pairing stage of [[semanticDedup]], visible as
    * its own frame so the plan contract (equi-join on the bucket
    * assignment, salted, never cross-cluster) is spec-assertable —
    * clustersFromPairs materializes its pair source, which hides this
    * join from the composed query's final plan.
    */
  private[ext] def semanticPairs(bucketed: DataFrame): DataFrame = {
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"))
    DedupOps.saltedBlockSelfJoin(a, b, Seq("bucket"), "id_a")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= nearDupThreshold)
      .select("id_a", "id_b")
  }

  /** The centroid-assignment frame (vec_id, v, bucket) the semantic
    * family shares — exposed for the spec's plan assertions.
    */
  private[ext] def bucketedAssignments(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // persist spans ONLY the training/load rounds and is released once
    // the (tiny) centroid rows are in hand — a cold-cache call must not
    // pin the embeddings frame for the session
    val ep = e.persist()
    val cachedRows =
      try cachedCentroids(spark, sfDir, ep)
      finally { ep.unpersist(false); () }
    assignNearest(e, cachedRows.toDF("cent_id", "cv"))
      .select(col("vec_id"), col("v"), col("bucket"))
  }

  /** [[semanticDedup]]'s oracle: the ANN family's k-means prefix (same
    * training rounds and assignment), intra-cluster pair scoring with
    * the shared bit-exact cosine, the dedup family's recursive
    * connected-components CTE, and the anti join.
    */
  val semanticDedupOracle: String = {
    val prefix = ivfOraclePrefix(4).stripPrefix("WITH ")
    s"""WITH RECURSIVE $prefix,
       |spairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= $nearDupThreshold),
       |${DedupOps.clusterCte("spairs")},
       |losers AS (
       |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
       |SELECT bk.vec_id, CAST(bk.cent_id AS BIGINT) AS bucket
       |FROM bucketed bk ANTI JOIN losers l ON bk.vec_id = l.doc_id""".stripMargin
  }

  /** EMBEDDING ANISOTROPY TELEMETRY — the number that says whether
    * [[semanticDedupAbtt]]'s whitening is doing anything: the corpus
    * mean pairwise cosine of unit-normalized embeddings, before and
    * after the all-but-the-top transform. Computed WITHOUT enumerating
    * any pair via the sum identity
    *
    *   Σ_{i≠j} ûᵢ·ûⱼ = ‖Σᵢ ûᵢ‖² − Σᵢ ‖ûᵢ‖²
    *
    * over vectors quantized to floor(û·10⁶) — so both cross-row sums
    * are EXACT integer arithmetic (order-independent where a float
    * Σᵢ ûᵢ would depend on partition order; per-row normalization
    * stays the deterministic in-row fold the cosine twins share), the
    * wide squares ride DECIMAL(38,0)/HUGEINT, and the mean is two
    * double divisions at the end. O(n) — one narrow pass per arm,
    * 64-row shuffles; at 100 TB this costs two scans, versus the
    * O(n²) the naive definition prices.
    *
    * A high raw mean cosine is the published anisotropy pathology
    * (Ethayarajh 2019; Mu & Viswanath 2018) — all embeddings share a
    * dominant common direction and cosine thresholds saturate; the
    * `abtt` row shows how far top-2 removal moves the corpus toward
    * isotropy (≈ 0).
    */
  def embedAnisotropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val models = pcaModels(spark, sfDir, 2)
    val Seq((w1, n1, _), (w2, n2, _)) = models
    // the model as a broadcastable 64-row table — keeps the whole arm
    // in codegen'd scalar-column arithmetic (no array lambdas: a
    // whiten-then-normalize-then-quantize lambda chain collapses into
    // an exponentially nested expression tree — measured as a hung
    // plan before this shape)
    val comp = (0 until pcaDim).map(i =>
        (i.toLong, w1(i), w2(i), w1(i).toDouble / n1, w2(i).toDouble / n2))
      .toDF("dim", "w1", "w2", "c1", "c2")
    val ex = embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(asDouble(col("embedding")))
        .as(Seq("dim", "x")))
      .repartition(col("vec_id"))
      .withColumn("qx", floor(col("x") * lit(pcaScale.toDouble)))
      .persist() // raw arm + projection pass + whitened arm
    ex.count() // EAGER (r15): the fused single-action tail below reads
    // this cache from several concurrent subtrees (raw window arm, the
    // projection aggregate, the whitened arm); unmaterialized they race
    // re-running the explode+shuffle
    // integer projections (the pcaProject arithmetic, exploded form)
    val dots = ex.join(broadcast(comp), Seq("dim"))
      .groupBy("vec_id")
      .agg(sum(col("qx") * col("w1")).as("fp1"),
        sum(col("qx") * col("w2")).as("fp2"))
      .select(col("vec_id"),
        (col("fp1").cast("double") / lit(n1 * pcaScale.toDouble))
          .as("d1"),
        (col("fp2").cast("double") / lit(n2 * pcaScale.toDouble))
          .as("d2"))
    val whiteEx = ex.join(dots, Seq("vec_id"))
      .join(broadcast(comp), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        (col("x") - col("d1") * col("c1") - col("d2") * col("c2"))
          .as("x"))
      .withColumn("qx", floor(col("x") * lit(pcaScale.toDouble)))
    // one arm in ONE linear pass (r15): the per-vector norm attaches as
    // a window over the vec_id partitioning ex already carries (the
    // groupBy+self-join consumed the arm input twice), and the diagonal
    // and cross sums fold through a single per-dim partial aggregate —
    // Σ_dim Σ u², Σ_dim count and Σ_dim (Σ u)² are the same exact
    // integer/DECIMAL sums in a different associativity, so the row is
    // bit-identical. No per-arm persist, no per-arm action.
    def armRow(arm: String, df: DataFrame): DataFrame = {
      val u = df
        .withColumn("s2", sum(col("qx") * col("qx"))
          .over(Window.partitionBy("vec_id")))
        .filter(col("s2") > 0)
        .select(col("dim"),
          floor(col("qx").cast("double") * lit(pcaScale.toDouble) /
            sqrt(col("s2").cast("double"))).as("u"))
      u.groupBy("dim").agg(
          sum(col("u")).as("ad"),
          sum((col("u") * col("u")).cast(DecimalType(38, 0))).as("td"),
          count(lit(1)).as("cd"))
        .agg(
          sum(col("ad").cast(DecimalType(38, 0))
            * col("ad").cast(DecimalType(38, 0))).as("sa2"),
          sum(col("td")).as("t"),
          (sum(col("cd")) / lit(pcaDim)).cast("long").as("n"))
        .select(lit(arm).as("arm"), col("n"),
          ((col("sa2") - col("t")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double") /
            lit(pcaScale.toDouble) / lit(pcaScale.toDouble))
            .as("mean_cos"))
    }
    Canon.materialized(
      Canon.canonicalize(
        armRow("raw", ex).unionByName(armRow("abtt", whiteEx))),
      ex)
  }

  /** One arm's CTE chain over `$src` (vec_id, dim, qx) → `${pre}row`. */
  private def anisoArmSql(pre: String, src: String, arm: String): String =
    s"""${pre}s2 AS (
       |  SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS s2
       |  FROM $src GROUP BY 1 HAVING CAST(sum(qx * qx) AS BIGINT) > 0),
       |${pre}u AS (
       |  SELECT e.dim,
       |         CAST(floor(CAST(e.qx AS DOUBLE) * $pcaScale.0 /
       |           sqrt(CAST(s.s2 AS DOUBLE))) AS BIGINT) AS u
       |  FROM $src e JOIN ${pre}s2 s USING (vec_id)),
       |${pre}a AS (
       |  SELECT dim, CAST(sum(u) AS BIGINT) AS ad
       |  FROM ${pre}u GROUP BY 1),
       |${pre}st AS (
       |  SELECT CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS t,
       |         CAST(count(*) / $pcaDim AS BIGINT) AS n
       |  FROM ${pre}u),
       |${pre}row AS (
       |  SELECT '$arm' AS arm, n,
       |         CAST((SELECT sum(CAST(ad AS HUGEINT) * ad)
       |               FROM ${pre}a) - t AS DOUBLE)
       |           / CAST(n * (n - 1) AS DOUBLE)
       |           / ${pcaScale}.0 / ${pcaScale}.0 AS mean_cos
       |  FROM ${pre}st)""".stripMargin

  // lazy: textually precedes the ladder vals it composes (object vals
  // initialize in declaration order)
  lazy val embedAnisotropyOracle: String = {
    s"""WITH ${pcaLadderCtes(2)},
       |exr AS MATERIALIZED (
       |  SELECT em.vec_id, i AS dim,
       |         CAST(em.embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x,
       |         CAST(floor(CAST(em.embedding[CAST(i AS INT) + 1]
       |           AS DOUBLE) * $pcaScale.0) AS BIGINT) AS qx
       |  FROM embeddings em, range(0, $pcaDim) t(i)),
       |adots AS (
       |  SELECT e.vec_id,
       |         CAST(sum(e.qx * pw.w) AS BIGINT) AS fp1,
       |         CAST(sum(e.qx * qw.w) AS BIGINT) AS fp2
       |  FROM exr e JOIN pw ON pw.dim = e.dim
       |             JOIN qw ON qw.dim = e.dim
       |  GROUP BY 1),
       |wexr AS MATERIALIZED (
       |  SELECT vec_id, dim, x,
       |         CAST(floor(x * $pcaScale.0) AS BIGINT) AS qx
       |  FROM (
       |    SELECT e.vec_id, e.dim,
       |           e.x
       |             - (CAST(d.fp1 AS DOUBLE) /
       |                  ((SELECT nrm FROM pnorm) * $pcaScale.0))
       |               * (CAST(pw.w AS DOUBLE) / (SELECT nrm FROM pnorm))
       |             - (CAST(d.fp2 AS DOUBLE) /
       |                  ((SELECT nrm FROM qnorm) * $pcaScale.0))
       |               * (CAST(qw.w AS DOUBLE) / (SELECT nrm FROM qnorm))
       |             AS x
       |    FROM exr e JOIN adots d USING (vec_id)
       |               JOIN pw ON pw.dim = e.dim
       |               JOIN qw ON qw.dim = e.dim)),
       |${anisoArmSql("ar", "exr", "raw")},
       |${anisoArmSql("aw", "wexr", "abtt")}
       |SELECT arm, n, mean_cos FROM arrow
       |UNION ALL
       |SELECT arm, n, mean_cos FROM awrow""".stripMargin
  }

  /** Shortlist multiplier for [[annIvfSq8]]'s exact-rescore stage. */
  val sqRerank = 3

  /** IVF-SQ8 with asymmetric scoring + exact rescore — the compressed
    * form of [[annIvf]] (FAISS's `IVFScalarQuantizer` shape): the
    * bucketed index stores int8 codes (4× smaller than float32, 8× than
    * the working doubles — the coarse scan's bandwidth/memory win), the
    * full-precision probe scores against the CODES directly (cosine is
    * scale-invariant, so dequantization by scale/127 cancels and the
    * per-vector scale never enters the search — it is retained in the
    * index row only because a real deployment stores it for readers
    * that DO dequantize), and only the top `sqRerank·topK` shortlist
    * per probe is re-scored against full-precision vectors fetched by
    * vec_id — a broadcast of the tiny shortlist against the corpus, not
    * a corpus shuffle.
    *
    * Everything stays engine-exact (quantization is the floor-half-up
    * arithmetic of [[quantizeInt8]]; scoring is the shared cosine
    * fold), so the full pipeline — training, bucketing, quantization,
    * coarse rank, rescore — carries a DuckDB oracle.
    */
  def annIvfSq8(spark: SparkSession, sfDir: String,
                nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val cachedRows = cachedCentroids(spark, sfDir, e)
    val centroids = cachedRows.toDF("cent_id", "cv")

    val bucketed = assignNearest(e, centroids)
      .select(col("vec_id"), col("v"), col("bucket"))

    // the stored index: codes + scale, NOT the full vector (`scale` in
    // the output also keeps CollapseProject from inlining the max-abs
    // fold into the code lambda — the per-element re-evaluation trap)
    val qIndex = bucketed
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .select(col("vec_id"), col("bucket"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") > 0,
            greatest(lit(-127L), least(lit(127L),
              floor(x * lit(127.0) / col("scale") + lit(0.5))))
              .cast("double"))
            .otherwise(lit(0.0))).as("qv"))

    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probeBuckets = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("cv"), col("pv")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket"))

    // coarse pass: full-precision probe vs int8 codes (asymmetric)
    val coarse = qIndex
      .join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("qcos", cosine(col("pv"), col("qv")))
      .select("probe_id", "pv", "vec_id", "qcos")
    val shortlist = TopK.perKey(coarse, Seq("probe_id"),
      Seq("qcos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      sqRerank * topK)

    // exact rescore of the shortlist only: broadcast it, fetch full
    // vectors by vec_id — the corpus side never shuffles
    val rescored = e
      .join(broadcast(shortlist.select("probe_id", "pv", "vec_id")),
        Seq("vec_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val top = TopK.perKey(rescored, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    Canon.materialized(
      Canon.canonicalize(top.select("probe_id", "rank", "vec_id", "cos")),
      e)
  }

  def annIvfSq8Oracle(nprobe: Int = 4): String =
    s"""${ivfOraclePrefix(nprobe)},
       |qidx AS (
       |  SELECT vec_id, cent_id AS bucket,
       |    list_reduce(list_prepend(0.0, v),
       |                (a, x) -> greatest(a, abs(x))) AS scale, v
       |  FROM bucketed),
       |qv AS (
       |  SELECT vec_id, bucket,
       |    list_transform(v, x -> CASE WHEN scale > 0
       |      THEN CAST(greatest(CAST(-127 AS BIGINT),
       |                 least(CAST(127 AS BIGINT),
       |                   CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)))
       |           AS DOUBLE)
       |      ELSE 0.0 END) AS qv
       |  FROM qidx),
       |coarse AS (
       |  SELECT pb.probe_id, pb.pv, q.vec_id,
       |         ${cosSql("pb.pv", "q.qv")} AS qcos
       |  FROM qv q JOIN pb ON q.bucket = pb.bucket
       |  WHERE q.vec_id <> pb.probe_id),
       |short AS (
       |  SELECT probe_id, pv, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY qcos DESC, vec_id ASC) AS srn
       |    FROM coarse) WHERE srn <= ${sqRerank * topK}),
       |rescored AS (
       |  SELECT s.probe_id, s.vec_id, ${cosSql("s.pv", "e.v")} AS cos
       |  FROM short s JOIN e ON s.vec_id = e.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM rescored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked
       |WHERE rank <= $topK""".stripMargin

  // ---- IVF-PQ: product-quantized ANN tier ------------------------------

  /** PQ geometry: [[pqM]] subspaces (the 64-dim fixture embeddings split
    * into 8×8), [[pqK]] codebook entries per subspace, [[pqIters]]
    * Lloyd rounds per sub-quantizer. 8 codes/vector at 1 byte each is
    * 32× smaller than float64 working vectors — the memory tier after
    * SQ8's 4×, and the standard answer at 10¹⁰ vectors where even int8
    * codes per dimension no longer fit executor memory.
    */
  val pqM = 8
  val pqK = 8
  val pqIters = 2

  /** L2 distance (squared), the PQ training metric — sub-vector NORMS
    * matter for reconstruction (cosine assignment would collapse every
    * magnitude onto a direction, and the reconstructed corpus vector —
    * the thing the asymmetric scan scores against — would be wrong).
    * Bit-exact mirror of [[l2Sql]].
    */
  private def l2(a: Column, b: Column): Column =
    fold(zip_with(a, b, (x, y) => (x - y) * (x - y)))

  private def l2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)"

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), " +
      "(acc, x) -> acc + x)"

  private def norm2Sql(a: String): String =
    s"list_reduce(list_transform($a, x -> x * x), (acc, x) -> acc + x)"

  /** (vec_id, j, sv): each vector exploded into its [[pqM]] sub-vectors
    * (j 0-based; trailing dims beyond M·⌊dim/M⌋ are not sliced — the
    * fixture's 64 splits evenly).
    */
  private def subVectors(e: DataFrame): DataFrame =
    e.withColumn("sub", (size(col("v")) / pqM).cast("int"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(pqM - 1)),
          j => slice(col("v"), j * col("sub") + 1, col("sub"))))
        .as(Seq("j", "sv")))

  /** All [[pqM]] sub-quantizers trained SIMULTANEOUSLY — each vector is
    * split into its [[pqM]] sub-vectors (see [[subVectors]]), so one
    * assignment pass and one mean update per Lloyd round covers every
    * subspace (m separate loops would multiply the round count by m for
    * no reason). Assignment is [[pqEncode]]'s L2 argmin with the
    * (d ASC, cent_id ASC) tie-break; the update is the exact decimal-sum
    * mean (sum and count are order-free, the one double division is
    * IEEE-identical in both engines); empty cells keep their previous
    * centroid. Each round is one partition pass over the vectors with the
    * m·k codebook broadcast and m·k [[CellSums]] partials tree-merged —
    * the [[trainedCentroids]] round.
    */
  private[ext] def trainedPqCodebooks(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val seed = seedVectors(e, pqK)
    val (m, k) = (pqM, seed.length)
    // books(j)(i): entry i of sub-quantizer j, seeded with seed i's slice j
    var books = Array.tabulate(m, k) { (j, i) =>
      val v = seed(i)._2; val sub = v.length / m
      v.slice(j * sub, (j + 1) * sub)
    }
    for (_ <- 0 until pqIters if k > 0) {
      val bc = spark.sparkContext.broadcast(books)
      val sums = try cellSums(e.select(col("v"))) { (s, r) =>
        if (!r.isNullAt(0)) {
          val v = r.getArray(0).toDoubleArray()
          val sub = v.length / m
          var j = 0
          while (j < m) {
            val book = bc.value(j)
            val near = bestIndex(k, greatest = false)(
              i => l2At(book(i), v, j * sub))
            s.add(j * k + near, v, j * sub, sub)
            j += 1
          }
        }
      } finally bc.destroy()
      books = Array.tabulate(m, k)((j, i) =>
        sums.mean(j * k + i).getOrElse(books(j)(i)))
    }
    (for (j <- 0 until m; i <- 0 until k)
      yield (j, seed(i)._1, books(j)(i).toSeq)).toDF("j", "cent_id", "cv")
  }

  /** [[l2]] of `c` and the slice of `v` at `from`: the same left fold. */
  private def l2At(c: Array[Double], v: Array[Double], from: Int): Double = {
    var d = 0.0
    var p = 0
    while (p < c.length) {
      val x = v(from + p); val y = c(p)
      d = d + (x - y) * (x - y)
      p += 1
    }
    d
  }

  /** IVF-PQ ANN — the compressed tier past [[annIvfSq8]] (FAISS
    * `IVFPQ` shape): the coarse IVF stage is unchanged (trained
    * centroids, nprobe nearest buckets per probe), but the bucketed
    * index stores only [[pqM]] one-byte codes per vector — each
    * sub-vector replaced by its nearest sub-codebook entry. The coarse
    * scan never touches vectors at all: per probe it builds the
    * asymmetric distance table (sub-dot and sub-norm² of every codebook
    * entry against the probe's sub-vectors — m·k numbers), and each
    * candidate's cosine-to-reconstruction is a TABLE-LOOKUP sum over
    * its m codes:
    *   cos(p, recon(x)) = Σⱼ pdot[j, codeⱼ]
    *                      / (|p| · sqrt(Σⱼ cn2[j, codeⱼ])).
    * The per-probe shortlist (sqRerank·topK) is then re-scored exactly
    * against full-precision vectors fetched by vec_id, like SQ8.
    *
    * Determinism contract: the partial sums over j fold an
    * ORDER-SORTED list (collect_list(struct(j,…)) → array_sort → fold /
    * list(… ORDER BY j) → list_reduce), so the double addition order is
    * pinned in both engines — a plain SUM over m doubles would be
    * accumulation-order-dependent and break the hash gate.
    *
    * Scale shape: codebooks and ADTs are broadcast (m·k rows each);
    * the corpus side carries codes only, never shuffles on probe (the
    * probe join is a broadcast into the bucketed scan), and the one
    * wide exchange is the (probe, vec)-keyed partial-sum agg, bounded
    * by nprobe-bucket membership × m.
    */
  /** Trained PQ codebooks through the memo/artifact tiers (the
    * [[cachedCentroids]] pattern), as a broadcastable frame. */
  private def cachedPqCodebooks(spark: SparkSession,
                                sfDir: String, e: DataFrame): DataFrame =
    codebookFrame(spark,
      s"${ivfIndexDir(sfDir)}/pq_${pqM}_${pqK}_$pqIters")(
      trainedPqCodebooks(e))

  /** Encode the corpus against `codebooks`: (vec_id, j, code) — one
    * argmin per (vector, sub-space). Shared by the raw arm (over the
    * vectors themselves) and the residual arm (over v − μ_bucket).
    */
  private def pqEncode(e: DataFrame, codebooks: DataFrame): DataFrame =
    subVectors(e.select(col("vec_id"), col("v")))
      .join(broadcast(codebooks), Seq("j"))
      .withColumn("d", l2(col("sv"), col("cv")))
      .groupBy("vec_id", "j")
      .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id")))
        .as("code"))

  /** The PERSISTED code table — the stored index of an IVF-PQ
    * deployment: codes, not vectors, are what it keeps. Until round 14
    * every probe call RE-ENCODED the corpus (m·k interpreted-lambda L2
    * argmins per vector — measured 38 s cold / ~3 s per warm bench
    * pass at sf0.1); encoding is now a one-time published artifact
    * under the same fingerprint-stamped index dir as centroids and
    * codebooks (the annIvf discipline), and probe calls READ codes.
    * Corpus-sized, so it stays parquet — never collected or memoized
    * driver-side, unlike the codebook tier.
    */
  private def cachedPqCodes(spark: SparkSession, sfDir: String,
                            name: String)(build: => DataFrame): DataFrame =
    Artifacts.frame(spark, s"${ivfIndexDir(sfDir)}/$name")(build)

  private def pqCodesName = s"pqcodes_${pqM}_${pqK}_$pqIters"
  private def pqrCodesName = s"pqrcodes_${pqM}_${pqK}_$pqIters"

  def annIvfPq(spark: SparkSession, sfDir: String,
               nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val centroids = cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
    val codebooks = cachedPqCodebooks(spark, sfDir, e)
    val cand = assignNearest(e, centroids)
      .select(col("vec_id"), col("bucket"))
      .join(broadcast(
        probeBuckets(e, centroids, nprobe).select("probe_id", "bucket")),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id")
    Canon.materialized(
      Canon.canonicalize(pqSearchTail(spark, sfDir, e, cand, codebooks)), e)
  }

  /** SPILLED-ASSIGNMENT MULTI-PROBE FOR THE PQ ARM — the [[annIvfSpill]]
    * candidate set (each vector indexed under its 2 nearest cells,
    * queries probe their 2 nearest buckets) feeding the SAME PQ
    * coarse-score → shortlist → exact-rescore tail. MEASURED VERDICT:
    * the candidate-set ceiling lift the spill buys on the flat arm
    * (0.86 → 0.92) mostly does NOT transfer here — end recall moves
    * 0.63 → 0.65 at sf0.01 (and is within noise at sf0.001) because
    * the LOSSY PQ SHORTLIST, not the candidate set, is the binding
    * constraint: recovered boundary vectors get dropped by quantized-
    * cosine ordering noise before the exact rescore sees them. The
    * honest tuning order for a PQ deployment is therefore shortlist
    * width (sqRerank) FIRST, probe shape second — which this pair of
    * gated queries now demonstrates with numbers instead of folklore.
    */
  def annIvfPqSpill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val cents = cachedCentroids(spark, sfDir, e)
    val centroids = cents.toDF("cent_id", "cv")
    val codebooks = cachedPqCodebooks(spark, sfDir, e)
    val cand = spillCands(e, cents, centroids)
      .select("probe_id", "vec_id")
    Canon.materialized(
      Canon.canonicalize(pqSearchTail(spark, sfDir, e, cand, codebooks)), e)
  }

  /** The PQ coarse score over `cand` (probe_id, vec_id): encode
    * (vec → m codes), per-probe asymmetric distance table, table-
    * lookup partial sums folded in j order → (probe_id, vec_id, qcos).
    */
  private def pqCoarse(e: DataFrame, cand: DataFrame,
                       codebooks: DataFrame,
                       codes: DataFrame): DataFrame = {
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

    // per-probe asymmetric distance table: m·k rows, broadcast
    val padt = subVectors(probes.select(col("probe_id").as("vec_id"),
        col("pv").as("v")))
      .select(col("vec_id").as("probe_id"), col("j"), col("sv"))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("probe_id"), col("j"), col("cent_id").as("code"),
        fold(zip_with(col("sv"), col("cv"), (x, y) => x * y)).as("pdot"),
        fold(transform(col("cv"), x => x * x)).as("cn2"))
    val pnorms = probes.select(col("probe_id"),
      fold(transform(col("pv"), x => x * x)).as("pnorm2"))

    // coarse scan: table-lookup partial sums, folded in j order
    cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(padt), Seq("probe_id", "j", "code"))
      .join(broadcast(pnorms), Seq("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(
        sort_array(collect_list(struct(col("j"), col("pdot")))).as("pd"),
        sort_array(collect_list(struct(col("j"), col("cn2")))).as("cn"),
        min("pnorm2").as("pnorm2"))
      .withColumn("dot", fold(transform(col("pd"), s => s.getField("pdot"))))
      .withColumn("rnorm2", fold(transform(col("cn"), s => s.getField("cn2"))))
      .withColumn("qcos",
        col("dot") / (sqrt(col("pnorm2")) * sqrt(col("rnorm2"))))
      .select("probe_id", "vec_id", "qcos")
  }

  /** The PQ search tail shared by the single-assignment and spilled
    * arms: [[pqCoarse]], shortlist, exact rescore, per-probe top-k.
    */
  private def pqSearchTail(spark: SparkSession, sfDir: String,
                           e: DataFrame, cand: DataFrame,
                           codebooks: DataFrame): DataFrame =
    pqRescoreTail(e, pqCoarse(e, cand, codebooks,
      cachedPqCodes(spark, sfDir, pqCodesName)(pqEncode(e, codebooks))))

  /** Shortlist → exact broadcast rescore → per-probe top-k over any
    * coarse (probe_id, vec_id, qcos) frame — shared by the raw-PQ,
    * spilled-PQ and residual-PQ arms.
    */
  private def pqRescoreTail(e: DataFrame, coarse: DataFrame): DataFrame = {
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val shortlist = TopK.perKey(coarse, Seq("probe_id"),
      Seq("qcos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      sqRerank * topK)

    // exact rescore of the broadcast shortlist, as in SQ8
    val rescored = e
      .join(broadcast(shortlist.select("probe_id", "vec_id")), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    val top = TopK.perKey(rescored, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
    top.select("probe_id", "rank", "vec_id", "cos")
  }

  /** [[annIvfPq]]'s oracle: the IVF prefix (training + bucketing +
    * probe buckets), then the PQ chain — sub-vector explode, the
    * [[pqIters]] L2-mean Lloyd rounds unrolled, code assignment, the
    * per-probe ADT, ordered-fold partial sums, shortlist, exact
    * rescore.
    */
  def annIvfPqOracle(nprobe: Int = 4): String =
    pqOracleSql(ivfOraclePrefix(nprobe),
      s"""SELECT pb.probe_id, b.vec_id
         |  FROM bucketed b JOIN pb ON b.cent_id = pb.bucket
         |  WHERE b.vec_id <> pb.probe_id""".stripMargin)

  /** [[annIvfPqSpill]]'s oracle: the same PQ body over the spilled
    * candidate set (`candm` from [[ivfSpillCtes]]). */
  lazy val annIvfPqSpillOracle: String =
    pqOracleSql(s"${ivfOraclePrefix(4)},\n$ivfSpillCtes",
      "SELECT probe_id, vec_id FROM candm")

  /** The PQ oracle body over a `prefix` CTE chain and a candidate
    * subquery `candSql` (probe_id, vec_id, self-pairs excluded) —
    * shared by the single-assignment and spilled arms.
    */
  /** The unrolled PQ Lloyd rounds over sub-vector CTE `subCte`, CTE
    * names prefixed `pre` (codebook CTEs `${pre}q0..${pre}qIters`) —
    * shared by the raw arm (pre = "p", subCte = "sub", byte-identical
    * to the historical SQL) and the residual arm (pre = "rp",
    * subCte = "rsub"). Returns (roundsSql, finalCodebookCte).
    */
  private def pqTrainSql(subCte: String, pre: String): (String, String) = {
    val rounds = (0 until pqIters).map { r =>
      s"""${pre}a${r + 1} AS (
         |  SELECT vec_id, j, cent_id, sv FROM (
         |    SELECT s.vec_id, s.j, c.cent_id, s.sv,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY ${l2Sql("c.cv", "s.sv")} ASC, c.cent_id ASC)
         |             AS rn
         |    FROM $subCte s JOIN ${pre}q$r c ON s.j = c.j) WHERE rn = 1),
         |${pre}m${r + 1} AS (
         |  SELECT j, cent_id, i AS pos,
         |         CAST(sum(CAST(sv[CAST(i AS INT)+1] AS DECIMAL(30,15)))
         |              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
         |  FROM ${pre}a${r + 1}, UNNEST(range(0, len(sv))) t(i)
         |  GROUP BY j, cent_id, i),
         |${pre}q${r + 1} AS (
         |  SELECT c.j, c.cent_id, coalesce(n.mv, c.cv) AS cv
         |  FROM ${pre}q$r c LEFT JOIN (
         |    SELECT j, cent_id, list(m ORDER BY pos) AS mv
         |    FROM ${pre}m${r + 1} GROUP BY 1, 2) n
         |  ON c.j = n.j AND c.cent_id = n.cent_id)""".stripMargin
    }.mkString(",\n")
    (rounds, s"${pre}q$pqIters")
  }

  private def pqOracleCtes(prefix: String, candSql: String): String = {
    val sd = s"(len(v) // $pqM)"
    val (rounds, fin) = pqTrainSql("sub", "p")
    s"""$prefix,
       |sub AS (
       |  SELECT vec_id, CAST(j AS INT) AS j,
       |         v[(CAST(j AS INT) * $sd + 1):((CAST(j AS INT) + 1) * $sd)]
       |           AS sv
       |  FROM e, UNNEST(range(0, $pqM)) t(j)),
       |pq0 AS (
       |  SELECT j, vec_id AS cent_id, sv AS cv FROM sub
       |  WHERE vec_id < $pqK),
       |$rounds,
       |pcode AS (
       |  SELECT vec_id, j, cent_id AS code FROM (
       |    SELECT s.vec_id, s.j, c.cent_id,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j
       |             ORDER BY ${l2Sql("c.cv", "s.sv")} ASC, c.cent_id ASC)
       |             AS rn
       |    FROM sub s JOIN $fin c ON s.j = c.j) WHERE rn = 1),
       |padt AS (
       |  SELECT s.vec_id AS probe_id, s.j, c.cent_id AS code,
       |         ${dotSql("s.sv", "c.cv")} AS pdot,
       |         ${norm2Sql("c.cv")} AS cn2
       |  FROM sub s JOIN $fin c ON s.j = c.j
       |  WHERE s.vec_id < $nProbes),
       |pn AS (
       |  SELECT vec_id AS probe_id, ${norm2Sql("v")} AS pnorm2
       |  FROM e WHERE vec_id < $nProbes),
       |coarse AS (
       |  SELECT cm.probe_id, x.vec_id,
       |         list_reduce(list(adt.pdot ORDER BY adt.j),
       |                     (acc, y) -> acc + y) AS dot,
       |         list_reduce(list(adt.cn2 ORDER BY adt.j),
       |                     (acc, y) -> acc + y) AS rnorm2,
       |         min(pn.pnorm2) AS pnorm2
       |  FROM pcode x
       |  JOIN ($candSql) cm ON x.vec_id = cm.vec_id
       |  JOIN padt adt ON adt.probe_id = cm.probe_id
       |               AND adt.j = x.j AND adt.code = x.code
       |  JOIN pn ON pn.probe_id = cm.probe_id
       |  GROUP BY cm.probe_id, x.vec_id),
       |qscored AS MATERIALIZED (
       |  SELECT probe_id, vec_id,
       |         dot / (sqrt(pnorm2) * sqrt(rnorm2)) AS qcos
       |  FROM coarse)""".stripMargin
  }

  /** Rerank factors swept by [[annPqRerankSweep]] — shortlist widths
    * f·topK around the deployed [[sqRerank]] = 3. */
  val pqSweepFactors: Seq[Int] = Seq(1, 3, 10)

  /** THE SHORTLIST-WIDTH CURVE — the gated row behind the
    * [[annIvfPqSpill]] verdict that shortlist width, not probe shape,
    * binds PQ recall: ONE coarse pass, [[pqSweepFactors]] shortlist
    * widths carved from it, each exactly rescored, each arm's top-k
    * overlap with the brute-force exact top-k summed across probes.
    * Output (rerank_k, n_common, n_exact, recall) — three rows a
    * deployment reads to price rerank width against recall, the same
    * way the nprobe recall rows price probe count. Work shape: the
    * sweep adds only shortlist-sized (≤ f·topK per probe) rescoring
    * to the single coarse scan — the corpus is read once.
    */
  def annPqRerankSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val centroids = cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
    val codebooks = cachedPqCodebooks(spark, sfDir, e)
    val cand = assignNearest(e, centroids)
      .select(col("vec_id"), col("bucket"))
      .join(broadcast(
        probeBuckets(e, centroids, 4).select("probe_id", "bucket")),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id")
    val coarse = pqCoarse(e, cand, codebooks,
      cachedPqCodes(spark, sfDir, pqCodesName)(pqEncode(e, codebooks)))
      .persist()
    pqSweepOverCoarse(spark, sfDir, e, coarse)
  }

  /** The sweep harness over any coarse (probe_id, vec_id, qcos) frame
    * (persisted by the caller): each [[pqSweepFactors]] width carved
    * from the ONE coarse pass, exactly rescored, overlap-counted
    * against the brute-force exact top-k. Shared by the raw-PQ and
    * residual-PQ width curves so the two arms differ ONLY in coarse
    * scoring.
    */
  private def pqSweepOverCoarse(spark: SparkSession, sfDir: String,
                                e: DataFrame, coarse: DataFrame): DataFrame = {
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val exact = cosineTopK(spark, sfDir).select("probe_id", "vec_id")
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    // r15 (§2.4): the swept widths are PREFIXES of one total order
    // (qcos DESC, vec_id ASC) — arm f's shortlist TopK(f·topK) is
    // exactly the {srn ≤ f·topK} rows of TopK(maxF·topK) with the heap
    // rank (= row_number under that order). So: ONE shortlist at the
    // max width, ONE corpus rescore join, per-arm membership by rank
    // filter, ONE TopK keyed (width, probe), ONE overlap join + ONE
    // conditional aggregation — where each arm previously re-ran the
    // coarse TopK, the corpus join and its own join+agg.
    val maxF = pqSweepFactors.max
    val shortAll = TopK.perKey(coarse, Seq("probe_id"),
      Seq("qcos" -> TopK.Desc, "vec_id" -> TopK.Asc), maxF * topK,
      rankCol = Some("srn"))
    val rescored = e
      .join(broadcast(shortAll.select("probe_id", "vec_id", "srn")),
        Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "srn", "cos")
    val armed = rescored
      .withColumn("f", explode(array(pqSweepFactors.map(lit): _*)))
      .filter(col("srn") <= col("f") * lit(topK))
      .select("f", "probe_id", "vec_id", "cos")
    val armTop = TopK.perKey(armed, Seq("f", "probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc), topK)
    // one row holding every arm's overlap count (sum over an empty join
    // coalesced to 0 — count()'s value on the old per-arm empty join)
    val counts = armTop.select("f", "probe_id", "vec_id")
      .join(exact, Seq("probe_id", "vec_id"))
      .agg(
        coalesce(sum(when(col("f") === pqSweepFactors.head, 1L)), lit(0L))
          .as(s"c${pqSweepFactors.head}"),
        pqSweepFactors.tail.map(f =>
          coalesce(sum(when(col("f") === f, 1L)), lit(0L)).as(s"c$f")): _*)
    val armRows = counts.select(explode(array(pqSweepFactors.map(f =>
        struct(lit(f.toLong * topK).as("rerank_k"),
          col(s"c$f").as("n_common"))): _*)).as("a"))
      .select(col("a.rerank_k").as("rerank_k"),
        col("a.n_common").as("n_common"))
    Canon.materialized(
      Canon.canonicalize(armRows
        .crossJoin(nExact)
        .select(col("rerank_k"), col("n_common"), col("n_exact"),
          (col("n_common").cast("double") /
            col("n_exact").cast("double")).as("recall"))),
      e, coarse)
  }

  lazy val annPqRerankSweepOracle: String = {
    val baseCand =
      s"""SELECT pb.probe_id, b.vec_id
         |  FROM bucketed b JOIN pb ON b.cent_id = pb.bucket
         |  WHERE b.vec_id <> pb.probe_id""".stripMargin
    pqSweepOracleSql(pqOracleCtes(ivfOraclePrefix(4), baseCand))
  }

  /** The sweep oracle tail over any CTE chain ending at `qscored`
    * (probe_id, vec_id, qcos) — brute-force exact top-k, one
    * shortlist/rescore/overlap arm per [[pqSweepFactors]] width.
    * Shared by the raw-PQ and residual-PQ curves.
    */
  private def pqSweepOracleSql(ctes: String): String = {
    def arm(f: Int): String =
      s"""sw$f AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |              ORDER BY qcos DESC, vec_id ASC) AS srn
         |    FROM qscored) WHERE srn <= ${f * topK}),
         |sr$f AS (
         |  SELECT s.probe_id, s.vec_id FROM (
         |    SELECT s0.probe_id, s0.vec_id,
         |           row_number() OVER (PARTITION BY s0.probe_id
         |             ORDER BY ${cosSql("p.pv", "e.v")} DESC,
         |                      s0.vec_id ASC) AS rank
         |    FROM sw$f s0 JOIN e ON s0.vec_id = e.vec_id
         |    JOIN probes p ON p.probe_id = s0.probe_id) s
         |  WHERE s.rank <= $topK),
         |sc$f AS (
         |  SELECT CAST(${f * topK} AS BIGINT) AS rerank_k,
         |         CAST(count(*) AS BIGINT) AS n_common
         |  FROM sr$f JOIN x ON sr$f.probe_id = x.probe_id
         |                 AND sr$f.vec_id = x.vec_id)""".stripMargin
    s"""$ctes,
       |scoredF AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |         ${cosSql("p.v", "c.v")} AS cos
       |  FROM e p, e c
       |  WHERE p.vec_id < $nProbes AND c.vec_id <> p.vec_id),
       |x AS MATERIALIZED (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY cos DESC, vec_id ASC) AS rank
       |    FROM scoredF) WHERE rank <= $topK),
       |xt AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM x),
       |${pqSweepFactors.map(arm).mkString(",\n")}
       |SELECT rerank_k, n_common, n_exact,
       |       CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE)
       |         AS recall
       |FROM (${pqSweepFactors.map(f => s"SELECT * FROM sc$f")
        .mkString("\nUNION ALL\n")}) arms
       |CROSS JOIN xt""".stripMargin
  }

  /** Chain ends at `qscored` (probe_id, vec_id, qcos) — the sweep
    * oracle grows several shortlist arms off it. */
  private def pqOracleSql(prefix: String, candSql: String): String =
    pqRescoreOracleSql(pqOracleCtes(prefix, candSql))

  /** Shortlist → exact rescore → ranked top-k tail over any CTE chain
    * ending at `qscored` — shared by the raw-PQ, spilled-PQ and
    * residual-PQ search oracles. */
  private def pqRescoreOracleSql(ctes: String): String =
    s"""$ctes,
       |short AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |              ORDER BY qcos DESC, vec_id ASC) AS srn
       |    FROM qscored) WHERE srn <= ${sqRerank * topK}),
       |rescored AS (
       |  SELECT s.probe_id, s.vec_id, ${cosSql("p.pv", "e.v")} AS cos
       |  FROM short s JOIN e ON s.vec_id = e.vec_id
       |  JOIN probes p ON p.probe_id = s.probe_id),
       |rankedq AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM rescored)
       |SELECT probe_id, rank, vec_id, cos FROM rankedq
       |WHERE rank <= $topK""".stripMargin

  // ---- IVF-PQ with RESIDUAL encoding (IVF-ADC proper) ------------------

  /** Per-bucket EMPIRICAL MEANS under the final assignment — the
    * residual target. The trained coarse centroids are SUM centroids
    * (scale-free under cosine assignment, kept unnormalized for
    * engine-exact training), so a residual against them would be
    * dominated by the centroid itself (≈ −c_b); the textbook IVF-ADC
    * residual is against the cell MEAN. Decimal-sum / exact-count
    * division, identical in both engines; C rows.
    */
  private def bucketMeans(e: DataFrame, centroids: DataFrame): DataFrame =
    bucketMeansOf(assignNearest(e, centroids))

  /** Bucket means over a pre-computed assignment (vec_id, bucket, v) —
    * the r14 seam that lets [[annIvfPqr]]/[[annPqrRerankSweep]] run
    * [[assignNearest]]'s corpus × C pass ONCE for the candidate set
    * and the residual means (guide §2.4: don't compute the same
    * subtree twice). One [[cellSums]] pass (C×d exact partials per
    * partition); DECIMAL sums are order-independent, so means off a
    * persisted assignment are bit-identical to the recomputed path.
    * Eager: returns the C driver-held rows (bucket, mv) as a local frame.
    */
  private def bucketMeansOf(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    val sums = cellSums(assigned.select(col("bucket"), col("v"))) { (s, r) =>
      if (!r.isNullAt(1)) {
        val v = r.getArray(1).toDoubleArray()
        s.add(r.getLong(0), v, 0, v.length)
      }
    }
    sums.cells.map(b => (b, sums.mean(b).get.toSeq)).toDF("bucket", "mv")
  }

  /** Coarse residuals r = v − mean_bucket(v), bucket kept:
    * (vec_id, bucket, v≔r). A narrow broadcast-join map — the corpus
    * never shuffles. */
  private def residualVecs(e: DataFrame, centroids: DataFrame,
                           mu: DataFrame): DataFrame =
    residualVecsOf(assignNearest(e, centroids), mu)

  /** [[residualVecs]] over a precomputed assignment — the
    * [[bucketMeansOf]] seam extended to the residual attach, so callers
    * holding a (persisted) assignment don't re-run the corpus × C pass
    * just to subtract the means (same subtree, cached vs recomputed:
    * bit-identical). */
  private def residualVecsOf(assigned: DataFrame,
                             mu: DataFrame): DataFrame =
    assigned
      .join(broadcast(mu), Seq("bucket"))
      .select(col("vec_id"), col("bucket"),
        zip_with(col("v"), col("mv"), (x, y) => x - y).as("v"))

  /** Residual PQ codebooks (trained on r = v − c_bucket(v)) through
    * the same memo/artifact tiers as [[cachedPqCodebooks]]. */
  private def cachedPqrCodebooks(spark: SparkSession, sfDir: String,
                                 e: DataFrame,
                                 centroids: DataFrame): DataFrame =
    cachedPqrCodebooksFrom(spark, sfDir,
      residualVecs(e, centroids, bucketMeans(e, centroids))
        .select("vec_id", "v"))

  /** [[cachedPqrCodebooks]] with the residual frame supplied by the
    * caller (by-name — never constructed on the warm memo/artifact
    * path). The measured cold path ([[buildIvfPqIndex]]) passes a
    * PERSISTED residual frame shared with the code-table encode, so
    * the corpus × C assignment runs once per build instead of once per
    * Lloyd round per consumer. */
  private def cachedPqrCodebooksFrom(spark: SparkSession, sfDir: String,
                                     res: => DataFrame): DataFrame =
    codebookFrame(spark,
      s"${ivfIndexDir(sfDir)}/pqrm_${pqM}_${pqK}_$pqIters")(
      trainedPqCodebooks(res))

  /** RESIDUAL coarse score (the standard IVF-ADC construction, FAISS
    * `IVFPQ` with `by_residual=true`): each vector's PQ codes encode
    * r = v − μ_b (the bucket mean, see [[bucketMeans]]) rather than v,
    * so the reconstruction is μ_b + r̂ and quantization error shrinks
    * to the RESIDUAL's spread instead of the corpus's. The probe-side
    * decomposition:
    *   dot(p, μ_b + r̂)  = pcdot[b] + Σⱼ pdot[j, codeⱼ]
    *   |μ_b + r̂|²       = cn2b[b] + 2·Σⱼ bdot[b, j, codeⱼ]
    *                       + Σⱼ cn2[j, codeⱼ]
    * — all four lookup tables are tiny broadcasts (nProbes·C, C,
    * C·m·k, m·k rows); per candidate the scan is still a table-lookup
    * fold over its m codes, exactly as the raw arm, plus three scalar
    * adds. The j-folds are order-sorted (the determinism contract);
    * the scalar terms enter with pinned left-association mirrored in
    * the oracle.
    *
    * `cand` carries (probe_id, vec_id, bucket) — the bucket is the
    * candidate's ASSIGNED cell (= the probed cell in the
    * single-assignment arm), which selects its cross-term rows.
    */
  private def pqrCoarse(e: DataFrame, mu: DataFrame,
                        cand: DataFrame, codebooks: DataFrame,
                        codes: DataFrame): DataFrame = {
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

    // probe × residual-codebook ADT: m·k rows per probe, broadcast
    val padt = subVectors(probes.select(col("probe_id").as("vec_id"),
        col("pv").as("v")))
      .select(col("vec_id").as("probe_id"), col("j"), col("sv"))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("probe_id"), col("j"), col("cent_id").as("code"),
        fold(zip_with(col("sv"), col("cv"), (x, y) => x * y)).as("pdot"),
        fold(transform(col("cv"), x => x * x)).as("cn2"))

    // probe × bucket-mean dots (nProbes·C) and mean norms (C)
    val pcd = probes.crossJoin(broadcast(mu))
      .select(col("probe_id"), col("bucket"),
        fold(zip_with(col("pv"), col("mv"), (x, y) => x * y)).as("pcdot"))
    val cnb = mu.select(col("bucket"),
      fold(transform(col("mv"), x => x * x)).as("cn2b"))

    // bucket-mean × residual-codebook cross terms: C·m·k rows
    val bdt = subVectors(mu
        .select(col("bucket").as("vec_id"), col("mv").as("v")))
      .select(col("vec_id").as("bucket"), col("j"), col("sv"))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("bucket"), col("j"), col("cent_id").as("code"),
        fold(zip_with(col("sv"), col("cv"), (x, y) => x * y)).as("bdot"))

    val pnorms = probes.select(col("probe_id"),
      fold(transform(col("pv"), x => x * x)).as("pnorm2"))

    cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(padt), Seq("probe_id", "j", "code"))
      .join(broadcast(bdt), Seq("bucket", "j", "code"))
      .join(broadcast(pcd), Seq("probe_id", "bucket"))
      .join(broadcast(cnb), Seq("bucket"))
      .join(broadcast(pnorms), Seq("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(
        sort_array(collect_list(struct(col("j"), col("pdot")))).as("pd"),
        sort_array(collect_list(struct(col("j"), col("cn2")))).as("cn"),
        sort_array(collect_list(struct(col("j"), col("bdot")))).as("bd"),
        min("pcdot").as("pcdot"), min("cn2b").as("cn2b"),
        min("pnorm2").as("pnorm2"))
      .withColumn("dot", col("pcdot") +
        fold(transform(col("pd"), s => s.getField("pdot"))))
      .withColumn("rnorm2", col("cn2b") +
        lit(2.0) * fold(transform(col("bd"), s => s.getField("bdot"))) +
        fold(transform(col("cn"), s => s.getField("cn2"))))
      .withColumn("qcos",
        col("dot") / (sqrt(col("pnorm2")) * sqrt(col("rnorm2"))))
      .select("probe_id", "vec_id", "qcos")
  }

  /** Candidate set with the assigned bucket kept (the residual arm
    * needs it to select cross-term rows) — over the SHARED assignment
    * frame (see [[bucketMeansOf]]). */
  private def pqrCand(assigned: DataFrame, e: DataFrame,
                      centroids: DataFrame, nprobe: Int): DataFrame =
    assigned
      .select(col("vec_id"), col("bucket"))
      .join(broadcast(
        probeBuckets(e, centroids, nprobe).select("probe_id", "bucket")),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id", "bucket")

  /** IVF-PQ with residual encoding — same probe shape, same shortlist
    * width, same exact-rescore tail as [[annIvfPq]]; ONLY the coarse
    * quantization target changes (residual vs raw). The gated width
    * curve [[annPqrRerankSweep]] prices the difference. MEASURED
    * VERDICT (full DuckDB oracles at both SFs): residual encoding
    * lifts recall@10 at the deployed width 30 from raw-PQ's
    * 0.63/0.63 (sf0.001/sf0.01) to **0.77/0.73 at equal scan cost**
    * (widths 10/30/100: 0.44/0.77/0.86 and 0.37/0.73/0.85) — the r13
    * sweep's "the lossy shortlist binds" ceiling moves by fixing the
    * shortlist's QUALITY, not its width. One construction detail is
    * load-bearing: the residual target must be the bucket MEAN
    * ([[bucketMeans]]); a residual against the engine-exact SUM
    * centroids was measured first and read 0.19/0.58/0.80 at sf0.01 —
    * WORSE than raw PQ, because r ≈ −c_b dominates every residual and
    * the codebooks quantize the centroid, not the spread.
    */
  def annIvfPqr(spark: SparkSession, sfDir: String,
                nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val centroids = cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
    val codebooks = cachedPqrCodebooks(spark, sfDir, e, centroids)
    // r14: ONE corpus × C assignment pass, shared by the candidate set
    // and the residual bucket means (was two assignNearest subtrees)
    val assigned = assignNearest(e, centroids).persist()
    // the bucket means are one eager pass into C local rows, so
    // pqrCoarse's THREE broadcasts off mu (pcd, cnb, bdt) never re-run
    // the corpus × dim means aggregation
    val mu = bucketMeansOf(assigned)
    val codes = cachedPqCodes(spark, sfDir, pqrCodesName)(pqEncode(
      residualVecsOf(assigned, mu)
        .select(col("vec_id"), col("v")), codebooks))
    Canon.materialized(
      Canon.canonicalize(pqRescoreTail(e,
        pqrCoarse(e, mu, pqrCand(assigned, e, centroids, nprobe),
          codebooks, codes))),
      e, assigned)
  }

  /** THE RESIDUAL WIDTH CURVE — [[annPqRerankSweep]]'s twin over the
    * residual coarse score: same single coarse pass, same
    * [[pqSweepFactors]] widths, same exact-rescore arms, so the two
    * gated curves differ ONLY in quantization target and read side by
    * side as the IVF-ADC decision row.
    */
  def annPqrRerankSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val centroids = cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
    val codebooks = cachedPqrCodebooks(spark, sfDir, e, centroids)
    // r14: shared assignment pass (see annIvfPqr)
    val assigned = assignNearest(e, centroids).persist()
    // one eager means pass for pqrCoarse's three broadcast builds (see
    // annIvfPqr)
    val mu = bucketMeansOf(assigned)
    val codes = cachedPqCodes(spark, sfDir, pqrCodesName)(pqEncode(
      residualVecsOf(assigned, mu)
        .select(col("vec_id"), col("v")), codebooks))
    val coarse =
      pqrCoarse(e, mu, pqrCand(assigned, e, centroids, 4), codebooks,
        codes).persist()
    val out = pqSweepOverCoarse(spark, sfDir, e, coarse)
    assigned.unpersist(false)
    out
  }

  /** FULL COLD INDEX BUILD as one measurable unit (the r15 bench row):
    * coarse k-means centroids, raw-PQ and residual-PQ codebooks, and
    * BOTH corpus code tables, forced from the raw parquet into the
    * CURRENT artifact root. Callers (graft.Bench) point
    * `graft.artifact.root` at a cold temp dir and [[clearMemos]] first,
    * so every tier genuinely trains/encodes — this records the build
    * cost the warm probe queries deliberately exclude. Returns the
    * artifact row counts (the two corpus-sized code tables read back),
    * so the caller's count() action has a frame to consume.
    *
    * Past `e`, the raw-PQ arm (codebooks + code table over the vectors)
    * and the residual arm (centroids → assignment → residual codebooks +
    * code table) share nothing, so they run on two driver threads and
    * one arm's jobs fill the executor slots the other's artifact writes
    * and reads leave idle. Every Lloyd round in either arm is one
    * partition pass with tree-merged C×d partials (see
    * [[trainedCentroids]]), so training adds one job per round and the
    * corpus never shuffles for it. Training is bit-deterministic
    * regardless of interleaving (TrainedArtifactPersistSpec pins
    * build ≡ lazy-probe artifacts). If an arm throws, the other arm's
    * running jobs are cancelled and the build waits for it before
    * rethrowing, so no job of the build outlives the call and nothing is
    * published after it; every frame the build persisted is released.
    */
  private[graft] def buildIvfPqIndex(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    import spark.implicits._
    import java.util.concurrent.{Callable, ExecutionException,
      ExecutorCompletionService, Executors}
    val sc = spark.sparkContext
    val tag = s"ivf-pq-build-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(2)
    val arms = new ExecutorCompletionService[Long](pool)
    def arm(body: => Long) = arms.submit(new Callable[Long] {
      def call(): Long = {
        sc.addJobTag(tag)
        try body finally sc.removeJobTag(tag)
      }
    })
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    try {
      e.count() // both arms' first jobs otherwise race on the cache
      val rawF = arm {
        val pqCb = cachedPqCodebooks(spark, sfDir, e)
        cachedPqCodes(spark, sfDir, pqCodesName)(pqEncode(e, pqCb)).count()
      }
      val resF = arm {
        val centroids =
          cachedCentroids(spark, sfDir, e).toDF("cent_id", "cv")
        // ONE corpus × C assignment and ONE bucket-means pass feed BOTH
        // the residual codebook training and the code-table encode (§2.4)
        val assigned = assignNearest(e, centroids).persist()
        try {
          val res = residualVecsOf(assigned, bucketMeansOf(assigned))
            .select(col("vec_id"), col("v")).persist()
          try {
            val pqrCb = cachedPqrCodebooksFrom(spark, sfDir, res)
            cachedPqCodes(spark, sfDir, pqrCodesName)(
              pqEncode(res, pqrCb)).count()
          } finally { res.unpersist(false); () }
        } finally { assigned.unpersist(false); () }
      }
      // the first arm to fail cancels the other's running jobs; the
      // build returns or throws only once both arms have ended
      val first = arms.take()
      if (scala.util.Try(first.get()).isFailure) sc.cancelJobsWithTag(tag)
      arms.take()
      try {
        first.get() // the first failure, not the cancellation it caused
        Seq((rawF.get(), resF.get())).toDF("n_pq_codes", "n_pqr_codes")
      } catch { case x: ExecutionException => throw x.getCause }
    } finally {
      pool.shutdown()
      e.unpersist(false)
      ()
    }
  }

  /** Single-assignment candidates with bucket, oracle side. */
  private val pqrBaseCandSql: String =
    s"""SELECT pb.probe_id, b.vec_id, b.cent_id AS bucket
       |  FROM bucketed b JOIN pb ON b.cent_id = pb.bucket
       |  WHERE b.vec_id <> pb.probe_id""".stripMargin

  def annIvfPqrOracle(nprobe: Int = 4): String =
    pqRescoreOracleSql(pqrOracleCtes(ivfOraclePrefix(nprobe),
      pqrBaseCandSql))

  lazy val annPqrRerankSweepOracle: String =
    pqSweepOracleSql(pqrOracleCtes(ivfOraclePrefix(4), pqrBaseCandSql))

  /** The residual-PQ oracle body: residual construction against the
    * trained coarse centroids, the [[pqIters]] Lloyd rounds over
    * residual sub-vectors, code assignment, the four lookup tables,
    * and the decomposed coarse score — every fold j-ordered, every
    * scalar add left-associated to mirror [[pqrCoarse]] bit-exactly.
    */
  private def pqrOracleCtes(prefix: String, candSql: String): String = {
    val sd = s"(len(v) // $pqM)"
    val csd = s"(len(mv) // $pqM)"
    val (rounds, fin) = pqTrainSql("rsub", "rp")
    s"""$prefix,
       |sub AS (
       |  SELECT vec_id, CAST(j AS INT) AS j,
       |         v[(CAST(j AS INT) * $sd + 1):((CAST(j AS INT) + 1) * $sd)]
       |           AS sv
       |  FROM e, UNNEST(range(0, $pqM)) t(j)),
       |mu0 AS (
       |  SELECT cent_id AS bucket, i AS pos,
       |         CAST(sum(CAST(v[CAST(i AS INT)+1] AS DECIMAL(30,15)))
       |              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
       |  FROM bucketed, UNNEST(range(0, len(v))) t(i)
       |  GROUP BY 1, 2),
       |mu AS MATERIALIZED (
       |  SELECT bucket, list(m ORDER BY pos) AS mv FROM mu0
       |  GROUP BY bucket),
       |res AS (
       |  SELECT b.vec_id, b.cent_id AS bucket,
       |         list_transform(list_zip(b.v, m.mv), p -> p[1] - p[2]) AS v
       |  FROM bucketed b JOIN mu m ON b.cent_id = m.bucket),
       |rsub AS (
       |  SELECT vec_id, CAST(j AS INT) AS j,
       |         v[(CAST(j AS INT) * $sd + 1):((CAST(j AS INT) + 1) * $sd)]
       |           AS sv
       |  FROM res, UNNEST(range(0, $pqM)) t(j)),
       |rpq0 AS (
       |  SELECT j, vec_id AS cent_id, sv AS cv FROM rsub
       |  WHERE vec_id < $pqK),
       |$rounds,
       |rcode AS (
       |  SELECT vec_id, j, cent_id AS code FROM (
       |    SELECT s.vec_id, s.j, c.cent_id,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j
       |             ORDER BY ${l2Sql("c.cv", "s.sv")} ASC, c.cent_id ASC)
       |             AS rn
       |    FROM rsub s JOIN $fin c ON s.j = c.j) WHERE rn = 1),
       |padt AS (
       |  SELECT s.vec_id AS probe_id, s.j, c.cent_id AS code,
       |         ${dotSql("s.sv", "c.cv")} AS pdot,
       |         ${norm2Sql("c.cv")} AS cn2
       |  FROM sub s JOIN $fin c ON s.j = c.j
       |  WHERE s.vec_id < $nProbes),
       |csub AS (
       |  SELECT bucket, CAST(j AS INT) AS j,
       |         mv[(CAST(j AS INT) * $csd + 1):((CAST(j AS INT) + 1) * $csd)]
       |           AS sv
       |  FROM mu, UNNEST(range(0, $pqM)) t(j)),
       |bdt AS (
       |  SELECT cs.bucket, cs.j, c.cent_id AS code,
       |         ${dotSql("cs.sv", "c.cv")} AS bdot
       |  FROM csub cs JOIN $fin c ON cs.j = c.j),
       |pcd AS (
       |  SELECT p.probe_id, m.bucket,
       |         ${dotSql("p.pv", "m.mv")} AS pcdot
       |  FROM probes p CROSS JOIN mu m),
       |cnb AS (
       |  SELECT bucket, ${norm2Sql("mv")} AS cn2b FROM mu),
       |pn AS (
       |  SELECT vec_id AS probe_id, ${norm2Sql("v")} AS pnorm2
       |  FROM e WHERE vec_id < $nProbes),
       |coarse AS (
       |  SELECT cm.probe_id, x.vec_id,
       |         min(pcd.pcdot)
       |           + list_reduce(list(adt.pdot ORDER BY adt.j),
       |                         (acc, y) -> acc + y) AS dot,
       |         min(cnb.cn2b)
       |           + 2.0 * list_reduce(list(bd.bdot ORDER BY bd.j),
       |                               (acc, y) -> acc + y)
       |           + list_reduce(list(adt.cn2 ORDER BY adt.j),
       |                         (acc, y) -> acc + y) AS rnorm2,
       |         min(pn.pnorm2) AS pnorm2
       |  FROM rcode x
       |  JOIN ($candSql) cm ON x.vec_id = cm.vec_id
       |  JOIN padt adt ON adt.probe_id = cm.probe_id
       |               AND adt.j = x.j AND adt.code = x.code
       |  JOIN bdt bd ON bd.bucket = cm.bucket
       |             AND bd.j = x.j AND bd.code = x.code
       |  JOIN pcd ON pcd.probe_id = cm.probe_id AND pcd.bucket = cm.bucket
       |  JOIN cnb ON cnb.bucket = cm.bucket
       |  JOIN pn ON pn.probe_id = cm.probe_id
       |  GROUP BY cm.probe_id, x.vec_id),
       |qscored AS MATERIALIZED (
       |  SELECT probe_id, vec_id,
       |         dot / (sqrt(pnorm2) * sqrt(rnorm2)) AS qcos
       |  FROM coarse)""".stripMargin
  }

  // ---- int8 symmetric quantization ------------------------------------

  /** Symmetric int8 quantization of the embedding column — the standard
    * vector-index compression (4× over float32): per vector,
    * scale = max|x|, qᵢ = clamp(⌊xᵢ·127/scale + 0.5⌋, −127, 127). Rounding
    * is spelled as ⌊x+0.5⌋ (round-half-up) because engine-native round()
    * tie-breaking differs across engines; the floor form is pure IEEE
    * arithmetic, identical everywhere.
    *
    * One narrow codegen-friendly projection — no shuffle, no state:
    * quantization pipelines inside the scan stage and scales perfectly.
    * The output row summarizes each vector (extremes, L1 mass, and the
    * dequantization MSE that an index built on these codes would absorb);
    * the code array itself stays an internal column because the
    * cross-engine compare boundary is scalar-typed.
    */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val d = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .withColumn("q", transform(col("v"), x =>
        when(col("scale") > 0,
          greatest(lit(-127L), least(lit(127L),
            floor(x * lit(127.0) / col("scale") + lit(0.5)))))
          .otherwise(lit(0L))))
      .withColumn("dq_mse",
        aggregate(
          zip_with(col("v"), col("q"), (x, q) => {
            val dq = q.cast("double") * col("scale") / lit(127.0)
            (x - dq) * (x - dq)
          }),
          lit(0.0), (a, e) => a + e) / size(col("v")).cast("double"))
    Canon.canonicalize(d.select(
      col("vec_id"), col("scale"),
      array_min(col("q")).as("q_min"),
      array_max(col("q")).as("q_max"),
      aggregate(col("q"), lit(0L), (a, q) => a + abs(q)).as("q_l1"),
      col("dq_mse")))
  }

  val quantizeInt8Oracle: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, v,
      |    list_reduce(list_prepend(0.0, v),
      |                (a, x) -> greatest(a, abs(x))) AS scale
      |  FROM e),
      |q AS (
      |  SELECT vec_id, v, scale,
      |    list_transform(v, x -> CASE WHEN scale > 0
      |      THEN greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
      |             CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)))
      |      ELSE CAST(0 AS BIGINT) END) AS qv
      |  FROM s)
      |SELECT vec_id, scale,
      |  CAST(list_min(qv) AS BIGINT) AS q_min,
      |  CAST(list_max(qv) AS BIGINT) AS q_max,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
      |              (a, x) -> a + abs(x)) AS q_l1,
      |  list_reduce(list_prepend(0.0,
      |    list_transform(list_zip(v, qv),
      |      p -> (p[1] - p[2] * scale / 127.0)
      |         * (p[1] - p[2] * scale / 127.0))),
      |    (a, x) -> a + x) / CAST(len(v) AS DOUBLE) AS dq_mse
      |FROM q""".stripMargin

  // ---- random-projection dimensionality reduction --------------------

  /** JL random projection of every embedding to
    * [[graft.functions.RandomProject.defaultOutDim]] dimensions,
    * emitted long-form (vec_id, j, y) for the representation-stable
    * oracle compare. One codegen'd projection per row, zero shuffles —
    * at 100 TB this pipelines inside the scan stage, and downstream
    * similarity work runs on vectors 8× smaller. Hyperplanes are the
    * shared twin-family arithmetic, so the projection needs no stored
    * matrix and the op carries a full DuckDB oracle; for j < 64 the
    * sign of y_j is bit j of [[embedLsh]]'s sketch (spec-pinned).
    */
  def embedProject(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    Canon.canonicalize(e.select(col("vec_id"),
      posexplode(graft.functions.RandomProject(col("v")))
        .as(Seq("j", "y"))))
  }

  val embedProjectOracle: String = {
    import graft.functions.{HyperplaneBuckets => HB, RandomProject => RP}
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id, j,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(0, len(v)), i ->
       |      v[CAST(i AS INT) + 1] *
       |      (CAST((${HB.A} * (j * len(v) + i + 1) + ${HB.B})
       |            % ${HB.P} AS DOUBLE) / ${HB.P} - 0.5))),
       |    (acc, x) -> acc + x) AS y
       |FROM e, UNNEST(range(0, ${RP.defaultOutDim})) AS t(j)""".stripMargin
  }

  // ---- per-dimension moments + standardization -----------------------

  /** Fixed-point scale for the moments pass: 1e-6 units. Headroom: with
    * |x| ≤ ~3 each fp ≤ 3e6, fp² ≤ ~1e13, so the per-dim sum of squares
    * stays inside int64 up to ~9·10⁵ vectors per dimension PER FINAL
    * AGGREGATION — beyond that, widen the accumulator to DECIMAL(38,0)
    * (one cast at the agg; the map-side shape is unchanged).
    */
  val momentsScale = 1000000.0

  /** Per-DIMENSION corpus moments of the embedding column — n, mean,
    * variance for every coordinate: the pre-flight before
    * standardization, PCA-style whitening, or quantizer calibration
    * (a dimension with near-zero variance carries no signal and a
    * shifted mean breaks symmetric int8 quantization).
    *
    * Determinism: float sums are order-dependent, so each element is
    * first snapped to fixed point (⌊x·1e6 + 0.5⌋ — the engine-portable
    * half-up form, [[quantizeInt8]]'s trick) and summed as EXACT
    * integers; mean/variance then derive from those integers by the
    * identical IEEE expression in both engines — bit-reproducible on
    * any partitioning.
    *
    * Scale shape: posexplode is a NARROW transform pipelined inside the
    * scan stage (no shuffle carries the exploded rows); the groupBy(dim)
    * partial-aggregates map-side to ≤ dim rows per task, so the one
    * exchange moves dim × n_tasks tiny rows regardless of corpus size.
    */
  def embedMoments(spark: SparkSession, sfDir: String): DataFrame = {
    // deliberately NOT embeddings(): that helper repartitions by vec_id
    // for regex/signature-heavy per-row work, but the moments pass is a
    // cheap cast+floor explode straight into a map-side partial agg — a
    // corpus-wide exchange ahead of it would be pure waste at scale
    val exploded = Tables.load(spark, sfDir, "embeddings")
      .select(posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .withColumn("fp",
        floor(col("x") * lit(momentsScale) + lit(0.5)).cast("long"))
    val agg = exploded.groupBy("dim").agg(
      count(lit(1)).as("n_vecs"),
      sum("fp").as("sum_fp"),
      sum(col("fp") * col("fp")).as("sumsq_fp"))
    Canon.canonicalize(agg.select(
      col("dim").cast("long").as("dim"),
      col("n_vecs"), col("sum_fp"),
      (col("sum_fp").cast("double") / col("n_vecs").cast("double") /
        lit(momentsScale)).as("mean"),
      ((col("sumsq_fp").cast("double") -
        col("sum_fp").cast("double") * col("sum_fp").cast("double") /
          col("n_vecs").cast("double")) /
        col("n_vecs").cast("double") /
        lit(momentsScale * momentsScale)).as("variance")))
  }

  /** The identical fixed-point pipeline in DuckDB; the fixture dimension
    * is 64 (generate_series is constant-bounded — DuckDB 1.0 has no
    * lateral WITH ORDINALITY).
    */
  val embedMomentsOracle: String =
    s"""WITH x AS (
       |  SELECT g.i - 1 AS dim, CAST(embedding[g.i] AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, 64) AS g(i)),
       |f AS (
       |  SELECT dim, CAST(floor(x * $momentsScale + 0.5) AS BIGINT) AS fp
       |  FROM x),
       |a AS (
       |  SELECT dim, count(*) AS n_vecs, CAST(sum(fp) AS BIGINT) AS sum_fp,
       |         CAST(sum(fp * fp) AS BIGINT) AS sumsq_fp
       |  FROM f GROUP BY 1)
       |SELECT dim, n_vecs, sum_fp,
       |  CAST(sum_fp AS DOUBLE) / CAST(n_vecs AS DOUBLE)
       |    / $momentsScale AS mean,
       |  (CAST(sumsq_fp AS DOUBLE) - CAST(sum_fp AS DOUBLE)
       |     * CAST(sum_fp AS DOUBLE) / CAST(n_vecs AS DOUBLE))
       |    / CAST(n_vecs AS DOUBLE)
       |    / ${momentsScale * momentsScale} AS variance
       |FROM a""".stripMargin

  /** Standardize the embedding column to per-dimension zero mean / unit
    * variance using [[embedMoments]]: the moments table collapses to ONE
    * broadcast row of (means[], stds[]) ordered by dim, then the
    * transform is a narrow zip over each vector — no shuffle touches
    * the corpus. Zero-variance dimensions pass through centered only
    * (divide-by-zero guard). Library op: spec-verified (the oracle-faced
    * surface is [[embedMoments]] itself).
    */
  def standardize(spark: SparkSession, sfDir: String): DataFrame = {
    val m = embedMoments(spark, sfDir)
      .agg(
        array_sort(collect_list(struct(col("dim"), col("mean"),
          col("variance")))).as("ms"))
      .select(
        transform(col("ms"), s => s.getField("mean")).as("means"),
        transform(col("ms"), s =>
          sqrt(s.getField("variance"))).as("stds"))
    embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(m))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("v"), col("means"), (x, mu) => x - mu),
          col("stds"),
          (c, s) => when(s > 0, c / s).otherwise(c)).as("z"))
  }

  // ---- domain clustering + cluster-balanced mixture -------------------

  /** DOMAIN DISCOVERY + BALANCED MIXTURE: cluster the corpus by
    * embedding (the SAME memoized k-means index the ANN family trains —
    * zero extra training cost when both run), label each cluster with
    * its modal document source, and emit the repeat factors that would
    * rebalance the mixture to uniform-over-domains — the
    * cluster-balanced sampling recipe (the embedding-space analogue of
    * the source-keyed [[SampleOps.mixturePlan]]: there the domain labels
    * are GIVEN; here they are DISCOVERED from content).
    *
    * Scale shape: nearest-centroid assignment is the broadcast +
    * map-side-reduced pass [[assignNearest]] documents; everything after
    * is bounded — per-cluster and per-(cluster, source) keyed aggs fold
    * to ≤ C·|sources| rows, the modal source is a min_by over that
    * bounded table, and the 1-row total broadcasts (the mixturePlan
    * integer-div discipline for target counts).
    */
  def domainMixture(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val cachedRows = cachedCentroids(spark, sfDir, e)
    val centroids = cachedRows.toDF("cent_id", "cv")
    val assigned = assignNearest(e, centroids)
      .select(col("vec_id"), col("bucket"))
    val docs = TextOps.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    val joined = assigned
      .join(docs, assigned("vec_id") === docs("doc_id"))
      .select(col("bucket"), col("source"))
    val perSrc = joined.groupBy("bucket", "source")
      .agg(count(lit(1)).as("c"))
    val top = perSrc.groupBy("bucket").agg(
      min_by(col("source"),
        struct((-col("c")).as("nc"), col("source"))).as("top_source"))
    val cc = joined.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    val tot = cc.agg(sum("n_docs").as("n_total"))
    val out = Canon.canonicalize(cc.join(top, Seq("bucket"))
      .crossJoin(broadcast(tot))
      .withColumn("target_docs", expr(s"n_total div $ivfCentroids"))
      .select(col("bucket").as("cluster_id"), col("n_docs"),
        col("top_source"), col("target_docs"),
        (col("target_docs").cast("double") / col("n_docs").cast("double"))
          .as("repeat_factor")))
    Canon.materialized(out, e)
  }

  // ---- embeddings data contract ---------------------------------------

  /** Fixture embedding dimensionality (the contract bound). */
  val embedDim = 64

  /** EMBEDDINGS DATA CONTRACT: the [[graft.ops.Quality]] expectation
    * machinery instantiated on the embeddings table — the checks an
    * embedding store runs before an index build trains on garbage:
    * non-null ids/labels, exact dimensionality, no zero vectors, unique
    * vec_id, and BIDIRECTIONAL integrity with `documents` (every vector
    * has a document AND every document has a vector — the reverse
    * direction is its own expectation call over `documents`, unioned in).
    * Array facts are pre-derived into scalar columns (dim, is_zero) so
    * the shared Rule ADT — and its one-scan fold — applies unchanged.
    */
  def embedExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Quality
    import graft.ops.Quality.Rule
    val e = embeddings(spark, sfDir)
    val docs = TextOps.documents(spark, sfDir)
    val derived = e.select(col("vec_id"), col("label"),
      size(col("embedding")).cast("long").as("dim"),
      (array_max(transform(col("embedding"),
        x => abs(x.cast("double")))) === 0.0).cast("string").as("is_zero"))
    val fwd = Quality.expectations(derived, Seq(
      Rule.NotNull("vec_id"), Rule.NotNull("label"),
      Rule.InRange("dim", embedDim, embedDim),
      Rule.InSet("is_zero", Seq("false")),
      Rule.Unique(Seq("vec_id")),
      Rule.RefIntegrity(Seq("vec_id"), "documents", Seq("doc_id"))),
      refs = Map("documents" -> docs))
    val rev = Quality.expectations(docs.select(col("doc_id")), Seq(
      Rule.RefIntegrity(Seq("doc_id"), "embeddings", Seq("vec_id"))),
      refs = Map("embeddings" -> e))
    Canon.canonicalize(fwd.unionByName(rev))
  }

  /** Generated from the SAME rule names/predicates discipline as
    * q_expectations' oracle, over the derived scalar view of the
    * embeddings array.
    */
  val embedExpectationsOracle: String = {
    import graft.ops.Quality
    import graft.ops.Quality.Rule
    val valueRules = Seq(
      Rule.NotNull("vec_id"), Rule.NotNull("label"),
      Rule.InRange("dim", embedDim, embedDim),
      Rule.InSet("is_zero", Seq("false")))
    val baseCols = valueRules.zipWithIndex.map { case (r, i) =>
      s"""CAST(sum(CASE WHEN ${Quality.satisfiedSql(r)}
         |  THEN 0 ELSE 1 END) AS BIGINT) AS v_$i""".stripMargin
    }.mkString(",\n  ")
    val valueSelects = valueRules.zipWithIndex.map { case (r, i) =>
      s"""SELECT '${r.name}' AS rule_name, n_rows,
         |  v_$i AS n_violations, v_$i = 0 AS passed FROM base"""
        .stripMargin
    }
    s"""WITH eb AS (
       |  SELECT vec_id, label,
       |    CAST(len(embedding) AS BIGINT) AS dim,
       |    CAST(list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) = 0 AS VARCHAR) AS is_zero
       |  FROM embeddings),
       |base AS (
       |  SELECT count(*) AS n_rows,
       |  $baseCols
       |  FROM eb)
       |${valueSelects.mkString("\nUNION ALL\n")}
       |UNION ALL
       |SELECT 'unique(vec_id)' AS rule_name,
       |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows,
       |  CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0)
       |    AS BIGINT) AS n_violations,
       |  coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0) = 0 AS passed
       |FROM (SELECT count(*) AS cnt FROM embeddings GROUP BY vec_id)
       |UNION ALL
       |SELECT 'ref(vec_id->documents)' AS rule_name,
       |  (SELECT count(*) FROM embeddings) AS n_rows,
       |  (SELECT count(*) FROM embeddings t WHERE t.vec_id IS NOT NULL
       |     AND NOT EXISTS (SELECT 1 FROM documents r
       |                     WHERE r.doc_id = t.vec_id)) AS n_violations,
       |  (SELECT count(*) FROM embeddings t WHERE t.vec_id IS NOT NULL
       |     AND NOT EXISTS (SELECT 1 FROM documents r
       |                     WHERE r.doc_id = t.vec_id)) = 0 AS passed
       |UNION ALL
       |SELECT 'ref(doc_id->embeddings)' AS rule_name,
       |  (SELECT count(*) FROM documents) AS n_rows,
       |  (SELECT count(*) FROM documents t WHERE t.doc_id IS NOT NULL
       |     AND NOT EXISTS (SELECT 1 FROM embeddings r
       |                     WHERE r.vec_id = t.doc_id)) AS n_violations,
       |  (SELECT count(*) FROM documents t WHERE t.doc_id IS NOT NULL
       |     AND NOT EXISTS (SELECT 1 FROM embeddings r
       |                     WHERE r.vec_id = t.doc_id)) = 0 AS passed"""
      .stripMargin
  }

  /** Composes the IVF oracle prefix (training + `bucketed`; the unused
    * probe CTEs cost nothing) with the bounded mixture rollups.
    */
  val domainMixtureOracle: String =
    s"""${ivfOraclePrefix(1)},
       |jn AS (
       |  SELECT b.cent_id AS cluster_id, d.source
       |  FROM bucketed b JOIN documents d ON d.doc_id = b.vec_id),
       |cc AS (SELECT cluster_id, count(*) AS n_docs FROM jn GROUP BY 1),
       |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cc),
       |ts AS (
       |  SELECT cluster_id, source AS top_source FROM (
       |    SELECT cluster_id, source,
       |           row_number() OVER (PARTITION BY cluster_id
       |             ORDER BY count(*) DESC, source ASC) AS rn
       |    FROM jn GROUP BY cluster_id, source) WHERE rn = 1)
       |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs, top_source,
       |       CAST(n_total // $ivfCentroids AS BIGINT) AS target_docs,
       |       CAST(n_total // $ivfCentroids AS DOUBLE) /
       |         CAST(n_docs AS DOUBLE) AS repeat_factor
       |FROM cc JOIN ts USING (cluster_id), tt""".stripMargin

  // ---- persisted IVF index + merge/forget lifecycle -------------------

  /** The ANN index's DELETE/UPSERT story, closing the artifact-lifecycle
    * asymmetry with the LSH and LM indexes:
    *
    *  - the POSTING LISTS (vec_id, v, bucket) are per-vector state — a
    *    vector's bucket is a pure function of its embedding and the
    *    codebook — so MERGE is "encode the batch with the stored
    *    codebook and append" and FORGET is an anti-join, both EXACTLY
    *    equal to re-encoding the surviving corpus with the same
    *    codebook (IvfLifecycleSpec pins the table equalities and the
    *    merge-then-forget round trip back to base);
    *  - the CODEBOOK (k-means centroids; the SQ8/PQ codebooks follow
    *    identically, being pure per-vector functions of v + codebook)
    *    is FROZEN across the lifecycle: removing one vector's influence
    *    from an iteratively-trained quantizer has no closed inverse
    *    (unlike the LM index's subtractive counts or the BPE ledger's
    *    word algebra), so the honest contract is rebuild-with-
    *    fingerprint — the artifact dir is stamped with the data
    *    fingerprint, a refreshed corpus misses it and retrains, and
    *    staleness between refreshes is an OBSERVABLE (the corpus-drift
    *    gate wires `q_corpus_drift` to exactly this refresh decision).
    *    Frozen-codebook probing stays CORRECT (it searches real
    *    vectors; only recall degrades as the distribution drifts) —
    *    the production trade every IVF deployment makes.
    *
    * Slices reuse the DedupOps permille split on vec_id: base corpus
    * < 800‰, merge batch [800, 900)‰, probes ≥ 900‰.
    */
  private def allVecs(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  private def vecSideLt(permille: Int): Column =
    DedupOps.sideBucket(col("vec_id")) < permille

  /** The tables of a lifecycle IVF index. */
  private val ivfLcParts = Seq("centroids", "postings")

  /** Build (or reuse) the base-slice IVF index: codebook trained on
    * the base slice only, postings = the base slice encoded under it.
    */
  def ivfIndex(spark: SparkSession, sfDir: String): String =
    Artifacts.getOrBuild(ivfFoldBaseDir(sfDir), ivfLcParts) { dir =>
      val base = allVecs(spark, sfDir)
        .filter(vecSideLt(DedupOps.incrementalCorpusPermille))
        .persist()
      try {
        trainedCentroids(base).write.parquet(s"$dir/centroids")
        assignNearest(base, spark.read.parquet(s"$dir/centroids"))
          .select(col("vec_id"), col("v"), col("bucket"))
          .write.parquet(s"$dir/postings")
      } finally { base.unpersist(false); () }
    }

  /** MERGE new vectors into a persisted IVF index: encode them with the
    * STORED codebook (the base corpus is never re-read, the codebook
    * never moves) and append to the postings. New stamped `…_m_<tag>`
    * dir; merged ≡ re-encoding base ∪ batch under the same codebook.
    */
  def ivfIndexMerge(spark: SparkSession, sfDir: String,
                    batchVecs: DataFrame, batchTag: String): String = {
    val base = ivfIndex(spark, sfDir)
    Artifacts.derived(base, "m", batchTag, ivfLcParts) { dir =>
      val cents = spark.read.parquet(s"$base/centroids")
      spark.read.parquet(s"$base/postings")
        .union(assignNearest(batchVecs, cents)
          .select(col("vec_id"), col("v"), col("bucket")))
        .write.parquet(s"$dir/postings")
      cents.write.parquet(s"$dir/centroids")
    }
  }

  /** FORGET vectors from a persisted IVF index — postings are per-vector
    * state, so the anti-join IS the re-encode of the surviving corpus
    * (codebook untouched; see the lifecycle scaladoc for why centroid
    * influence is rebuild-with-fingerprint, not subtracted). New
    * stamped `…_f_<tag>` dir.
    */
  def ivfIndexForget(spark: SparkSession, baseDir: String,
                     forgetIds: DataFrame, tag: String): String =
    Artifacts.derived(baseDir, "f", tag, ivfLcParts) { dir =>
      spark.read.parquet(s"$baseDir/postings")
        .join(broadcast(forgetIds.select("vec_id")), Seq("vec_id"),
          "left_anti")
        .write.parquet(s"$dir/postings")
      spark.read.parquet(s"$baseDir/centroids")
        .write.parquet(s"$dir/centroids")
    }

  // ---- streaming IVF admission fold (admission-fold family, ANN arm) --

  /** Base dir of the lifecycle IVF index. */
  private[graft] def ivfFoldBaseDir(sfDir: String): String =
    s"${ivfIndexDir(sfDir)}_lc"

  /** The table of each postings generation (centroids stay frozen in
    * the base).
    */
  private[graft] val ivfFoldParts = Seq("postings")

  /** STREAMING POSTINGS FOLD — the ANN arm of the admission-fold
    * family (SHA/LSH/HLL/PCA/HDR already fold): each micro-batch is
    * encoded under the FROZEN base codebook and its postings APPENDED
    * onto the running index. Postings are per-vector state, so append
    * IS the fold and fold ≡ from-scratch encode of base ∪ batches —
    * the lifecycle law [[ivfIndexMerge]] rests on, made a streaming
    * chain through [[Generations.fold]].
    * Returns the lifecycle probes' search results over the folded
    * index, stamped with the batch id — the gate exercises the actual
    * SEARCH, not just the bucket bookkeeping.
    */
  def ivfFold(spark: SparkSession, sfDir: String, feedTag: String,
              batch: DataFrame, batchId: Long): DataFrame = {
    val base = ivfIndex(spark, sfDir)
    val out = Generations.fold(base, ivfFoldParts, feedTag, batchId) {
      (prev, tmp) =>
        val cents = spark.read.parquet(s"$base/centroids")
        spark.read.parquet(s"$prev/postings")
          .union(assignNearest(batch, cents)
            .select(col("vec_id"), col("v"), col("bucket")))
          .write.parquet(s"$tmp/postings")
    }
    Canon.canonicalize(
      probeIvfIndexTables(spark.read.parquet(s"$base/centroids"),
        spark.read.parquet(s"$out/postings"),
        lifecycleProbes(spark, sfDir))
        .withColumn("batch_id", lit(batchId))
        .select("batch_id", "probe_id", "rank", "vec_id", "cos"))
  }

  /** Retire old postings generations — the Generations contract. */
  def ivfGc(sfDir: String, feedTag: String, keepLast: Int): Seq[Long] =
    Generations.gc(ivfFoldBaseDir(sfDir), feedTag, keepLast,
      Artifacts.complete(_, ivfFoldParts))

  /** Gate-batch definition constants, baked into [[ivfGateTag]] so a
    * persisted gate chain self-invalidates when the batch definition
    * changes (the [[SketchOps.hllGateTag]] discipline). Batch k is the
    * vec_id ≡ k (mod 2) half of the corpus with NEW ids (+off — the
    * parity split already makes the two batches' id spaces DISJOINT;
    * a per-k offset would fold odd+1 onto even and collide, which the
    * oracle's one-pass assignment collapses while the per-batch fold
    * appends — caught by the gate itself) and an exact
    * direction-changing transform — k=0 reversed element order,
    * k=1 negated — so each batch genuinely moves the probe results
    * (a scaled copy would only add cosine ties).
    */
  private val ivfGateMod = 2
  private val ivfGateIdOff = 3000000000L
  private[graft] val ivfGateTag: String =
    s"gate-m$ivfGateMod-o$ivfGateIdOff-t-rev-neg2"

  private def ivfGateBatch(spark: SparkSession, sfDir: String,
                           k: Int): DataFrame = {
    val e = allVecs(spark, sfDir)
      .filter(col("vec_id") % ivfGateMod === k)
      .select((col("vec_id") + ivfGateIdOff).as("vec_id"), col("v"))
    if (k == 0) e.select(col("vec_id"), reverse(col("v")).as("v"))
    else e.select(col("vec_id"),
      transform(col("v"), x => negate(x)).as("v"))
  }

  /** GATED twin of the streaming postings fold: two deterministic
    * batches fold into the gate feed; each generation's probe results
    * hash-compare against an oracle that re-encodes base ∪ batches≤b
    * from scratch under the base-trained codebook — valid exactly
    * because postings are per-vector state.
    */
  def ivfFoldGate(spark: SparkSession, sfDir: String): DataFrame =
    Canon.canonicalize(
      ivfFold(spark, sfDir, ivfGateTag,
          ivfGateBatch(spark, sfDir, 0), 0L)
        .unionByName(ivfFold(spark, sfDir, ivfGateTag,
          ivfGateBatch(spark, sfDir, 1), 1L)))

  lazy val ivfFoldGateOracle: String = {
    val sb = DedupOps.sideBucketSql("vec_id")
    def batchSql(k: Int): String = {
      val xform =
        if (k == 0) "list_reverse(v)"
        else "list_transform(v, x -> -x)"
      s"""SELECT vec_id + $ivfGateIdOff AS vec_id, $xform AS v
         |FROM fb WHERE vec_id % $ivfGateMod = $k""".stripMargin
    }
    def armSrc(b: Int): String =
      (Seq(s"SELECT vec_id, v FROM fb " +
          s"WHERE $sb < ${DedupOps.incrementalCorpusPermille}") ++
        (0 to b).map(batchSql)).mkString("\nUNION ALL\n")
    val probesSql =
      s"""SELECT vec_id AS probe_id, v AS pv FROM fb
         |  WHERE $sb >= ${DedupOps.mergeProbePermille}
         |  ORDER BY vec_id LIMIT $nProbes""".stripMargin
    def armTail(pre: String, b: Int): String =
      s"""${pre}scored AS (
         |  SELECT pb.probe_id, b.vec_id, ${cosSql("pb.pv", "b.v")} AS cos
         |  FROM (SELECT vec_id, v, cent_id AS bucket
         |        FROM ${pre}bucketed) b
         |  JOIN ${pre}pb pb ON b.bucket = pb.bucket
         |  WHERE b.vec_id <> pb.probe_id),
         |${pre}ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |            ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM ${pre}scored)""".stripMargin
    def armSel(pre: String, b: Int): String =
      s"""SELECT CAST($b AS BIGINT) AS batch_id, probe_id, rank,
         |       vec_id, cos
         |FROM ${pre}ranked WHERE rank <= $topK""".stripMargin
    s"""WITH fb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${ivfChainFrom(armSrc(0), 4, s"vec_id < $ivfGateIdOff", "TRUE",
        probesSql, pre = "f0")},
       |${ivfChainFrom(armSrc(1), 4, s"vec_id < $ivfGateIdOff", "TRUE",
        probesSql, pre = "f1")},
       |${armTail("f0", 0)},
       |${armTail("f1", 1)}
       |${armSel("f0", 0)}
       |UNION ALL
       |${armSel("f1", 1)}""".stripMargin
  }

  /** Probe an EXPLICIT (centroids, postings) index pair — the shared
    * search tail every lifecycle state funnels through (the
    * probeLshIndexTables pattern).
    */
  def probeIvfIndexTables(cents: DataFrame, postings: DataFrame,
                          probes: DataFrame,
                          nprobe: Int = 4): DataFrame = {
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val pb = probes.crossJoin(broadcast(cents))
      .withColumn("cent_cos", cosine(col("cv"), col("pv")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cent_id").as("bucket"))
    val searched = postings
      .join(broadcast(pb), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosine(col("pv"), col("v")))
      .select("probe_id", "vec_id", "cos")
    Canon.canonicalize(TopK.perKey(searched, Seq("probe_id"),
      Seq("cos" -> TopK.Desc, "vec_id" -> TopK.Asc),
      topK, rankCol = Some("rank"))
      .select("probe_id", "rank", "vec_id", "cos"))
  }

  /** The lifecycle's probe set: the top permille slice, id-ordered head
    * (deterministic at any SF).
    */
  private def lifecycleProbes(spark: SparkSession, sfDir: String): DataFrame =
    allVecs(spark, sfDir)
      .filter(!vecSideLt(DedupOps.mergeProbePermille))
      .orderBy("vec_id").limit(nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

  private def midVecs(spark: SparkSession, sfDir: String): DataFrame =
    allVecs(spark, sfDir)
      .filter(vecSideLt(DedupOps.mergeProbePermille) &&
        !vecSideLt(DedupOps.incrementalCorpusPermille))

  /** Index-maintenance lifecycle query: build the base index, MERGE the
    * middle slice in under the frozen codebook, probe with the top
    * slice.
    */
  def annIvfMerged(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ivfIndexMerge(spark, sfDir, midVecs(spark, sfDir),
      s"p${DedupOps.mergeProbePermille}")
    probeIvfIndexTables(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/postings"),
      lifecycleProbes(spark, sfDir))
  }

  /** The forget ROUND TRIP: merge the middle slice, then forget it —
    * probing must behave exactly as if those vectors never existed
    * (postings back to base; codebook was frozen throughout).
    */
  def annIvfForgotten(spark: SparkSession, sfDir: String): DataFrame = {
    val merged = ivfIndexMerge(spark, sfDir, midVecs(spark, sfDir),
      s"p${DedupOps.mergeProbePermille}")
    val dir = ivfIndexForget(spark, merged,
      midVecs(spark, sfDir).select("vec_id"), "mid")
    probeIvfIndexTables(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/postings"),
      lifecycleProbes(spark, sfDir))
  }

  /** Lifecycle oracles: the generalized IVF chain with training frozen
    * on the base slice and the postings slice at the lifecycle state —
    * merged ≡ rebuilt/forgotten ≡ rebuilt are table-level facts
    * (IvfLifecycleSpec), so the oracle just describes the rebuilt form.
    */
  private def lifecycleOracle(postPermille: Int): String = {
    val sb = DedupOps.sideBucketSql("vec_id")
    s"""${ivfChain(4,
      s"$sb < ${DedupOps.incrementalCorpusPermille}",
      s"$sb < $postPermille",
      s"""SELECT vec_id AS probe_id, v AS pv FROM e
         |  WHERE $sb >= ${DedupOps.mergeProbePermille}
         |  ORDER BY vec_id LIMIT $nProbes""".stripMargin)},
       |scored AS (
       |  SELECT pb.probe_id, b.vec_id, ${cosSql("pb.pv", "b.v")} AS cos
       |  FROM (SELECT vec_id, v, cent_id AS bucket FROM bucketed) b
       |  JOIN pb ON b.bucket = pb.bucket
       |  WHERE b.vec_id <> pb.probe_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, cos FROM ranked
       |WHERE rank <= $topK""".stripMargin
  }

  val annIvfMergedOracle: String =
    lifecycleOracle(DedupOps.mergeProbePermille)

  val annIvfForgottenOracle: String =
    lifecycleOracle(DedupOps.incrementalCorpusPermille)

  // ---- exact-integer dominant component (power iteration) -------------

  /** Embedding dimensionality the PCA family is specialized to. */
  val pcaDim = 64

  /** Fixed-point quantization scale for [[pcaPower]]. */
  val pcaScale = 1000000L

  /** Matrix-squaring rounds: the final operator applies G^(2^10) —
    * slow-eigengap-proof where plain k-step power iteration is not
    * (measured: gap 1.017 at sf0.1 needs ~500 plain steps; 10
    * squarings reach cos 1.00000000 against a float eigensolver at
    * all three SFs).
    */
  val pcaSquarings = 10

  /** Renormalization width: entries truncate (sign-preserving shift)
    * to under 2^20 before each squaring, so squared sums stay under
    * 64·2^40 = 2^46 — exact BIGINT arithmetic throughout.
    */
  val pcaRenormBits = 20

  /** Coarse quantization scale — the documented widening path past the
    * Long ceiling: dropping the scale 10³× buys 10⁶× headroom in the
    * Gram sums at the cost of coarser quantization, and the spec
    * proves the found direction agrees with the fine scale's
    * (cos ≥ 0.999 on the fixture).
    */
  val pcaScaleCoarse = 1000L

  private def bitLen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x).toInt

  /** Sign-preserving truncating shift — the EXACT operation the oracle
    * spells as CASE WHEN m >= 0 THEN m >> s ELSE -((-m) >> s) END.
    */
  private def tshift(x: Long, s: Int): Long =
    if (x >= 0L) x >> s else -((-x) >> s)

  /** DOMINANT PRINCIPAL COMPONENT of the embedding table — uncentered
    * (second-moment) PCA by power iteration, in EXACT INTEGER
    * arithmetic end to end: embeddings quantize to floor(x·10⁶), the
    * 64×64 Gram matrix accumulates per partition and reduces (integer
    * sums — order-independent where float matrix products are not),
    * and the iteration runs as [[pcaSquarings]] truncated matrix
    * squarings (G^1024) so a slow eigengap cannot stall it. Truncation
    * is part of the OPERATOR DEFINITION — both twins perform the
    * identical sign-preserving shifts, so the gate compares exact
    * integers; closeness to the float eigenvector is a SPEC property
    * (cos ≥ 0.999 against a Scala-side eigensolve).
    *
    * Scale shape: the only corpus-sized work is the Gram accumulation —
    * mapPartitions folding each partition into a fixed 4096-cell Long
    * array (the per-partition-state case the architecture reserves
    * mapPartitions for), one tiny reduce; the 64×64 squarings are
    * model-sized driver arithmetic, exactly like the k-means
    * centroid sync. At 100 TB the accumulator widens to DECIMAL —
    * [[pcaMaxVectors]] fails loudly at the Long ceiling instead.
    *
    * Output: per dimension the exact integer component `w` (the gate's
    * real payload), the unit-normalized double, and the Rayleigh
    * eigenvalue of the ORIGINAL Gram at the found direction (integer
    * quotient, then one double division by the scale²).
    */
  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, w, norm, ray) = pcaModel(spark, sfDir)
    // (identical arithmetic to the oracle at pcaScale = 10^6)
    val lam = ray.toDouble / (pcaScale * pcaScale).toDouble
    Canon.canonicalize(
      (0 until pcaDim).map(i =>
          (i.toLong, w(i), w(i).toDouble / norm, ray, lam))
        .toDF("dim", "w", "component", "lam_fp", "lam"))
  }

  /** The trained model: (Gram, renormalized integer component, its
    * double norm, Rayleigh eigenvalue) — the seam [[pcaPower]] and
    * [[pcaProject]] share so the arithmetic exists once.
    */
  private[ext] def pcaModel(spark: SparkSession, sfDir: String)
      : (Array[Long], Array[Long], Double, Long) =
    pcaModelAt(spark, sfDir, pcaScale)

  /** [[pcaModel]] at an explicit quantization scale. Overflow safety is
    * an exact POST-HOC CERTIFICATE, not a guessed constant: the Gram
    * pass also tracks the max |quantized component| and the row count —
    * both small counters a wrapped sum cannot corrupt — and every Gram
    * entry is bounded by n·maxq², so `n·maxq² ≤ Long.Max/2` proves no
    * accumulation wrapped. Past the ceiling, callers drop to
    * [[pcaScaleCoarse]] (10⁶× more headroom; direction agreement
    * spec-pinned) — coarser quantization IS the widening, no DECIMAL
    * shuffle needed.
    */
  private[ext] def pcaModelAt(spark: SparkSession, sfDir: String,
                              scale: Long)
      : (Array[Long], Array[Long], Double, Long) = {
    val (g, nVecs, maxQ) = pcaGram(spark, embeddings(spark, sfDir), scale)
    pcaCertify(nVecs, maxQ)
    // model-sized driver arithmetic from here on (the centroid-sync rule)
    val w = dominantVec(g)
    val (norm, ray) = rayleighOf(g, w)
    (g, w, norm, ray)
  }

  /** The exact post-hoc overflow certificate — see [[pcaModelAt]]. */
  private def pcaCertify(nVecs: Long, maxQ: Long): Unit =
    require(BigInt(nVecs) * maxQ * maxQ <= BigInt(Long.MaxValue / 2),
      s"Gram certificate failed: $nVecs vectors at max|q|=$maxQ " +
        s"could exceed Long range — retrain at a coarser scale " +
        s"(pcaScaleCoarse = $pcaScaleCoarse buys 10^6x headroom)")

  /** The one corpus-sized pass: the integer Gram of an arbitrary
    * embeddings frame, plus the (row count, max |quantized component|)
    * counters the certificate needs. Exposed per-frame so the
    * merge/forget lifecycle can compose Grams ALGEBRAICALLY —
    * integer Grams are additive, so shard merge is entrywise sum and
    * unlearning is entrywise subtraction, both exact.
    */
  private[ext] def pcaGram(spark: SparkSession, e: DataFrame,
                           scale: Long = pcaScale)
      : (Array[Long], Long, Long) = {
    import spark.implicits._
    val q = e
      .select(transform(asDouble(col("embedding")),
        x => floor(x * scale.toDouble)).as("qv"))
      .as[Seq[Long]]
    val partials = q.mapPartitions { it =>
      val acc = new Array[Long](pcaDim * pcaDim)
      var n = 0L
      var maxq = 0L
      it.foreach { v =>
        require(v.length == pcaDim, s"expected $pcaDim dims, got ${v.length}")
        val a = v.toArray
        var i = 0
        while (i < pcaDim) {
          if (math.abs(a(i)) > maxq) maxq = math.abs(a(i))
          var j = 0
          while (j < pcaDim) { acc(i * pcaDim + j) += a(i) * a(j); j += 1 }
          i += 1
        }
        n += 1L
      }
      Iterator.single((acc, n, maxq))
    }
    partials.reduce { (x, y) =>
      val merged = new Array[Long](pcaDim * pcaDim)
      var k = 0
      while (k < merged.length) { merged(k) = x._1(k) + y._1(k); k += 1 }
      (merged, x._2 + y._2, math.max(x._3, y._3))
    }
  }

  /** Squaring chain + final matvec + renormalization of any symmetric
    * 64×64 integer matrix — shared by component 1 and the deflated
    * component 2.
    */
  private def dominantVec(g: Array[Long]): Array[Long] = {
    var m = g.clone()
    for (_ <- 0 until pcaSquarings) {
      val s = m.map(math.abs).max
      val sh = math.max(bitLen(s) - pcaRenormBits, 0)
      val r = m.map(tshift(_, sh))
      val sq = new Array[Long](pcaDim * pcaDim)
      var i = 0
      while (i < pcaDim) {
        var j = 0
        while (j < pcaDim) {
          var acc = 0L
          var k = 0
          while (k < pcaDim) { acc += r(i * pcaDim + k) * r(k * pcaDim + j); k += 1 }
          sq(i * pcaDim + j) = acc
          j += 1
        }
        i += 1
      }
      m = sq
    }
    val wRaw = Array.tabulate(pcaDim)(i =>
      (0 until pcaDim).map(j => m(i * pcaDim + j)).sum)
    val wSh = math.max(bitLen(wRaw.map(math.abs).max) - pcaRenormBits, 0)
    wRaw.map(tshift(_, wSh))
  }

  /** (double norm, integer Rayleigh quotient of `g` at `w`). */
  private def rayleighOf(g: Array[Long], w: Array[Long]): (Double, Long) = {
    val wtw = w.map(x => x * x).sum // < 64·2^40, exact in Long AND double
    var num = BigInt(0)
    var i = 0
    while (i < pcaDim) {
      var j = 0
      while (j < pcaDim) {
        num += BigInt(w(i)) * g(i * pcaDim + j) * w(j)
        j += 1
      }
      i += 1
    }
    (math.sqrt(wtw.toDouble), (num / BigInt(wtw)).toLong)
  }

  /** The identical arithmetic unrolled in SQL: quantization, the
    * integer Gram, ten truncated squarings, the final matvec against
    * ones, the output renormalization, and the Rayleigh quotient.
    */
  /** The squaring chain in SQL over source matrix CTE `src`, CTE names
    * prefixed `pre` — ends at `${pre}m$pcaSquarings`.
    */
  private def pcaChainSql(src: String, pre: String): String =
    (1 to pcaSquarings).map { k =>
      val p = if (k == 1) src else s"${pre}m${k - 1}"
      s"""${pre}s$k AS (SELECT greatest(length(bin(max(abs(m)))) - $pcaRenormBits, 0)
         |           AS sh FROM $p),
         |${pre}r$k AS (SELECT i, j, CASE WHEN m >= 0 THEN m >> sh
         |                ELSE -((-m) >> sh) END AS m FROM $p, ${pre}s$k),
         |${pre}m$k AS MATERIALIZED (
         |        SELECT a.i, b.j, CAST(sum(a.m * b.m) AS BIGINT) AS m
         |        FROM ${pre}r$k a JOIN ${pre}r$k b ON a.j = b.i
         |        GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")

  /** matvec-against-ones + renormalization + norm + Rayleigh tail over
    * a chain ending at `${pre}m$pcaSquarings`, against source matrix
    * `src`; emits `${pre}w` / `${pre}norm` / `${pre}ray`.
    */
  private def pcaTailSql(src: String, pre: String): String =
    s"""${pre}w0 AS (SELECT i AS dim, CAST(sum(m) AS BIGINT) AS w
       |        FROM ${pre}m$pcaSquarings GROUP BY 1),
       |${pre}wsh AS (SELECT greatest(length(bin(max(abs(w)))) - $pcaRenormBits,
       |           0) AS sh FROM ${pre}w0),
       |${pre}w AS MATERIALIZED (
       |       SELECT dim, CASE WHEN w >= 0 THEN w >> sh
       |              ELSE -((-w) >> sh) END AS w FROM ${pre}w0, ${pre}wsh),
       |${pre}norm AS (SELECT sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm,
       |                 CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS wtw
       |          FROM ${pre}w),
       |${pre}ray AS (
       |  SELECT CAST(
       |    (SELECT sum(CAST(a.w AS HUGEINT) * g.m * b.w)
       |     FROM ${pre}w a JOIN $src g ON g.i = a.dim
       |                    JOIN ${pre}w b ON g.j = b.dim)
       |    // (SELECT wtw FROM ${pre}norm) AS BIGINT) AS lam_fp)"""
      .stripMargin

  private def pcaCtes: String = pcaCtesWhere("")

  /** [[pcaCtes]] over a filtered corpus — `$where` is appended to the
    * quantization scan, so a never-existed retrain oracle is the same
    * chain minus the forgotten rows.
    */
  private def pcaCtesWhere(where: String): String = {
    val sq = pcaChainSql("pg0", "p")
    s"""pq AS (
       |  SELECT vec_id, list_transform(embedding, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * $pcaScale) AS BIGINT)) AS qv
       |  FROM embeddings $where),
       |pg0 AS MATERIALIZED (
       |  SELECT i, j, CAST(sum(qv[CAST(i AS INT) + 1]
       |                  * qv[CAST(j AS INT) + 1]) AS BIGINT) AS m
       |  FROM pq, range(0, $pcaDim) t1(i), range(0, $pcaDim) t2(j)
       |  GROUP BY 1, 2),
       |$sq,
       |${pcaTailSql("pg0", "p")}""".stripMargin
  }

  val pcaPowerOracle: String =
    s"""WITH $pcaCtes
       |SELECT pw.dim, pw.w,
       |       CAST(pw.w AS DOUBLE) / pnorm.nrm AS component,
       |       pray.lam_fp,
       |       CAST(pray.lam_fp AS DOUBLE) / ${pcaScale * pcaScale}.0 AS lam
       |FROM pw, pnorm, pray""".stripMargin

  /** [[pcaPower]]'s output rows from an explicit Gram. */
  private def pcaRowsOf(spark: SparkSession, g: Array[Long]): DataFrame = {
    import spark.implicits._
    val w = dominantVec(g)
    val (norm, ray) = rayleighOf(g, w)
    val lam = ray.toDouble / (pcaScale * pcaScale).toDouble
    Canon.canonicalize(
      (0 until pcaDim).map(i =>
          (i.toLong, w(i), w(i).toDouble / norm, ray, lam))
        .toDF("dim", "w", "component", "lam_fp", "lam"))
  }

  /** Doc shards for the PCA merge-law proof. */
  val pcaShards = 4

  /** Forgotten slice for [[pcaForgotten]]: vec_id ≡ 3 (mod 5). */
  val pcaForgetMod = 5L
  val pcaForgetRem = 3L

  /** PCA MERGE LAW — four doc-shard Grams summed entrywise ≡ the
    * whole-corpus Gram, so the downstream eigensolve is IDENTICAL (not
    * approximately: integer addition is associative/commutative where
    * float matrix accumulation is not — the reason the Gram is integer
    * in the first place). Gated against [[pcaPowerOracle]] verbatim,
    * the [[SketchOps.hllMerged]] pattern: shard sketches compose
    * losslessly, so incremental/distributed training needs no
    * re-scan.
    */
  def pcaMerged(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
    val shards = (0 until pcaShards).map(k =>
      pcaGram(spark, e.filter(col("vec_id") % pcaShards === k)))
    val g = shards.map(_._1).reduce { (a, b) =>
      Array.tabulate(pcaDim * pcaDim)(i => a(i) + b(i))
    }
    pcaCertify(shards.map(_._2).sum, shards.map(_._3).max)
    pcaRowsOf(spark, g)
  }

  /** PCA EXACT UNLEARNING — the Gram is additive, so forgetting is
    * entrywise SUBTRACTION of the forgotten rows' Gram: the result
    * equals a from-scratch retrain on the surviving rows EXACTLY
    * (same integers — not a bounded approximation), which is the
    * strongest forget contract in the library; the LSH/LM/BPE/IVF
    * forget paths re-derive, this one cancels algebraically. Gated
    * against a NEVER-EXISTED oracle (the [[pcaPowerOracle]] chain
    * with the forgotten vec_ids filtered out of the scan), the house
    * forget pattern. The certificate re-checks with the surviving
    * count and the conservative full-corpus max|q|.
    */
  def pcaForgotten(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
    val (gAll, nAll, maxAll) = pcaGram(spark, e)
    val (gDel, nDel, _) = pcaGram(spark,
      e.filter(col("vec_id") % pcaForgetMod === pcaForgetRem))
    val g = Array.tabulate(pcaDim * pcaDim)(i => gAll(i) - gDel(i))
    pcaCertify(nAll - nDel, maxAll)
    pcaRowsOf(spark, g)
  }

  val pcaForgottenOracle: String =
    s"""WITH ${pcaCtesWhere(
        s"WHERE vec_id % $pcaForgetMod <> $pcaForgetRem")}
       |SELECT pw.dim, pw.w,
       |       CAST(pw.w AS DOUBLE) / pnorm.nrm AS component,
       |       pray.lam_fp,
       |       CAST(pray.lam_fp AS DOUBLE) / ${pcaScale * pcaScale}.0 AS lam
       |FROM pw, pnorm, pray""".stripMargin

  /** Output width of [[pcaOutliers]]. */
  val pcaOutlierK = 50

  /** PCA-ALIGNMENT OUTLIERS — the template-document detector the
    * anisotropy row motivates: per document, the fraction of its
    * (quantized) vector energy captured by the top-2 common
    * directions, ratio = (p₁² + p₂²)/‖qv‖², and the corpus-wide top
    * [[pcaOutlierK]] by that ratio. A document loading heavily on the
    * directions EVERY document shares is boilerplate/templated
    * content (the Mu & Viswanath reading of dominant components) —
    * the curation queue this feeds reviews those first. Projections
    * are the [[pcaProject]] exact integer dots; ‖qv‖² is an exact
    * integer sum; the ratio is assembled from three doubles the twins
    * share. Top-k runs as TakeOrderedAndProject (per-partition heaps,
    * no global sort — the scale-correct global top-k primitive).
    */
  def pcaOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val models = pcaModels(spark, sfDir, 2)
    val Seq((w1, n1, _), (w2, n2, _)) = models
    def fpDot(w: Array[Long]): Column = expr(
      (0 until pcaDim).map(i => s"qv[$i] * ${w(i)}L").mkString(" + "))
    val s2Expr = expr(
      (0 until pcaDim).map(i => s"qv[$i] * qv[$i]").mkString(" + "))
    val scored = embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(asDouble(col("embedding")),
          x => floor(x * lit(pcaScale.toDouble))).as("qv"))
      .withColumn("s2", s2Expr)
      .filter(col("s2") > 0)
      .withColumn("p1", fpDot(w1).cast("double") / lit(n1))
      .withColumn("p2", fpDot(w2).cast("double") / lit(n2))
      .withColumn("ratio",
        (col("p1") * col("p1") + col("p2") * col("p2")) /
          col("s2").cast("double"))
      .select("vec_id", "ratio")
    val top = scored
      .orderBy(col("ratio").desc, col("vec_id").asc).limit(pcaOutlierK)
    Canon.canonicalize(top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ratio").desc, col("vec_id").asc)))
      .select("rank", "vec_id", "ratio"))
  }

  lazy val pcaOutliersOracle: String = {
    s"""WITH ${pcaLadderCtes(2)},
       |os2 AS (
       |  SELECT vec_id, CAST(sum(qv[CAST(i AS INT) + 1]
       |           * qv[CAST(i AS INT) + 1]) AS BIGINT) AS s2
       |  FROM pq, range(0, $pcaDim) t(i) GROUP BY 1),
       |odots AS (
       |  SELECT pq.vec_id,
       |         CAST(sum(qv[CAST(pw.dim AS INT) + 1] * pw.w) AS BIGINT)
       |           AS fp1,
       |         CAST(sum(qv[CAST(qw.dim AS INT) + 1] * qw.w) AS BIGINT)
       |           AS fp2
       |  FROM pq JOIN pw ON true JOIN qw ON pw.dim = qw.dim
       |  GROUP BY 1),
       |oratio AS (
       |  SELECT s.vec_id,
       |         (CAST(d.fp1 AS DOUBLE) / (SELECT nrm FROM pnorm))
       |           * (CAST(d.fp1 AS DOUBLE) / (SELECT nrm FROM pnorm))
       |         + (CAST(d.fp2 AS DOUBLE) / (SELECT nrm FROM qnorm))
       |           * (CAST(d.fp2 AS DOUBLE) / (SELECT nrm FROM qnorm))
       |           AS pp,
       |         CAST(s.s2 AS DOUBLE) AS s2
       |  FROM os2 s JOIN odots d ON s.vec_id = d.vec_id
       |  WHERE s.s2 > 0)
       |SELECT CAST(row_number() OVER (ORDER BY pp / s2 DESC,
       |         vec_id ASC) AS BIGINT) AS rank,
       |       vec_id, pp / s2 AS ratio
       |FROM oratio
       |ORDER BY ratio DESC, vec_id ASC LIMIT $pcaOutlierK""".stripMargin
  }

  // ---- streaming Gram fold (the admission-fold family, numerics arm) --

  private[graft] def pcaBaseDir(sfDir: String): String =
    Artifacts.path("pca_index", sfDir, "embeddings.parquet",
      s"d${pcaDim}_s$pcaScale")

  /** Gram rows ↔ driver arrays. The artifact stores (i, j, m) plus the
    * certificate counters as constant columns — 4096 rows, KB-sized at
    * ANY corpus size, which is what makes the fold cheap to persist
    * per micro-batch.
    */
  private def gramToDf(spark: SparkSession, g: Array[Long], n: Long,
                       maxq: Long): DataFrame = {
    import spark.implicits._
    (0 until pcaDim * pcaDim).map(k =>
        (k / pcaDim, k % pcaDim, g(k), n, maxq))
      .toDF("i", "j", "m", "n_vecs", "max_q")
  }

  private def dfToGram(df: DataFrame): (Array[Long], Long, Long) = {
    val rows = df.select("i", "j", "m", "n_vecs", "max_q").collect()
    val g = new Array[Long](pcaDim * pcaDim)
    rows.foreach(r => g(r.getInt(0) * pcaDim + r.getInt(1)) = r.getLong(2))
    (g, rows.head.getLong(3), rows.head.getLong(4))
  }

  /** Build-or-reuse the PERSISTED corpus Gram (the
    * [[SketchOps.hllIndex]] discipline).
    */
  def pcaIndex(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.frame(spark, pcaBaseDir(sfDir)) {
      val (g, n, maxq) = pcaGram(spark, embeddings(spark, sfDir))
      gramToDf(spark, g, n, maxq)
    }

  /** STREAMING GRAM FOLD — each micro-batch's Gram ADDS onto the
    * running artifact (exact integers: fold ≡ from-scratch retrain on
    * corpus ∪ all batches, the strongest stream≡batch law in the
    * library — same algebra as [[pcaMerged]]). One
    * [[Generations.fold]] per batch, like every admission fold; the
    * per-batch return row reports the folded eigenpair plus its cosine
    * against the base component — principal-axis DRIFT telemetry as
    * data streams in.
    */
  def pcaFold(spark: SparkSession, sfDir: String, feedTag: String,
              batch: DataFrame, batchId: Long): DataFrame = {
    import spark.implicits._
    pcaIndex(spark, sfDir)
    val base = pcaBaseDir(sfDir)
    val out = Generations.fold(base, Nil, feedTag, batchId) { (prev, tmp) =>
      val (pg, pn, pmax) = dfToGram(spark.read.parquet(prev))
      val (bg, bn, bmax) = pcaGram(spark, batch)
      val g = Array.tabulate(pcaDim * pcaDim)(k => pg(k) + bg(k))
      val n = pn + bn
      val maxq = math.max(pmax, bmax)
      pcaCertify(n, maxq)
      gramToDf(spark, g, n, maxq).write.parquet(tmp)
    }
    val (g, n, _) = dfToGram(spark.read.parquet(out))
    val (g0, _, _) = dfToGram(spark.read.parquet(base))
    val w = dominantVec(g)
    val (norm, ray) = rayleighOf(g, w)
    val w0 = dominantVec(g0)
    val norm0 = math.sqrt(w0.map(x => x.toDouble * x).sum)
    val cosBase = math.abs((0 until pcaDim)
      .map(i => (w(i).toDouble / norm) * (w0(i).toDouble / norm0)).sum)
    Canon.canonicalize(Seq((batchId, n,
        ray.toDouble / (pcaScale * pcaScale).toDouble, cosBase))
      .toDF("batch_id", "n_vecs", "lam", "cos_base"))
  }

  /** Retire old Gram generations — the [[Generations]] contract. */
  def pcaGc(sfDir: String, feedTag: String, keepLast: Int): Seq[Long] =
    Generations.gc(pcaBaseDir(sfDir), feedTag, keepLast,
      Artifacts.complete(_))

  /** Gate-batch definition constants, baked into [[pcaGateTag]] so a
    * persisted gate chain self-invalidates when the batch definition
    * changes (stale published g0/g1 Grams would otherwise keep
    * serving the old chain across code edits until target/ is cleaned
    * by hand — the [[SketchOps.hllGateTag]] discipline).
    */
  private val pcaGateMod = 2
  private val pcaGateIdOff = 2000000000L
  private def pcaGateScale(k: Int): Int = k + 2
  private[graft] val pcaGateTag: String =
    s"gate-m$pcaGateMod-o$pcaGateIdOff-s" +
      (0 until pcaGateMod).map(pcaGateScale).mkString("-")

  /** Deterministic two-batch feed for [[pcaFold]]'s GATE: batch k is
    * the vec_id ≡ k (mod [[pcaGateMod]]) half of the corpus, vectors
    * scaled by [[pcaGateScale]](k)·1.0 and ids offset — each batch
    * genuinely moves the Gram.
    */
  private def pcaGateBatch(spark: SparkSession, sfDir: String,
                           k: Int): DataFrame =
    embeddings(spark, sfDir)
      .filter(col("vec_id") % pcaGateMod === k)
      .select((col("vec_id") + lit(pcaGateIdOff + k)).as("vec_id"),
        transform(asDouble(col("embedding")),
          x => x * lit(pcaGateScale(k).toDouble)).as("embedding"))

  /** GATED twin of the streaming Gram fold ([[SketchOps.hllFoldGate]]
    * pattern): two deterministic batches fold into the "gate" feed
    * chain, and each generation's full component rows hash-compare
    * against an oracle that RETRAINS from scratch on
    * corpus ∪ batches≤b — valid exactly because of the additivity law
    * the fold is built on. Output: (batch_id, dim, w, component,
    * lam_fp, lam) per generation.
    */
  def pcaFoldGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = (0 to 1).map { b =>
      pcaFold(spark, sfDir, pcaGateTag, pcaGateBatch(spark, sfDir, b),
        b.toLong) // drive the chain (and its requires)
      val gen = Generations.genDir(pcaBaseDir(sfDir), pcaGateTag, b.toLong)
      val (g, _, _) = dfToGram(spark.read.parquet(gen))
      val w = dominantVec(g)
      val (norm, ray) = rayleighOf(g, w)
      val lam = ray.toDouble / (pcaScale * pcaScale).toDouble
      (0 until pcaDim).map(i =>
        (b.toLong, i.toLong, w(i), w(i).toDouble / norm, ray, lam))
    }
    Canon.canonicalize(rows.flatten
      .toDF("batch_id", "dim", "w", "component", "lam_fp", "lam"))
  }

  lazy val pcaFoldGateOracle: String = {
    def armSrc(b: Int): String = {
      val batches = (0 to b).map(k =>
        s"""SELECT vec_id + ${pcaGateIdOff + k} AS vec_id,
           |  list_transform(embedding,
           |    x -> CAST(x AS DOUBLE) * ${pcaGateScale(k)}.0) AS embedding
           |FROM embeddings WHERE vec_id % $pcaGateMod = $k""".stripMargin)
      val corpus = "SELECT vec_id, list_transform(embedding, x -> " +
        "CAST(x AS DOUBLE)) AS embedding FROM embeddings"
      (corpus +: batches).mkString("\nUNION ALL\n")
    }
    def armCtes(b: Int, pre: String): String =
      s"""${pre}pq AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CAST(floor(CAST(x AS DOUBLE) * $pcaScale) AS BIGINT)) AS qv
         |  FROM (${armSrc(b)})),
         |${pre}g0 AS MATERIALIZED (
         |  SELECT i, j, CAST(sum(qv[CAST(i AS INT) + 1]
         |                  * qv[CAST(j AS INT) + 1]) AS BIGINT) AS m
         |  FROM ${pre}pq, range(0, $pcaDim) t1(i), range(0, $pcaDim) t2(j)
         |  GROUP BY 1, 2),
         |${pcaChainSql(s"${pre}g0", pre)},
         |${pcaTailSql(s"${pre}g0", pre)}""".stripMargin
    def armSel(b: Int, pre: String): String =
      s"""SELECT CAST($b AS BIGINT) AS batch_id, ${pre}w.dim, ${pre}w.w,
         |       CAST(${pre}w.w AS DOUBLE) / ${pre}norm.nrm AS component,
         |       ${pre}ray.lam_fp,
         |       CAST(${pre}ray.lam_fp AS DOUBLE)
         |         / ${pcaScale * pcaScale}.0 AS lam
         |FROM ${pre}w, ${pre}norm, ${pre}ray""".stripMargin
    s"""WITH ${armCtes(0, "f0")},
       |${armCtes(1, "f1")}
       |${armSel(0, "f0")}
       |UNION ALL
       |${armSel(1, "f1")}""".stripMargin
  }

  /** Per-document projection onto the dominant component — the
    * outlier-axis/decorrelation telemetry a curation dashboard reads
    * next to the component itself: proj = vᵀŵ in original embedding
    * units. The integer dot (quantized vector · integer component,
    * ≤ 64·2^22·2^20 = 2^48) is the gate's payload; the division by
    * ‖w‖·scale is the one double op, identical in both twins. Spark
    * side is a codegen'd 64-term literal sum — the model is
    * driver-known (the centroid-sync rule), so no join attaches it.
    */
  def pcaProject(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, w, norm, _) = pcaModel(spark, sfDir)
    val dot = (0 until pcaDim)
      .map(i => s"qv[$i] * ${w(i)}L").mkString(" + ")
    Canon.canonicalize(embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(asDouble(col("embedding")),
          x => floor(x * pcaScale.toDouble)).as("qv"))
      .withColumn("proj_fp", expr(dot))
      .withColumn("proj",
        col("proj_fp").cast("double") / lit(norm * pcaScale.toDouble))
      .select("vec_id", "proj_fp", "proj"))
  }

  val pcaProjectOracle: String =
    s"""WITH $pcaCtes,
       |pdot AS (
       |  SELECT vec_id,
       |         CAST(sum(qv[CAST(pw.dim AS INT) + 1] * pw.w) AS BIGINT)
       |           AS proj_fp
       |  FROM pq, pw GROUP BY 1)
       |SELECT vec_id, proj_fp,
       |       CAST(proj_fp AS DOUBLE) /
       |         ((SELECT nrm FROM pnorm) * $pcaScale.0) AS proj
       |FROM pdot""".stripMargin

  /** TOP-2 PRINCIPAL COMPONENTS — [[pcaPower]]'s component plus the
    * second, found by INTEGER DEFLATION: G₂ = G − (λ₁·w·wᵀ) div wᵀw
    * (entrywise truncating quotient — part of the operator definition,
    * identical in both twins), then the same truncated squaring chain.
    * The residual λ₁-energy after a 20-bit-precision deflation is
    * ~2⁻¹⁹·λ₁ ≪ λ₂, so the chain converges to the true second
    * direction (measured: cos 1.000000 against a float eigensolver's
    * second eigenvector at all three SFs, |ĉ₁·ĉ₂| ≤ 10⁻⁶, λ₂ matching
    * numpy to 4+ digits). 128 rows: comp ∈ {1,2} × 64 dims.
    */
  def pcaTop2(spark: SparkSession, sfDir: String): DataFrame =
    pcaComponentRows(spark, sfDir, 2)

  /** Integer deflation step — G′ = G − (λ·w·wᵀ) div wᵀw, entrywise
    * truncating quotient (part of the operator definition, identical
    * in both twins). Shared by [[pcaTop2]] and [[pcaTopk]].
    */
  private def deflate(g: Array[Long], w: Array[Long], ray: Long)
      : Array[Long] = {
    val wtw = w.map(x => x * x).sum
    Array.tabulate(pcaDim * pcaDim) { k =>
      val (i, j) = (k / pcaDim, k % pcaDim)
      val d = BigInt(ray) * w(i) * w(j)
      val q = (d.abs / wtw).toLong
      g(k) - (if (d.signum >= 0) q else -q)
    }
  }

  /** Top-`k` eigenpairs by iterated deflation: component 1 from the
    * [[pcaModel]] seam (one corpus Gram pass, memoized arithmetic),
    * each subsequent component from the deflated Gram through the same
    * truncated-squaring chain. Model-sized driver arithmetic beyond
    * the single Gram pass.
    */
  private[ext] def pcaModels(spark: SparkSession, sfDir: String, k: Int)
      : Seq[(Array[Long], Double, Long)] = {
    val (g0, w1, norm1, ray1) = pcaModel(spark, sfDir)
    val out = Seq.newBuilder[(Array[Long], Double, Long)]
    out += ((w1, norm1, ray1))
    var g = g0
    var w = w1
    var ray = ray1
    for (_ <- 2 to k) {
      g = deflate(g, w, ray)
      w = dominantVec(g)
      val (norm, r) = rayleighOf(g, w)
      ray = r
      out += ((w, norm, r))
    }
    out.result()
  }

  private def pcaComponentRows(spark: SparkSession, sfDir: String,
                               k: Int): DataFrame = {
    import spark.implicits._
    val models = pcaModels(spark, sfDir, k)
    Canon.canonicalize(
      models.zipWithIndex.flatMap { case ((w, norm, ray), c) =>
        val lam = ray.toDouble / (pcaScale * pcaScale).toDouble
        (0 until pcaDim).map(i =>
          ((c + 1).toLong, i.toLong, w(i), w(i).toDouble / norm, ray, lam))
      }.toDF("comp", "dim", "w", "component", "lam_fp", "lam"))
  }

  /** Components reported by [[pcaTopk]]. Four is where this fixture's
    * spectrum stops being separable by a 20-bit deflation ladder —
    * see the pcaTopk scaladoc.
    */
  val pcaTopKComponents = 4

  /** TOP-K PRINCIPAL COMPONENTS — [[pcaTop2]]'s integer-deflation
    * ladder iterated to [[pcaTopKComponents]]: after extracting each
    * eigenpair, the Gram deflates by the entrywise truncating quotient
    * and the truncated-squaring chain re-runs. Each deflation leaves
    * ~2⁻¹⁹·λ of residual energy along the removed direction, so the
    * ladder is trustworthy while λ_{c+1} ≫ 2⁻¹⁹·Σλ_{≤c} — comfortably
    * true for 4 components on this spectrum (spec: per-component
    * cosine vs a float eigensolver ≥ 0.999, pairwise |ĉᵢ·ĉⱼ| ≤ 10⁻⁴,
    * λ within 1%). 256 rows: comp ∈ {1..4} × 64 dims; the comp ∈
    * {1,2} rows are byte-identical to [[pcaTop2]]'s by construction.
    */
  def pcaTopk(spark: SparkSession, sfDir: String): DataFrame =
    pcaComponentRows(spark, sfDir, pcaTopKComponents)

  /** Deflation CTE: `$outG` = `$srcG` − (λ·w·wᵀ) div wᵀw using the
    * component chain prefixed `$compPre`.
    */
  private def deflateSql(srcG: String, compPre: String,
                         outG: String): String =
    s"""$outG AS MATERIALIZED (
       |  SELECT d.i, d.j,
       |         d.m - (CASE WHEN d.d >= 0
       |                THEN CAST(d.d // ${compPre}norm.wtw AS BIGINT)
       |                ELSE -CAST((-d.d) // ${compPre}norm.wtw AS BIGINT)
       |                END) AS m
       |  FROM (SELECT g.i, g.j, g.m,
       |               CAST(${compPre}ray.lam_fp AS HUGEINT) * a.w * b.w AS d
       |        FROM $srcG g JOIN ${compPre}w a ON a.dim = g.i
       |                   JOIN ${compPre}w b ON b.dim = g.j
       |        CROSS JOIN ${compPre}ray) d
       |  CROSS JOIN ${compPre}norm)""".stripMargin

  /** One component's output block from the chain prefixed `$p`. */
  private def pcaCompSelect(c: Int, p: String): String =
    s"""SELECT CAST($c AS BIGINT) AS comp, ${p}w.dim, ${p}w.w,
       |       CAST(${p}w.w AS DOUBLE) / ${p}norm.nrm AS component,
       |       ${p}ray.lam_fp,
       |       CAST(${p}ray.lam_fp AS DOUBLE) / ${pcaScale * pcaScale}.0 AS lam
       |FROM ${p}w, ${p}norm, ${p}ray""".stripMargin

  /** Deflation-ladder CTE prefixes, in component order: component c
    * uses prefix [[pcaLadderPrefixes]](c-1); its Gram is `pg0` for
    * c = 1 and `<prefix>g0` after.
    */
  private val pcaLadderPrefixes = Seq("p", "q", "r", "s")

  /** The full k-component oracle: [[pcaCtes]] (component 1), then per
    * further component one deflation CTE + one squaring chain + tail.
    */
  /** The ladder's CTE chain alone (no `WITH`, no trailing comma, no
    * final component SELECT) — exposed so dependent oracles
    * (anisotropy, outliers, ABTT dedup) COMPOSE it directly instead
    * of regex-stripping the assembled SQL, which silently broke if
    * [[pcaCompSelect]]'s wording ever changed.
    */
  private[ext] def pcaLadderCtes(k: Int): String = {
    require(k <= pcaLadderPrefixes.length, s"no prefix for component $k")
    val extra = (2 to k).map { c =>
      val prev = pcaLadderPrefixes(c - 2)
      val p = pcaLadderPrefixes(c - 1)
      val srcG = if (c == 2) "pg0" else s"${prev}g0"
      s"""${deflateSql(srcG, prev, s"${p}g0")},
         |${pcaChainSql(s"${p}g0", p)},
         |${pcaTailSql(s"${p}g0", p)}""".stripMargin
    }
    s"$pcaCtes${if (extra.nonEmpty) ",\n" else ""}${extra.mkString(",\n")}"
  }

  private def pcaLadderOracle(k: Int): String = {
    val selects = (1 to k)
      .map(c => pcaCompSelect(c, pcaLadderPrefixes(c - 1)))
      .mkString("\nUNION ALL\n")
    s"""WITH ${pcaLadderCtes(k)}
       |$selects""".stripMargin
  }

  val pcaTop2Oracle: String = pcaLadderOracle(2)

  val pcaTopkOracle: String = pcaLadderOracle(pcaTopKComponents)

  /** SEMANTIC DEDUP UNDER ALL-BUT-THE-TOP WHITENING — the published
    * embedding post-processing (Mu & Viswanath 2018: subtract the
    * dominant principal directions, which encode corpus-wide common
    * variance rather than content) applied to the SemDeDup verdicts:
    * same k-means bucket decomposition as [[semanticDedup]] (clusters
    * exist for WORK decomposition, not truth — reusing them isolates
    * exactly the whitening effect on the similarity test), but the
    * intra-cluster near-dup verdict scores cos(v′ₐ, v′ᵦ) over
    *
    *   v′ = v − (v·ŵ₁)ŵ₁ − (v·ŵ₂)ŵ₂
    *
    * with ŵ₁, ŵ₂ the top-2 integer-PCA directions. The projections
    * ride the [[pcaProject]] arithmetic — EXACT integer dots
    * (order-independent), one double division each — and the
    * per-element subtraction is the same left-associated double
    * expression in both twins, so the whitened cosine is twin-exact.
    *
    * Scale shape: one Gram pass (memoized with the PCA family), the
    * whitening is an elementwise map (no shuffle), and pairing stays
    * intra-cluster/salted — the [[semanticDedup]] plan with 64
    * codegen'd subtraction terms on top. Output: surviving
    * (vec_id, bucket), same contract as [[semanticDedup]] — diffing
    * the two survivor sets IS the anisotropy-correction report.
    */
  def semanticDedupAbtt(spark: SparkSession, sfDir: String): DataFrame = {
    val models = pcaModels(spark, sfDir, 2)
    val bucketed = bucketedAssignments(spark, sfDir).persist()
    val whitened = abttWhiten(bucketed, models)
      .select("vec_id", "bucket", "v")
    val clusters =
      DedupOps.clustersFromPairs(spark, semanticPairs(whitened))
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    Canon.materialized(
      Canon.canonicalize(
        bucketed.select(col("vec_id"), col("bucket"))
          .join(losers, Seq("vec_id"), "left_anti")),
      bucketed, clusters)
  }

  /** All-but-the-top transform of a frame carrying `v` (array<double>):
    * v′ = v − (v·ŵ₁)ŵ₁ − (v·ŵ₂)ŵ₂ with the [[pcaProject]] exact
    * integer-dot arithmetic (one double division per direction), the
    * per-element subtraction left-associated — identical in the SQL
    * twin ([[abttWhiteSql]]). All other columns pass through.
    */
  private[ext] def abttWhiten(df: DataFrame,
      models: Seq[(Array[Long], Double, Long)]): DataFrame = {
    val Seq((w1, n1, _), (w2, n2, _)) = models
    def fpDot(w: Array[Long]): Column = expr(
      (0 until pcaDim).map(i => s"qv[$i] * ${w(i)}L").mkString(" + "))
    val others = df.columns.filterNot(_ == "v").map(col).toSeq
    df.withColumn("qv",
        transform(col("v"), x => floor(x * lit(pcaScale.toDouble))))
      .withColumn("d1",
        fpDot(w1).cast("double") / lit(n1 * pcaScale.toDouble))
      .withColumn("d2",
        fpDot(w2).cast("double") / lit(n2 * pcaScale.toDouble))
      .select(others :+ array((0 until pcaDim).map(i =>
        col("v")(i) - col("d1") * lit(w1(i).toDouble / n1)
          - col("d2") * lit(w2(i).toDouble / n2)): _*).as("v"): _*)
  }

  /** The whitening CTE chain over `$src` (vec_id, v, …): projections
    * from the ladder's `pq`/`pw`/`qw`, ending at `white`
    * (vec_id, [extra keep columns], v). Assumes the 2-component
    * [[pcaLadderOracle]] chain precedes it.
    */
  private def abttWhiteSql(src: String, keep: Seq[String]): String = {
    val keepB = keep.map(c => s"b.$c, ").mkString
    val keepW = keep.map(c => s"$c, ").mkString
    s"""wl AS (
       |  SELECT
       |    (SELECT list(CAST(w AS DOUBLE) / (SELECT nrm FROM pnorm)
       |       ORDER BY dim) FROM pw) AS c1,
       |    (SELECT list(CAST(w AS DOUBLE) / (SELECT nrm FROM qnorm)
       |       ORDER BY dim) FROM qw) AS c2),
       |pdots AS (
       |  SELECT vec_id,
       |    CAST(sum(qv[CAST(pw.dim AS INT) + 1] * pw.w) AS BIGINT) AS fp1
       |  FROM pq, pw GROUP BY 1),
       |qdots AS (
       |  SELECT vec_id,
       |    CAST(sum(qv[CAST(qw.dim AS INT) + 1] * qw.w) AS BIGINT) AS fp2
       |  FROM pq, qw GROUP BY 1),
       |whitepre AS (
       |  SELECT b.vec_id, $keepB b.v,
       |         CAST(pd.fp1 AS DOUBLE) /
       |           ((SELECT nrm FROM pnorm) * $pcaScale.0) AS d1,
       |         CAST(qd.fp2 AS DOUBLE) /
       |           ((SELECT nrm FROM qnorm) * $pcaScale.0) AS d2
       |  FROM $src b JOIN pdots pd ON b.vec_id = pd.vec_id
       |                  JOIN qdots qd ON b.vec_id = qd.vec_id),
       |white AS MATERIALIZED (
       |  SELECT vec_id, $keepW
       |    list_transform(range(0, $pcaDim), i ->
       |      v[CAST(i AS INT) + 1]
       |        - d1 * c1[CAST(i AS INT) + 1]
       |        - d2 * c2[CAST(i AS INT) + 1]) AS v
       |  FROM whitepre CROSS JOIN wl)""".stripMargin
  }

  val semanticDedupAbttOracle: String = {
    val kmeans = ivfOraclePrefix(4).stripPrefix("WITH ")
    // reuse the ladder's CTE chain inside this query's RECURSIVE block
    s"""WITH RECURSIVE $kmeans,
       |${pcaLadderCtes(2)},
       |${abttWhiteSql("bucketed", Seq("cent_id"))},
       |spairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM white a JOIN white b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= $nearDupThreshold),
       |${DedupOps.clusterCte("spairs")},
       |losers AS (
       |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
       |SELECT bk.vec_id, CAST(bk.cent_id AS BIGINT) AS bucket
       |FROM bucketed bk ANTI JOIN losers l ON bk.vec_id = l.doc_id""".stripMargin
  }

  /** Sample width for [[embedRecall]] — 200 keeps the exact side at
    * C(200,2) ≈ 20k cosines (constant at any corpus size) while the
    * fixture realization still holds qualifying pairs at all 3 SFs
    * (9/2/3 — measured before choosing the width).
    */
  val embedRecallSample = 200

  /** SIGN-LSH QUALITY TELEMETRY — the recall row that completes the
    * family set (minhash/simhash/audio/image/video already carry one):
    * end-to-end recall of [[embedLsh]] (banding + mega-bucket cap)
    * against exact pairwise cosine over a bounded deterministic
    * hash-order sample — the [[DedupOps.lshRecall]] recipe pointed at
    * the embedding space. One output row: n_exact / n_lsh / n_common /
    * recall (1.0 when the sample holds no qualifying pair).
    */
  def embedRecall(spark: SparkSession, sfDir: String): DataFrame =
    embedRecallFrom(spark, sfDir, embedLsh(spark, sfDir))

  /** [[embedRecall]] against a CALLER-SUPPLIED verified-pair frame —
    * the seam the multi-probe variant reuses so both recall rows
    * measure against the identical exact side.
    */
  private def embedRecallFrom(spark: SparkSession, sfDir: String,
                              pairs: DataFrame): DataFrame = {
    import graft.ext.SampleOps.{A, B, P}
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val keyed = e.withColumn("h",
      ((col("vec_id") % P) * A + B) % P)
    val samp = keyed.orderBy(col("h").asc, col("vec_id").asc)
      .limit(embedRecallSample)
      .select("vec_id", "v").persist()
    val exact = samp.as("x").join(samp.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= nearDupThreshold)
      .select("id_a", "id_b").persist()
    val ids = samp.select("vec_id")
    val lsh = pairs
      .join(ids.withColumnRenamed("vec_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(ids.withColumnRenamed("vec_id", "id_b"), Seq("id_b"),
        "left_semi")
      .select("id_a", "id_b").persist()
    val out = exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(exact.join(lsh, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_exact") > 0,
          col("n_common").cast("double") / col("n_exact").cast("double"))
          .otherwise(lit(1.0)).as("recall"))
    Canon.materialized(Canon.canonicalize(out), samp, exact, lsh)
  }

  private def embedRecallTailSql(pairsCte: String): String = {
    import graft.ext.SampleOps.{A, B, P}
    s"""ekeyed AS (
       |  SELECT vec_id, v, ((vec_id % $P) * $A + $B) % $P AS h FROM e),
       |esamp AS MATERIALIZED (
       |  SELECT vec_id, v FROM ekeyed
       |  ORDER BY h ASC, vec_id ASC LIMIT $embedRecallSample),
       |eexact AS MATERIALIZED (
       |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM esamp x JOIN esamp y ON x.vec_id < y.vec_id
       |  WHERE ${cosSql("x.v", "y.v")} >= $nearDupThreshold),
       |ebp AS MATERIALIZED (
       |  SELECT s.id_a, s.id_b FROM $pairsCte s
       |  JOIN esamp a ON s.id_a = a.vec_id
       |  JOIN esamp b ON s.id_b = b.vec_id)
       |SELECT
       |  (SELECT count(*) FROM eexact) AS n_exact,
       |  (SELECT count(*) FROM ebp) AS n_lsh,
       |  (SELECT count(*) FROM eexact JOIN ebp USING (id_a, id_b))
       |    AS n_common,
       |  CASE WHEN (SELECT count(*) FROM eexact) > 0
       |    THEN CAST((SELECT count(*) FROM eexact JOIN ebp
       |               USING (id_a, id_b)) AS DOUBLE)
       |           / CAST((SELECT count(*) FROM eexact) AS DOUBLE)
       |    ELSE 1.0 END AS recall""".stripMargin
  }

  val embedRecallOracle: String =
    s"""WITH $signLshCtes,
       |${embedRecallTailSql("slp")}""".stripMargin

  /** MULTI-PROBE sign-LSH — the recall lever [[embedRecall]] prices:
    * besides its exact bucket, each (vec, band) also probes the 8
    * Hamming-1 neighbor buckets (one flipped sketch bit), the
    * classic multi-probe LSH trade — ~9× candidate work for a
    * per-band collision probability of p⁸ + 8p⁷(1−p) instead of p⁸
    * (at the 0.4-cosine threshold: ~0.72 vs ~0.19 expected recall
    * over 8 bands; [[embedRecallMultiProbe]] reports the realized
    * lift). Exact verification unchanged; the probe expansion happens
    * on capped cells only, so the mega-bucket bound still holds.
    */
  def embedLshMultiProbe(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{HyperplaneBuckets => HB}
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persist()
    val banded = capSignBuckets(e.select(col("vec_id"),
        posexplode(HB(col("v"))).as(Seq("band", "bucket"))))
      .persist() // exact side + probe-expansion source
    val probeKeys = col("bucket") +: (0 until HB.bitsPerBand)
      .map(b => col("bucket").bitwiseXOR(lit(1 << b)))
    val probes = banded.select(col("vec_id"), col("band"),
      explode(array(probeKeys: _*)).as("bucket"))
    val candidates = probes.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("id_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("id_b"))
      .distinct()
    val withVecs = candidates
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")),
        Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")),
        Seq("id_b"))
    Canon.materialized(
      Canon.canonicalize(withVecs
        .withColumn("cos", cosine(col("va"), col("vb")))
        .filter(col("cos") >= nearDupThreshold)
        .select("id_a", "id_b", "cos")),
      e, banded)
  }

  /** CTE suffix: multi-probe candidates + verify, ending at `mpp`. */
  private def multiProbeCtes: String = {
    import graft.functions.{HyperplaneBuckets => HB}
    s"""mprob AS (
       |  SELECT vec_id, band,
       |         CASE WHEN k = 0 THEN bucket
       |              ELSE xor(bucket, 1 << CAST(k - 1 AS INT)) END
       |           AS bucket
       |  FROM keptb, range(0, ${HB.bitsPerBand + 1}) t(k)),
       |mcand AS (
       |  SELECT DISTINCT least(p.vec_id, q.vec_id) AS id_a,
       |         greatest(p.vec_id, q.vec_id) AS id_b
       |  FROM mprob p JOIN keptb q
       |    ON p.band = q.band AND p.bucket = q.bucket
       |       AND p.vec_id <> q.vec_id),
       |mpp AS MATERIALIZED (
       |  SELECT id_a, id_b, cos FROM (
       |    SELECT c.id_a, c.id_b, ${cosSql("ea.v", "eb.v")} AS cos
       |    FROM mcand c JOIN e ea ON c.id_a = ea.vec_id
       |                 JOIN e eb ON c.id_b = eb.vec_id)
       |  WHERE cos >= $nearDupThreshold)""".stripMargin
  }

  val embedLshMultiProbeOracle: String =
    s"""WITH $signLshCtes,
       |$multiProbeCtes
       |SELECT id_a, id_b, cos FROM mpp""".stripMargin

  /** The multi-probe recall row — same sample, same exact side as
    * [[embedRecall]]: the realized recall lift of probing Hamming-1
    * neighbor buckets, next to its ~9× candidate cost.
    */
  def embedRecallMultiProbe(spark: SparkSession, sfDir: String)
      : DataFrame =
    embedRecallFrom(spark, sfDir, embedLshMultiProbe(spark, sfDir))

  val embedRecallMultiProbeOracle: String =
    s"""WITH $signLshCtes,
       |$multiProbeCtes,
       |${embedRecallTailSql("mpp")}""".stripMargin
}
