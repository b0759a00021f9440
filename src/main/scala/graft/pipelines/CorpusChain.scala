package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{DedupOps, SampleOps, ScoringOps, TextOps}
import graft.io.{Artifacts, Fingerprint, Manifest}

/** The PUBLISHING corpus chain: the curated-corpus artifacts a training
  * run actually consumes (clean corpus, scores, split, shard layout),
  * each persisted under a per-run version directory and tied together
  * by ONE chain-level manifest written last
  * ([[graft.io.Manifest]] — the atomic-commit point the per-artifact
  * SUCCESS files cannot provide across tasks).
  *
  * Crash contract, spec-proven in CorpusChainSpec:
  *  - a run that dies mid-chain leaves the previously published set
  *    fully intact (each run writes only inside `versions/<tag>/`);
  *  - consumers ([[readArtifact]]) resolve through the LATEST pointer
  *    and see ONLY the old consistent set until the new manifest lands;
  *  - every read re-verifies artifact fingerprints, so a mixed or
  *    tampered set fails loudly instead of training on it.
  */
object CorpusChain {

  /** The persisted artifacts, in dependency order: curation before the
    * span surgery that feeds packing, scores before the split/layout
    * that consume them. Each is an oracle-green query function — the
    * chain adds persistence and the commit protocol, not new semantics.
    */
  val artifactTasks: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      // crawl front door: URL verdicts exist before any text op runs
      "url_filter" -> ((s, d) => graft.ext.DomainOps.urlFilter(s, d)),
      "gopher_rules" -> ((s, d) => graft.ext.CurationOps.gopherRules(s, d)),
      "corpus_curate" -> ((s, d) => TextOps.corpusCurate(s, d)),
      // pre-flight pair-cost census: the cap audit is ON RECORD before
      // any dedup pass commits to its candidate join
      "lsh_cost" -> ((s, d) => DedupOps.lshCostCensus(s, d)),
      // paragraph-granular keep-first rewrite ahead of span surgery
      "paragraph_dedup_apply" ->
        ((s, d) => graft.ext.ParaOps.paragraphDedupApply(s, d)),
      "dup_spans_apply" -> ((s, d) => DedupOps.dupSpansApply(s, d)),
      "model_score" -> ((s, d) => ScoringOps.modelScore(s, d)),
      "dsir_weights" -> ((s, d) => SampleOps.dsirWeights(s, d)),
      // token-budget selection sits between scoring and the split
      "budget_select" -> ((s, d) => SampleOps.budgetSelect(s, d)),
      "train_split" -> ((s, d) => SampleOps.trainValTestSplit(s, d)),
      "shard_assign" -> ((s, d) => SampleOps.shardAssign(s, d)),
      // dataset-card statistics published WITH the corpus: gram-space
      // cardinality (sketch + exact), value-distribution quantiles
      // (mergeable HDR sketch), the embedding-space anisotropy /
      // template-doc reports, the epoch-capped language plan, and the
      // k-anonymized source rollup
      "hll_card" -> ((s, d) => graft.ext.SketchOps.hllDistinct(s, d)),
      "hdr_quantiles" ->
        ((s, d) => graft.ext.SketchOps.hdrQuantiles(s, d)),
      "embed_anisotropy" ->
        ((s, d) => graft.ext.VectorOps.embedAnisotropy(s, d)),
      "pca_outliers" -> ((s, d) => graft.ext.VectorOps.pcaOutliers(s, d)),
      "unimax_mix" -> ((s, d) => SampleOps.unimaxMix(s, d)),
      "kanon_release" ->
        ((s, d) => graft.ext.GovernanceOps.kanonRelease(s, d)),
      // the ε-DP twin of the k-anon rollup, budget-accounted: the
      // publish chain is exactly the "release epoch" the accountant
      // meters (a re-publish re-serves the charged tag's noise free)
      "dp_release" ->
        ((s, d) => graft.ext.GovernanceOps.dpReleaseAccounted(s, d)))

  /** Manifest root for a dataset — LATEST and the manifest JSONs live
    * here; each run's artifacts live under `versions/<tag>/`.
    */
  def chainRoot(sfDir: String): String =
    s"${Artifacts.root}/corpus_chain/${Artifacts.tag(sfDir)}"

  /** Run the chain and PUBLISH: write every artifact under this run's
    * version directory, fingerprint them, then commit the manifest +
    * LATEST pointer as the final atomic step. `failAfter` is the crash
    * drill's knob — die after N artifacts, before any manifest exists,
    * exactly like a mid-chain executor loss.
    */
  def publish(spark: SparkSession, sfDir: String, tag: String,
              failAfter: Int = Int.MaxValue): Manifest.ChainManifest = {
    require(tag.matches("[A-Za-z0-9_-]+"),
      s"tag must be path-safe, got '$tag'")
    val root = chainRoot(sfDir)
    val verDir = s"$root/versions/$tag"
    val written = artifactTasks.zipWithIndex.map {
      case ((name, task), i) =>
        if (i >= failAfter)
          throw new IllegalStateException(
            s"[corpus-chain] simulated crash before artifact '$name' " +
              s"(failAfter=$failAfter)")
        val path = s"$verDir/$name"
        task(spark, sfDir).write.mode("overwrite").parquet(path)
        name -> path
    }
    // fingerprints are taken AFTER every write succeeded — the manifest
    // vouches only for bytes that are final
    val m = Manifest.ChainManifest(
      version = tag,
      sfDir = sfDir,
      inputs = Map(
        "documents" ->
          Fingerprint.ofPath(s"$sfDir/documents.parquet"),
        "embeddings" ->
          Fingerprint.ofPath(s"$sfDir/embeddings.parquet")),
      artifacts = written.map { case (name, path) =>
        Manifest.ArtifactRef(name, path, Fingerprint.ofPath(path)) })
    Manifest.publish(root, m)
    m
  }

  /** Read one artifact of the LATEST published consistent set — throws
    * if no chain run ever completed here, or if any artifact of the set
    * no longer matches its manifest (mixed versions / tampering).
    */
  def readArtifact(spark: SparkSession, sfDir: String,
                   name: String): DataFrame = {
    val m = Manifest.loadLatest(chainRoot(sfDir)).getOrElse(
      throw new IllegalStateException(
        s"[corpus-chain] no published manifest under ${chainRoot(sfDir)}" +
          " — run the publish chain first"))
    spark.read.parquet(m.artifactPath(name))
  }
}
