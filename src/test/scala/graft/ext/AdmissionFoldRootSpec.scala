package graft.ext

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.io.{Artifacts, Generations}

/** Every admission fold's base artifact — and the generations folded
  * beside it — lives under the configured artifact root, never under a
  * hard-coded `target/`.
  */
class AdmissionFoldRootSpec extends SparkSpec {

  test("all six fold base dirs resolve under the artifact root") {
    val tmp = java.nio.file.Files.createTempDirectory("fold_root").toString
    System.setProperty("graft.artifact.root", tmp)
    try {
      val bases = Seq(
        DedupOps.lshIndexDir(sfDir), LedgerOps.ledgerDir(sfDir),
        SketchOps.hllBaseDir(sfDir), SketchOps.hdrBaseDir(sfDir),
        VectorOps.ivfFoldBaseDir(sfDir), VectorOps.pcaBaseDir(sfDir))
      bases.foreach(b => assert(b.startsWith(s"$tmp/"), b))

      // the formerly hard-coded families really write there
      val feed = s"root${System.nanoTime()}"
      val docs = TextOps.documents(spark, sfDir)
        .filter(col("doc_id") % 50 === 0).select("doc_id", "lang", "text")
      SketchOps.hllFold(spark, sfDir, feed, docs, 0L).collect()
      val events = EventOps.events(spark, sfDir)
        .filter(col("event_id") % 50 === 0).select("event_type", "value")
      SketchOps.hdrFold(spark, sfDir, feed, events, 0L).collect()
      val vecs = VectorOps.embeddings(spark, sfDir)
        .filter(col("vec_id") % 50 === 0)
      VectorOps.pcaFold(spark, sfDir, feed, vecs, 0L).collect()
      for (base <- Seq(SketchOps.hllBaseDir(sfDir),
          SketchOps.hdrBaseDir(sfDir), VectorOps.pcaBaseDir(sfDir))) {
        assert(Artifacts.complete(base), base)
        assert(Artifacts.complete(Generations.genDir(base, feed, 0L)))
        val underTarget = "target" + base.stripPrefix(tmp)
        assert(Generations.list(underTarget, feed).isEmpty,
          s"$feed generation written under target/")
      }
    } finally System.clearProperty("graft.artifact.root")
  }
}
