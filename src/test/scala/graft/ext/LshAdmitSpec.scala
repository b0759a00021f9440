package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The near-dup ADMISSION fold contract ([[DedupOps.lshAdmit]] +
  * EventStream.lshAdmitToParquet): corpus/batch/cross-batch verdicts,
  * SUCCESS-gated replay idempotence, chained-generation ≡ one-merge
  * index equality, and stream ≡ batch-mode fold across a restart.
  */
class LshAdmitSpec extends SparkSpec {
  import spark.implicits._

  // synthetic batch docs: ids far outside the fixture range, vocab
  // disjoint from the fixture's word salad so uniqueness is guaranteed
  private val u1 = (1 to 40).map(i => s"qw${i}tok")
  private val u2 = (1 to 40).map(i => s"zx${i}tok")

  private def corpusDoc: (Long, String) =
    TextOps.documents(spark, sfDir)
      .filter(DedupOps.sideBucket(col("doc_id"))
        < DedupOps.incrementalCorpusPermille)
      .orderBy(desc("n_chars"), asc("doc_id")).limit(1)
      .select("doc_id", "text").as[(Long, String)].head()

  private def batches: (Seq[(Long, String)], Seq[(Long, String)]) = {
    val cd = corpusDoc
    val x0 = (910000000L, cd._2 + " zzextra") // near-dup of the corpus
    val x1 = (910000001L, u1.mkString(" ")) // unique
    val x2 = (910000002L, (u1 :+ "tailtok").mkString(" ")) // ~x1, same batch
    val y0 = (910000003L, (u1 :+ "othertail").mkString(" ")) // ~x1, NEXT batch
    val y1 = (910000004L, u2.mkString(" ")) // unique
    (Seq(x0, x1, x2), Seq(y0, y1))
  }

  private def runFold(feed: String): (Map[Long, (Long, Boolean, String,
      Long)], Map[Long, (Long, Boolean, String, Long)]) = {
    val (b0, b1) = batches
    def fold(b: Seq[(Long, String)], id: Long) =
      DedupOps.lshAdmit(spark, sfDir, feed, b.toDF("doc_id", "text"), id)
        .as[(Long, Boolean, String, Long)].collect()
        .map(r => r._1 -> r).toMap
    (fold(b0, 0L), fold(b1, 1L))
  }

  test("verdicts: corpus reject, batch cluster-min, cross-batch catch") {
    val feed = s"lshspec${System.nanoTime()}"
    val (v0, v1) = runFold(feed)
    // x0: near-dup of an indexed corpus doc
    assert(!v0(910000000L)._2 && v0(910000000L)._3 == "corpus" &&
      v0(910000000L)._4 >= 0L, v0(910000000L).toString)
    // x1: unique, cluster minimum of {x1, x2} → admitted
    assert(v0(910000001L)._2 && v0(910000001L)._3 == "admitted" &&
      v0(910000001L)._4 == -1L, v0(910000001L).toString)
    // x2: within-batch near-dup, non-min → rejected at x1
    assert(!v0(910000002L)._2 && v0(910000002L)._3 == "batch" &&
      v0(910000002L)._4 == 910000001L, v0(910000002L).toString)
    // y0: near-dup of x1, which a PRIOR batch admitted — only the fold
    // (not a frozen-index probe) can catch this
    assert(!v1(910000003L)._2 && v1(910000003L)._3 == "corpus" &&
      v1(910000003L)._4 == 910000001L, v1(910000003L).toString)
    // y1: unique → admitted
    assert(v1(910000004L)._2, v1(910000004L).toString)

    // replay idempotence: re-running batch 0 probes the same immutable
    // prev dir and skips the SUCCESS-gated merge → identical verdicts
    val (v0b, _) = runFold(feed)
    assert(v0b == v0, "replayed batch-0 verdicts must be byte-identical")

    // chained generation 1 ≡ ONE merge of all admitted docs onto base
    val base = DedupOps.lshIndexDir(sfDir)
    val chained = graft.io.Generations.genDir(base, feed, 1L)
    val admitted = (batches._1 ++ batches._2)
      .filter(d => (v0 ++ v1).get(d._1).exists(_._2))
      .toDF("doc_id", "text")
    val oneMerge = DedupOps.lshIndexMergeInto(spark, base, admitted,
      s"${feed}all")
    for (t <- Seq("sigs", "shingles", "bands")) {
      val a = spark.read.parquet(s"$chained/$t")
      val b = spark.read.parquet(s"$oneMerge/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"chained $t differs from one-merge $t")
    }
  }

  test("stream ≡ batch-mode fold across a stop/restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (b0, b1) = batches
    val feedBatch = s"lshspecb${System.nanoTime()}"
    val (v0, v1) = runFold(feedBatch)

    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_admit").toFile
    dir.deleteOnExit()
    val (out, ck) = (s"$dir/out", s"$dir/ck")
    val feedStream = s"lshspecs${System.nanoTime()}"

    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.EventStream.lshAdmitToParquet(
      in1.toDF().toDF("doc_id", "text"), sfDir, feedStream, out, ck)
    try {
      in1.addData(b0)
      q1.processAllAvailable()
    } finally q1.stop()

    val in2 = MemoryStream[(Long, String)]
    in2.addData(b0) // offsets before the checkpoint re-add
    val q2 = graft.streaming.EventStream.lshAdmitToParquet(
      in2.toDF().toDF("doc_id", "text"), sfDir, feedStream, out, ck)
    try {
      in2.addData(b1)
      q2.processAllAvailable()
    } finally q2.stop()

    val streamed = spark.read.parquet(out)
      .select("doc_id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect().toSet
    assert(streamed == (v0.values ++ v1.values).toSet,
      s"stream=${streamed.toSeq.sortBy(_._1)} " +
        s"batch=${(v0.values ++ v1.values).toSeq.sortBy(_._1)}")
  }
}
