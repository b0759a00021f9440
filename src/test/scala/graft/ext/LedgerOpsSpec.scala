package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the exact-dedup hash-ledger lifecycle (LedgerOps):
  *
  *  1. probe verdicts ≡ a from-scratch exact dedup over corpus ∪
  *     batch, recomputed here doc-by-doc on the driver — including
  *     within-batch duplicate groups and ledger hits;
  *  2. merged ledger ≡ from-scratch build over corpus ∪ batch (rows
  *     AND groups), including a re-submitted identical (id, text) row
  *     that must NOT double count;
  *  3. forget(merge(base, X), X) ≡ base, for the gated queries' batch;
  *  4. forgetting a group's KEEPER re-elects the smallest survivor
  *     (synthetic frames — the fixture's keepers all survive);
  *  5. groups ≡ groupsOf(rows) after every lifecycle step (the
  *     incremental maintenance never drifts from its own rows table).
  */
class LedgerOpsSpec extends SparkSpec {
  import spark.implicits._

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.except(b).isEmpty && b.except(a).isEmpty

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"ledger-spec-$name").toFile
    d.deleteOnExit()
    s"${d.getPath}/$name"
  }

  test("probe ≡ from-scratch exact dedup over corpus ∪ batch") {
    val dir = LedgerOps.shaLedger(spark, sfDir)
    val batch = LedgerOps.recycledBatch(spark, sfDir)
    val got = LedgerOps.shaLedgerProbe(spark, dir, batch)
      .select("doc_id", "dup_of", "is_dup")
      .as[(Long, Long, Long)].collect()
      .map { case (id, dup, f) => id -> ((dup, f)) }.toMap

    // driver recompute: min doc_id per sha across base ∪ batch
    val baseSha = LedgerOps.rowsOf(LedgerOps.baseDocs(spark, sfDir))
      .as[(String, Long)].collect()
    val batchSha = LedgerOps.rowsOf(batch).as[(String, Long)].collect()
    val keeper = (baseSha ++ batchSha).groupBy(_._1)
      .map { case (s, rs) => s -> rs.map(_._2).min }
    val expected = batchSha.map { case (s, id) =>
      val k = keeper(s)
      id -> (if (k != id) (k, 1L) else (-1L, 0L))
    }.toMap

    assert(got == expected)
    // the fixture batch must be non-vacuous: recycled docs ARE dups,
    // and at least one sha groups TWO batch docs (within-batch pair)
    assert(got.count(_._2._2 == 1L) > 0, "no duplicate verdicts fired")
    val batchGroups = batchSha.groupBy(_._1).values
    assert(batchGroups.exists(_.size > 1), "no within-batch dup group")
  }

  test("merged ledger ≡ from-scratch build over corpus ∪ batch") {
    val base = LedgerOps.baseDocs(spark, sfDir)
    val batch = LedgerOps.recycledBatch(spark, sfDir)
    // re-submit one base doc verbatim: at-least-once delivery must not
    // double count
    val resubmit = base.orderBy("doc_id").limit(1)
    val merged = LedgerOps.shaLedgerMerge(spark,
      LedgerOps.shaLedger(spark, sfDir), batch.union(resubmit),
      "spec-merge")
    val rebuilt = LedgerOps.buildInto(spark, tmpDir("rebuild"),
      base.union(batch))

    for (t <- Seq("rows", "groups")) {
      assert(sameRows(spark.read.parquet(s"$merged/$t"),
          spark.read.parquet(s"$rebuilt/$t")),
        s"merged $t ≠ rebuilt $t")
    }
    // invariant: groups is exactly what rows implies
    assert(sameRows(spark.read.parquet(s"$merged/groups"),
      LedgerOps.groupsOf(spark.read.parquet(s"$merged/rows"))))
  }

  test("forget(merge(base, X), X) ≡ base") {
    val batch = LedgerOps.recycledBatch(spark, sfDir)
    val baseDir = LedgerOps.shaLedger(spark, sfDir)
    val merged = LedgerOps.shaLedgerMerge(spark, baseDir, batch,
      "spec-roundtrip")
    val forgot = LedgerOps.shaLedgerForget(spark, merged,
      batch.select("doc_id"), "spec-roundtrip")
    for (t <- Seq("rows", "groups")) {
      assert(sameRows(spark.read.parquet(s"$forgot/$t"),
          spark.read.parquet(s"$baseDir/$t")),
        s"round-tripped $t ≠ base $t")
    }
  }

  test("streaming admission ≡ one-shot probe + one-merge ledger " +
      "across a restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_sha_admit").toFile
    base.deleteOnExit()
    val (out, ck) = (s"$base/out", s"$base/ck")
    // unique feed tag per run: chain dirs are keyed by (feed, batch id)
    val feed = s"specfeed${System.nanoTime()}"

    // the gated probe batch, in doc_id order, plus a synthetic pair
    // whose sha is NEW to the ledger and SPLIT across the two
    // micro-batches — the cross-batch dup only the admission fold
    // (not a stateless per-batch probe) can catch
    val slice = LedgerOps.recycledBatch(spark, sfDir)
      .as[(Long, String)].collect().sortBy(_._1)
    val mid = slice.length / 2
    val first = slice.take(mid) :+ ((900000001L, "zz qq zz"))
    val second = slice.drop(mid) :+ ((900000005L, "zz qq zz"))

    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.EventStream.shaAdmitToParquet(
      in1.toDF().toDF("doc_id", "text"), sfDir, feed, out, ck)
    try {
      in1.addData(first.toSeq)
      q1.processAllAvailable()
    } finally q1.stop()

    val in2 = MemoryStream[(Long, String)]
    in2.addData(first.toSeq) // offsets before the checkpoint re-add
    val q2 = graft.streaming.EventStream.shaAdmitToParquet(
      in2.toDF().toDF("doc_id", "text"), sfDir, feed, out, ck)
    try {
      in2.addData(second.toSeq)
      q2.processAllAvailable()
    } finally q2.stop()

    val streamed = spark.read.parquet(out)
      .select("doc_id", "text_sha", "dup_of", "is_dup")
      .as[(Long, String, Long, Long)].collect().toSet
    val whole = (first ++ second).toSeq.toDF("doc_id", "text")
    val oneShot = LedgerOps.shaLedgerProbe(spark,
        LedgerOps.shaLedger(spark, sfDir), whole)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == oneShot,
      s"missing=${(oneShot -- streamed).take(3)} " +
        s"extra=${(streamed -- oneShot).take(3)}")
    // the cross-batch dup fired: the later synthetic doc points at the
    // earlier one, admitted a micro-batch before it
    assert(streamed.exists(v => v._1 == 900000005L &&
      v._3 == 900000001L && v._4 == 1L), "cross-batch dup missed")
    // chained ledger ≡ ONE merge of the concatenated feed
    val chained =
      graft.io.Generations.genDir(LedgerOps.shaLedger(spark, sfDir), feed, 1L)
    val oneMerge = LedgerOps.shaLedgerMerge(spark,
      LedgerOps.shaLedger(spark, sfDir), whole, s"$feed-all")
    for (t <- Seq("rows", "groups"))
      assert(sameRows(spark.read.parquet(s"$chained/$t"),
          spark.read.parquet(s"$oneMerge/$t")),
        s"chained $t ≠ one-merge $t")
  }

  test("forgetting a keeper re-elects the smallest survivor") {
    val docs = Seq(
      (1L, "shared content"), (4L, "shared content"),
      (9L, "shared content"), (2L, "only me")).toDF("doc_id", "text")
    val dir = LedgerOps.buildInto(spark, tmpDir("keeper"), docs)
    val forgot = LedgerOps.shaLedgerForget(spark, dir,
      Seq(1L).toDF("doc_id"), "drop-keeper")
    val groups = spark.read.parquet(s"$forgot/groups")
      .select("keep_doc_id", "n_copies")
      .as[(Long, Long)].collect().toSet
    assert(groups == Set((4L, 2L), (2L, 1L)),
      s"expected re-elected keeper 4, got $groups")
    // and ≡ a build that never saw doc 1
    val rebuilt = LedgerOps.buildInto(spark, tmpDir("keeper-rebuild"),
      docs.filter(col("doc_id") =!= 1))
    for (t <- Seq("rows", "groups"))
      assert(sameRows(spark.read.parquet(s"$forgot/$t"),
        spark.read.parquet(s"$rebuilt/$t")))
  }
}
