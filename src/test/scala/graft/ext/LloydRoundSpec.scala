package graft.ext

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, transform}

import graft.SparkSpec

/** The trainers' Lloyd round: hand-built frames with hand-derived
  * answers for the assignment order and the empty-cell rule, and the
  * round's job count read by a listener.
  */
class LloydRoundSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: (Long, Seq[Double])*): DataFrame =
    rows.toDF("vec_id", "v")

  private def kmeans(e: DataFrame, c: Int, iters: Int): Map[Long, Seq[Double]] =
    VectorOps.trainedCentroids(e, c, iters)
      .as[(Long, Seq[Double])].collect().toMap

  test("k-means: a cosine tie goes to the lowest cent_id") {
    // vector 5 has cosine 1/√2 to both seeds
    val e = frame(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      5L -> Seq(1.0, 1.0))
    assert(kmeans(e, 2, 1) ==
      Map(0L -> Seq(2.0, 1.0), 1L -> Seq(0.0, 1.0)))
  }

  test("k-means: an empty cluster keeps its previous centroid") {
    // the seeds point the same way, so every vector ties to cent 0 in
    // round 1 and cent 1 keeps (2, 0); round 2 splits the vectors
    val e = frame(0L -> Seq(1.0, 0.0), 1L -> Seq(2.0, 0.0),
      7L -> Seq(3.0, 1.0))
    assert(kmeans(e, 2, 1) ==
      Map(0L -> Seq(6.0, 1.0), 1L -> Seq(2.0, 0.0)))
    assert(kmeans(e, 2, 2) ==
      Map(0L -> Seq(3.0, 1.0), 1L -> Seq(3.0, 0.0)))
  }

  test("k-means: fewer vectors than c seed fewer centroids") {
    val e = frame(0L -> Seq(1.0, 2.0), 1L -> Seq(-1.0, 0.5))
    assert(kmeans(e, 4, 2) ==
      Map(0L -> Seq(1.0, 2.0), 1L -> Seq(-1.0, 0.5)))
    assert(kmeans(frame(5L -> Seq(1.0)), 4, 2).isEmpty)
  }

  test("k-means: NaN cosines order as the SQL path orders them") {
    // a zero vector scores NaN against every seed: a tie, to cent 0
    val zeroVec = frame(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      9L -> Seq(0.0, 0.0), 10L -> Seq(0.0, 2.0))
    assert(kmeans(zeroVec, 2, 1) ==
      Map(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 3.0)))
    // a zero SEED scores NaN against every vector, and NaN sorts above
    // every number: both non-zero vectors join cent 1, the zero vector
    // ties and stays with cent 0
    val zeroSeed = frame(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 0.0),
      9L -> Seq(5.0, 0.0))
    assert(kmeans(zeroSeed, 2, 1) ==
      Map(0L -> Seq(0.0, 0.0), 1L -> Seq(6.0, 0.0)))
    val sqlBuckets = VectorOps.assignNearest(zeroSeed,
        zeroSeed.filter(col("vec_id") < 2)
          .select(col("vec_id").as("cent_id"), col("v").as("cv")))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(sqlBuckets == Map(0L -> 1L, 1L -> 0L, 9L -> 1L))
  }

  test("PQ: L2 ties go to the lowest cent_id; fewer vectors than k") {
    // 8 dims → 8 one-dim subspaces; seeds 0 (all 0) and 1 (all 2);
    // vector 8 (all 1) is at distance 1 from both and joins cent 0
    def flat(x: Double) = Seq.fill(VectorOps.pqM)(x)
    val e = frame(0L -> flat(0.0), 1L -> flat(2.0), 8L -> flat(1.0),
      9L -> flat(3.0))
    val got = VectorOps.trainedPqCodebooks(e)
      .as[(Int, Long, Seq[Double])].collect().toSet
    assert(got == (0 until VectorOps.pqM).flatMap(j =>
      Seq((j, 0L, Seq(0.5)), (j, 1L, Seq(2.5)))).toSet)
  }

  /** Jobs started by `body`, counted by a listener only. A marker job
    * before and after `body` brackets its events: jobs of earlier work
    * still queued on the listener bus are not counted, and once the
    * closing marker is seen every job of `body` has been delivered.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.marker"
    val (open, close) = (s"open-${System.nanoTime()}",
      s"close-${System.nanoTime()}")
    val closed = new CountDownLatch(1)
    val jobs = new AtomicInteger
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)).orNull match {
          case `open` => counting = true
          case `close` => counting = false; closed.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(close)
      assert(closed.await(60, TimeUnit.SECONDS), "listener bus stalled")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("each Lloyd round is one job") {
    val e = VectorOps.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .persist()
    try {
      e.count()
      // one seed collect, then one partition pass per round
      for (iters <- Seq(1, 4))
        assert(jobsOf(VectorOps.trainedCentroids(e, 16, iters)) ==
          1 + iters, s"k-means, $iters rounds")
      assert(jobsOf(VectorOps.trainedPqCodebooks(e)) ==
        1 + VectorOps.pqIters, "PQ codebooks")
    } finally { e.unpersist(false); () }
  }

  private def withRoot[T](root: String)(body: => T): T = {
    System.setProperty("graft.artifact.root", root)
    VectorOps.clearMemos()
    try body
    finally {
      System.clearProperty("graft.artifact.root")
      VectorOps.clearMemos()
    }
  }

  test("a cold IVF-PQ index build stays under its job ceiling") {
    // one DataFrame pipeline per round (cross join, shuffle, explode,
    // two group-bys, join, collect) costs 5–6 jobs: any round that goes
    // back to one breaks the ceiling
    val root = java.nio.file.Files.createTempDirectory("ivf-jobs").toString
    val jobs = withRoot(root)(
      jobsOf(VectorOps.buildIvfPqIndex(spark, sfDir).collect()))
    info(s"cold buildIvfPqIndex: $jobs jobs")
    assert(jobs <= IndexBuildJobCeiling, s"$jobs jobs")
  }

  test("a failed index build releases its cache and leaves no job running") {
    // a regular file as the artifact root: every artifact write fails
    val root = java.io.File.createTempFile("ivf-root", ".file")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    withRoot(root.getPath) {
      intercept[Exception](VectorOps.buildIvfPqIndex(spark, sfDir))
      assert(sc.getPersistentRDDs.keySet == before)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        "an arm still runs after the build threw")
      intercept[Exception](VectorOps.ivfIndex(spark, sfDir))
      assert(sc.getPersistentRDDs.keySet == before)
    }
    assert(root.isFile && root.length == 0)
  }

  /** Jobs a cold [[VectorOps.buildIvfPqIndex]] may start on the sf0.001
    * fixture: its measured 39 plus a margin of 3, below the 4 jobs one
    * round gains as a DataFrame pipeline (the per-round pipeline build
    * started 74). */
  private val IndexBuildJobCeiling = 42
}
