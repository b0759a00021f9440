package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** What a block of work submits to the scheduler, read by a listener
  * only. A marker job before and after `body` brackets its events: jobs
  * of earlier work still queued on the listener bus are not counted, and
  * once the closing marker is seen every job and stage of `body` has been
  * delivered.
  */
object Listened {

  /** The jobs `body` started and the (name, task count) of each stage. */
  final case class Work(jobs: Int, stages: Seq[(String, Int)])

  private val key = "graft.spec.marker"

  def apply(spark: SparkSession)(body: => Any): Work = {
    val sc = spark.sparkContext
    val (open, close) = (s"open-${System.nanoTime()}",
      s"close-${System.nanoTime()}")
    val closed = new CountDownLatch(1)
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[(String, Int)]
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)).orNull match {
          case `open` => counting = true
          case `close` => counting = false; closed.countDown()
          case _ => if (counting) jobs += 1
        }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (counting &&
            Option(s.properties).forall(_.getProperty(key) == null))
          stages += s.stageInfo.name -> s.stageInfo.numTasks
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
      Work(jobs, stages.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
