package graft

import java.nio.file.{Files, Path, Paths}

import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.SparkContext

/** The session contract: every setting the queries depend on comes from
  * [[Session]], and no entry point builds a session of its own.
  */
class SessionSpec extends SparkSpec {

  test("the factory's session carries the graft settings") {
    val s = Session("graft-test", localCpus = Some(4))
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("a GraftExtensions SQL function resolves in the factory's session") {
    val s = Session("graft-test", localCpus = Some(4))
    val cos = s.sql(
      "SELECT cosine_similarity(array(3.0d, 4.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("a second call returns the same session and SparkContext") {
    val first = Session("graft-test", localCpus = Some(4))
    val sc = first.sparkContext
    val second = Session("graft-second-call", localCpus = Some(4))
    assert(second eq first)
    assert(second.sparkContext eq sc)
    assert(SparkContext.getOrCreate() eq sc)
  }

  test("under src/main only graft/Session.scala builds a session") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"no sources under ${main.toAbsolutePath}")
    val files = Using.resource(Files.walk(main))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    val own = Paths.get("src/main/scala/graft/Session.scala")
    val hits = for {
      f: Path <- files if f != own
      (line, n) <- Using.resource(Source.fromFile(f.toFile, "UTF-8"))(
        _.getLines().toList).zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"$f:${n + 1}: build the session through graft.Session"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
