package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites. sf0.001 fixtures are the test inputs
  * (TESTDATA.md) — deterministic, small, same schemas as bench scale.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Session("graft-test", localCpus = Some(4))

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test / fork := true gives
    // one JVM per run) — do not stop it here.
    super.afterAll()
  }
}
