package graft.pipelines

import graft.{Listened, SparkSpec}

/** The marts' stages, read by a listener only: none runs more tasks than
  * the session's shuffle partitions. A scan wider than that at fixture
  * scale (a 32-bucket layout read on 4 cores) is scheduling overhead with
  * nothing to parallelize.
  */
class MartStageWidthSpec extends SparkSpec {

  test("no mart stage runs more tasks than the shuffle partitions") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    for ((name, mart) <- Seq(
        "SupplierPerformance" -> (() => SupplierPerformance(spark, sfDir)),
        "ProductPerformance" -> (() => ProductPerformance(spark, sfDir)),
        "CustomerSalesReport" -> (() => CustomerSalesReport(spark, sfDir)))) {
      val stages = Listened(spark)(mart().collect()).stages
      assert(stages.nonEmpty, s"$name ran no stage")
      val wide = stages.filter(_._2 > width)
      assert(wide.isEmpty, s"$name: stages over $width tasks: $wide")
    }
  }
}
