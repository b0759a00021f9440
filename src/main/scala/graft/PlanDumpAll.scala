package graft

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for every declared query (or a named
  * subset) to one file per query — the optimization-round plan
  * evidence (`plans/r14/<q>_before.txt` / `_after.txt`).
  *
  * Usage: runMain graft.PlanDumpAll <sfDir> <outDir> <suffix> [q ...]
  *
  * Builder queries materialize work while CONSTRUCTING their frame
  * (artifact builds, driver-synced training rounds); the dump captures
  * the final frame's physical plan, which is what the bench times.
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = args.drop(3).toSet
    val spark = Session("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        spark.catalog.clearCache()
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
