package graft.tools

import java.nio.file.{Files, Paths}
import graft.core.Sessions

/** Per-query formatted-plan snapshots for the optimization-round
  * evidence trail (`plans/rNN/<query>_{before,after}.txt`, generated,
  * not committed): unlike
  * [[DumpPlans]] (one PLANS.md from a fixed headline list), this
  * takes an explicit query list and writes ONE FILE PER QUERY with a
  * suffix, so before/after pairs of only the touched queries can be
  * captured without regenerating the whole battery.
  *
  * Usage: tools/run.sh graft.tools.PlanSnap SF_DIR OUT_DIR SUFFIX q1,q2,...
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanSnap SF_DIR OUT_DIR SUFFIX q1,q2,...")
    val Array(sfDir, outDir, suffix, names) = args
    val qs = names.split(',').map(_.trim).filter(_.nonEmpty)
    val unknown = qs.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(outDir))
    val spark = Sessions.local()
    qs.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // execute this exact QueryExecution so AQE finalizes and
      // codegen ids appear in the formatted plan (DumpPlans pattern)
      df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plansnap] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
