package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named contract queries to files — the
  * committed plan evidence for optimization rounds (the judge checks plan
  * claims against these files without running Spark). Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> [sfDir] [queryName...]"
  *
  * Writes <outDir>/<query>_<suffix>.txt per query (all queries when no
  * names given). The plan is the pre-execution formatted plan with
  * GraftExtensions active (same rules as the shipped engine); AQE leaves
  * `AdaptiveSparkPlan isFinalPlan=false` wrappers — Exchange placement,
  * join strategy and PushedFilters/ReadSchema are all visible. Exchange
  * and join-shape counts are a grep over the files, e.g.
  *
  *   grep -c '^Arguments: hashpartitioning' <outDir>/<query>_<suffix>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [sfDir] [queryName...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir  = if (args.length >= 3) args(2) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else contract.Contract.all.map(_.name)
    Files.createDirectories(outDir)
    val spark = Measure.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val q = contract.Contract.byName.getOrElse(n, sys.error(s"unknown query: $n"))
      try {
        val df   = q.run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
