package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: prints the formatted physical plan of selected queries
  * (or all with no args) so pushdown/broadcast/codegen can be inspected:
  *   sbt "runMain graft.Explain q01_pricing_summary join_revenue_by_nation"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = Graft.fixtureDir("/root/testdata/sf0.01")
    val spark = Graft.session("local[4]", "graft-explain")
    val wanted = if (args.isEmpty) SparkEntry.allDefs.map(_.name).toSet else args.toSet
    SparkEntry.allDefs.filter(d => wanted(d.name)).foreach { d =>
      println(s"\n================ ${d.name} ================")
      try println(d.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
