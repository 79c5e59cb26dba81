package graft

/** Measurement tool (guide §1: measure first) — NOT part of the declared
  * query surface or the bench contract. Breaks a query's wall time into
  *   construct : DataFrame construction (table loads, any bounded collects)
  *   plan      : analysis + optimization + initial physical planning
  *   exec      : job execution through the noop sink (codegen + schedule +
  *               compute; with AQE the per-stage re-optimization lands here)
  * so the ~0.25 s/query ceremony floor of the sub-1.5 s long tail can be
  * attributed before anything is changed. Run:
  *   sbt "runMain graft.ProbeCeremony <query> [query ...]"
  */
object ProbeCeremony {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", "graft-probe-ceremony")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    Derived.stageAll(spark, sfDir)

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.allDefs.map(_.name).filterNot(_.startsWith("stream_"))
    val defs = SparkEntry.allDefs.filter(d => names.contains(d.name))
    println(f"${"query"}%-36s ${"constr"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s  (best of 2, sec)")
    var (sc, sp, se) = (0.0, 0.0, 0.0)
    defs.foreach { d =>
      def once(): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val df = d.run(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis/opt/planning
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t3 = System.nanoTime()
        try {
          spark.catalog.clearCache()
          spark.catalog.listTables().collect().filter(_.isTemporary)
            .foreach(t => spark.catalog.dropTempView(t.name))
        } catch { case _: Throwable => () }
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      val (a, b) = (once(), once())
      val (c1, p1, e1) = if (a._1 + a._2 + a._3 <= b._1 + b._2 + b._3) a else b
      sc += c1; sp += p1; se += e1
      println(f"${d.name}%-36s $c1%8.3f $p1%8.3f $e1%8.3f ${c1 + p1 + e1}%8.3f")
    }
    println(f"${"TOTAL"}%-36s $sc%8.3f $sp%8.3f $se%8.3f ${sc + sp + se}%8.3f over ${defs.size} queries")
    spark.stop()
  }
}
