package graft.tools

/** Dev tool: print formatted physical plans for the named queries (or all)
  * at the given sfDir — the "is this the plan I'd want at 100 TB" check. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
      }
    }
    spark.stop()
  }
}
