package graft.tools

/** Dev tool: run a SUBSET of SparkEntry.queries on a dataset dir, writing
  * each to `<out>/<name>` in the [[graft.Verify]] layout — for fast ad-hoc
  * DuckDB comparison of one or two queries without the full 100-query dump.
  * Also writes the subset's `oracle_sql.json` (the [[graft.Verify]] format),
  * which `scripts/check_some.py` compares against.
  * Usage: runMain graft.tools.VerifyOne <sfDir> <outDir> <name> [<name>…] */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifyOne <sfDir> <outDir> <name>…")
    val sfDir = args(0)
    val outDir = args(1)
    val spark = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = args.drop(2).toSeq
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[one] $name written")
    }
    graft.Verify.writeOracleSql(outDir,
      graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    spark.stop()
  }
}
