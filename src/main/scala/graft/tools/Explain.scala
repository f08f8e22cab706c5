package graft.tools

/** Dev tool: print formatted physical plans for the named queries (or all)
  * at the given sfDir — the "is this the plan I'd want at 100 TB" check —
  * each followed by one `[audit]` line naming its scale red flags
  * ([[redFlags]]), and the total flagged at the end. Sink/stream entries
  * execute their side effects when built; their writes go to temp dirs,
  * same as a Verify run.
  *
  * Usage: sbt "runMain graft.tools.Explain [sfDir] [name…]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, named) = Measure.sfAndNames(args.toSeq, "/root/testdata/sf0.001")
    val spark = Measure.session()
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (named.isEmpty || named.contains(name)) {
        println(s"\n========== $name ==========")
        try {
          val qe = fn(spark, sfDir).queryExecution
          println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          val fs = redFlags(qe.executedPlan.toString)
          if (fs.nonEmpty) flagged += 1
          println(s"[audit] $name: ${if (fs.isEmpty) "ok" else fs.mkString("; ")}")
        } catch {
          case e: Throwable => println(s"[audit] $name: PLAN FAILED: $e")
        }
      }
    }
    println(s"[audit] total flagged: $flagged")
    spark.stop()
  }

  /** Scale red flags in a physical plan string: non-broadcast cartesian
    * products, and single-partition exchanges (a global sort/window funnel)
    * beyond the benign ones — TakeOrderedAndProject / CollectLimit (top-k
    * finals) and keyless final aggregates (one row). An unpartitioned
    * window funnels through such an exchange, so this rule catches it. */
  private def redFlags(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toSeq
    val flags = Seq.newBuilder[String]
    if (plan.contains("CartesianProduct"))
      flags += "CartesianProduct (non-broadcast cross join)"
    val singleParts = lines.count(_.contains("Exchange SinglePartition"))
    // each keyless FINAL aggregate (one output row) legitimately owns one
    // single-partition exchange — count them exactly (partial-side keyless
    // aggregates print functions=[partial_...] and don't)
    val keylessFinalAggs = lines.count(l =>
      (l.contains("HashAggregate(keys=[], functions=[") ||
        l.contains("SortAggregate(key=[], functions=[")) &&
        !l.contains("functions=[partial_"))
    val benignSingles = lines.count(l =>
      l.contains("TakeOrderedAndProject") || l.contains("CollectLimit")) +
      math.min(keylessFinalAggs, singleParts)
    if (singleParts > benignSingles)
      flags += s"Exchange SinglePartition x$singleParts (benign $benignSingles)"
    flags.result()
  }
}
