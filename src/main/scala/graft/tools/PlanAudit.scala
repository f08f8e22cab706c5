package graft.tools

/** Dev tool: scan every query's physical plan for scale red flags —
  * non-broadcast cartesian products, single-partition exchanges (a global
  * sort/window funnel), and windows without partitioning. Sink/stream
  * entries execute their side effects when built; they are planned too but
  * their writes go to temp dirs, same as a Verify run.
  *
  * Known-benign single-partition shapes are excused inline:
  * TakeOrderedAndProject / CollectLimit (top-k finals) and the driver-sized
  * global aggregates (one row).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val flags = Seq.newBuilder[String]
        if (plan.contains("CartesianProduct"))
          flags += "CartesianProduct (non-broadcast cross join)"
        // single-partition exchanges are a funnel unless feeding a global
        // (one-row) aggregate or an explicit top-k
        val singleParts = plan.linesIterator
          .count(_.contains("Exchange SinglePartition"))
        // each keyless FINAL aggregate (one output row) legitimately owns
        // one single-partition exchange — count them exactly (partial-side
        // keyless aggregates print functions=[partial_...] and don't)
        val keylessFinalAggs = plan.linesIterator.count(l =>
          (l.contains("HashAggregate(keys=[], functions=[") ||
            l.contains("SortAggregate(key=[], functions=[")) &&
            !l.contains("functions=[partial_"))
        val benignSingles = plan.linesIterator.count(l =>
          l.contains("TakeOrderedAndProject") || l.contains("CollectLimit")) +
          math.min(keylessFinalAggs,
            plan.linesIterator.count(_.contains("Exchange SinglePartition")))
        if (singleParts > benignSingles)
          flags += s"Exchange SinglePartition x$singleParts (benign $benignSingles)"
        // an unpartitioned window funnels through a single-partition
        // exchange, so the rule above already catches it
        val fs = flags.result()
        if (fs.nonEmpty) { flagged += 1; println(s"[audit] $name: ${fs.mkString("; ")}") }
      } catch {
        case e: Throwable => println(s"[audit] $name: PLAN FAILED: $e")
      }
    }
    println(s"[audit] total flagged: $flagged")
    spark.stop()
  }
}
