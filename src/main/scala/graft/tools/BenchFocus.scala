package graft.tools

/** Dev tool: time selected queries repeatedly in one JVM.
  *
  * Rep count comes from SPARK_GRAFT_REPS (default 5). Rep 1 is dominated
  * by Janino codegen compilation (4.9 s observed on q_apply_delta vs
  * ~0.6 s steady-state) and is always DISCARDED from the summary — the
  * per-rep lines still print it so cold-start cost stays visible. The
  * summary line per query is the median of reps 2..n, the number to
  * compare against the committed envelope (VERDICT r9 wrong #3: 3 fixed
  * reps made adjudications compare a cold-ish number against full-suite
  * steady state).
  *
  * SPARK_GRAFT_CONF ("k=v,k=v"), when set, applies session-conf overrides
  * on top of the shared [[graft.SessionProfile]] — for A/B-ing config
  * hypotheses (e.g. AQE coalescing floors) before touching the engine
  * session.
  *
  * Usage: sbt "runMain graft.tools.BenchFocus [sfDir] [name…]"
  * (sfDir defaults to SPARK_GRAFT_SF_DIR, then sf0.1)
  */
object BenchFocus {
  def main(args: Array[String]): Unit = {
    val (sfDir, named) = Measure.sfAndNames(args.toSeq,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(2)
    val overrides = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
    val conf = overrides.split(",").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }
    if (overrides.nonEmpty) println(s"[focus] conf overrides: $overrides")
    // shared engine profile: focus medians must be taken under the same
    // session configs the committed bench runs with, or A/Bs lie
    val spark = Measure.session(conf)
    val names =
      if (named.nonEmpty) named else Seq("q_jaccard_pairs", "q_minhash_pairs")
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (round <- 1 to reps; n <- names) {
      val sec = Measure.time(graft.SparkEntry.queries(n)(spark, sfDir))
      times(n) = times(n) :+ sec
      val tag = if (round == 1) " (warm-up, discarded)" else ""
      println(f"[focus] r$round $n $sec%.2f s$tag")
    }
    for (n <- names) {
      val steady = times(n).drop(1)
      println(f"[focus] MEDIAN $n ${Measure.median(steady)}%.3f s (over " +
        f"${steady.size} steady reps, load ${graft.Bench.systemLoad()}%.2f)")
    }
    spark.stop()
  }
}
