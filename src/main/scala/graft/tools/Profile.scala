package graft.tools

/** Dev tool: where a query's time goes, per stage and per stream batch —
  * the bench tells WHICH query is slow, this answers WHERE inside it.
  *
  * For each named query (every registry query when none is named):
  * SPARK_GRAFT_REPS−1 warm-ups (default 3 reps), then one rep under
  * [[Measure.capture]], printed as
  *  - a header: rep wall, summed stage wall, completed vs submitted stages,
  *    and `procs=N`, the OS processes the JVM started during the rep (a
  *    per-file fork, like a stock local FS's `chmod`, shows up here);
  *  - the stage table: job, stage, wall, task time (executorRunTime), GC,
  *    task deserialize, result serialization and driver result-fetch time,
  *    tasks, shuffle read/write and input MB;
  *  - a line per stream micro-batch with its `durationMs` map (addBatch,
  *    triggerExecution, walCommit, …) and the rep wall spent outside the
  *    batches (start/stop, handoff, the result checkpoint).
  *
  * The run ends with the funnel table, one line per query: the summed wall
  * of stages with <= 2 tasks that still burned > 100 ms — the
  * single-task-funnel signature that found q_embed_dedup_pairs running its
  * whole n²/2 cosine pass as ONE 2.4 s task (r13). Streaming rigs
  * legitimately show small stages (4 state stores); read those rows with
  * that in mind.
  *
  * Usage: sbt "runMain graft.tools.Profile [sfDir] [name…]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, named) = Measure.sfAndNames(args.toSeq,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val warmups = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(2) - 1
    val spark = Measure.session()
    // JFR's first recording in a JVM re-instruments java.io classes, which
    // drops their compiled code: start it before any warm-up, so no
    // measured rep pays the recompilation
    Measure.processStarts(())
    val names =
      if (named.nonEmpty) named else graft.SparkEntry.queries.keys.toSeq.sorted
    val funnel = names.map { name =>
      try {
        val fn = graft.SparkEntry.queries(name)
        for (i <- 1 to warmups)
          println(f"[profile] $name warmup $i ${Measure.time(fn(spark, sfDir))}%.2f s")
        val c = Measure.capture(spark)(Measure.time(fn(spark, sfDir)))
        report(name, c)
        funnelLine(name, c)
      } catch { case e: Throwable => f"$name%-28s FAILED: ${e.getMessage}" }
    }
    println(f"\n${"query"}%-28s ${"wall_s"}%7s ${"stg_s"}%7s ${"n_stg"}%5s " +
      f"${"few_s"}%7s ${"few%"}%5s  worst_small_stage")
    funnel.foreach(println)
    spark.stop()
  }

  private def report(name: String, c: Measure.Capture[Double]): Unit = {
    val st = c.stages
    println(f"\n[profile] $name measured rep: ${c.result}%.3f s wall, " +
      f"${st.map(_.wallMs.max(0L)).sum / 1e3}%.3f s summed stage wall, " +
      f"${st.size} stages completed / ${c.submitted} submitted / " +
      f"${st.map(_.jobId).distinct.size} jobs, procs=${c.processes.size}")
    println(f"${"job"}%4s ${"stage"}%5s ${"wall_ms"}%8s ${"task_ms"}%8s " +
      f"${"gc_ms"}%6s ${"deser_ms"}%8s ${"resser_ms"}%9s ${"fetch_ms"}%8s " +
      f"${"tasks"}%5s " +
      f"${"shR_MB"}%7s ${"shW_MB"}%7s ${"in_MB"}%7s  name")
    st.foreach { r =>
      println(f"${r.jobId}%4d ${r.stageId}%5d ${r.wallMs}%8d ${r.taskMs}%8d " +
        f"${r.gcMs}%6d ${r.deserMs}%8d ${r.resultSerMs}%9d ${r.fetchMs}%8d " +
        f"${r.tasks}%5d " +
        f"${r.shufReadMB}%7.2f ${r.shufWriteMB}%7.2f " +
        f"${r.inputMB}%7.2f  ${r.name}")
    }
    c.batches.foreach { b =>
      println(s"[profile] stream=${b.stream} batch=${b.batchId} " +
        s"rows=${b.rows} sink=${b.sink} " +
        b.durationMs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    if (c.batches.nonEmpty) {
      val inBatches = c.batches.flatMap(_.durationMs)
        .collect { case ("triggerExecution", v) => v }.sum / 1e3
      println(f"[profile] $name ${c.batches.size} batches: $inBatches%.3f s " +
        f"in triggerExecution, ${c.result - inBatches}%.3f s outside batches")
    }
  }

  private def funnelLine(name: String, c: Measure.Capture[Double]): String = {
    val walls = c.stages.map(r => (r.wallMs.max(0L), r.tasks))
    val tot = walls.map(_._1).sum / 1e3
    val few = walls.filter { case (w, t) => t <= 2 && w > 100 }
    val fewS = few.map(_._1).sum / 1e3
    val worst = if (few.isEmpty) "" else {
      val (w, t) = few.maxBy(_._1)
      f"${w / 1e3}%.2fs/${t}t"
    }
    val pct = if (tot > 0) 100 * fewS / tot else 0.0
    f"$name%-28s ${c.result}%7.2f $tot%7.2f ${walls.size}%5d " +
      f"$fewS%7.2f $pct%4.0f%%  $worst"
  }
}
