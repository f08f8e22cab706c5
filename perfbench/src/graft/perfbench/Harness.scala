package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Bench, SessionProfile, SparkEntry}

/** JVM side of the repo benchmark (`perfbench/run.py` drives it).
  *
  * One closed-loop client: queries from the public `SparkEntry.queries`
  * registry run one after another in a single session. The plan file names
  * the queries of every pass in the order the workload seed chose; this
  * program only runs what it is told and records what happened, and
  * `run.py` turns the record into metrics.
  *
  * Every execution is `queries(name)(spark, dataDir)` (the registry call,
  * timed as `build`) followed by `collect()` (timed as `action`). Each
  * result is reduced to an order-independent digest, so any pass can be
  * checked against the cold pass, whose rows are also written to parquet
  * for the DuckDB oracle check (`check.py`).
  *
  * Modes:
  *  - `probe <cpus> <runDir>`: build the session, print the ready line, exit
  *    (`run.py` times it, and the main JVM, for `setup_s`);
  *  - `run <plan.json>`: a cold pass, unmeasured settling passes for the
  *    plan's settle seconds (at least one: the JIT keeps warming for a few
  *    seconds after the cold pass), then warm passes until the plan's
  *    seconds are spent; with `trace`, warm passes alternate between
  *    untraced and traced ([[Tracer]]).
  */
object Harness {

  private val om = new ObjectMapper()

  def main(args: Array[String]): Unit = args match {
    case Array("probe", cpus, runDir) =>
      val spark = session(cpus, runDir)
      ready()
      spark.stop()
    case Array("run", planPath) => run(planPath)
    case _ =>
      System.err.println(
        "usage: graft.perfbench.Harness probe <cpus> <runDir> | run <plan.json>")
      sys.exit(2)
  }

  /** The engine's own session profile, with every directory Spark or the
    * engine writes to placed under the run's isolation dir (java.io.tmpdir
    * is set there by the launcher, which covers `createTempDirectory`). */
  def session(cpus: String, runDir: String): SparkSession = {
    val spark = SessionProfile.local(cpus)
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The line `run.py` waits for: wall-clock epoch ms at session ready. */
  private def ready(): Unit = {
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    Console.flush()
  }

  /** Wall-clock epoch ms with sub-ms resolution (monotonic within a run). */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** One cell in the digest's canonical form: doubles at 6 decimals, the
    * precision the oracle check compares at, so last-ulp noise between
    * passes does not read as a different answer. */
  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else {
        val s = f"$d%.6f"
        if (s == "-0.000000") "0.000000" else s
      }
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", "\u0002", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", "\u0002", "]")
    case x => x.toString
  }

  /** Order-independent digest of a result: the wrapping sum of per-row
    * 64-bit hashes, hex-encoded with the row count. */
  def digest(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(cell).mkString("\u0001")
      val h = scala.util.hashing.MurmurHash3.stringHash(s).toLong
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong
      acc += (h << 32) ^ (h2 & 0xffffffffL)
    }
    f"${rows.length}%d:$acc%016x"
  }

  final case class Exec(pass: Int, phase: String, query: String,
                        startMs: Double, buildS: Double, actionS: Double,
                        rows: Long, digest: String, error: String)

  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def run(planPath: String): Unit = {
    val plan = om.readTree(new java.io.File(planPath))
    val dataDir = plan.get("data").asText()
    val cpus = plan.get("cpus").asText()
    val runDir = plan.get("run_dir").asText()
    val checkDir = plan.get("check_dir").asText()
    val seconds = plan.get("seconds").asDouble()
    val settleS = plan.get("settle_s").asDouble()
    val minPasses = plan.get("min_passes").asInt()
    val trace = plan.get("trace").asBoolean()
    val passes: IndexedSeq[Seq[String]] = plan.get("passes").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toSeq).toIndexedSeq

    val spark = session(cpus, runDir)
    ready()
    val fallbacks = Bench.installFallbackCounter()
    val tracer = new Tracer(spark)

    // machine state around the run, so a loaded machine is flagged
    val cpu0 = Bench.readCpuStat()
    val load0 = Bench.systemLoad()
    val calibBefore = Bench.calibrate(1)

    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val coldRows = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val coldDigest = scala.collection.mutable.Map.empty[String, String]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double, Double)]

    /** One pass. Its wall covers the queries only: results are digested
      * after it ends, so the client's own checking is not timed. */
    def runPass(pass: Int, phase: String): Unit = {
      val p0 = nowMs()
      val results = passes(pass).map { name =>
        val t0 = nowMs()
        var t1 = t0
        var rows: Array[Row] = Array.empty
        var schema: StructType = null
        val err =
          try {
            val df: DataFrame = SparkEntry.queries(name)(spark, dataDir)
            t1 = nowMs()
            schema = df.schema
            rows = df.collect()
            ""
          } catch { case e: Throwable =>
            Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
              .nextOption().getOrElse(e.getClass.getName)
          }
        (name, t0, t1, nowMs(), rows, schema, err)
      }
      passWall += ((pass, phase, p0, nowMs()))
      results.foreach { case (name, t0, t1, t2, rows, schema, err) =>
        val d = if (err.isEmpty) digest(rows) else ""
        execs += Exec(pass, phase, name, t0, (t1 - t0) / 1e3, (t2 - t1) / 1e3,
          rows.length.toLong, d, err)
        if (phase == "cold" && err.isEmpty) {
          coldRows(name) = (rows, schema)
          coldDigest(name) = d
        }
      }
    }

    def codegen(): (Long, Long) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

    if (trace) tracer.attach()
    val cg0 = codegen()
    runPass(0, "cold")
    val cg1 = codegen()
    if (trace) tracer.detach()
    val settleStart = nowMs()
    var next = 1
    while (next == 1 || nowMs() - settleStart < settleS * 1e3) {
      runPass(next, "settle")
      next += 1
    }
    val cgSettled = codegen()

    // warm passes until the budget is spent (at least minPasses of each
    // phase); a traced run alternates untraced and traced passes in ABBA
    // order, so the tracing overhead is not confounded with the JIT
    // warm-up that continues across the run
    val phases =
      if (trace) Seq("warm", "traced", "traced", "warm") else Seq("warm")
    val done = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val warmStart = nowMs()
    val firstWarm = next
    while (next < passes.size &&
           (phases.exists(done(_) < minPasses) || nowMs() - warmStart < seconds * 1e3)) {
      val phase = phases((next - firstWarm) % phases.size)
      if (phase == "traced") tracer.attach()
      runPass(next, phase)
      if (phase == "traced") tracer.detach()
      done(phase) += 1
      next += 1
    }
    val cg2 = codegen()
    val calibAfter = Bench.calibrate(1)
    val extCpu = Bench.externalCpuFrac(cpu0, Bench.readCpuStat())
    val load1 = Bench.systemLoad()
    val hwm = vmHwmKb()

    // check output: the cold pass's rows as parquet, plus each query's
    // oracle SQL, for the DuckDB comparison (written after all timing)
    new java.io.File(checkDir).mkdirs()
    coldRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$checkDir/$name")
    }
    val oracles = om.createObjectNode()
    passes.flatten.distinct.foreach { n =>
      SparkEntry.oracleSql.get(n).foreach(sql => oracles.put(n, sql))
    }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      om.writeValueAsString(oracles))

    val out = om.createObjectNode()
    val ex = out.putArray("execs")
    execs.foreach { e =>
      val o = ex.addObject()
      o.put("pass", e.pass); o.put("phase", e.phase); o.put("query", e.query)
      o.put("start_ms", e.startMs); o.put("build_s", e.buildS)
      o.put("action_s", e.actionS); o.put("rows", e.rows)
      o.put("digest", e.digest); o.put("error", e.error)
      o.put("matches_cold",
        e.error.isEmpty && coldDigest.get(e.query).contains(e.digest))
    }
    val pw = out.putArray("passes")
    passWall.foreach { case (p, phase, a, b) =>
      val o = pw.addObject()
      o.put("pass", p); o.put("phase", phase); o.put("start_ms", a); o.put("end_ms", b)
    }
    val cg = out.putObject("codegen")
    cg.put("cold_compiles", cg1._1 - cg0._1); cg.put("cold_compile_ns", cg1._2 - cg0._2)
    cg.put("warm_compiles", cg2._1 - cgSettled._1)
    cg.put("warm_compile_ns", cg2._2 - cgSettled._2)
    cg.put("interp_fallbacks", if (fallbacks.attached) fallbacks.count.get() else -1L)
    val m = out.putObject("machine")
    m.put("calib_1t_before", calibBefore); m.put("calib_1t_after", calibAfter)
    m.put("ext_cpu_frac", extCpu); m.put("load_before", load0); m.put("load_after", load1)
    m.put("cores", cpus.toInt)
    out.put("vm_hwm_kb", hwm)
    if (trace) out.set("trace", tracer.toJson())
    Files.writeString(Paths.get(plan.get("out").asText()),
      om.writeValueAsString(out), UTF_8)
    spark.stop()
  }
}
