package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `graft.Verify <sfDir> <outDir> [name…]`. With names, only those
  * queries are dumped, in the same layout, and `oracle_sql.json` /
  * `query_names.json` cover just that subset — the fast ad-hoc path that
  * `scripts/check_some.py` compares. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name…]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (names.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => names(k) }
    // same engine session profile as Bench (VERDICT r13 #1: the AQE floor
    // and codegen-cache sizing are engine settings — a Verify/production
    // session must hit the same plans the bench measures)
    val spark = graft.tools.Measure.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir,
      SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) })
    // full expected-query manifest: lets the local gate fail loudly on a
    // query that crashed above (no output dir) instead of silently
    // dropping it from the comparison
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      selected.keys.toSeq.sorted.map(jsonString)
        .mkString("[", ",", "]"))
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `<outDir>/oracle_sql.json`: the name → DuckDB SQL map the oracle
    * compare reads (`scripts/check_correctness.py`, and
    * `scripts/check_some.py` for a named subset). */
  private[graft] def writeOracleSql(outDir: String,
                                    oracles: Map[String, String]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
}
