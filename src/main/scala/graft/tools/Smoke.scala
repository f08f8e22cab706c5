package graft.tools

/** Dev smoke runner mirroring the driver's t1 check: `SparkEntry.entry` on
  * sf0.001 must return >0 rows. Prints the row count and the first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Measure.session()
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry() returned 0 rows")
    spark.stop()
  }
}
