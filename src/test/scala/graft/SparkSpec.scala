package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for specs (one JVM-wide session via getOrCreate),
  * built through the engine's [[SessionProfile]] so the specs run the same
  * session settings as Bench, Verify and the tools — at 2 cores and 4
  * shuffle partitions. */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SessionProfile(SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()
}
