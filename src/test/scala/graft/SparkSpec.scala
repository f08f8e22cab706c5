package graft

import graft.engine.Sink
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Path}

/** Shared local session for specs (one JVM-wide session via getOrCreate),
  * built through the engine's [[SessionProfile]] so the specs run the same
  * session settings as Bench, Verify and the tools — at 2 cores and 4
  * shuffle partitions. */
trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SessionProfile(SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp dir named `prefix…`, deleted when the suite ends. */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.foreach(d => Sink.delete(d.toFile))
    finally super.afterAll()
}
