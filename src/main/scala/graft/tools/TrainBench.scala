package graft.tools

import org.apache.spark.sql.functions.col
import graft.engine.{Classifier, Similarity, TextOps}

/** Dev tool: time every TRAINED model's build cost in one place — the
  * bench entries deliberately time steady-state (train-once/serve-many), so
  * this main reports what the builds cost: PQ codebooks (+ encode pass),
  * the composed IVF-PQ index, and the quality-classifier GD run.
  * [[IvfTrainBench]] covers the IVF coarse quantizer on its own. */
object TrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val en = TextOps.langMarkers.toMap.apply("en")
    for (round <- 1 to 3) {
      val emb = graft.engine.Tables.embeddings(spark, sfDir)
      val docs = graft.engine.Tables.documents(spark, sfDir)
      val t0 = System.nanoTime()
      val cb = Similarity.pqTrain(emb, col("vec_id"), col("embedding"))
      val t1 = System.nanoTime()
      Similarity.pqEncode(emb, col("vec_id"), col("embedding"), cb)
        .write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"),
        col("embedding"))
      Similarity.ivfPqIndex(emb, col("vec_id"), col("embedding"), cents, cb)
        .write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      Classifier.trainLogReg(
        docs.withColumn("label",
          (col("source") === "src0").cast("int")),
        Classifier.docFeatures(col("text"), en), col("label"), iters = 15)
      val t4 = System.nanoTime()
      println(f"[train] r$round pq_train=${(t1 - t0) / 1e9}%.2f s " +
        f"pq_encode=${(t2 - t1) / 1e9}%.2f s " +
        f"ivfpq_index=${(t3 - t2) / 1e9}%.2f s " +
        f"lr_train15=${(t4 - t3) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
