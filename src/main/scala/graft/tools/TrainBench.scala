package graft.tools

import org.apache.spark.sql.functions.col
import graft.engine.{Classifier, Similarity, TextOps}

/** Dev tool: time every TRAINED model's build cost in one place — the
  * bench entries deliberately time steady-state (train-once/serve-many), so
  * this main reports what the builds cost: PQ codebooks (+ encode pass),
  * the IVF coarse quantizer (Lloyd's iterations + the assignment pass that
  * `q_ann_ivf_topk`'s prebuilt index holds), the composed IVF-PQ index over
  * those centroids, and the quality-classifier GD run. */
object TrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Measure.session()
    val en = TextOps.langMarkers.toMap.apply("en")
    for (round <- 1 to 3) {
      val emb = graft.engine.Tables.embeddings(spark, sfDir)
      val docs = graft.engine.Tables.documents(spark, sfDir)
      val (cb, pqTrain) = Measure.timed(
        Similarity.pqTrain(emb, col("vec_id"), col("embedding")))
      val pqEncode = Measure.time(
        Similarity.pqEncode(emb, col("vec_id"), col("embedding"), cb))
      val (cents, ivfTrain) = Measure.timed(
        Similarity.ivfTrainCentroids(emb, col("vec_id"), col("embedding")))
      val ivfAssign = Measure.time(
        Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cents))
      val ivfpqIndex = Measure.time(
        Similarity.ivfPqIndex(emb, col("vec_id"), col("embedding"), cents, cb))
      val (_, lrTrain) = Measure.timed(Classifier.trainLogReg(
        docs.withColumn("label", (col("source") === "src0").cast("int")),
        Classifier.docFeatures(col("text"), en), col("label"), iters = 15))
      println(f"[train] r$round pq_train=$pqTrain%.2f s " +
        f"pq_encode=$pqEncode%.2f s ivf_train=$ivfTrain%.2f s " +
        f"ivf_assign=$ivfAssign%.2f s ivfpq_index=$ivfpqIndex%.2f s " +
        f"lr_train15=$lrTrain%.2f s")
    }
    spark.stop()
  }
}
