package graft.tools

import org.apache.spark.sql.functions.col
import graft.engine.Similarity

/** Dev tool: time IVF quantizer TRAINING separately from search.
  * `q_ann_ivf_topk` deliberately times steady-state search over a prebuilt
  * index (train-once/search-many); this main reports what building that
  * index costs — Lloyd's iterations to convergence plus the assignment pass.
  */
object IvfTrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nlist = if (args.nonEmpty) args(0).toInt else 16
    val spark = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (round <- 1 to 3) {
      val emb = graft.engine.Tables.embeddings(spark, sfDir)
      val t0 = System.nanoTime()
      val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"),
        col("embedding"), nlist)
      val t1 = System.nanoTime()
      Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cents)
        .write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[ivf-train] r$round nlist=$nlist " +
        f"train=${(t1 - t0) / 1e9}%.2f s assign=${(t2 - t1) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
