package graft.functions

import org.apache.spark.sql.functions._

/** Runnable end-to-end ANN demo over the embeddings testdata: train IVF
  * centroids with k-means, probe with the first 8 vectors, print the
  * top-k. Usage:
  *   runMain graft.functions.IvfDemo [sfDir] [k] [nProbe]
  */
object IvfDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val nProbe = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Sessions.local()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = SimilarityFunctions.trainCentroids(emb, k = 16)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // collect once: show() + count() would each re-run the whole pipeline
    val rows = SimilarityFunctions.ivfTopK(emb, queries, centroids, k, nProbe)
      .orderBy("query_id", "rank").collect()
    rows.take(8 * k).foreach(r => println(r.mkString("| ", " | ", " |")))
    println(s"centroids=${centroids.count()} results=${rows.length}")
    spark.stop()
  }
}
