package graft.tools

import org.apache.spark.sql.functions._

import graft.{Harness, SparkEntry, Tables}
import graft.ops.VectorOps

/** Dev probe: the MEASURED recall fractions behind the ANN/LSH `_bound`
  * twins (which emit only the boolean `recall_ok`), per scale factor — the
  * instrument for setting the bound floors to measured-minus-margin instead
  * of the r08 0.5 slack (r10 verdict #5: slack that wide lets a real recall
  * regression hide). All four candidates structures are deterministic
  * (hash planes, lowest-vec_id kmeans seeds), so one reading per sf is the
  * number; reruns are exact repeats.
  *
  * sbt "runMain graft.tools.ProbeRecall <sfDir> [<sfDir> ...]"
  */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.01")
    val spark = Harness.session()

    for (d <- dirs) {
      // kNN variants: recall@3 of the registry query vs exact brute force
      // over the same 20-query probe set (the bound twins' geometry).
      val e = Tables.embeddings(spark, d)
      val exact = VectorOps.knnCosine(e.filter(col("vec_id") < 20), e, 3)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val nExact = exact.count()
      for (q <- Seq("knn_ann_lsh", "knn_ann_ivf", "knn_ann_pq")) {
        val ann = SparkEntry.queries(q)(spark, d)
          .select("query_id", "neighbor_id")
        val hits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
        println(f"[recall] $d $q ${hits.toDouble / nExact}%.3f ($hits/$nExact)")
      }
      // dedup_embedding_lsh: pair recall vs the exact cos >= 0.3 pairs on
      // the bounded vec_id < 200 slice (the bound twin's geometry).
      val sl = e.filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val exactPairs = sl.as("a")
        .join(sl.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
        .filter(col("cos") >= 0.3).select("vec_a", "vec_b").localCheckpoint()
      val nPairs = exactPairs.count()
      val found = exactPairs.join(
        SparkEntry.queries("dedup_embedding_lsh")(spark, d)
          .select("vec_a", "vec_b"),
        Seq("vec_a", "vec_b"), "left_semi").count()
      println(f"[recall] $d dedup_embedding_lsh ${found.toDouble / nPairs}%.3f ($found/$nPairs)")
    }
    spark.stop()
  }
}
