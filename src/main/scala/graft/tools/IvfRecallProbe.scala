package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** One-off measurement harness: IVF recall@5 vs brute force across
  * (nlist, nprobe, refineIters) configs at a given SF dir. Not part of the
  * product surface — informs the q_embed_ivf_topk config choice. */
object IvfRecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.build()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", 5)
      .select("query_id", "neighbor_id").cache()
    val nExact = exact.count()
    for {
      nlist <- Seq(16, 32)
      nprobe <- Seq(8, 12, 16)
      refine <- Seq(0, 1)
    } {
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, nlist = nlist, nprobe = nprobe, refineIters = refine)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
      println(f"PROBE nlist=$nlist nprobe=$nprobe refine=$refine recall@5=${hits.toDouble / nExact}%.3f scanned~${nprobe.toDouble / nlist}%.2f")
    }
    spark.stop()
  }
}
