package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN recall receipt at scale: recall@k of each approximate tier
  * (lsh / ivf / ivfpq / sq8) against the brute-force exact tier as ground
  * truth, on whatever fixture rung `args(0)` points at (sf0.1 or the
  * /tmp/sf1 rung). Queries are the `nQ` lowest vec_ids (the fixtures'
  * own deterministic query-set convention), corpus is the rest.
  *
  * Usage: runMain graft.tools.AnnRecallLab <sfDir> [k] [nQ]
  * Prints one line per tier: ANN_RECALL tier=<t> k=.. nq=.. hits=..
  * truth=.. recall_permille=..  — the rung-table receipt BASELINE.md
  * records per round. */
object AnnRecallLab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val nQ = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.build(sfDir, cpus)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cut = emb.select(col("id")).orderBy(col("id")).limit(nQ)
      .agg(max(col("id"))).head().getLong(0)
    val q = emb.filter(col("id") <= cut).localCheckpoint()
    val c = emb.filter(col("id") > cut).localCheckpoint()

    val truth = Similarity.bruteForceTopK(q, c, k)
      .select(col("qid"), col("nid")).localCheckpoint()
    val truthN = truth.count()

    def recall(tier: String, res: DataFrame): Unit = {
      if (truthN == 0) {
        println(s"ANN_RECALL tier=$tier k=$k nq=$nQ DEGENERATE: empty " +
          "brute-force truth set (nq >= corpus size, or empty embeddings)")
        return
      }
      val hits = res.select(col("qid"), col("nid"))
        .join(truth, Seq("qid", "nid"), "left_semi").count()
      println(s"ANN_RECALL tier=$tier k=$k nq=$nQ hits=$hits " +
        s"truth=$truthN recall_permille=${1000 * hits / truthN}")
    }

    recall("lsh", Similarity.annTopK(q, c, k))
    recall("ivf", Similarity.annTopKIvf(q, c, k))
    recall("ivfpq", Similarity.annTopKIvfPq(q, c, k,
      nSub = 8, nCentroids = 128, rerank = 25))
    recall("sq8", Similarity.annTopKSq8(q, c, k))
    spark.stop()
  }
}
