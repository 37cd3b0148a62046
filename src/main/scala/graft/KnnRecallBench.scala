package graft

import org.apache.spark.sql.DataFrame

/** ANN recall canary (VERDICT-r18 item 6): measured recall@k of every
  * approximate-ANN surface against the brute-force exact top-k, per
  * parameter point, on the driver's sf corpus — so the rows-only ANN
  * gate keys carry a MEASURED recall number each round instead of one
  * frozen spec point. Emits ONE JSON line (the Bench convention);
  * committed as `KNN_CANARY.json` and floor-checked by
  * SimilaritySpec's "committed KNN_CANARY" test, so a recall
  * regression fails the suite loud instead of hiding in a rows-only
  * gate.
  *
  * recall@k here = |approx top-k ∩ exact top-k| / k averaged over the
  * query set; cosine ties can depress it below 1.0 even for a perfect
  * method (both sides break ties by neighbor id, so the comparison is
  * stable round-over-round).
  */
object KnnRecallBench {

  private def topk(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0)).map { case (q, rows) =>
      q -> rows.map(_.getLong(1)).toSet
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val t  = graft.sources.Tables(spark, sfDir)
    val k  = 5
    val nq = 20
    val exact = topk(graft.operators.Similarity.knnBruteForce(t, nq, k))
    def recall(m: Map[Long, Set[Long]]): Double = {
      val per = exact.toSeq.map { case (q, ex) =>
        (m.getOrElse(q, Set.empty) & ex).size.toDouble / ex.size
      }
      per.sum / per.size
    }
    def fmt(d: Double) = f"$d%.3f"
    val ivf = Seq(1, 2, 4, 8, 16).map { p =>
      p -> recall(topk(graft.operators.Similarity.knnIvf(t, nq, k, nprobe = p)))
    }
    val pq = Seq(4, 16).map { p =>
      p -> recall(topk(graft.operators.Similarity.knnIvfPq(t, nq, k, nprobe = p)))
    }
    val lsh = recall(topk(graft.operators.Similarity.knnLsh(t, nq, k)))
    println(
      s"""{"metric":"knn_recall","k":$k,"queries":$nq,""" +
        s""""ivf_by_nprobe":{${ivf.map { case (p, r) => s""""$p":${fmt(r)}""" }.mkString(",")}},""" +
        s""""ivfpq_by_nprobe":{${pq.map { case (p, r) => s""""$p":${fmt(r)}""" }.mkString(",")}},""" +
        s""""lsh":${fmt(lsh)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
