package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQueries

/** The learned IVF quantizer (q97, farthest-first + Lloyd) must not be
  * WORSE than the fixed label quantizer (q33) it replaces: recall@5 of
  * each cluster-restricted search is measured against the q30
  * brute-force ground truth. An empty embeddings table must fail the
  * IVF assignment with a named error, not a bare
  * `NoSuchElementException`.
  */
class KmeansRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def recallAt5(dir: String, ivf: DataFrame): (Double, Double) = {
    val truth = SimilarityQueries.knnBruteForce(spark, dir)
      .filter($"rank" <= 5).select($"qid", $"cid").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val got = ivf.select($"qid", $"cid").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val per = truth.toSeq.map { case (q, t) =>
      got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
    }
    (per.sum / per.size, per.min)
  }

  test("learned IVF recall@5 >= fixed label-centroid IVF recall@5") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val (fixedMean, _) = recallAt5(dir, SimilarityQueries.ivfSearch(spark, dir))
      val (learnedMean, _) = recallAt5(dir, SimilarityQueries.ivfKmeans(spark, dir))
      info(f"$dir recall@5 fixed=$fixedMean%.3f learned=$learnedMean%.3f")
      assert(learnedMean >= fixedMean,
        f"$dir: learned quantizer lost recall: $learnedMean%.3f < $fixedMean%.3f")
    }
    // the learned quantizer must also be genuinely useful, not a
    // degenerate single-cluster assignment that trivially ties
    val clusters = SimilarityQueries.ivfKmeans(spark, "/root/testdata/sf0.001")
      .select($"cluster").distinct().count()
    assert(clusters > 1, s"degenerate quantizer: $clusters cluster(s) in results")
  }

  test("IVF assignment (q33, q80, q83, q97) over an empty embeddings table fails with a named error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_emb").toString
    Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    for ((q, build) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        "q33" -> SimilarityQueries.ivfSearch, "q80" -> SimilarityQueries.ivfMultiProbe,
        "q83" -> SimilarityQueries.semanticDedup, "q97" -> SimilarityQueries.ivfKmeans)) {
      val e = intercept[IllegalArgumentException](build(spark, dir))
      assert(e.getMessage.contains("the embeddings table is empty"), s"$q: ${e.getMessage}")
    }
  }
}
