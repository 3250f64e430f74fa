package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The IVF near-dup pair arm in both quantizer regimes, forced at fixture
  * size: the flat codebook (every corpus under the broadcast ceiling) and
  * the two-half product codebook (past it). In each regime the arm's
  * verified output must be exact and must never miss an identical pair.
  */
class PairDialsSpec extends SparkSpec {

  private def verifiedPairs(d: String, dials: PairDials) =
    SimilarityQueries.verifiedNearDup(spark, d,
      SimilarityQueries.nearDupCandidates(spark, d, "ivf", dials))
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap

  for ((regime, product) <- Seq("flat" -> false, "product" -> true)) {
    val dials = PairDials(product = Some(product))

    test(s"$regime IVF pair arm returns only exact-verified pairs") {
      val exact = SimilarityQueries.embedNearDup(spark, sf()).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
          r.getAs[Double]("cos")).toMap
      val ivf = verifiedPairs(sf(), dials)
      assert(ivf.nonEmpty)
      ivf.foreach { case (k, c) =>
        assert(exact.get(k).contains(c),
          s"$regime pair $k cos $c not in the exact set (${exact.get(k)})")
      }
    }

    test(s"$regime IVF pair arm finds every identical pair") {
      // every base vector duplicated under a shifted id: identical
      // vectors share their home cell, and every vector probes its home
      // cell first, so each (v, v+OFF) pair must surface with cos 1.0
      val OFF = 100000L
      val tmp = java.nio.file.Files.createTempDirectory(s"ivf_dup_$regime")
        .toString
      val base = spark.read.parquet(sf() + "/embeddings.parquet")
      base.unionByName(base.withColumn("vec_id", col("vec_id") + OFF))
        .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
      val dup = verifiedPairs(tmp, dials)
      val nonZero = base.collect().filter { r =>
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .exists(v => math.round(v.toDouble * 1e7) != 0L) }
        .map(_.getAs[Long]("vec_id"))
      assert(nonZero.nonEmpty)
      nonZero.foreach { id =>
        assert(dup.get((id, id + OFF)).contains(1.0),
          s"identical pair ($id, ${id + OFF}) missed by the $regime arm")
      }
      graft.Memo.release(spark, tmp)
    }
  }
}
