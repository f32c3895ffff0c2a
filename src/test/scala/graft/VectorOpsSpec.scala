package graft

import graft.engine.VectorOps
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSuite {
  import spark.implicits._

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0, 0.0, 2.0), Seq(1.0, 0.0, 2.0), Seq(0.0, 3.0, 0.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      round(VectorOps.cosine(col("a"), col("b")), 6).as("self"),
      round(VectorOps.cosine(col("a"), col("c")), 6).as("orth")).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("brute-force top-k is ordered and bounded") {
    val r = VectorOps.qVectorTopK(spark, sf, k = 10).collect()
    assert(r.length == 10)
    val sims = r.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("LSH ANN candidates come from the query's bucket and are ranked") {
    val r = VectorOps.qAnnLsh(spark, sf, k = 5)
    val ranks = r.groupBy("q_id").agg(max("rn").as("m")).collect()
    assert(ranks.forall(_.getLong(1) <= 5))
  }

  test("k-means centroids converge toward cluster means, empty clusters survive") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val cents = VectorOps.kmeansCentroids(emb, k = 8, iters = 2)
    assert(cents.length == 8)
    assert(cents.forall(_.length == emb.select("embedding").head().getSeq[Float](0).length))
    // assignment must produce clusters in range and cover >1 cluster
    val clusters = emb.withColumn("c", VectorOps.nearestCentroid(cents))
      .select("c").distinct().collect().map(_.getInt(0))
    assert(clusters.forall(c => c >= 0 && c < 8))
    assert(clusters.length > 1)
  }

  test("IVF ANN recall vs brute force is substantial at nprobe=2/16") {
    val ivf = VectorOps.qAnnIvf(spark, sf, k = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // brute-force top-10 per query
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val truth = queries.crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.nativeCosine(col("q_emb"), col("embedding")).as("c"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("c").desc, col("vec_id").asc)))
      .filter(col("rn") <= 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = truth.map { case (q, t) =>
      ivf.get(q).map(f => (f & t).size.toDouble / t.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    // random gaussian vectors cluster weakly; probing 2/16 of the
    // corpus must still beat the 12.5% random-scan baseline clearly
    assert(meanRecall >= 0.25, s"IVF mean recall too low: $meanRecall")
  }

  test("embedding near-dup finds every planted perturbed pair") {
    val n = graft.engine.Tables.embeddings(spark, sf).count()
    val dups = VectorOps.qEmbedCosineDup(spark, sf)
      .filter(col("id_b") === col("id_a") + 1000000)
    // each original must match its 1%-perturbed copy at cos ≥ 0.95
    assert(dups.count() == n)
    assert(dups.agg(min("cos_sim")).head().getDouble(0) >= 0.99)
  }

  test("vector norms are positive and unit0 is a valid cosine component") {
    val norms = VectorOps.qVectorNorm(spark, sf).collect()
    assert(norms.forall(_.getDouble(1) > 0))
    assert(norms.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }
}
