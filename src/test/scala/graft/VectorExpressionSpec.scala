package graft

import graft.engine.{Tables, VectorOps}
import org.apache.spark.sql.functions._

/** Native CosineSimilarity expression: equivalence with the HOF
  * formulation, SQL registry path, null semantics. */
class VectorExpressionSpec extends SparkSuite {
  import spark.implicits._

  test("native cosine matches the HOF composition within 1e-9") {
    val emb = Tables.embeddings(spark, sf).limit(100)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id")).limit(500)
    val both = pairs.select(
      VectorOps.nativeCosine(col("a"), col("b")).as("native"),
      VectorOps.cosine(
        transform(col("a"), _.cast("double")),
        transform(col("b"), _.cast("double"))).as("hof"))
    val maxDiff = both.select(max(abs(col("native") - col("hof")))).head().getDouble(0)
    assert(maxDiff < 1e-9, s"native vs HOF diverged by $maxDiff")
  }

  test("registered function is callable from SQL") {
    val r = spark.sql(
      """SELECT graft_cosine(
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("null input yields null, mismatched type fails analysis") {
    val r = spark.sql(
      "SELECT graft_cosine(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
      .head()
    assert(r.isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(1.0), array(2.0))").collect()
    }
    assert(err.getMessage.contains("array<float>"))
  }

  test("sorted-merge jaccard matches the array_intersect/union formulation") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.engine.TextOps.shingleHashes(
        graft.engine.TextOps.tokens(col("text")), 3).as("sh"))
    val pairs = docs.select(col("doc_id").as("a_id"), col("sh").as("a"))
      .crossJoin(docs.select(col("doc_id").as("b_id"), col("sh").as("b")))
      .filter(col("a_id") < col("b_id")).limit(1000)
    val bad = pairs.select(
        call_function("graft_jaccard_sorted", col("a"), col("b")).as("native"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b")))).as("builtin"))
      .filter(abs(col("native") - col("builtin")) > 1e-12)
      .count()
    assert(bad == 0)
  }

  test("self-similarity is exactly 1.0 for unit-consistent inputs") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val self = emb.select(
      VectorOps.nativeCosine(col("embedding"), col("embedding")).as("c"))
    val bad = self.filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(bad == 0)
  }

  test("SelfSimilarityFold rewrites diagonal jaccard to a constant (optimizer rule)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.engine.TextOps.shingleHashes(
        graft.engine.TextOps.tokens(col("text")), 3).as("sh"))
    val diag = docs.select(
      call_function("graft_jaccard_sorted", col("sh"), col("sh")).as("j"))
    // the optimized plan must not contain the expression anymore
    val optimized = diag.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_jaccard_sorted"),
      s"self-pair not folded:\n$optimized")
    // semantics preserved: non-empty shingle sets → 1.0
    val nonEmpty = diag.filter(col("j") =!= 1.0).count()
    val empties = docs.filter(size(col("sh")) === 0).count()
    assert(nonEmpty == empties, s"fold changed values: $nonEmpty vs $empties")
    // off-diagonal pairs are untouched
    val pair = docs.limit(2).select(col("sh")).collect()
    val offDiag = docs.select(col("doc_id").as("a_id"), col("sh").as("a"))
      .crossJoin(docs.select(col("doc_id").as("b_id"), col("sh").as("b")))
      .filter(col("a_id") =!= col("b_id")).limit(10)
      .select(call_function("graft_jaccard_sorted", col("a"), col("b")))
    assert(offDiag.queryExecution.optimizedPlan.toString
      .contains("graft_jaccard_sorted"))
    assert(pair.length == 2)
  }
}
