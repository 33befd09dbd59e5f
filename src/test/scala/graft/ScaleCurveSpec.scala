package graft

import org.apache.spark.sql.functions._

import graft.core.T

/** The scaling curve is only evidence if the replication preserves the
  * semantics being scaled. These tests pin the invariants at sf0.001 /
  * m=3: fact cardinalities scale exactly ×m, dims stay fixed, the
  * orders⋈lineitem join scales ×m (keys disjoint per replica), the
  * document corpus' internal duplicate structure is preserved while
  * replicas are mutually dissimilar, embedding replicas are
  * norm-preserving but far in cosine, and the declared queries run
  * unchanged against a replica dir (the T() contracts hold on it). */
class ScaleCurveSpec extends SparkSpec {

  private val m = 3
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-scalecurve").toString
    ScaleCurve.replicate(spark, sf0001, d, m)
    d
  }

  test("fact tables scale x_m with disjoint keys; dims stay fixed") {
    for ((t, k) <- Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
        "events" -> "event_id", "documents" -> "doc_id",
        "embeddings" -> "vec_id")) {
      val base = T(spark, sf0001, t)
      val rep = T(spark, dir, t)
      assert(rep.count() == m * base.count(), s"$t row count")
      assert(rep.agg(countDistinct(col(k))).head.getLong(0)
        == m * base.agg(countDistinct(col(k))).head.getLong(0),
        s"$t keys not disjoint across replicas")
    }
    for (t <- ScaleCurve.dims)
      assert(T(spark, dir, t).count() == T(spark, sf0001, t).count(), s"$t dim")
  }

  test("orders-lineitem join cardinality scales exactly x_m") {
    def joinCount(d: String): Long =
      T(spark, d, "lineitem").join(T(spark, d, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joinCount(dir) == m * joinCount(sf0001))
  }

  test("per-user event density scales x_m with the user population fixed") {
    val base = T(spark, sf0001, "events")
    val rep = T(spark, dir, "events")
    assert(rep.agg(countDistinct(col("user_id"))).head.getLong(0)
      == base.agg(countDistinct(col("user_id"))).head.getLong(0))
  }

  test("userScaled replication grows the fleet x_m with per-user density fixed") {
    val d = java.nio.file.Files.createTempDirectory("graft-scalecurve-u").toString
    ScaleCurve.replicate(spark, sf0001, d, m, userScaled = true)
    val base = T(spark, sf0001, "events")
    val rep = T(spark, d, "events")
    assert(rep.count() == m * base.count())
    assert(rep.agg(countDistinct(col("user_id"))).head.getLong(0)
      == m * base.agg(countDistinct(col("user_id"))).head.getLong(0),
      "user population must scale x_m (disjoint per replica)")
    // per-user density unchanged: the max events-per-user is preserved
    def maxPerUser(df: org.apache.spark.sql.DataFrame): Long = df
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(maxPerUser(rep) == maxPerUser(base),
      "per-user event density must be held constant")
  }

  test("document duplicate structure preserved within, dissimilar across replicas") {
    val base = T(spark, sf0001, "documents")
    val rep = T(spark, dir, "documents")
    val baseDistinct = base.agg(countDistinct(col("text"))).head.getLong(0)
    // Across replicas every text is distinct (the per-token salt), so the
    // corpus-wide distinct count is exactly m x the base distinct count iff
    // each replica also preserves the base duplicate structure.
    assert(rep.agg(countDistinct(col("text"))).head.getLong(0) == m * baseDistinct)
    val docSpan = base.agg(max(col("doc_id").cast("long"))).head.getLong(0) + 1
    for (r <- 0 until m)
      assert(rep.filter(col("doc_id") >= r * docSpan && col("doc_id") < (r + 1) * docSpan)
        .agg(countDistinct(col("text"))).head.getLong(0) == baseDistinct,
        s"replica $r dup structure")
  }

  test("embedding replicas preserve the norm but land far away in cosine") {
    val base = T(spark, sf0001, "embeddings")
    val vecSpan = base.agg(max(col("vec_id").cast("long"))).head.getLong(0) + 1
    val rep = T(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val paired = rep.filter(col("vec_id") < vecSpan).as("a")
      .join(rep.filter(col("vec_id") >= vecSpan && col("vec_id") < 2 * vecSpan).as("b"),
        col("a.vec_id") === col("b.vec_id") - vecSpan)
      .select(
        aggregate(zip_with(col("a.embedding"), col("b.embedding"), (x, y) => x * y),
          lit(0.0d), (acc, v) => acc + v).as("dot"),
        aggregate(transform(col("a.embedding"), x => x * x), lit(0.0d),
          (acc, v) => acc + v).as("na"),
        aggregate(transform(col("b.embedding"), x => x * x), lit(0.0d),
          (acc, v) => acc + v).as("nb"))
      .agg(max(abs(col("na") - col("nb"))).as("norm_drift"),
        max(abs(col("dot") / sqrt(col("na") * col("nb")))).as("max_abs_cos"))
      .head()
    assert(paired.getDouble(0) < 1e-6, "sign flip must preserve the norm")
    assert(paired.getDouble(1) < 0.6, "replica copies must be far in cosine")
  }

  test("declared queries run unchanged against a replica dir") {
    for (q <- Seq("a1_pricing_summary", "j1_inner_equi_join", "dd_exact_dedup"))
      assert(SparkEntry.queries(q)(spark, dir).count() > 0, q)
  }

  test("Bench.measure times a replica query and reports -1 when every rep fails") {
    assert(Bench.measure(spark, dir, "a1_pricing_summary", reps = 2) > 0)
    val missing = java.nio.file.Files.createTempDirectory("sc_none").toString
    assert(Bench.measure(spark, missing, "a1_pricing_summary", reps = 2) == -1.0,
      "a failed rep must not count as a fast run")
  }
}
