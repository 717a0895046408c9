package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class JlProjectionSpec extends SparkSuite {
  import spark.implicits._

  private def fixture(n: Int, d: Int) =
    (0 until n).map { v =>
      (v.toLong, Array.tabulate(d) { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jlfix|$v|$i".getBytes("UTF-8"))
        ((h(0) & 0xff) - 128) / 32.0f
      })
    }.toDF("vec_id", "embedding")

  test("projection is exact and partition-independent") {
    val df = fixture(40, 32)
    // the relational reference's DECIMAL fold is bit-stable under any
    // partitioning; jlProject (the Expression delegate) must match it
    val a = JlProjectRelational.jlProjectRelational(df.repartition(1), col("vec_id"),
      col("embedding"), dOut = 8)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val b = JlProjectRelational.jlProjectRelational(df.repartition(8), col("vec_id"),
      col("embedding"), dOut = 8)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a == b) // DECIMAL fold: bit-stable under any partitioning
    assert(a.size == 40 * 8)
    val c = Similarity.jlProject(df.repartition(8), col("vec_id"),
      col("embedding"), dOut = 8)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a == c) // the delegate replays the reference bit-for-bit
  }

  test("pairwise distances survive within the JL distortion band") {
    // dOut = 16 on 64-dim inputs: E[|Px - Py|^2] = dOut * |x - y|^2 for
    // the ±1 sign matrix; on a fixed md5 matrix individual pairs vary,
    // so assert a generous but meaningful band (no pair collapses to
    // zero or explodes) across all C(12,2) pairs.
    val n = 12; val d = 64; val k = 16
    val df = fixture(n, d)
    val vecs = df.as[(Long, Array[Float])].collect().toMap
    val proj = Similarity.jlProject(df, col("vec_id"), col("embedding"), k)
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3)
      }
    for (x <- 0 until n; y <- x + 1 until n) {
      val orig = vecs(x).zip(vecs(y))
        .map { case (a, b) => (a - b).toDouble * (a - b) }.sum
      val pr = proj(x).zip(proj(y)).map { case (a, b) => (a - b) * (a - b) }.sum
      val ratio = pr / (k * orig)
      assert(ratio > 0.2 && ratio < 3.0,
        s"pair ($x,$y) distorted by $ratio — JL band broken")
    }
  }

  test("Expression form is bit-identical to the relational DECIMAL form") {
    val df = fixture(60, 32)
    val relational = JlProjectRelational.jlProjectRelational(df, col("vec_id"),
        col("embedding"), dOut = 8)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val viaExpr = df.select(col("vec_id"),
        posexplode(graft.functions.VectorExpressions.jlProject(
          Similarity.toDouble(col("embedding")), dOut = 8))
          .as(Seq("j", "y")))
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // exact equality, not tolerance: the expression replays the DECIMAL
    // quantization and ordered rounding steps bit-for-bit
    assert(relational == viaExpr)
  }

  test("Expression overflow fallback still matches the relational form") {
    // magnitudes beyond the scale-10 long fast path (|x|·1e10 > 2^63)
    // but inside Decimal(27,10)'s 17 integer digits — the band where
    // the relational form still works and the long path must yield
    val df = Seq((1L, Array(9.4e8f, -9.4e8f, 1.5f)),
        (2L, Array(9.3e8f, 2.5f, -3.5f)))
      .toDF("vec_id", "embedding")
    val relational = JlProjectRelational.jlProjectRelational(df, col("vec_id"),
        col("embedding"), dOut = 4)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val viaExpr = df.select(col("vec_id"),
        posexplode(graft.functions.VectorExpressions.jlProject(
          Similarity.toDouble(col("embedding")), dOut = 4))
          .as(Seq("j", "y")))
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(relational == viaExpr)
  }

  test("JL-coarse + exact rerank recovers most of the exact top-k") {
    val df = fixture(200, 32)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
    val queries = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(queries, df, 5)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    val jl = Similarity.jlSearchRerank(queries, df,
        dOut = 16, nCandidates = 30, k = 5)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
    val recall = (exact & jl).size.toDouble / exact.size
    // 30-of-199 (~15%) candidate cut; chance recall would be ~0.15
    assert(recall >= 0.5, s"recall@5 $recall below floor")
  }
}
