package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relational explode/aggregate JL projection: posexplode to
  * (vec, i, x), broadcast the dOut-row dim list (bounded by
  * construction), one hash aggregate keyed by (vec, j) with map-side
  * partials. The |rows|·dIn·dOut intermediate is the honest cost of a
  * dense projection evaluated relationally. Production projects through
  * [[Similarity.jlProject]]'s one-pass Expression form; this form stays in
  * the test sources as the independent reference it is gated against
  * (JlProjectionSpec) — bit-identical by construction: HALF_UP is
  * symmetric, terms sum exactly as scale-10 longs.
  */
object JlProjectRelational {

  def jlProjectRelational(
      embeddings: DataFrame,
      id: Column,
      vec: Column,
      dOut: Int,
      salt: String = "jl"): DataFrame = {
    val e = embeddings.select(id.as("vec_id"),
      posexplode(Similarity.toDouble(vec)).as(Seq("i", "x")))
    val dims = e.sparkSession.range(dOut)
      .select(col("id").cast("int").as("j"))
    val sign = when(
      conv(substring(md5(concat_ws("|", lit(salt), col("j"), col("i"))), 1, 1),
        16, 10).cast("int") < 8, 1).otherwise(-1)
    e.crossJoin(broadcast(dims))
      .groupBy(col("vec_id"), col("j"))
      .agg(round(
        sum((col("x") * sign).cast("decimal(27,10)")).cast("double"), 6)
        .as("y"))
  }
}
