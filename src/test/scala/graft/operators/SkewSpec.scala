package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite

class SkewSpec extends SparkSuite {

  test("saltedSortedAgg equals unsalted collect+sort on a hot key") {
    import spark.implicits._
    val df = ((1 to 900).map(i => ("hot", i)) ++ Seq(("cold", 1), ("cold", 2)))
      .toDF("k", "v")
    val entry = struct(col("v"))
    val salted = Skew.saltedSortedAgg(df, Seq("k"), entry, saltBuckets = 8)
      .select(col("k"), transform(col("sorted_entries"), _.getField("v")).as("vs"))
    val plain = df.groupBy("k")
      .agg(sort_array(collect_list(entry)).as("e"))
      .select(col("k"), transform(col("e"), _.getField("v")).as("vs"))
    val a = salted.orderBy("k").as[(String, Seq[Int])].collect().toSeq
    val b = plain.orderBy("k").as[(String, Seq[Int])].collect().toSeq
    assert(a == b)
  }
}
