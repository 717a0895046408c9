package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The one-pass string decode the stage runs must be indistinguishable
  * from the reference-shaped contains chain: random obs strings — valid
  * codes, junk values, multi-valued concepts, absent concepts, the 1534
  * quirk — run through both [[ContainsChainDecode.decodeColumns]] (test
  * sources, the independent oracle) and
  * [[graft.functions.ObsDecode.decodeAllString]] +
  * [[FlatVisitSummary.decodeColumnsFromStruct]], and every one of the 35
  * decoded columns must match row for row.
  */
class DecodePathEquivalenceSpec extends SparkSuite {

  test("contains chain and one-pass string decode agree on fuzzed obs strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val concepts = Seq(
      374 -> Seq(190, 6495, 780), 1048 -> Seq(1065, 1066), 1151 -> Seq(5526, 1708),
      1272 -> Seq(1107, 5488, 1167), 1353 -> Seq(1356, 1354), 1363 -> Seq(1065, 1066),
      1565 -> Seq(1427, 92), 1571 -> Seq(628, 6285, 6297), 1836 -> Seq(1065, 6765),
      5271 -> Seq(1065, 1066), 6150 -> Seq(1066, 6183), 6171 -> Seq(1413, 1624),
      6175 -> Seq(1107, 512), 6181 -> Seq(6180, 105), 6758 -> Seq(1447, 6368),
      6760 -> Seq(1384, 1386, 8015), 6761 -> Seq(1385, 1175), 6780 -> Seq(1065, 1175),
      6781 -> Seq(1066, 1175), 6784 -> Seq(1065, 1066), 6785 -> Seq(1066, 1175),
      6794 -> Seq(6790, 1852), 1592 -> Seq(1405), 1534 -> Seq(3, 7),
      1271 -> Seq(5497, 21, 1569, 1883, 5622),
      6743 -> Seq(55, 72), 6744 -> Seq(160, 181),
      6746 -> Seq(20240105, 20240230), 5096 -> Seq(20240207))

    val rows: Seq[(Long, Seq[(Int, String)])] = (1 to 250).map { i =>
      val picked = concepts.filter(_ => rnd.nextDouble() < 0.5).flatMap { case (c, codes) =>
        val nVals = 1 + (if (rnd.nextDouble() < 0.3) 1 else 0) // sometimes multi-valued
        (0 until nVals).map { _ =>
          val v =
            if (rnd.nextDouble() < 0.7) codes(rnd.nextInt(codes.size)).toString
            else if (c == 6746 || c == 5096) "2024-01-15" // date-shaped
            else (rnd.nextInt(9000) + 1000).toString // junk code
          c -> v
        }
      }.sortBy { case (c, v) => (c, v) }
      (i.toLong, picked.distinct)
    }

    val df = rows.map { case (id, entries) =>
      val obs = entries.map { case (c, v) => s"!!$c=$v!!" }.mkString(" ## ")
      (id, if (obs.isEmpty) null else obs)
    }.toDF("id", "obs")

    val viaChain = df.select(col("id") +: ContainsChainDecode.decodeColumns(col("obs")): _*)
    val viaExpr = df
      .select(col("id"),
        graft.functions.ObsDecode.decodeAllString(col("obs")).as("__dec"))
      .select(col("id") +: FlatVisitSummary.decodeColumnsFromStruct(col("__dec")): _*)
    val a = viaChain.orderBy("id").collect().toSeq
    val b = viaExpr.orderBy("id").collect().toSeq
    assert(a.size == 250)
    val diffs = a.zip(b).filter { case (x, y) => x != y }
    assert(diffs.isEmpty, s"${diffs.size} differing rows, first: ${diffs.headOption}")
    assert(viaExpr.columns.toSeq == viaChain.columns.toSeq)
  }
}
