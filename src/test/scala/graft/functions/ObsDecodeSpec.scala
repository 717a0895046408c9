package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.etl.FlatVisitSummary

/** Direct null/edge semantics of the one-pass decode expression that the
  * fuzz spec's generated strings cannot reach: a null/empty obs string
  * (ObsMap emits null for no entries — lab-union padded rows carry it),
  * a mistyped input, and malformed string tokens (must be skipped, like a
  * contains arm that can never match).
  */
class ObsDecodeSpec extends SparkSuite {

  test("mistyped input fails at analysis time with the expected type named") {
    import spark.implicits._
    val dfInt = Seq((1, 2)).toDF("id", "o")
    val eStr = intercept[org.apache.spark.sql.AnalysisException] {
      dfInt.select(ObsDecode.decodeAllString(col("o"))).schema
    }
    assert(eStr.getMessage.contains("requires string"))
  }

  test("null, empty, and malformed obs strings are safe and skipped") {
    import spark.implicits._
    val df = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "garbage without entries"),
      (4L, "1048=1065"), // missing !! framing: contains can't match either
      (5L, "!!notanumber=5!! ## !!1048=1065!!"), // bad concept skipped, good kept
      (6L, "!!99999999999999=1!!")) // concept overflow guard
      .toDF("id", "obs")
    val decoded = df.select(col("id"),
        ObsDecode.decodeAllString(col("obs")).as("__dec"))
      .select(col("id") +: FlatVisitSummary.decodeColumnsFromStruct(col("__dec")): _*)
    val names = decoded.columns
    val out = decoded.orderBy("id").collect()
    // rows 1-4 and 6: nothing decodes — membership tests read "No",
    // every other decode column is null
    Seq(0, 1, 2, 3, 5).foreach { r =>
      names.zipWithIndex.foreach { case (n, i) =>
        if (n == "id") ()
        else if (n.endsWith("_done"))
          assert(out(r).getString(i) == "No", s"row ${r + 1} col $n")
        else assert(out(r).isNullAt(i), s"row ${r + 1} col $n should be null")
      }
    }
    // row 5: the well-formed token decodes despite the malformed neighbor
    assert(out(4).getString(names.indexOf("pwp_disclosure")) == "Yes",
      "valid token next to junk must decode")
  }
}
