package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Skew wiring (SURVEY §4): FlatObs's obs-map aggregation behind
  * `graft.skew.obsAggSaltBuckets` must produce IDENTICAL output salted and
  * unsalted — on a fixture with one hot person holding two orders of
  * magnitude more obs than anyone else (the named person-level skew), with
  * both grains, all typed-value arms, nulls, and duplicate entries present.
  */
class SaltedObsAggSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def hotFixture() = {
    val d1 = ts("2015-01-05 09:00:00")
    val persons = (1 to 6).map(p => Row(p, s"u-$p", 0))
    val encounters = Seq.newBuilder[Row]
    val obs = Seq.newBuilder[Row]
    var obsId = 0
    // hot person 1: 8 encounters × 150 obs; others: 1 encounter × 3 obs
    (1 to 6).foreach { pid =>
      val nEnc = if (pid == 1) 8 else 1
      val nObs = if (pid == 1) 150 else 3
      (1 to nEnc).foreach { k =>
        val encId = pid * 100 + k
        encounters += Row(encId, pid, encId * 10, d1, 21, 1, d1, null, 0)
        (1 to nObs).foreach { i =>
          obsId += 1
          // cycle typed arms incl. repeats (same concept+value → dup entry)
          val row = i % 4 match {
            case 0 => Row(obsId, pid, encId, 6743, d1, null, 40.0 + (i % 7), null,
              null, null, null, null, d1, 0, null)
            case 1 => Row(obsId, pid, encId, 1836, d1, 1065 + (i % 2), null, null,
              null, null, null, null, d1, 0, null)
            case 2 => Row(obsId, pid, encId, 9002, d1, null, null, null, null,
              s"note-${i % 5}", null, null, d1, 0, null)
            case _ => Row(obsId, pid, encId, 5096, d1, null, null,
              ts("2015-02-01 00:00:00"), null, null, null, null, d1, 0, null)
          }
          obs += row
        }
      }
      // encounter-less group for every person at the same moment (grain 2)
      (1 to (if (pid == 1) 40 else 2)).foreach { i =>
        obsId += 1
        obs += Row(obsId, pid, null, 1271, d1, 5497 + (i % 3), null, null, null,
          null, null, null, d1, 0, null)
      }
    }
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    (df(obs.result(), Schemas.obs),
      df(encounters.result(), Schemas.encounter),
      df(persons, Schemas.person))
  }

  test("salted obs-map aggregation == unsalted on a hot-person fixture") {
    val (obs, enc, person) = hotFixture()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

    spark.conf.unset(FlatObs.SaltConfKey)
    val unsalted = rows(FlatObs.build(obs, enc, person))
    try {
      spark.conf.set(FlatObs.SaltConfKey, "7")
      val salted = rows(FlatObs.build(obs, enc, person))
      assert(salted == unsalted)
      assert(unsalted.nonEmpty)
    } finally spark.conf.unset(FlatObs.SaltConfKey)
  }
}
