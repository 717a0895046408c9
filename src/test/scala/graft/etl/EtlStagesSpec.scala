package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite

class EtlStagesSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mkObs(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(sc.parallelize(rows, 2), Schemas.obs)
  private def mkEnc(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(sc.parallelize(rows, 2), Schemas.encounter)
  private def mkPerson(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(sc.parallelize(rows, 2), Schemas.person)
  private def mkOrders(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(sc.parallelize(rows, 2), Schemas.orders)

  private val people = mkPerson(Seq(
    Row(1, "uuid-1", 0), Row(2, "uuid-2", 0), Row(9, "uuid-9", 1)))

  test("FlatObs.build: typed rendering, sorted map, encounter-less grain, voided person purge") {
    val enc = mkEnc(Seq(
      Row(100, 1, 500, ts("2015-01-10 09:00:00"), 21, 3,
        ts("2015-01-10 12:00:00"), null, 0),
      Row(101, 9, null, ts("2015-01-11 09:00:00"), 22, 3,
        ts("2015-01-11 12:00:00"), null, 0)))
    val obs = mkObs(Seq(
      // coded + numeric + datetime + text in one encounter (plus a voided row)
      Row(1, 1, 100, 1836, ts("2015-01-10 09:00:00"), 1065, null, null, null,
        null, null, null, ts("2015-01-10 12:00:00"), 0, null),
      Row(2, 1, 100, 6743, ts("2015-01-10 09:00:00"), null, 72.0, null, null,
        null, null, null, ts("2015-01-10 12:00:00"), 0, null),
      Row(3, 1, 100, 6746, ts("2015-01-10 09:00:00"), null, null,
        ts("2015-01-02 00:00:00"), null, null, null, null,
        ts("2015-01-10 12:00:00"), 0, null),
      Row(4, 1, 100, 9002, ts("2015-01-10 09:00:00"), null, null, null, null,
        "hello", null, null, ts("2015-01-10 12:00:00"), 1, ts("2015-02-01 00:00:00")),
      // voided person's encounter obs
      Row(5, 9, 101, 1836, ts("2015-01-11 09:00:00"), 1066, null, null, null,
        null, null, null, ts("2015-01-11 12:00:00"), 0, null),
      // encounter-less group for person 2
      Row(6, 2, null, 5271, ts("2015-01-12 08:00:00"), 1065, null, null, null,
        null, null, null, ts("2015-01-12 16:00:00"), 0, null),
      Row(7, 2, null, 6150, ts("2015-01-12 08:00:00"), 6182, null, null, null,
        null, null, null, ts("2015-01-12 16:00:00"), 0, null)))

    val flat = FlatObs.build(obs, enc, people).cache()
    val rows = flat.collect().map(r => r.getAs[Int]("encounter_id") -> r).toMap

    // person 9 voided → encounter 101 absent
    assert(rows.keySet == Set(100, 100000006))
    val e100 = rows(100)
    assert(e100.getAs[String]("obs") ==
      "!!1836=1065!! ## !!6743=72!! ## !!6746=2015-01-02!!") // numeric "72" not "72.0"
    assert(e100.getAs[String]("obs_datetimes") ==
      "!!1836=2015-01-10!! ## !!6743=2015-01-10!! ## !!6746=2015-01-10!!")
    assert(e100.getAs[Int]("visit_id") == 500)
    // encounter-less: synthetic key = min(obs_id)+1e8, type 99999
    val m = rows(100000006)
    assert(m.getAs[Int]("encounter_type") == 99999)
    assert(m.getAs[String]("obs") == "!!5271=1065!! ## !!6150=6182!!")
    assert(m.getAs[Timestamp]("encounter_datetime") == ts("2015-01-12 08:00:00"))
  }

  test("FlatObs retraction: void arriving after watermark removes value; group survives") {
    val enc = mkEnc(Seq(
      Row(100, 1, 500, ts("2015-01-10 09:00:00"), 21, 3,
        ts("2015-01-10 12:00:00"), null, 0)))
    def obsAt(voidDateFor2: Timestamp) = mkObs(Seq(
      Row(1, 1, 100, 1836, ts("2015-01-10 09:00:00"), 1065, null, null, null,
        null, null, null, ts("2015-01-10 12:00:00"), 0, null),
      Row(2, 1, 100, 6743, ts("2015-01-10 09:00:00"), null, 72.0, null, null,
        null, null, null, ts("2015-01-10 12:00:00"),
        if (voidDateFor2 != null) 1 else 0, voidDateFor2)))

    val wm = ts("2015-01-20 00:00:00")
    val before = FlatObs.build(obsAt(null), enc, people)
    val after = FlatObs.incremental(
      before, obsAt(ts("2015-01-25 00:00:00")), enc, people, Horizons.at(wm))
    val got = after.collect()(0)
    assert(got.getAs[String]("obs") == "!!1836=1065!!") // 6743 retracted
    // and equals a from-scratch rebuild on the post-void source
    val rebuilt = FlatObs.build(obsAt(ts("2015-01-25 00:00:00")), enc, people)
    assert(after.collect().toSeq == rebuilt.collect().toSeq)
  }

  test("FlatOrders.build: plain concept list, datetime map, left-join encounter") {
    val enc = mkEnc(Seq(
      Row(100, 1, 500, ts("2015-01-10 09:00:00"), 21, 7,
        ts("2015-01-10 12:00:00"), null, 0)))
    val orders = mkOrders(Seq(
      Row(1, 1, 100, 1010, ts("2015-01-10 12:00:00"), 0, null),
      Row(2, 1, 100, 1005, ts("2015-01-11 12:00:00"), 0, null),
      Row(3, 2, 200, 1001, ts("2015-01-12 12:00:00"), 0, null), // dangling encounter
      Row(4, 1, 100, 1099, ts("2015-01-10 12:00:00"), 1, ts("2015-02-01 00:00:00"))))
    val flat = FlatOrders.build(orders, enc, people)
    val rows = flat.collect().map(r => r.getAs[Int]("encounter_id") -> r).toMap
    assert(rows.keySet == Set(100, 200))
    assert(rows(100).getAs[String]("orders") == "1005 ## 1010")
    assert(rows(100).getAs[String]("order_datetimes") ==
      "!!1005=2015-01-11!! ## !!1010=2015-01-10!!")
    assert(rows(100).getAs[Int]("location_id") == 7)
    assert(rows(200).isNullAt(rows(200).fieldIndex("encounter_datetime")))
  }

  test("FlatLabObs.build: panel filter, person-day grain, DISTINCT map, NONE-order exclusion") {
    val obs = mkObs(Seq(
      // same person, same day, two encounters → one flat row
      Row(1, 1, 100, 856, ts("2015-01-10 09:00:00"), null, 1200.0, null, null,
        null, null, null, ts("2015-01-10 12:00:00"), 0, null),
      Row(2, 1, 101, 1271, ts("2015-01-10 11:00:00"), 5497, null, null, null,
        null, null, null, ts("2015-01-10 12:30:00"), 0, null),
      Row(3, 1, 101, 1271, ts("2015-01-10 11:00:00"), 5497, null, null, null,
        null, null, null, ts("2015-01-10 12:31:00"), 0, null), // duplicate entry → DISTINCT
      Row(4, 1, null, 1271, ts("2015-01-10 13:00:00"), 1107, null, null, null,
        null, null, null, ts("2015-01-10 13:30:00"), 0, null), // orders=NONE → excluded
      Row(5, 1, 100, 9002, ts("2015-01-10 09:00:00"), null, null, null, null,
        "not-lab", null, null, ts("2015-01-10 12:00:00"), 0, null), // non-panel
      Row(6, 2, 102, 21, ts("2015-01-11 09:00:00"), null, 13.5, null, null,
        null, null, null, ts("2015-01-11 12:00:00"), 0, null)))
    val flat = FlatLabObs.build(obs, people).collect()
      .map(r => (r.getAs[Int]("person_id"), r)).toMap
    assert(flat.size == 2)
    val p1 = flat(1)
    assert(p1.getAs[Int]("encounter_id") == 100000001)
    assert(p1.getAs[String]("obs") == "!!856=1200!! ## !!1271=5497!!") // distinct applied
    assert(p1.getAs[String]("obs_ids") == "!!856=1!! ## !!1271=2!! ## !!1271=3!!")
    assert(p1.getAs[String]("encounter_ids") == "!!856==100!! ## !!1271=5497=101!! ## !!1271=5497=101!!")
    assert(flat(2).getAs[String]("obs") == "!!21=13.5!!")
  }

  test("FlatVisitSummary decode: coded labels, extraction, quirks") {
    import spark.implicits._
    val flatObs = Seq(
      (1, 500, 100, ts("2015-01-10 09:00:00"), 21, 3,
        "!!1836=1065!! ## !!1571=6285!! ## !!6743=72!! ## !!6743=75!! ## " +
          "!!1271=5497!! ## !!1271=21!! ## !!6746=2015-01-02!! ## !!1534=4!! ## !!6794=6790!!",
        "x", ts("2015-01-10 12:00:00")),
      (2, 501, 101, ts("2015-01-11 09:00:00"), 35, 3, // non-clinical → excluded
        "!!1836=1066!!", "x", ts("2015-01-11 12:00:00")))
      .toDF("person_id", "visit_id", "encounter_id", "encounter_datetime",
        "encounter_type", "location_id", "obs", "obs_datetimes", "max_date_created")
    val flatOrders = Seq((100, "1005 ## 1010")).toDF("encounter_id", "orders")

    val out = FlatVisitSummary.build(flatObs, flatOrders, people).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("uuid") == "uuid-1")
    assert(r.getAs[Int]("is_clinical_encounter") == 1)
    assert(r.getAs[String]("pregnant") == "Yes")
    assert(r.getAs[String]("currentregmen") == "AF1A/CF1A-3TC/AZT/NVP")
    assert(r.getAs[String]("weight") == "72 ## 75") // multi-value surgery yield
    assert(r.getAs[Timestamp]("enrollment_date") == ts("2015-01-02 00:00:00"))
    assert(r.getAs[Timestamp]("hiv_start_date") == ts("2015-01-02 00:00:00")) // §7.4.2
    assert(r.getAs[String]("cd4_cd4percentage_done") == "Yes")
    assert(r.getAs[String]("hgb_done") == "Yes")
    assert(r.getAs[String]("rpr_done") == "No")
    assert(r.getAs[String]("who_stage") == "1") // §7.4.3 first arm wins
    assert(r.getAs[String]("no_of_day_hospitalized") == "") // §7.4.5 mangled extraction
    assert(r.getAs[String]("tb_status") == null)
  }

  test("FlatVisitSummary.withLabRows stages padded lab rows (SURVEY 2.7 union shape)") {
    import spark.implicits._
    val clinical = Seq((1, 500, 100, ts("2015-01-10 09:00:00"), 21, 3, "!!1836=1065!!",
      "x", 1, 1, "1005"))
      .toDF("person_id", "visit_id", "encounter_id", "encounter_datetime",
        "encounter_type", "location_id", "obs", "obs_datetimes",
        "is_clinical_encounter", "encounter_type_sort_index", "orders")
    val labs = Seq((1, 100000001, ts("2015-01-11 00:00:00"), 99999, null: Integer,
      "!!856=1200!!", ts("2015-01-11 12:00:00"), "e", "o"))
      .toDF("person_id", "encounter_id", "test_datetime", "encounter_type",
        "location_id", "obs", "max_date_created", "encounter_ids", "obs_ids")
    val staged = FlatVisitSummary.withLabRows(clinical, labs)
    assert(staged.count() == 2)
    val labRow = staged.filter(col("encounter_type") === 99999).collect()(0)
    assert(labRow.getAs[Int]("is_clinical_encounter") == 0)
    assert(labRow.getAs[Int]("encounter_type_sort_index") == 1)
    assert(labRow.isNullAt(labRow.fieldIndex("visit_id")))
    assert(labRow.getAs[String]("obs") == "!!856=1200!!")
  }

  test("FlatLatestHivSummary: latest bare columns + true MAX aggregates, no duplicates") {
    import spark.implicits._
    val vs = Seq(
      (1, "uuid-1", ts("2015-01-10 09:00:00"), 21, "70", "AF1A", "Good",
        ts("2015-01-02 00:00:00")),
      (1, "uuid-1", ts("2015-03-01 09:00:00"), 22, "75", null, "Poor", null))
      .toDF("person_id", "uuid", "encounter_datetime", "encounter_type",
        "weight", "currentregmen", "arvs_adherence", "enrollment_date")
      .withColumn("location_id", lit(3))
      .withColumn("height", lit("170"))
      .withColumn("who_stage", lit("1"))
      .withColumn("tb_status", lit(null).cast("string"))
      .withColumn("hiv_start_date", col("enrollment_date"))
      .withColumn("encounter_id", monotonically_increasing_id().cast("int"))
    val out = FlatLatestHivSummary.build(vs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Timestamp]("encounter_datetime") == ts("2015-03-01 09:00:00"))
    assert(r.getAs[String]("weight") == "75") // from latest row
    assert(r.getAs[String]("current_regimen") == "AF1A") // MAX ignores null
    assert(r.getAs[Timestamp]("enrollment_date") == ts("2015-01-02 00:00:00"))
  }
}
