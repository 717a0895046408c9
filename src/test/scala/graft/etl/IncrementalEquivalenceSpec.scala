package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The system's core invariant (SURVEY §5.3): running the incremental
  * pipeline over a sequence of watermarks is equivalent to one full rebuild
  * on the final source state — for a generated timeline containing inserts,
  * updates (date_changed), and retro-active voids.
  *
  * Source visibility at watermark t: rows with date_created <= t exist;
  * voids/changes materialize when their date_voided/date_changed <= t.
  */
class IncrementalEquivalenceSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Source state as of time `t`: late rows vanish, pending voids/changes
    * are not yet applied. */
  private def obsAsOf(obs: DataFrame, t: Timestamp): DataFrame =
    obs.filter(col("date_created") <= lit(t))
      .withColumn("voided",
        when(col("voided") === 1 && col("date_voided") <= lit(t), 1).otherwise(0))
      .withColumn("date_voided",
        when(col("voided") === 1, col("date_voided")))

  private def encAsOf(enc: DataFrame, t: Timestamp): DataFrame =
    enc.filter(col("date_created") <= lit(t))
      .withColumn("date_changed",
        when(col("date_changed") <= lit(t), col("date_changed")))

  private def ordersAsOf(o: DataFrame, t: Timestamp): DataFrame =
    o.filter(col("date_created") <= lit(t))
      .withColumn("voided",
        when(col("voided") === 1 && col("date_voided") <= lit(t), 1).otherwise(0))
      .withColumn("date_voided",
        when(col("voided") === 1, col("date_voided")))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  test("flat_obs / flat_orders / flat_lab_obs: chained incrementals == full rebuild") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 30, seed = 7L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person"))

    val cuts = Seq(
      ts("2015-02-01 00:00:00"), ts("2015-03-01 00:00:00"), ts("2015-06-01 00:00:00"))

    // flat_obs
    var flat = FlatObs.build(obsAsOf(obs, cuts.head), encAsOf(enc, cuts.head), person)
    cuts.sliding(2).foreach { case Seq(prev, next) =>
      flat = FlatObs.incremental(
        flat, obsAsOf(obs, next), encAsOf(enc, next), person, Horizons.at(prev))
    }
    val fullObs = FlatObs.build(obsAsOf(obs, cuts.last), encAsOf(enc, cuts.last), person)
    assert(sortedRows(flat) == sortedRows(fullObs))

    // flat_orders — NB the reference's voided-capture predicate
    // (date_created > wm, flat_orders_v1.0.sql:48) misses voids of rows
    // created before the watermark; match full-rebuild by the same timeline
    var fo = FlatOrders.build(ordersAsOf(orders, cuts.head), encAsOf(enc, cuts.head), person)
    cuts.sliding(2).foreach { case Seq(prev, next) =>
      fo = FlatOrders.incremental(
        fo, ordersAsOf(orders, next), encAsOf(enc, next), person, Horizons.at(prev))
    }
    val fullOrders =
      FlatOrders.build(ordersAsOf(orders, cuts.last), encAsOf(enc, cuts.last), person)
    assert(sortedRows(fo) == sortedRows(fullOrders))

    // flat_lab_obs
    var fl = FlatLabObs.build(obsAsOf(obs, cuts.head), person)
    cuts.sliding(2).foreach { case Seq(prev, next) =>
      fl = FlatLabObs.incremental(fl, obsAsOf(obs, next), person, Horizons.at(prev))
    }
    val fullLabs = FlatLabObs.build(obsAsOf(obs, cuts.last), person)
    assert(sortedRows(fl) == sortedRows(fullLabs))
  }

  test("visit summary incremental == full rebuild over flat_obs deltas (seed sweep)") {
    // multiple seeds so the invariant doesn't hold by fixture luck — the
    // retraction-blind queue bug (fixed mode, see FlatVisitSummary
    // .incremental) was invisible on the single original seed
    Seq(11L, 19L, 43L).foreach { seed =>
      val fx = OpenMrsFixture.generate(spark, nPersons = 25, seed = seed)
      val (obs, enc, orders, person) =
        (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person"))
      val t1 = ts("2015-02-01 00:00:00")
      val t2 = ts("2015-06-01 00:00:00")

      val fo1 = FlatObs.build(obsAsOf(obs, t1), encAsOf(enc, t1), person)
      val ford1 = FlatOrders.build(ordersAsOf(orders, t1), encAsOf(enc, t1), person)
      val vs1 = FlatVisitSummary.build(fo1, ford1, person)

      val fo2 = FlatObs.build(obsAsOf(obs, t2), encAsOf(enc, t2), person)
      val ford2 = FlatOrders.build(ordersAsOf(orders, t2), encAsOf(enc, t2), person)
      val vs2inc = FlatVisitSummary.incremental(
        vs1, fo2, ford2, obsAsOf(obs, t2), encAsOf(enc, t2), person, Horizons.at(t1))
      val vs2full = FlatVisitSummary.build(fo2, ford2, person)
      assert(sortedRows(vs2inc) == sortedRows(vs2full), s"seed $seed")
    }
  }

  test("visit summary incremental: retraction-only deltas (void with no new rows)") {
    // The reference queue (encounter.date_changed > wm ∪ flat_obs
    // .max_date_created > wm) is blind to deltas that consist ONLY of voids:
    // p1's pregnant obs is voided (stale decode column), p3's single obs is
    // voided so its encounter vanishes from flat_obs entirely (phantom
    // summary row). p2 is the untouched control.
    import org.apache.spark.sql.Row
    val d1 = ts("2015-01-01 10:00:00") // creations
    val dv = ts("2015-02-10 10:00:00") // voids land between t1 and t2
    val t1 = ts("2015-02-01 00:00:00")
    val t2 = ts("2015-06-01 00:00:00")

    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val person = df(Seq(Row(1, "u-1", 0), Row(2, "u-2", 0), Row(3, "u-3", 0)), Schemas.person)
    val enc = df(Seq(
      Row(1, 1, 10, d1, 21, 1, d1, null, 0),
      Row(2, 2, 20, d1, 21, 1, d1, null, 0),
      Row(3, 3, 30, d1, 21, 1, d1, null, 0)), Schemas.encounter)
    val obs = df(Seq(
      Row(1, 1, 1, 6743, d1, null, 70.0, null, null, null, null, null, d1, 0, null),
      Row(2, 1, 1, 1836, d1, 1065, null, null, null, null, null, null, d1, 1, dv),
      Row(3, 2, 2, 6743, d1, null, 80.0, null, null, null, null, null, d1, 0, null),
      Row(4, 3, 3, 1836, d1, 1066, null, null, null, null, null, null, d1, 1, dv)),
      Schemas.obs)
    val noOrders = df(Seq.empty[Row], Schemas.orders)

    val fo1 = FlatObs.build(obsAsOf(obs, t1), encAsOf(enc, t1), person)
    val ford = FlatOrders.build(noOrders, encAsOf(enc, t1), person)
    val vs1 = FlatVisitSummary.build(fo1, ford, person)
    // sanity: before the voids, p1 decodes pregnant and p3 has a row
    assert(vs1.filter(col("person_id") === 1 && col("pregnant") === "Yes").count() == 1)
    assert(vs1.filter(col("person_id") === 3).count() == 1)

    val fo2 = FlatObs.build(obsAsOf(obs, t2), encAsOf(enc, t2), person)
    val vs2inc = FlatVisitSummary.incremental(
      vs1, fo2, ford, obsAsOf(obs, t2), encAsOf(enc, t2), person, Horizons.at(t1))
    val vs2full = FlatVisitSummary.build(fo2, ford, person)
    assert(sortedRows(vs2inc) == sortedRows(vs2full))
    assert(vs2inc.filter(col("person_id") === 1 && col("pregnant").isNotNull).count() == 0)
    assert(vs2inc.filter(col("person_id") === 3).count() == 0)
    assert(vs2inc.filter(col("person_id") === 2).count() == 1)
  }

  test("flat_obs incremental: encounter-level voids retract, unvoids materialize") {
    // The reference's changed-encounter set keeps only unvoided encounters
    // already flat, so an encounter voided after the watermark left a
    // stale flat row and an unvoided one was never materialized. Fixed
    // mode: both flow through date_changed > wm.
    import org.apache.spark.sql.Row
    val d1 = ts("2015-01-01 10:00:00")
    val dc = ts("2015-02-10 10:00:00") // the void/unvoid lands between cuts
    val t1 = ts("2015-02-01 00:00:00")
    val t2 = ts("2015-06-01 00:00:00")
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val person = df(Seq(Row(1, "u-1", 0), Row(2, "u-2", 0)), Schemas.person)
    // at t1: encounter 100 live, encounter 200 voided; at t2 they swap
    // (date_changed = dc marks both flips)
    val enc1 = df(Seq(
      Row(100, 1, 10, d1, 21, 1, d1, null, 0),
      Row(200, 2, 20, d1, 21, 1, d1, null, 1)), Schemas.encounter)
    val enc2 = df(Seq(
      Row(100, 1, 10, d1, 21, 1, d1, dc, 1),
      Row(200, 2, 20, d1, 21, 1, d1, dc, 0)), Schemas.encounter)
    val obs = df(Seq(
      Row(1, 1, 100, 6743, d1, null, 70.0, null, null, null, null, null, d1, 0, null),
      Row(2, 2, 200, 6743, d1, null, 80.0, null, null, null, null, null, d1, 0, null)),
      Schemas.obs)

    val flat1 = FlatObs.build(obs, enc1, person)
    assert(sortedRows(flat1.select("encounter_id")).toString.contains("100"))
    val inc = FlatObs.incremental(flat1, obs, enc2, person, Horizons.at(t1))
    val full = FlatObs.build(obs, enc2, person)
    assert(sortedRows(inc) == sortedRows(full))
    assert(inc.filter(col("encounter_id") === 100).count() == 0) // retracted
    assert(inc.filter(col("encounter_id") === 200).count() == 1) // materialized
  }

  test("numeric rendering: plain notation at 1e7; null-concept rows excluded from maps") {
    import org.apache.spark.sql.Row
    val d1 = ts("2015-01-01 10:00:00")
    val d2 = ts("2015-01-02 10:00:00")
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val person = df(Seq(Row(1, "u-1", 0)), Schemas.person)
    val enc = df(Seq(Row(100, 1, 10, d1, 21, 1, d1, null, 0)), Schemas.encounter)
    // viral load of exactly 1e7 (Spark's double->string would print
    // "1.0E7"), a fractional value, and a NULL-concept row (later
    // date_created: must count toward max_date_created but produce no
    // map entry — MySQL CONCAT with a null concept is NULL)
    val obs = df(Seq(
      Row(1, 1, 100, 856, d1, null, 1.0e7, null, null, null, null, null, d1, 0, null),
      Row(2, 1, 100, 6743, d1, null, 72.5, null, null, null, null, null, d1, 0, null),
      Row(3, 1, 100, null, d1, null, null, null, null, "stray", null, null, d2, 0, null)),
      Schemas.obs)
    val row = FlatObs.build(obs, enc, person).collect()(0)
    assert(row.getAs[String]("obs") == "!!856=10000000!! ## !!6743=72.5!!")
    assert(row.getAs[String]("obs_datetimes") ==
      "!!856=2015-01-01!! ## !!6743=2015-01-01!!")
    assert(row.getAs[Timestamp]("max_date_created") == d2)
  }

  test("flat_obs holds exactly the Schemas.flatObs columns after default-count, 8-bucket and cascade writes") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 12, seed = 5L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person"))
    val t1 = ts("2015-03-01 00:00:00")
    val want = Schemas.flatObs.fieldNames.toSeq
    def fieldsOf(p: Pipeline): Seq[String] =
      p.readFlat("flat_obs").get.schema.fieldNames.toSeq
    val work = java.nio.file.Files.createTempDirectory("graft-schema-pin")

    // the default bucket count and 8 buckets: a full-build tick, then a
    // delta tick
    Seq(None -> "default", Some(8) -> "8-bucket").foreach { case (buckets, mode) =>
      val pipe = new Pipeline(spark, work.resolve(mode).toString, buckets)
      pipe.tick(obsAsOf(obs, t1), encAsOf(enc, t1), ordersAsOf(orders, t1), person)
      assert(fieldsOf(pipe) == want, s"$mode full tick")
      pipe.tick(obs, enc, orders, person)
      assert(fieldsOf(pipe) == want, s"$mode delta tick")
    }

    // the streamed cascade (bucketed): a bulk batch, then a delta batch
    val obsDir = work.resolve("obs").toString
    val pipe = new Pipeline(spark, work.resolve("cascade").toString, Some(8))
    def runBatch(): Unit = graft.streaming.IncrementalEtlStream.runCascadeOnce(
      spark, obsDir, enc, orders, person, pipe, work.resolve("ckpt").toString)
    obsAsOf(obs, t1).write.parquet(s"$obsDir/batch1")
    runBatch()
    assert(fieldsOf(pipe) == want, "cascade first batch")
    obs.filter(col("date_created") > lit(t1))
      .withColumn("voided", lit(0))
      .withColumn("date_voided", lit(null).cast("timestamp"))
      .unionByName(obs.filter(col("voided") === 1 && col("date_voided") > lit(t1)))
      .write.parquet(s"$obsDir/batch2")
    runBatch()
    assert(fieldsOf(pipe) == want, "cascade delta batch")
  }

  test("pipeline tick twice: idempotent on unchanged sources") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 15, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val pipe = new Pipeline(spark, dir)
    pipe.tick(fx("obs"), fx("encounter"), fx("orders"), fx("person"))
    val first = sortedRows(pipe.readFlat("flat_visit_summary").get)
    val latest1 = sortedRows(pipe.readFlat("flat_latest_hiv_summary").get)
    pipe.tick(fx("obs"), fx("encounter"), fx("orders"), fx("person"))
    assert(sortedRows(pipe.readFlat("flat_visit_summary").get) == first)
    assert(sortedRows(pipe.readFlat("flat_latest_hiv_summary").get) == latest1)
    assertTwoRunsPerStage(pipe, dir)
    // without a bucket count every table is written with the 64 floor
    TickChecks.Tables.foreach { t =>
      val manifest = java.nio.file.Paths.get(dir, t, "buckets", "_MANIFEST")
      assert(java.nio.file.Files.readAllLines(manifest).get(0) == "#buckets\t64", t)
    }
  }

  /** The run log holds exactly two rows under each stage version. */
  private def assertTwoRunsPerStage(pipe: Pipeline, dir: String): Unit = {
    val names = graft.operators.Watermark.readLog(spark, s"$dir/flat_log")
      .collect().map(_.getAs[String]("table_name")).toSeq
    Seq(pipe.flatObsVersion, pipe.flatOrdersVersion, pipe.flatLabObsVersion,
      pipe.flatVisitSummaryVersion).foreach { v =>
      assert(names.count(_ == v) == 2, s"$v: ${names.sorted}")
    }
  }

  test("bucketed pipeline tick twice: the second tick short-circuits and writes no table file") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 15, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe-b").toString
    val pipe = new Pipeline(spark, dir, Some(8))
    pipe.tick(fx("obs"), fx("encounter"), fx("orders"), fx("person"))
    assert(!pipe.lastTickShortCircuited, "a first build has work to do")
    val files = TickChecks.dataFiles(dir)
    val before = TickChecks.Tables.map(t => t -> sortedRows(pipe.readFlat(t).get))
    pipe.tick(fx("obs"), fx("encounter"), fx("orders"), fx("person"))
    assert(pipe.lastTickShortCircuited)
    assert(TickChecks.dataFiles(dir) == files)
    assert(TickChecks.Tables.map(t => t -> sortedRows(pipe.readFlat(t).get)) == before)
    assertTwoRunsPerStage(pipe, dir)
  }
}
