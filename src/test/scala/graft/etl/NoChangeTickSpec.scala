package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.operators.Watermark
import graft.tools.BenchFixtures

/** The edges of the per-column modification horizons and of the bucketed
  * tick's no-change short-circuit: a root logged before horizons existed,
  * and the late-commit race a horizon accepts beside the one the creation
  * watermark accepts.
  */
class NoChangeTickSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("a root whose flat_log has no horizon rows ticks to rebuild-equality and is quiet by its second no-change tick") {
    val src = BenchFixtures.sources(spark, 60)
    val t = BenchFixtures.asOf(90)
    val obs0 = BenchFixtures.obsAsOf(src("obs"), t)
    // one void stamped after every creation: only a horizon covers it
    val late = new Timestamp(
      obs0.agg(max("date_created")).first().getTimestamp(0).getTime + 3600000L)
    val victim = obs0.filter(col("voided") === 0).agg(min("obs_id")).first().getInt(0)
    val obs = obs0
      .withColumn("date_voided",
        when(col("obs_id") === victim, lit(late)).otherwise(col("date_voided")))
      .withColumn("voided", when(col("obs_id") === victim, 1).otherwise(col("voided")))
      .cache()
    val enc = BenchFixtures.encAsOf(src("encounter"), t).cache()
    val ord = BenchFixtures.ordersAsOf(src("orders"), t).cache()
    val person = src("person").cache()

    val root = java.nio.file.Files.createTempDirectory("graft-nohorizon").toString
    val pipe = new Pipeline(spark, root, Some(8))
    pipe.tick(obs, enc, ord, person)
    // leave the log as a build that records no horizons leaves it: stage
    // rows only, the consistency marker signed over them
    val logPath = s"$root/flat_log"
    val stageRows = Watermark.collectLog(spark, logPath).filterNot(_.tableName.contains("#"))
    assert(stageRows.map(_.tableName).sorted == Seq(pipe.flatLabObsVersion,
      pipe.flatObsVersion, pipe.flatOrdersVersion, pipe.flatVisitSummaryVersion).sorted)
    spark.createDataFrame(
      sc.parallelize(stageRows.map(r =>
        Row(r.dateCreated, r.watermark, r.tableName, r.seconds)), 1),
      Watermark.logSchema).write.mode("overwrite").parquet(logPath)
    pipe.writeMarker(Watermark.signature(stageRows))

    pipe.tick(obs, enc, ord, person)
    assert(!pipe.lastTickShortCircuited,
      "a missing horizon falls back to the creation watermark, which the late void is above")
    assert(TickChecks.diverged(pipe, obs, enc, ord, person).isEmpty)
    val files = TickChecks.dataFiles(root)
    pipe.tick(obs, enc, ord, person)
    assert(pipe.lastTickShortCircuited, "the horizons recorded by the last tick cover the void")
    assert(TickChecks.dataFiles(root) == files)
    assert(TickChecks.diverged(pipe, obs, enc, ord, person).isEmpty)
    assert(TickChecks.regressed(spark, root).isEmpty)
    Seq(obs, enc, ord, person).foreach(_.unpersist())
  }

  test("late commits at or below a bound are skipped: a void under the horizon, its date_created twin") {
    def obsRow(id: Int, p: Int, e: Int, concept: Int, value: Int, created: String,
        voided: Option[String] = None): Row =
      Row(id, p, Integer.valueOf(e), concept, ts("2015-01-01 09:00:00"),
        Integer.valueOf(value), null, null, null, null, null, null, ts(created),
        Integer.valueOf(if (voided.isDefined) 1 else 0), voided.map(ts).orNull)
    def labRow(id: Int, p: Int, e: Int, created: String): Row =
      Row(id, p, Integer.valueOf(e), 856, ts("2015-01-01 09:00:00"),
        null, java.lang.Double.valueOf(1234.0), null, null, null, null,
        null, ts(created), Integer.valueOf(0), null)
    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(sc.parallelize(rows, 1), Schemas.obs)
    val encounter = spark.createDataFrame(sc.parallelize((1 to 4).map(p =>
      Row(99 + p, p, 499 + p, ts("2015-01-01 09:00:00"), 21, 1,
        ts("2015-01-01 09:30:00"), null, 0)), 1), Schemas.encounter)
    val orders = spark.createDataFrame(sc.parallelize(Seq(Row(1, 1, Integer.valueOf(100),
      1000, ts("2015-01-01 10:00:00"), 0, null)), 1), Schemas.orders)
    val person = spark.createDataFrame(
      sc.parallelize((1 to 4).map(p => Row(p, s"u$p", 0)), 1), Schemas.person)

    // first tick: creation watermark W = 01-01 12:00, obs void horizon
    // H = 01-05 12:00
    val first = Seq(
      obsRow(1, 1, 100, 1836, 1065, "2015-01-01 12:00:00"),
      obsRow(2, 1, 100, 5271, 1065, "2015-01-01 12:00:00", Some("2015-01-05 12:00:00")),
      labRow(9, 1, 100, "2015-01-01 12:00:00"),
      obsRow(5, 4, 103, 5271, 1066, "2015-01-01 10:00:00"),
      obsRow(6, 4, 103, 1836, 1066, "2015-01-01 10:00:00"))
    val root = java.nio.file.Files.createTempDirectory("graft-race").toString
    val pipe = new Pipeline(spark, root, Some(4))
    pipe.tick(frame(first), encounter, orders, person)

    // committed after the first tick captured its bounds:
    val lateVoid = obsRow(1, 1, 100, 1836, 1065, "2015-01-01 12:00:00",
      Some("2015-01-03 12:00:00")) // W < date_voided <= H: skipped
    val lateCreate = obsRow(3, 2, 101, 1836, 1066, "2015-01-01 11:00:00") // <= W: skipped
    val newCreate = obsRow(4, 3, 102, 1836, 1066, "2015-01-02 12:00:00") // W < created <= H: read
    val newVoid = obsRow(5, 4, 103, 5271, 1066, "2015-01-01 10:00:00",
      Some("2015-01-06 12:00:00")) // above H: read
    val second = Seq(lateVoid, first(1), first(2), lateCreate, newCreate, newVoid, first(4))
    pipe.tick(frame(second), encounter, orders, person)

    // the table is a rebuild of the second sources WITHOUT the two late
    // commits: a change to either window changes this equality
    val withoutLate = Seq(first(0), first(1), first(2), newCreate, newVoid, first(4))
    val got = TickChecks.rows(pipe.readFlat("flat_obs").get
      .select(Schemas.flatObs.fieldNames.map(col).toIndexedSeq: _*))
    assert(got == TickChecks.rows(FlatObs.build(frame(withoutLate), encounter, person)))
    assert(got != TickChecks.rows(FlatObs.build(frame(second), encounter, person)),
      "the late commits must be visible in a rebuild for the pin to mean anything")
  }
}
