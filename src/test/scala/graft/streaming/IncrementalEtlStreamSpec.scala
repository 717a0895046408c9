package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders, FlatVisitSummary, OpenMrsFixture, Pipeline, Schemas}

class IncrementalEtlStreamSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def obsRow(
      id: Int, person: Int, enc: Integer, concept: Int, coded: Integer,
      created: String, voidedAt: String = null): Row =
    Row(id, person, enc, concept, ts("2015-01-10 09:00:00"), coded,
      null, null, null, null, null, null, ts(created),
      if (voidedAt != null) 1 else 0, Option(voidedAt).map(ts).orNull)

  test("file-stream micro-batches reproduce the batch incremental result") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val obsDir = s"$work/obs"
    val pipe = new Pipeline(spark, s"$work/flat")

    val encounter = spark.createDataFrame(sc.parallelize(Seq(
      Row(100, 1, 500, ts("2015-01-10 09:00:00"), 21, 1,
        ts("2015-01-10 09:30:00"), null, 0)), 1), Schemas.encounter)
    val person = spark.createDataFrame(
      sc.parallelize(Seq(Row(1, "u1", 0)), 1), Schemas.person)

    def writeObs(rows: Seq[Row], file: String): Unit =
      spark.createDataFrame(sc.parallelize(rows, 1), Schemas.obs)
        .coalesce(1).write.parquet(s"$obsDir/$file")

    // batch 1: two obs
    writeObs(Seq(
      obsRow(1, 1, 100, 1836, 1065, "2015-01-10 12:00:00"),
      obsRow(2, 1, 100, 5271, 1066, "2015-01-10 12:00:00")), "part1")
    IncrementalEtlStream.runFlatObsOnce(
      spark, obsDir, encounter, person, pipe, s"$work/ckpt")
    val after1 = pipe.readFlat("flat_obs").get.collect()
    assert(after1.length == 1)
    assert(after1(0).getAs[String]("obs") == "!!1836=1065!! ## !!5271=1066!!")

    // batch 2: one new obs + a VOID version of obs 2
    writeObs(Seq(
      obsRow(3, 1, 100, 6743, null, "2015-01-11 12:00:00"),
      obsRow(2, 1, 100, 5271, 1066, "2015-01-10 12:00:00",
        voidedAt = "2015-01-11 13:00:00")), "part2")
    IncrementalEtlStream.runFlatObsOnce(
      spark, obsDir, encounter, person, pipe, s"$work/ckpt")
    val after2 = pipe.readFlat("flat_obs").get.collect()
    assert(after2.length == 1)
    // obs 2 retracted, obs 3 (null-valued numeric slot → no entry) joined:
    // 6743 row has no value columns set → contributes nothing to the map
    assert(after2(0).getAs[String]("obs") == "!!1836=1065!!")

    // equivalence with a from-scratch batch build on the deduped snapshot
    val full = FlatObs.build(
      IncrementalEtlStream.currentState(
        spark.read.schema(Schemas.obs)
          .option("recursiveFileLookup", "true").parquet(obsDir)),
      encounter, person)
    assert(pipe.readFlat("flat_obs").get.orderBy("encounter_id").collect().toSeq ==
      full.orderBy("encounter_id").collect().toSeq)
  }

  test("streamed four-stage cascade equals the batch build on the same timeline") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 25, seed = 7L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person").cache())
    val work = java.nio.file.Files.createTempDirectory("graft-cascade").toString
    val obsDir = s"$work/obs"
    val pipe = new Pipeline(spark, s"$work/flat")
    val t1 = ts("2015-02-15 00:00:00")

    // batch 1: row VERSIONS as of t1 — rows created by then, voided flag
    // only if the void had happened
    obs.filter(col("date_created") <= lit(t1))
      .withColumn("voided",
        when(col("voided") === 1 && col("date_voided") <= lit(t1), 1).otherwise(0))
      .withColumn("date_voided",
        when(col("voided") === 1 && col("date_voided") <= lit(t1), col("date_voided")))
      .write.parquet(s"$obsDir/batch1")
    IncrementalEtlStream.runCascadeOnce(
      spark, obsDir, enc, orders, person, pipe, s"$work/ckpt")
    assert(pipe.readFlat("flat_visit_summary").get.count() > 0)

    // batch 2: versions created after t1, plus VOID versions for every
    // row whose void lands after t1 (including retraction-only persons)
    val newRows = obs.filter(col("date_created") > lit(t1))
      .withColumn("voided", lit(0))
      .withColumn("date_voided", lit(null).cast("timestamp"))
    val voidVersions = obs.filter(col("voided") === 1 && col("date_voided") > lit(t1))
    newRows.unionByName(voidVersions).write.parquet(s"$obsDir/batch2")
    IncrementalEtlStream.runCascadeOnce(
      spark, obsDir, enc, orders, person, pipe, s"$work/ckpt")

    // from-scratch batch build on the final deduped snapshot — the
    // streamed cascade must land exactly here
    val snapshot = IncrementalEtlStream.currentState(
      spark.read.schema(Schemas.obs)
        .option("recursiveFileLookup", "true").parquet(obsDir))
    val fullFo = FlatObs.build(snapshot, enc, person)
    val fullSummary = FlatVisitSummary.build(
      fullFo, FlatOrders.build(orders, enc, person), person)
    val fullLatest = FlatLatestHivSummary.build(fullSummary)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    assert(rows(pipe.readFlat("flat_obs").get) == rows(fullFo))
    assert(rows(pipe.readFlat("flat_lab_obs").get) ==
      rows(FlatLabObs.build(snapshot, person)))
    assert(rows(pipe.readFlat("flat_visit_summary").get) == rows(fullSummary))
    assert(rows(pipe.readFlat("flat_latest_hiv_summary").get) == rows(fullLatest))
  }
}
