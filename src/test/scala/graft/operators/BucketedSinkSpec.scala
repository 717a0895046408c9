package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.etl.{FlatObs, OpenMrsFixture}

/** The bucket-overwrite sink on the incremental-equivalence timeline:
  * a tick's write must touch only the buckets of changed persons (file
  * sets of the other bucket directories stay byte-identical) while the
  * read-back equals a full rebuild.
  */
class BucketedSinkSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def obsAsOf(obs: DataFrame, t: Timestamp): DataFrame =
    obs.filter(col("date_created") <= lit(t))
      .withColumn("voided",
        when(col("voided") === 1 && col("date_voided") <= lit(t), 1).otherwise(0))
      .withColumn("date_voided", when(col("voided") === 1, col("date_voided")))

  private def encAsOf(enc: DataFrame, t: Timestamp): DataFrame =
    enc.filter(col("date_created") <= lit(t))
      .withColumn("date_changed",
        when(col("date_changed") <= lit(t), col("date_changed")))

  private def manifest(path: String): Map[Int, String] = {
    val src = scala.io.Source.fromFile(s"$path/_MANIFEST")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(b, e) = l.split("\t"); b.toInt -> e
    }.toMap finally src.close()
  }

  /** bucket → the (epoch-qualified) file set the live manifest resolves
    * it to: an untouched bucket keeps the same epoch and files. */
  private def bucketFiles(path: String): Map[String, Set[String]] =
    manifest(path).map { case (b, e) =>
      val d = new java.io.File(s"$path/$e/__bucket=$b")
      s"__bucket=$b" -> d.listFiles().map(f => s"$e/${f.getName}:${f.length}").toSet
    }

  test("incremental tick overwrites only touched buckets; read-back == rebuild") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 40, seed = 19L)
    val (obs, enc, person) = (fx("obs").cache(), fx("encounter").cache(), fx("person"))
    val t1 = ts("2015-02-01 00:00:00")
    val t2 = ts("2015-06-01 00:00:00")
    val nBuckets = 16
    val path = java.nio.file.Files.createTempDirectory("graft-bucketed").toString + "/flat_obs"

    // tick 1: full write at t1
    val flat1 = FlatObs.build(obsAsOf(obs, t1), encAsOf(enc, t1), person)
    BucketedSink.writeFull(flat1, path, "person_id", nBuckets)
    val before = bucketFiles(path)

    // tick 2: incremental at t2, bucket-overwrite with the touched-person set
    val merged = FlatObs.incremental(
      BucketedSink.read(spark, path), obsAsOf(obs, t2), encAsOf(enc, t2), person, t1)
    val touched = FlatObs.touchedPersons(obsAsOf(obs, t2), encAsOf(enc, t2), person, t1)
    BucketedSink.overwriteChanged(merged, path, "person_id", nBuckets, touched)
    val after = bucketFiles(path)

    // correctness: the bucketed table equals a full rebuild on t2 sources
    val expected = FlatObs.build(obsAsOf(obs, t2), encAsOf(enc, t2), person)
    def rows(df: DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    assert(rows(BucketedSink.read(spark, path)) == rows(expected))

    // delta-sized write: some buckets rewritten, the rest byte-identical
    val touchedBuckets = touched
      .select(BucketedSink.bucketOf(col("person_id"), nBuckets).as("b"))
      .distinct().collect().map(r => s"__bucket=${r.getInt(0)}").toSet
    val rewritten = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(rewritten.subsetOf(touchedBuckets))
    val untouched = before.keySet -- touchedBuckets
    assert(untouched.nonEmpty, "fixture must leave some buckets untouched")
    untouched.foreach { k => assert(before(k) == after(k), s"$k was rewritten") }
  }

  test("manifest commit is atomic: an in-flight reader resolves old-complete, never mixed") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 40, seed = 31L)
    val (obs, enc, person) = (fx("obs").cache(), fx("encounter").cache(), fx("person"))
    val t1 = ts("2015-02-01 00:00:00")
    val t2 = ts("2015-06-01 00:00:00")
    val nBuckets = 16
    val path = java.nio.file.Files.createTempDirectory("graft-atomic").toString + "/flat_obs"
    def rows(df: DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

    val flat1 = FlatObs.build(obsAsOf(obs, t1), encAsOf(enc, t1), person)
    BucketedSink.writeFull(flat1, path, "person_id", nBuckets)
    // reader opens BEFORE the next commit: its plan resolves the old
    // manifest and old epoch files now
    val inFlight = BucketedSink.read(spark, path)

    val merged = FlatObs.incremental(
      BucketedSink.read(spark, path), obsAsOf(obs, t2), encAsOf(enc, t2), person, t1)
    BucketedSink.overwriteChanged(merged, path, "person_id", nBuckets,
      FlatObs.touchedPersons(obsAsOf(obs, t2), encAsOf(enc, t2), person, t1))

    // after the swap: a fresh reader sees the new table, complete
    val expected2 = FlatObs.build(obsAsOf(obs, t2), encAsOf(enc, t2), person)
    assert(rows(BucketedSink.read(spark, path)) == rows(expected2))
    // the in-flight reader still materializes the OLD table, complete —
    // its epochs are retained one generation; it never observes a mix of
    // new and old buckets
    assert(rows(inFlight) == rows(flat1))
  }

  test("epoch compaction bounds read fan-in across many ticks") {
    import spark.implicits._
    val nBuckets = 8
    val path = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    def epochsReferenced(): Int = {
      val src = scala.io.Source.fromFile(s"$path/_MANIFEST")
      try src.getLines().filter(_.nonEmpty).map(_.split("\t")(1)).toSet.size
      finally src.close()
    }
    var cur = (1 to 100).map(i => (i, "v0")).toDF("person_id", "v")
    BucketedSink.writeFull(cur, path, "person_id", nBuckets)
    // buckets materialized by the newest epoch = this tick's write volume
    def newestEpochBuckets(): Int = {
      val dir = new java.io.File(path)
      val newest = dir.listFiles().map(_.getName)
        .filter(_.startsWith("e_")).maxBy(_.stripPrefix("e_").toLong)
      new java.io.File(dir, newest).listFiles()
        .count(_.getName.startsWith("__bucket="))
    }
    // 6 ticks touching a rotating pair of persons, maxEpochs = 3: the
    // manifest must never reference more than 3 epochs, the read must
    // always equal the accumulated table, and — now that compaction
    // folds the smallest epoch instead of rebuilding — no tick may
    // rewrite the whole table (2 touched persons + a fold land in well
    // under the 8 buckets the old writeFull fallback rewrote)
    (1 to 6).foreach { t =>
      val touched = Seq(t, t + 50).toDF("person_id")
      cur = cur.join(touched, Seq("person_id"), "left_anti")
        .unionByName(cur.join(touched, Seq("person_id"), "left_semi")
          .withColumn("v", concat(col("v"), lit(s"-t$t"))))
        .localCheckpoint(true)
      BucketedSink.overwriteChanged(cur, path, "person_id", nBuckets,
        touched, maxEpochs = 3)
      assert(epochsReferenced() <= 3, s"tick $t: ${epochsReferenced()} epochs")
      assert(newestEpochBuckets() < nBuckets,
        s"tick $t rewrote all $nBuckets buckets — a full-rebuild spike")
      assert(BucketedSink.read(spark, path).orderBy("person_id").collect().toSeq ==
        cur.orderBy("person_id").collect().toSeq)
    }
  }

  test("compaction fold with a bucket-PRUNED merge loses no untouched data") {
    // Regression: the pipeline feeds overwriteChanged a merge built from
    // readBuckets(touched) — NOT the full table. On the tick where the
    // manifest hits maxEpochs, the fold set can include buckets outside
    // the touched set; those rows must be sourced from their stored
    // epochs, not from the (pruned) merge, or they silently vanish from
    // the manifest.
    import spark.implicits._
    val nBuckets = 8
    val path = java.nio.file.Files.createTempDirectory("graft-foldprune").toString + "/t"
    val model = scala.collection.mutable.Map((1 to 100).map(i => i -> "v0"): _*)
    def table() = model.toSeq.map { case (p, v) => (p, v) }.toDF("person_id", "v")
    BucketedSink.writeFull(table(), path, "person_id", nBuckets)
    // each tick touches ONE person (one bucket) and hands the sink a
    // merge pruned to exactly that person's bucket — the Pipeline shape.
    // Rotating the person forces later folds onto buckets outside the
    // current touched set.
    (1 to 8).foreach { t =>
      model(t) = s"v$t"
      val touchedKeys = Seq(t).toDF("person_id")
      val touched = BucketedSink.collectBuckets(touchedKeys, nBuckets)
      val prunedMerged = BucketedSink.readBuckets(spark, path, touched)
        .join(touchedKeys, Seq("person_id"), "left_anti")
        .unionByName(Seq((t, s"v$t")).toDF("person_id", "v"))
      BucketedSink.overwriteChanged(prunedMerged, path, "person_id", nBuckets,
        touched, maxEpochs = 3)
      val got = BucketedSink.read(spark, path)
        .as[(Int, String)].collect().toMap
      assert(got == model.toMap,
        s"tick $t: lost ${(model.keySet -- got.keySet).toSeq.sorted.take(10)}")
    }
  }

  test("pipeline with bucketed flat_obs sink matches the versioned sink") {
    import graft.etl.Pipeline
    val fx = OpenMrsFixture.generate(spark, nPersons = 20, seed = 23L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person"))
    def rows(df: DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

    val dirA = java.nio.file.Files.createTempDirectory("graft-vsn").toString
    val pipeA = new Pipeline(spark, dirA)
    pipeA.tick(obs, enc, orders, person)
    val expected = rows(pipeA.readFlat("flat_obs").get)
    val expectedVisit = rows(pipeA.readFlat("flat_visit_summary").get)
    val expectedSummary = rows(pipeA.readFlat("flat_latest_hiv_summary").get)

    val dirB = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    try {
      spark.conf.set("graft.sink.buckets", "8")
      val pipeB = new Pipeline(spark, dirB)
      pipeB.tick(obs, enc, orders, person) // full write
      pipeB.tick(obs, enc, orders, person) // idempotent bucket overwrite
      assert(rows(pipeB.readFlat("flat_obs").get) == expected)
      assert(rows(pipeB.readFlat("flat_orders").get) ==
        rows(pipeA.readFlat("flat_orders").get))
      assert(rows(pipeB.readFlat("flat_lab_obs").get) ==
        rows(pipeA.readFlat("flat_lab_obs").get))
      assert(rows(pipeB.readFlat("flat_visit_summary").get) == expectedVisit)
      assert(rows(pipeB.readFlat("flat_latest_hiv_summary").get) == expectedSummary)
    } finally spark.conf.unset("graft.sink.buckets")
  }
}
