package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Add-column schema evolution on the bucketed sink: a new column costs
  * one `_SCHEMA` sidecar write — old epochs' files are untouched and
  * read back with typed NULLs; only additive changes are accepted. */
class BucketedSinkEvolutionSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-sink-evo").toString

  private def manifest(path: String): Map[Int, String] = {
    val src = scala.io.Source.fromFile(s"$path/_MANIFEST")
    try src.getLines().filter(_.nonEmpty).filterNot(_.startsWith("#")).map { l =>
      val Array(b, e) = l.split("\t"); b.toInt -> e
    }.toMap finally src.close()
  }

  /** bucket → the (epoch-qualified) file set the live manifest resolves
    * it to: an untouched bucket keeps the same epoch and files. */
  private def bucketFiles(path: String): Map[Int, Set[String]] =
    manifest(path).map { case (b, e) =>
      val d = new java.io.File(s"$path/$e/__bucket=$b")
      b -> d.listFiles().map(f => s"$e/${f.getName}:${f.length}").toSet
    }

  test("added column: old buckets read as typed NULLs, zero files rewritten") {
    val path = tmp()
    val v1 = (1 to 100).map(i => (i, s"name-$i")).toDF("person_id", "name")
    BucketedSink.writeFull(v1, path, "person_id", 8)
    val before = bucketFiles(path)

    // evolve: one touched person arrives with a NEW column. `merged`
    // honors the sink contract (complete post-tick rows of the touched
    // buckets): surviving rows carry a typed NULL for the added column.
    val delta = Seq((5, "name-5b", 41.5)).toDF("person_id", "name", "score")
    val touchedSet = BucketedSink.collectBuckets(delta.select("person_id"), 8)
    val survivors = BucketedSink.readBuckets(spark, path, touchedSet)
      .filter(col("person_id") =!= 5)
      .withColumn("score", lit(null).cast("double"))
    BucketedSink.overwriteChanged(survivors.unionByName(delta), path,
      "person_id", 8, delta.select("person_id"))

    // untouched buckets resolve to the SAME epoch files — the added
    // column cost metadata plus the one touched bucket
    val after = bucketFiles(path)
    val touched = BucketedSink.collectBuckets(delta.select("person_id"), 8)
    assert(touched.size == 1)
    before.keySet.filterNot(touched).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    touched.foreach(b => assert(after(b) != before(b)))

    val back = BucketedSink.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("person_id", "name", "score"))
    assert(back.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val byId = back.collect().map(r =>
      (r.getInt(0), (r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(byId(5) == (("name-5b", Some(41.5))))
    assert(byId(6) == (("name-6", None)), "pre-evolution rows read as NULL")
    assert(back.count() == 100)
  }

  test("bucket-selective reads also project the evolved schema") {
    val path = tmp()
    val v1 = (1 to 50).map(i => (i, i * 2L)).toDF("person_id", "v")
    BucketedSink.writeFull(v1, path, "person_id", 4)
    val delta = Seq((3, 99L, "tag")).toDF("person_id", "v", "label")
    val touched = BucketedSink.collectBuckets(delta.select("person_id"), 4)
    val merged = BucketedSink.readBuckets(spark, path, touched)
      .filter(col("person_id") =!= 3)
      .withColumn("label", lit(null).cast("string"))
      .unionByName(delta)
    BucketedSink.overwriteChanged(merged, path, "person_id", 4, touched, 16)
    val all = (0 until 4).toSet
    val back = BucketedSink.readBuckets(spark, path, all)
    assert(back.columns.toSeq == Seq("person_id", "v", "label"))
    assert(back.filter(col("label").isNotNull).count() == 1)
    // empty selection carries the evolved schema too
    val none = BucketedSink.readBuckets(spark, path, Set.empty[Int])
    assert(none.columns.toSeq == Seq("person_id", "v", "label"))
  }

  test("compaction folds pre-evolution buckets into the new shape") {
    val path = tmp()
    val v1 = (1 to 60).map(i => (i, s"x$i")).toDF("person_id", "name")
    BucketedSink.writeFull(v1, path, "person_id", 8)
    // many small ticks with an added column force a fold (maxEpochs = 3);
    // each tick's merged frame covers its touched buckets completely
    (1 to 6).foreach { t =>
      val d = Seq((t, s"x$t-v2", t.toLong)).toDF("person_id", "name", "gen")
      val touched = BucketedSink.collectBuckets(d.select("person_id"), 8)
      val survivors = BucketedSink.readBuckets(spark, path, touched)
        .filter(col("person_id") =!= t)
      val merged =
        (if (survivors.columns.contains("gen")) survivors
         else survivors.withColumn("gen", lit(null).cast("long")))
          .unionByName(d)
      BucketedSink.overwriteChanged(merged, path, "person_id", 8,
        touched, maxEpochs = 3)
    }
    val back = BucketedSink.read(spark, path)
    assert(back.columns.toSeq == Seq("person_id", "name", "gen"))
    assert(back.count() == 60)
    assert(back.filter(col("gen").isNotNull).count() == 6)
  }

  test("retyping rejects loudly; an omitted column stays recorded as NULLs") {
    val path = tmp()
    val v1 = (1 to 10).map(i => (i, s"n$i")).toDF("person_id", "name")
    BucketedSink.writeFull(v1, path, "person_id", 4)
    val retyped = Seq((1, 7)).toDF("person_id", "name")
    val e2 = intercept[IllegalStateException] {
      BucketedSink.overwriteChanged(retyped, path, "person_id", 4,
        retyped.select("person_id"))
    }
    assert(e2.getMessage.contains("retyped"))
    // a write that OMITS a recorded column keeps the column: the
    // writer's rows carry typed NULLs (a stage predating the evolution
    // keeps ticking), the table schema does not narrow
    val omitting = Seq((1)).toDF("person_id")
    val touched = BucketedSink.collectBuckets(omitting.select("person_id"), 4)
    BucketedSink.overwriteChanged(omitting, path, "person_id", 4, touched, 16)
    val back = BucketedSink.read(spark, path)
    assert(back.columns.toSeq == Seq("person_id", "name"))
    assert(back.filter(col("person_id") === 1 && col("name").isNull).count() == 1)
    // a FULL write replaces everything: any schema is fine
    BucketedSink.writeFull(retyped, path, "person_id", 4)
    assert(BucketedSink.read(spark, path).columns.toSeq ==
      Seq("person_id", "name"))
  }

  test("tick across an evolution boundary stays row-identical on original columns") {
    import graft.etl.{OpenMrsFixture, Pipeline}
    val fx = OpenMrsFixture.generate(spark, nPersons = 20, seed = 31L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person"))
    def rows(df: DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    val dirA = java.nio.file.Files.createTempDirectory("graft-evo-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-evo-b").toString
    val pipeA = new Pipeline(spark, dirA, Some(8))
    pipeA.tick(obs, enc, orders, person)
    pipeA.tick(obs, enc, orders, person)
    val expected = rows(pipeA.readFlat("flat_obs").get)

    val pipeB = new Pipeline(spark, dirB, Some(8))
    pipeB.tick(obs, enc, orders, person)
    // out-of-band add-column evolution between ticks: an annotation
    // column lands on one person's bucket (through the sink directly,
    // so the consistency-marker contract applies: drop it, as the
    // BucketedSink.writeFull invariant requires of direct writers)
    val tablePath = s"$dirB/flat_obs/buckets"
    val cur = BucketedSink.read(spark, tablePath)
    val one = cur.limit(1).select(col("person_id")).collect()(0).getInt(0)
    val touched = BucketedSink.collectBuckets(
      cur.filter(col("person_id") === one).select("person_id"), 8)
    val evolved = BucketedSink.readBuckets(spark, tablePath, touched)
      .withColumn("annotation",
        when(col("person_id") === one, lit("flagged")))
    BucketedSink.overwriteChanged(evolved, tablePath, "person_id", 8, touched, 16)
    pipeB.dropMarker()
    assert(BucketedSink.read(spark, tablePath).columns.contains("annotation"))

    // the next tick (whose stage code predates the column) must run
    // and land on the same rows as the never-evolved pipeline
    pipeB.tick(obs, enc, orders, person)
    val after = pipeB.readFlat("flat_obs").get
    assert(after.columns.contains("annotation"),
      "the evolved column survives the tick")
    assert(rows(after.drop("annotation")) == expected,
      "original columns diverge across the evolution boundary")
  }

  test("flat_obs written with the retired obs_entries map column ticks on and matches a rebuild") {
    import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders,
      FlatVisitSummary, OpenMrsFixture, Pipeline, Schemas}
    val fx = OpenMrsFixture.generate(spark, nPersons = 20, seed = 17L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person"))
    val t1 = java.sql.Timestamp.valueOf("2015-03-01 00:00:00")
    def rows(df: DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    val pipe = new Pipeline(spark, tmp(), Some(8))
    pipe.tick(
      obs.filter(col("date_created") <= lit(t1))
        .withColumn("voided",
          when(col("voided") === 1 && col("date_voided") <= lit(t1), 1).otherwise(0))
        .withColumn("date_voided", when(col("voided") === 1, col("date_voided"))),
      enc.filter(col("date_created") <= lit(t1))
        .withColumn("date_changed",
          when(col("date_changed") <= lit(t1), col("date_changed"))),
      orders.filter(col("date_created") <= lit(t1))
        .withColumn("voided",
          when(col("voided") === 1 && col("date_voided") <= lit(t1), 1).otherwise(0))
        .withColumn("date_voided", when(col("voided") === 1, col("date_voided"))),
      person)

    // re-lay flat_obs the way the old typed default stored it: the
    // string columns plus an `obs_entries map<int, array<string>>`,
    // which the full write records in `_SCHEMA` (a direct sink write, so
    // drop the consistency marker as BucketedSink.writeFull requires)
    val path = pipe.bucketedDataPath("flat_obs").toString
    val oldLayout = BucketedSink.read(spark, path)
      .withColumn("obs_entries", map(lit(1836), array(col("obs"))))
      .localCheckpoint()
    BucketedSink.writeFull(oldLayout, path, "person_id", 8)
    pipe.dropMarker()
    def recorded = BucketedSink.readSchema(sc.hadoopConfiguration, path).get
    assert(recorded.fieldNames.contains("obs_entries"))
    val before = manifest(path)

    // the delta tick: the stage emits Schemas.flatObs only; the sink
    // keeps the recorded column, typed NULL on the buckets it rewrites
    pipe.tick(obs, enc, orders, person)
    assert(recorded("obs_entries").dataType.catalogString == "map<int,array<string>>")
    val after = BucketedSink.read(spark, path)
      .withColumn("__b", BucketedSink.bucketOf(col("person_id"), 8))
    val rewritten = manifest(path).collect { case (b, e) if !before.get(b).contains(e) => b }.toSet
    assert(rewritten.nonEmpty, "the delta tick rewrote no flat_obs bucket")
    assert(after.filter(col("__b").isInCollection(rewritten) &&
      col("obs_entries").isNotNull).count() == 0,
      "rewritten buckets must carry NULL obs_entries")
    assert(after.filter(!col("__b").isInCollection(rewritten) &&
      col("obs_entries").isNull).count() == 0,
      "untouched buckets keep their stored obs_entries")

    // every stage equals a from-scratch build; flat_obs on its own columns
    val fo = FlatObs.build(obs, enc, person)
    val ord = FlatOrders.build(orders, enc, person)
    val vs = FlatVisitSummary.build(fo, ord, person)
    val flatObsCols = Schemas.flatObs.fieldNames.toSeq.map(col)
    assert(rows(pipe.readFlat("flat_obs").get.select(flatObsCols: _*)) == rows(fo))
    assert(rows(pipe.readFlat("flat_orders").get) == rows(ord))
    assert(rows(pipe.readFlat("flat_lab_obs").get) == rows(FlatLabObs.build(obs, person)))
    assert(rows(pipe.readFlat("flat_visit_summary").get) == rows(vs))
    assert(rows(pipe.readFlat("flat_latest_hiv_summary").get) ==
      rows(FlatLatestHivSummary.build(vs)))
  }

  test("legacy tables (no _SCHEMA sidecar) read as before and adopt one") {
    val path = tmp()
    val v1 = (1 to 20).map(i => (i, i.toLong)).toDF("person_id", "v")
    BucketedSink.writeFull(v1, path, "person_id", 4)
    // simulate a pre-evolution table
    new java.io.File(s"$path/_SCHEMA").delete()
    assert(BucketedSink.read(spark, path).count() == 20)
    val d = Seq((1, 5L)).toDF("person_id", "v")
    val touched = BucketedSink.collectBuckets(d.select("person_id"), 4)
    val merged = BucketedSink.readBuckets(spark, path, touched)
      .filter(col("person_id") =!= 1).unionByName(d)
    BucketedSink.overwriteChanged(merged, path, "person_id", 4, touched, 16)
    assert(new java.io.File(s"$path/_SCHEMA").exists(), "write adopts a sidecar")
    assert(BucketedSink.read(spark, path).count() == 20)
  }
}
