package graft.etl

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.SparkSuite
import graft.operators.BucketedSink
import graft.streaming.IncrementalEtlStream

/** A root the pipeline cannot merge into is refused before anything is
  * written: a table bucketed by another count (its rows' bucket ids would
  * not match the pipeline's, so a merge would read and rewrite the wrong
  * buckets), or a table left in the retired versioned-snapshot layout.
  */
class SinkLayoutGuardSpec extends SparkSuite {

  /** Every file under `root` with its bytes. */
  private def files(root: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def refusal(f: => Unit): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: IllegalStateException => s.getMessage }
      .getOrElse(fail(s"no IllegalStateException in $e"))
  }

  test("a root written with 8 buckets is refused at 16 by the tick and the cascade, every table byte-identical") {
    val fx = OpenMrsFixture.generate(spark, nPersons = 12, seed = 5L)
    val (obs, enc, orders, person) =
      (fx("obs").cache(), fx("encounter").cache(), fx("orders").cache(), fx("person").cache())
    val work = Files.createTempDirectory("graft-count-guard")

    val tickRoot = work.resolve("tick")
    new Pipeline(spark, tickRoot.toString, Some(8)).tick(obs, enc, orders, person)
    val before = files(tickRoot)
    val msg = refusal(
      new Pipeline(spark, tickRoot.toString, Some(16)).tick(obs, enc, orders, person))
    assert(msg.contains("8 buckets, not 16"), msg)
    assert(files(tickRoot) == before, "the refused tick wrote something")

    // the cascade: a first batch at 8 buckets, then a second batch
    // delivered to a 16-bucket pipeline over the same root
    val t1 = java.sql.Timestamp.valueOf("2015-03-01 00:00:00")
    import org.apache.spark.sql.functions._
    val obsDir = work.resolve("obs")
    val tables = work.resolve("cascade")
    def run(buckets: Int): Unit = IncrementalEtlStream.runCascadeOnce(
      spark, obsDir.toString, enc, orders, person,
      new Pipeline(spark, tables.toString, Some(buckets)), work.resolve("ckpt").toString)
    obs.filter(col("date_created") <= lit(t1)).withColumn("voided", lit(0))
      .withColumn("date_voided", lit(null).cast("timestamp"))
      .write.parquet(obsDir.resolve("batch1").toString)
    run(8)
    obs.filter(col("date_created") > lit(t1)).withColumn("voided", lit(0))
      .withColumn("date_voided", lit(null).cast("timestamp"))
      .write.parquet(obsDir.resolve("batch2").toString)
    val cascadeBefore = files(tables)
    assert(cascadeBefore.keys.exists(_.startsWith("obs_version_log")))
    val cascadeMsg = refusal(run(16))
    assert(cascadeMsg.contains("8 buckets, not 16"), cascadeMsg)
    assert(files(tables) == cascadeBefore,
      "the refused micro-batch wrote something (the version-log append included)")
    Seq(obs, enc, orders, person).foreach(_.unpersist())
  }

  test("a manifest without a recorded count is checked by its bucket ids") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-count-legacy").resolve("t")
    BucketedSink.writeFull((1 to 100).map(i => (i, s"v$i")).toDF("person_id", "v"),
      path.toString, "person_id", 8)
    val manifest = path.resolve("_MANIFEST")
    val lines = Files.readAllLines(manifest).asScala.toSeq
    assert(lines.head == "#buckets\t8")
    // the manifest as written before the count was recorded (its
    // checksum sidecar goes with the old bytes)
    Files.write(manifest, lines.tail.mkString("\n").getBytes("UTF-8"))
    Files.deleteIfExists(path.resolve("._MANIFEST.crc"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(BucketedSink.existsWith(conf, path.toString, 8))
    // a larger count cannot be told apart from the ids alone
    assert(BucketedSink.existsWith(conf, path.toString, 16))
    val e = intercept[IllegalStateException](BucketedSink.existsWith(conf, path.toString, 4))
    assert(e.getMessage.contains("more than 4 buckets"), e.getMessage)
  }

  test("a table left in the versioned-snapshot layout is refused with its name and the recovery") {
    import spark.implicits._
    val fx = OpenMrsFixture.generate(spark, nPersons = 12, seed = 5L)
    val root = Files.createTempDirectory("graft-snapshot-guard")
    val pipe = new Pipeline(spark, root.toString)
    pipe.writeSnapshot(Seq(1, 2).toDF("person_id"), "flat_lab_obs")
    val before = files(root)
    val msg = refusal(pipe.tick(fx("obs"), fx("encounter"), fx("orders"), fx("person")))
    assert(msg.contains(root.resolve("flat_lab_obs").toString), msg)
    assert(msg.contains("remove that directory and tick again"), msg)
    assert(files(root) == before, "the refused tick wrote something")

    // the recovery the message names: the tick rebuilds the table
    val walk = Files.walk(root.resolve("flat_lab_obs"))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally walk.close()
    pipe.tick(fx("obs"), fx("encounter"), fx("orders"), fx("person"))
    assert(TickChecks.diverged(pipe, fx("obs"), fx("encounter"), fx("orders"), fx("person")).isEmpty)
  }
}
