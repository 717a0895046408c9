package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.SparkSuite

/** Model-based property check of the manifest-committed bucketed sink:
  * for RANDOM sequences of upserts and deletes applied tick by tick —
  * including ticks that empty whole buckets, resurrect persons, and
  * trigger epoch compaction — the sink's read-back always equals an
  * in-memory model of the table, and the manifest never references more
  * than `maxEpochs` epochs.
  */
class BucketedSinkPropertySpec extends SparkSuite {

  private case class Op(person: Int, k: Int, set: Option[String])

  private val genOp: Gen[Op] = for {
    person <- Gen.choose(1, 30)
    k <- Gen.choose(1, 3)
    set <- Gen.option(Gen.choose(0, 999).map(n => s"v$n"))
  } yield Op(person, k, set)

  // 8 ticks of up to 6 ops; persons cluster on 30 ids over 8 buckets so
  // collisions, emptied buckets, and re-creations all occur
  private val genTimeline: Gen[List[List[Op]]] =
    Gen.listOfN(8, Gen.listOfN(6, genOp))

  test("random tick sequences: read-back tracks the model; epoch fan-in bounded") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(genTimeline) { ticks =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-sink-prop").toString + "/t"
      // anchor row outside the op key space keeps the table non-empty
      // (an emptied table is declared unrepresentable by the sink)
      val model = mutable.Map[(Int, Int), String]((0, 0) -> "anchor")
      def table() = model.toSeq.map { case ((p, k), v) => (p, k, v) }
        .toDF("person_id", "k", "v")
      def manifest(): Map[Int, String] = {
        val src = scala.io.Source.fromFile(s"$path/_MANIFEST")
        try src.getLines().filter(_.nonEmpty).filterNot(_.startsWith("#"))
          .map { l => val Array(b, e) = l.split("\t"); b.toInt -> e }.toMap
        finally src.close()
      }
      def newestEpochBuckets(): Int = {
        val dir = new java.io.File(path)
        val newest = dir.listFiles().map(_.getName)
          .filter(_.startsWith("e_")).maxBy(_.stripPrefix("e_").toLong)
        new java.io.File(dir, newest).listFiles()
          .count(_.getName.startsWith("__bucket="))
      }
      BucketedSink.writeFull(table(), path, "person_id", 8)
      ticks.forall { tick =>
        tick.foreach { op =>
          op.set match {
            case Some(v) => model((op.person, op.k)) = v
            case None => model.remove((op.person, op.k))
          }
        }
        val touched = tick.map(_.person).distinct.toDF("person_id")
        // per-tick write budget: touched buckets + (when compaction
        // triggers at maxEpochs=3 live epochs) the smallest live epoch —
        // NEVER the old fold-everything rebuild
        val before = manifest()
        val touchedBuckets = touched
          .select(BucketedSink.bucketOf(col("person_id"), 8)).distinct().count()
        val foldBudget =
          if (before.values.toSet.size < 3) 0
          else before.groupBy(_._2).map(_._2.size).min
        BucketedSink.overwriteChanged(
          table(), path, "person_id", 8, touched, maxEpochs = 3)
        val got = BucketedSink.read(spark, path)
          .as[(Int, Int, String)].collect().toSet
        val want = model.map { case ((p, k), v) => (p, k, v) }.toSet
        manifest().values.toSet.size <= 3 && got == want &&
          newestEpochBuckets() <= touchedBuckets + foldBudget
      }
    }
    val result = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
