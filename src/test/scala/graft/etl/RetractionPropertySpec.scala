package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.SparkSuite

/** Property-based check of the system's core invariant (SURVEY §5.3):
  * for RANDOM interleavings of inserts, updates, and retro-active voids,
  * chained incremental runs equal one full rebuild — and voided values
  * never resurrect.
  */
class RetractionPropertySpec extends SparkSuite {

  private val base = Timestamp.valueOf("2015-01-01 00:00:00").getTime
  private def ts(day: Int): Timestamp = new Timestamp(base + day.toLong * 86400000L)

  private case class ObsEvent(
      obsId: Int, person: Int, enc: Option[Int], concept: Int, value: Int,
      momentDay: Int, createdDay: Int, voidedDay: Option[Int])

  private val genEvent: Gen[ObsEvent] = for {
    obsId <- Gen.choose(1, 100000)
    person <- Gen.choose(1, 6)
    enc <- Gen.option(Gen.choose(1, 12))
    concept <- Gen.oneOf(856, 1836, 5271, 6743, 1271)
    value <- Gen.choose(1, 2000)
    momentDay <- Gen.choose(0, 20)
    createdDay <- Gen.choose(0, 60)
    voidedDay <- Gen.option(Gen.choose(createdDay, 90))
  } yield ObsEvent(obsId, person, enc, concept, value, momentDay, createdDay, voidedDay)

  private def toObs(events: List[ObsEvent]): DataFrame = {
    val rows = events.zipWithIndex.map { case (e, i) =>
      Row(i + 1, e.person, e.enc.map(Integer.valueOf).orNull, e.concept,
        ts(e.momentDay), Integer.valueOf(e.value), null, null, null, null, null, null,
        ts(e.createdDay), e.voidedDay.map(_ => Integer.valueOf(1)).getOrElse(Integer.valueOf(0)),
        e.voidedDay.map(d => ts(d)).orNull)
    }
    spark.createDataFrame(sc.parallelize(rows, 2), Schemas.obs)
  }

  private def encounters: DataFrame = {
    val rows = (1 to 12).map { id =>
      Row(id, 1 + id % 6, id * 10, ts(id), 21, 1, ts(id), null, 0)
    }
    spark.createDataFrame(sc.parallelize(rows, 2), Schemas.encounter)
  }

  private def persons: DataFrame =
    spark.createDataFrame(
      sc.parallelize((1 to 6).map(id => Row(id, s"u$id", 0)), 1), Schemas.person)

  private def asOf(obs: DataFrame, t: Timestamp): DataFrame =
    obs.filter(col("date_created") <= lit(t))
      .withColumn("voided",
        when(col("voided") === 1 && col("date_voided") <= lit(t), 1).otherwise(0))
      .withColumn("date_voided", when(col("voided") === 1, col("date_voided")))

  private def canonical(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  test("random timelines: chained incrementals == full rebuild (flat_obs/lab/orders)") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, genEvent)) { events =>
      val obs = toObs(events)
      val enc = encounters
      val p = persons
      val cuts = Seq(ts(25), ts(50), ts(95))

      var flat = FlatObs.build(asOf(obs, cuts.head), enc, p)
      cuts.sliding(2).foreach { case Seq(a, b) =>
        flat = FlatObs.incremental(flat, asOf(obs, b), enc, p, a)
      }
      val okObs = canonical(flat) == canonical(FlatObs.build(asOf(obs, cuts.last), enc, p))

      var lab = FlatLabObs.build(asOf(obs, cuts.head), p)
      cuts.sliding(2).foreach { case Seq(a, b) =>
        lab = FlatLabObs.incremental(lab, asOf(obs, b), p, a)
      }
      val okLab = canonical(lab) == canonical(FlatLabObs.build(asOf(obs, cuts.last), p))

      // flat_orders over the same timeline shape (orders derived from the
      // encounter-bearing events; voids included)
      val ordersDf = {
        val rows = events.zipWithIndex.collect {
          case (e, i) if e.enc.isDefined =>
            Row(i + 1, e.person, Integer.valueOf(e.enc.get), e.concept,
              ts(e.createdDay),
              e.voidedDay.map(_ => Integer.valueOf(1)).getOrElse(Integer.valueOf(0)),
              e.voidedDay.map(d => ts(d)).orNull)
        }
        spark.createDataFrame(sc.parallelize(rows, 2), Schemas.orders)
      }
      def ordersAsOf(t: Timestamp) = ordersDf.filter(col("date_created") <= lit(t))
        .withColumn("voided",
          when(col("voided") === 1 && col("date_voided") <= lit(t), 1).otherwise(0))
        .withColumn("date_voided", when(col("voided") === 1, col("date_voided")))
      var ford = FlatOrders.build(ordersAsOf(cuts.head), enc, p)
      cuts.sliding(2).foreach { case Seq(a, b) =>
        ford = FlatOrders.incremental(ford, ordersAsOf(b), enc, p, a)
      }
      val okOrders =
        canonical(ford) == canonical(FlatOrders.build(ordersAsOf(cuts.last), enc, p))

      // voided values never resurrect: for each person, every fully-voided
      // (concept, value) — no surviving non-voided source row for THAT
      // person — must be absent from that person's obs strings.
      val finalObs = asOf(obs, cuts.last)
      val voidedValues = finalObs.filter(col("voided") === 1)
        .join(finalObs.filter(col("voided") === 0),
          Seq("person_id", "concept_id", "value_coded"), "left_anti")
        .select(col("person_id"),
          concat(lit("!!"), col("concept_id"), lit("="), col("value_coded"), lit("!!"))
            .as("entry"))
        .collect().map(r => (r.getInt(0), r.getString(1)))
      val survivingByPerson = flat.select("person_id", "obs").collect()
        .groupBy(_.getInt(0))
        .view.mapValues(_.flatMap(r => Option(r.getString(1))).mkString(" ")).toMap
      val okNoResurrect = voidedValues.forall { case (p, v) =>
        !survivingByPerson.getOrElse(p, "").contains(v)
      }

      okObs && okLab && okOrders && okNoResurrect
    }
    val result = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
