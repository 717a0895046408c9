package graft.etl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Watermark

/** Shared checks for specs that drive [[Pipeline.tick]]. */
object TickChecks {

  val Tables: Seq[String] = Seq("flat_obs", "flat_orders", "flat_lab_obs",
    "flat_visit_summary", "flat_latest_hiv_summary")

  /** The five tables built from scratch over the given sources. */
  def rebuilds(
      obs: DataFrame, encounter: DataFrame, orders: DataFrame,
      person: DataFrame): Map[String, DataFrame] = {
    val fo = FlatObs.build(obs, encounter, person)
    val ford = FlatOrders.build(orders, encounter, person)
    val vs = FlatVisitSummary.build(fo, ford, person)
    Map(
      "flat_obs" -> fo,
      "flat_orders" -> ford,
      "flat_lab_obs" -> FlatLabObs.build(obs, person),
      "flat_visit_summary" -> vs,
      "flat_latest_hiv_summary" -> FlatLatestHivSummary.build(vs))
  }

  def rows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq

  /** The tables whose rows differ from a from-scratch build. */
  def diverged(
      pipe: Pipeline, obs: DataFrame, encounter: DataFrame, orders: DataFrame,
      person: DataFrame): Seq[String] = {
    val want = rebuilds(obs, encounter, orders, person)
    Tables.filterNot { t =>
      val live = pipe.readFlat(t).get.select(want(t).columns.map(col).toIndexedSeq: _*)
      rows(live) == rows(want(t))
    }
  }

  /** Every file under the five table directories and under
    * `purged_persons`, its consistency marker excepted. */
  def dataFiles(root: String): Set[String] =
    (Tables :+ "purged_persons").map(Paths.get(root, _)).filter(Files.exists(_))
      .flatMap { dir =>
        val walk = Files.walk(dir)
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
        finally walk.close()
      }
      .filterNot(_.getFileName.toString.contains("_CONSISTENT"))
      .map(_.toString).toSet

  /** `flat_log` table names whose recorded bound ever went backwards. */
  def regressed(spark: SparkSession, root: String): Seq[String] =
    Watermark.collectLog(spark, s"$root/flat_log")
      .groupBy(_.tableName).collect {
        case (t, rs) if rs.sortBy(_.dateCreated.getTime).map(_.watermark.getTime)
            .sliding(2).exists(w => w.size == 2 && w(1) < w(0)) => t
      }.toSeq
}
