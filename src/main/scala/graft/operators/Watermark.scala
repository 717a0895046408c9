package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's run-log / watermark store:
  * `flat_log(date_created timestamp, date_updated datetime,
  * table_name varchar(100), seconds_to_complete smallint)`
  * (flat_log_v1.0.sql:2) — one row per ETL run per table-version; the max
  * `date_updated` per `table_name` is the incremental high-water mark
  * (flat_obs_v1.0.sql:61). A run also records each modification horizon
  * of its stage as a row of the same schema under [[horizonRow]].
  *
  * Watermark resolution follows the reference's 3-level fallback chain
  * (flat_obs_v1.0.sql:61-70):
  *   1. `max(date_updated)` from the run-log for this table version;
  *   2. else `max(date_created)` over rows already loaded in the flat
  *      table ("takes about 10 seconds" in MySQL; a cheap agg here);
  *   3. else `'1900-01-01'` → full rebuild.
  */
object Watermark {
  val Epoch: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  val logSchema: StructType = StructType(Seq(
    StructField("date_created", TimestampType),
    StructField("date_updated", TimestampType),
    StructField("table_name", StringType),
    StructField("seconds_to_complete", ShortType)))

  def emptyLog(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema)

  def readLog(spark: SparkSession, path: String): DataFrame =
    if (exists(spark, path)) spark.read.schema(logSchema).parquet(path)
    else emptyLog(spark)

  /** One collected `flat_log` row: `watermark` is `date_updated`. */
  final case class RunRow(
      dateCreated: Timestamp, watermark: Timestamp, tableName: String, seconds: Short)

  /** The whole run log, collected to the driver in one job. The log holds
    * a handful of rows per tick, and every watermark, horizon and marker
    * signature a tick needs resolves from this one snapshot. */
  def collectLog(spark: SparkSession, path: String): Seq[RunRow] =
    readLog(spark, path).collect().toSeq.map(r =>
      RunRow(r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getShort(3)))

  /** `max(date_updated)` recorded under `tableName`, if any. */
  private def logged(log: Seq[RunRow], tableName: String): Option[Timestamp] =
    log.filter(r => r.tableName == tableName && r.watermark != null)
      .map(_.watermark).maxByOption(_.getTime)

  /** Resolve the high-water mark for `tableVersion` from the collected
    * log. `fallback` is the already-loaded flat table's max(date_created)
    * source, if any — BY-NAME, because merely constructing that DataFrame
    * lists the table's files (InMemoryFileIndex is built at read time): at
    * 40k bucket directories that is a multi-second per-stage constant paid
    * even when the log hit makes the fallback dead.
    */
  def resolve(
      log: Seq[RunRow],
      tableVersion: String,
      fallback: => Option[DataFrame] = None,
      fallbackCol: String = "max_date_created"): Timestamp =
    logged(log, tableVersion).getOrElse(fallback
      .flatMap(df => Option(df.agg(max(fallbackCol)).first().getAs[Timestamp](0)))
      .getOrElse(Epoch))

  /** The `flat_log` row under which a stage records the modification
    * horizon of one source column, e.g. `flat_obs_v1.0#obs.date_voided`. */
  def horizonRow(tableVersion: String, column: String): String = s"$tableVersion#$column"

  /** The modification horizon of `column` a run of `tableVersion` starts
    * from. A missing row — a first run, or a log written before horizons
    * were recorded — falls back to `created`, the stage's creation
    * watermark, which is the bound the predicate compared against before. */
  def horizon(
      log: Seq[RunRow], tableVersion: String, column: String, created: Timestamp): Timestamp =
    logged(log, horizonRow(tableVersion, column)).getOrElse(created)

  /** The log's row count and newest `date_created` (epoch ms): equal
    * signatures mean no run appended in between. */
  def signature(log: Seq[RunRow]): String =
    log.size + "|" + log.map(_.dateCreated.getTime).maxOption.getOrElse(0L)

  /** Append one run's rows in ONE parquet file (flat_obs_v1.0.sql:344-346)
    * and return them as the collected log would read them back, so the
    * caller's snapshot and [[signature]] stay current without a re-read.
    * Each `(table_name, watermark)` lands as `date_updated`, the column
    * [[resolve]] reads back as the next run's bound. It is NOT the run's
    * start time: the caller passes the max source timestamp it captured
    * before the stage ran (the reference's `@last_date_created`, :26-28),
    * floored at the bound the run started from so it never regresses —
    * so source rows committing while the run is in flight stay above it
    * and are re-read next run. A stage's row is its creation watermark
    * (`table_name` = the table version); each modification horizon is a
    * row under `<version>#<source>.<column>`. `date_created` records the
    * wall-clock time of the append.
    */
  def appendRun(
      spark: SparkSession,
      path: String,
      rows: Seq[(String, Timestamp)],
      seconds: Short): Seq[RunRow] = {
    import spark.implicits._
    val now = new Timestamp(System.currentTimeMillis())
    val run = rows.map { case (t, wm) => RunRow(now, wm, t, seconds) }
    run.map(r => (r.dateCreated, r.watermark, r.tableName, r.seconds))
      .toDF("date_created", "date_updated", "table_name", "seconds_to_complete")
      .coalesce(1)
      .write.mode("append").parquet(path)
    run
  }

  // the SESSION's hadoop configuration — a fresh Configuration() would
  // miss spark.hadoop.* settings (s3a credentials, fs.defaultFS), making
  // the log look absent and silently degrading every run to a full
  // rebuild from the Epoch watermark
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
