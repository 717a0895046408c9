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
  * (flat_obs_v1.0.sql:61).
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

  /** Resolve the high-water mark for `tableVersion`. `fallback` is the
    * already-loaded flat table's max(date_created) source, if any —
    * BY-NAME, because merely constructing that DataFrame lists the
    * table's files (InMemoryFileIndex is built at read time): at 40k
    * bucket directories that is a multi-second per-stage constant paid
    * even when the log hit makes the fallback dead.
    */
  def resolve(
      log: DataFrame,
      tableVersion: String,
      fallback: => Option[DataFrame] = None,
      fallbackCol: String = "max_date_created"): Timestamp = {
    val fromLog = log
      .filter(col("table_name") === tableVersion)
      .agg(max("date_updated"))
      .first()
      .getAs[Timestamp](0)
    if (fromLog != null) fromLog
    else fallback
      .flatMap(df => Option(df.agg(max(fallbackCol)).first().getAs[Timestamp](0)))
      .getOrElse(Epoch)
  }

  /** Append one run row (flat_obs_v1.0.sql:344-346). `watermark` lands in
    * `date_updated`, the column [[resolve]] reads back as the next run's
    * high-water mark. It is NOT the run's start time: the caller passes
    * the max source `date_created` it saw (captured before the stage
    * ran, as the reference's `@last_date_created`, :26-28), floored at
    * the watermark the run started from so it never regresses — so
    * source rows committing while the run is in flight stay above it and
    * are re-read next run. `date_created` records the wall-clock time of
    * the append.
    */
  def appendRun(
      spark: SparkSession,
      path: String,
      tableVersion: String,
      watermark: Timestamp,
      seconds: Short): Unit = {
    import spark.implicits._
    Seq((new Timestamp(System.currentTimeMillis()), watermark, tableVersion, seconds))
      .toDF("date_created", "date_updated", "table_name", "seconds_to_complete")
      .write.mode("append").parquet(path)
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
