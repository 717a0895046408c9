package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ChangeFeed
import graft.tools.BenchFixtures

/** The `BenchFixtures` clinic timeline, written once as source parquet
  * under `dir/src`: ~2% of persons are active in days 60-89, where their
  * new encounters, obs and orders, their voids and their encounters'
  * `date_changed` updates fall.
  *
  * The seed renames persons through a bijection of 1..persons (a
  * multiplier coprime with the person count plus an offset), applied to
  * every person key of every table. A seed therefore changes which ids
  * are active, voided and read, and how persons fall into buckets, while
  * the timeline's shape — row counts, per-day change counts — stays
  * identical, so two seeds load the program equally. */
final class Fixture(spark: SparkSession, dir: Path, val persons: Int, seed: Long) {

  import Fixture._

  private val (mult, offset) = {
    val rnd = new scala.util.Random(seed)
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val m = Iterator.continually(1L + rnd.nextInt(persons - 1))
      .find(m => gcd(m, persons.toLong) == 1).get
    (m, rnd.nextInt(persons).toLong)
  }

  /** The renamed id of original person `c`. */
  private def rename(c: Column): Column =
    (pmod((c.cast("long") - 1L) * mult + offset, lit(persons.toLong)) + 1L).cast("int")

  val srcDir: Path = dir.resolve("src")
  private def src(name: String) = srcDir.resolve(name).toString

  /** The generated tables (every row's full history, as of the end of
    * the timeline), persons renamed. Set-up stages everything from these
    * deterministic frames, so its jobs need not wait for one another. */
  private lazy val gen: Map[String, DataFrame] = {
    val raw = BenchFixtures.sources(spark, persons)
    Map(
      "person" -> raw("person").withColumn("person_id", rename(col("person_id"))),
      "encounter" -> raw("encounter").withColumn("patient_id", rename(col("patient_id"))),
      "obs" -> raw("obs").withColumn("person_id", rename(col("person_id"))),
      "orders" -> raw("orders").withColumn("patient_id", rename(col("patient_id"))))
  }

  /** Write the source parquet and what the workload stages beside it
    * (change feed and/or obs arrivals), and collect the per-day facts
    * the read mix and the feed reads need. */
  def prepare(feed: Boolean, arrivals: Boolean): Unit = parallel(
    Seq("person", "encounter", "obs", "orders").map(t => () => gen(t).write.parquet(src(t))) ++
      (if (feed) stageFeed() else Nil) ++
      (if (arrivals) Seq(() => writeArrivals()) else Nil) ++
      Seq(() => touchedByDay, () => createdTimes): _*)

  def rawObs: DataFrame = spark.read.parquet(src("obs"))
  def rawEncounter: DataFrame = spark.read.parquet(src("encounter"))
  def rawOrders: DataFrame = spark.read.parquet(src("orders"))
  def person: DataFrame = spark.read.parquet(src("person"))

  /** Source snapshots as of the start of `day`. */
  def obsAt(day: Int): DataFrame = BenchFixtures.obsAsOf(rawObs, asOf(day))
  def encounterAt(day: Int): DataFrame = BenchFixtures.encAsOf(rawEncounter, asOf(day))
  def ordersAt(day: Int): DataFrame = BenchFixtures.ordersAsOf(rawOrders, asOf(day))

  // ---- change feed (daily_ticks) ----
  // Each row VERSION lands under the day of its change, as a CDC export
  // produces it: the state as of FirstDay in the initial capture, then a
  // creation version (not yet voided or changed) and, where one happens,
  // a void or update version per day of the window. The window's day
  // partitions are staged in set-up; `arrive` publishes one day's
  // partitions into a live feed before the tick that should see them.

  private val windowStart = lit(asOf(FirstDay))

  private def genObsAt(day: Int) = BenchFixtures.obsAsOf(gen("obs"), asOf(day))
  private def genEncounterAt(day: Int) = BenchFixtures.encAsOf(gen("encounter"), asOf(day))
  private def genOrdersAt(day: Int) = BenchFixtures.ordersAsOf(gen("orders"), asOf(day))

  private def obsLikeVersions(raw: DataFrame): DataFrame = {
    val created = raw.filter(col("date_created") > windowStart)
      .withColumn("voided", lit(0))
      .withColumn("date_voided", lit(null).cast("timestamp"))
    val voids = raw.filter(col("voided") === 1 && col("date_voided") > windowStart)
    created.unionByName(voids)
  }

  private def encounterVersions(raw: DataFrame): DataFrame = {
    val created = raw.filter(col("date_created") > windowStart)
      .withColumn("date_changed", lit(null).cast("timestamp"))
    val changed = raw.filter(col("date_changed") > windowStart)
    created.unionByName(changed)
  }

  val feedDateCols: Map[String, Seq[String]] = Map(
    "obs" -> Seq("date_created", "date_voided"),
    "encounter" -> Seq("date_created", "date_changed"),
    "orders" -> Seq("date_created", "date_voided"))

  private val stagedFeed = dir.resolve("feed_staged")

  /** One feed of every version: the state as of FirstDay falls in day
    * partitions before it, the window's versions in partitions after. */
  private def stageFeed(): Seq[() => Any] = Seq(
    () => ChangeFeed.append(genObsAt(FirstDay).unionByName(obsLikeVersions(gen("obs"))),
      stagedFeed.resolve("obs").toString, feedDateCols("obs")),
    () => ChangeFeed.append(
      genEncounterAt(FirstDay).unionByName(encounterVersions(gen("encounter"))),
      stagedFeed.resolve("encounter").toString, feedDateCols("encounter")),
    () => ChangeFeed.append(genOrdersAt(FirstDay).unionByName(obsLikeVersions(gen("orders"))),
      stagedFeed.resolve("orders").toString, feedDateCols("orders")))

  private def partitionDay(name: String): String = name.stripPrefix(s"${ChangeFeed.PartitionCol}=")

  /** A fresh live feed holding every change the tick of `day` sees: the
    * initial capture and the window's partitions before `day`. */
  def newFeed(feed: Path, day: Int): Unit = Seq("obs", "encounter", "orders").foreach { t =>
    val from = stagedFeed.resolve(t)
    Files.list(from).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(ChangeFeed.PartitionCol) &&
        partitionDay(p.getFileName.toString) < dateOf(day))
      .foreach(p => copyTree(p, feed.resolve(t).resolve(p.getFileName.toString)))
  }

  /** Publish the changes the tick of `day` sees (those of the day
    * before) into `feed`. */
  def arrive(feed: Path, day: Int): Unit = Seq("obs", "encounter", "orders").foreach { t =>
    val part = s"${ChangeFeed.PartitionCol}=${dateOf(day - 1)}"
    val from = stagedFeed.resolve(t).resolve(part)
    if (Files.exists(from)) copyTree(from, feed.resolve(t).resolve(part))
  }

  // ---- obs version arrivals (stream_cascade) ----
  // The same timeline as obs row versions: the bulk arrival holds the
  // state as of FirstDay; each later day's file holds the versions that
  // changed the day before (a void arrives as a new version of the same
  // obs_id with voided=1 — the stream's source contract).

  private val stagedArrivals = dir.resolve("arrivals_staged")

  private def writeArrivals(): Unit = {
    val dayOfChange = (ts: Column) =>
      (floor((ts.cast("long") - lit(BaseEpoch)) / 86400L) + 1).cast("int")
    val versions = obsLikeVersions(gen("obs"))
      .withColumn("arrival", dayOfChange(
        when(col("voided") === 1, col("date_voided")).otherwise(col("date_created"))))
      .unionByName(genObsAt(FirstDay).withColumn("arrival", lit(FirstDay)))
    versions.repartition(col("arrival")).write.partitionBy("arrival")
      .parquet(stagedArrivals.toString)
  }

  def hasArrival(day: Int): Boolean = Files.exists(stagedArrivals.resolve(s"arrival=$day"))

  /** Publish the obs versions the arrival of `day` carries into `obsDir`. */
  def arriveObs(obsDir: Path, day: Int): Unit = {
    val from = stagedArrivals.resolve(s"arrival=$day")
    if (Files.exists(from)) copyTree(from, obsDir.resolve(s"day_$day"))
  }

  // ---- what the read mix and the feed bound need ----

  /** Persons with any source change the tick of `day` picks up. */
  lazy val touchedByDay: Map[Int, Seq[Int]] = {
    val (obs, enc, ord) = (gen("obs"), gen("encounter"), gen("orders"))
    val changes = obs.select(col("person_id"), col("date_created").as("t"))
      .union(obs.select(col("person_id"), col("date_voided")))
      .union(enc.select(col("patient_id"), col("date_created")))
      .union(enc.select(col("patient_id"), col("date_changed")))
      .union(ord.select(col("patient_id"), col("date_created")))
      .union(ord.select(col("patient_id"), col("date_voided")))
      .filter(col("t") > windowStart)
      .select(col("person_id"),
        (floor((col("t").cast("long") - lit(BaseEpoch)) / 86400L) + 1).cast("int").as("day"))
      .distinct().collect()
    changes.groupBy(_.getInt(1)).map { case (d, rs) => d -> rs.map(_.getInt(0)).toSeq.sorted }
  }

  /** Max source `date_created` visible at the start of each day, per
    * table — the watermarks a tick records. */
  private lazy val createdTimes: Map[String, Array[Long]] =
    Seq("obs", "encounter", "orders").map(n => n -> gen(n)).toMap.map {
    case (n, df) => n -> df.select(col("date_created").cast("long"))
      .filter(col("date_created") > lit(BaseEpoch + (FirstDay - 5) * 86400L))
      .distinct().collect().map(_.getLong(0)).sorted
  }

  /** A lower bound on the oldest stage watermark after the tick of
    * `day`: the smallest per-table max `date_created` visible then. The
    * feed read from it holds every change newer than any watermark,
    * which is the `SourceDeltas` contract. */
  def feedSince(day: Int): Timestamp = {
    val limit = BaseEpoch + day.toLong * 86400L
    val m = createdTimes.values.map(ts => ts.filter(_ <= limit).lastOption
      .getOrElse(BaseEpoch + (FirstDay - 5) * 86400L)).min
    new Timestamp(m * 1000L)
  }
}

object Fixture {
  val FirstDay = 60
  val LastDay = 90

  val BaseEpoch: Long = Timestamp.valueOf("2015-01-01 00:00:00").toInstant.getEpochSecond

  def asOf(day: Int): Timestamp = BenchFixtures.asOf(day)

  def dateOf(day: Int): String =
    java.time.LocalDate.ofEpochDay(BaseEpoch / 86400L + day).toString

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally walk.close()
  }

  /** Run independent set-up or check jobs side by side, at most four at
    * once (never the timed operations, which run one at a time); the
    * first failure is rethrown after all have ended. */
  def parallel(tasks: (() => Any)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(tasks.size, 4))
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Any] {
        def call(): Any = t()
      }))
      val errors = futures.flatMap(f =>
        try { f.get(); None } catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        })
      errors.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}
