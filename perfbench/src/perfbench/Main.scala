package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders, FlatVisitSummary, Pipeline, Schemas, SourceDeltas}
import graft.operators.{BucketedSink, Watermark}
import graft.sources.{BucketedLog, ChangeFeed}
import graft.streaming.IncrementalEtlStream

/** One benchmark run in a fresh JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir> [fault]`.
  * It sets up, times whole rounds of operations until `seconds` have
  * passed (or the timeline ends), checks every output, and writes
  * `result.json` into the run directory; `perfbench/run.py` adds the
  * DuckDB key checks and prints the result line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dir) = argv.take(5)
    val fault = argv.lift(5).contains("fault")
    val runDir = Paths.get(dir).toAbsolutePath
    val spark = Session.create(runDir, trace == "1")
    try {
      val w = workload match {
        case "daily_ticks" => new DailyTicks(spark, runDir, seed.toLong)
        case "stream_cascade" => new StreamCascade(spark, runDir, seed.toLong)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val json = w.execute(seconds.toInt, trace == "1", fault)
      Files.write(runDir.resolve("result.json"), json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

object Session {
  val Cores = 4
  val ShufflePartitions = 4

  def create(runDir: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What every workload shares: the operation guard, the read mix, the
  * end-of-run checks and the result. A round is one tick that carries
  * new rows, ticks with nothing new, and the read mix. */
abstract class Workload(val spark: SparkSession, val dir: Path, seed: Long) {

  import Workload._

  def persons: Int

  /** Fewer than the program's sizing rule gives (max(64, persons / 5) =
    * 200, as `PipelineBench` applies it). At 200 buckets a `daily_ticks`
    * run took about 105 s instead of 70-73 s (initial load 30 s, point
    * read 1.6 s, cohort scan 3.0 s), which the benchmark's run budget
    * does not hold; the README gives the figures. */
  val buckets = 16

  lazy val fixture = new Fixture(spark, dir, persons, seed)
  val rnd = new scala.util.Random(seed)
  val problems = ArrayBuffer.empty[String]
  def problem(msg: String): Unit = { System.err.println(s"CHECK FAILED: $msg"); problems += msg }

  var ops: Ops = new Ops(Kinds)

  /** A set-up step, its wall time logged. */
  def step[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"perfbench: set-up $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  /** Set-up after the session: sources and the initial load, which is
    * also the warm-up — it runs every stage kernel, sink write and read
    * path once before the first timed call. */
  def setup(): Unit

  /** The rounds the timed loop may run, in order. */
  def schedule: Seq[Int]

  /** One whole round. */
  def round(r: Int): Unit

  /** The live pipeline the final checks read. */
  def pipe: Pipeline
  def root: Path

  /** Frames the live tables must equal, built from scratch. */
  def expected(): Map[String, DataFrame]

  /** As-of day of each source table the final tables reflect. */
  def asOfDays: Map[String, Int]

  def checkWatermarks: Boolean = true

  // ---- per-round bookkeeping ----
  val writeBytes = ArrayBuffer.empty[Long]
  val roundCpu = ArrayBuffer.empty[Double]

  def dataFiles(): Map[String, Long] =
    (Tables :+ "obs_version_log").flatMap { t =>
      Checks.files(root.resolve(t)).collect {
        case (p, n) if p.endsWith(".parquet") => s"$t/$p" -> n
      }
    }.toMap

  def tablesHash(): Seq[String] =
    (Tables :+ "obs_version_log").map(t => Checks.treeHash(root.resolve(t)))

  /** `tick` once with the round's new rows, then `idles` more times with
    * nothing new. The data bytes of the first are recorded. A tick with
    * nothing new must write no data byte: one that does counts as a
    * failed operation (its time is no sample), and one that does not
    * must also leave every table's files byte-identical. */
  def tickThenIdle(r: Int, idles: Int)(tick: => Unit)(idle: => Unit): Unit = {
    val before = dataFiles()
    ops.run("tick", r)(tick)
    val after = dataFiles()
    writeBytes += Checks.writtenBytes(before, after)
    (1 to idles).foreach { _ =>
      val (files0, hash0) = (dataFiles(), tablesHash())
      ops.checked("idle_tick", r)(idle) { _ =>
        val now = dataFiles()
        val written = Checks.writtenBytes(files0, now)
        if (written != 0) Some(s"no-change tick wrote $written data bytes: " +
          now.keys.filterNot(files0.contains).toSeq.sorted.take(3).mkString(", "))
        else None
      }.foreach { _ =>
        if (tablesHash() != hash0) problem(s"round $r: no-change tick changed a table's files")
      }
    }
  }

  /** Point reads on persons the seed picks from those the round touched
    * and those it did not, then the cohort scan. Off the clock, each
    * result is compared with the same filter or aggregate over a full
    * scan of the table. */
  def readMix(r: Int, p: Pipeline, touched: Seq[Int]): Unit = {
    val touchedSet = touched.toSet
    val fromTouched = rnd.shuffle(touched).take(ReadsPerRound / 2)
    val picks = fromTouched ++ Iterator.continually(1 + rnd.nextInt(persons))
      .filterNot(touchedSet).take(ReadsPerRound - fromTouched.size)
    val points = ArrayBuffer.empty[(String, Int, Seq[Row])]
    for (person <- picks; t <- ReadTables)
      ops.run("point_read", r) {
        p.readFlat(t).get.filter(col("person_id") === person).collect().toSeq
      }.foreach(rows => points += ((t, person, rows)))
    val scans = (1 to ScansPerRound).flatMap(_ => ops.run("scan_read", r)(
      cohort(p.readFlat(ReadTables(0)).get, p.readFlat(ReadTables(1)).get).collect().toSeq))
    val full = ReadTables.map(t => t -> p.readFlat(t).get.collect().toSeq).toMap
    points.foreach { case (t, person, rows) =>
      val want = full(t).filter(_.getAs[Int]("person_id") == person)
      if (Checks.rowStrings(rows) != Checks.rowStrings(want))
        problem(s"round $r: point read of person $person on $t differs from the full scan")
    }
    scans.foreach { got =>
      if (Checks.rowStrings(got) != cohortLocal(full(ReadTables(0)), full(ReadTables(1))))
        problem(s"round $r: cohort scan differs from the full-scan aggregate")
    }
  }

  /** Set-up, the timed rounds, the end-of-run checks; the result JSON. */
  def execute(seconds: Int, trace: Boolean, fault: Boolean): String = {
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    setup()
    ops = new Ops(Kinds, tracer.getOrElse(Probe.Off))
    val loopStart = System.nanoTime()
    val deadline = loopStart + seconds * 1000000000L
    var rounds = 0
    val it = schedule.iterator
    while (it.hasNext && (rounds == 0 || System.nanoTime() < deadline)) {
      val c0 = ops.cpuNanos
      round(it.next())
      roundCpu += (ops.cpuNanos - c0) / 1e9
      rounds += 1
    }
    val loopEnd = System.nanoTime()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (ops.firstStartMs - jvmStart) / 1000.0

    if (fault) dropOneLatestRow()
    step("final checks")(finalChecks())
    val traced = tracer.map(t => t.summary(Kinds, Seq("tick", "idle_tick"))).getOrElse(Map.empty) ++
      (if (trace) layerExtras() else Map.empty)
    val e2e = Map(
      "setup_s" -> setupS,
      "tick_s" -> Stats.median(ops.kind("tick").seconds.toSeq),
      "idle_tick_s" -> Stats.median(ops.kind("idle_tick").seconds.toSeq),
      "point_read_ms" -> Stats.median(ops.kind("point_read").seconds.toSeq) * 1000,
      "scan_read_s" -> Stats.median(ops.kind("scan_read").seconds.toSeq),
      "cpu_s" -> Stats.median(roundCpu.toSeq),
      "write_mb_per_tick" -> writeBytes.sum / MB / math.max(1, writeBytes.size),
      "space_amp" -> spaceAmp(),
      "peak_rss_mb" -> peakRssMb())
    Json.obj(
      "rounds" -> Json.num(rounds),
      "loop_s" -> Json.num((loopEnd - loopStart) / 1e9),
      "ops" -> Json.obj(Kinds.map { k =>
        val o = ops.kind(k)
        k -> Json.obj("attempted" -> Json.num(o.attempted), "failed" -> Json.num(o.failed),
          "first_error" -> o.firstError.map(Json.str).getOrElse("null"))
      }: _*),
      "metrics" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "trace" -> Json.obj(traced.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "problems" -> Json.arr(problems.toSeq.map(Json.str)),
      "live_files" -> Json.obj(liveFiles.toSeq.sortBy(_._1).map { case (t, fs) =>
        t -> Json.arr(fs.map(Json.str)) }: _*),
      "src_dir" -> Json.str(fixture.srcDir.toString),
      "asof" -> Json.obj(asOfDays.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
  }

  /** A deliberately broken output: one person's row vanishes from the
    * latest summary, as a faulty merge would leave it. */
  private def dropOneLatestRow(): Unit = {
    val path = root.resolve("flat_latest_hiv_summary").resolve("buckets").toString
    val df = BucketedSink.read(spark, path)
    val victim = df.select("person_id").orderBy("person_id").first().getInt(0)
    val bucket = BucketedSink.collectBuckets(
      df.select("person_id").filter(col("person_id") === victim), buckets)
    BucketedSink.overwriteChanged(
      df.filter(col("person_id") =!= victim).localCheckpoint(), path, "person_id", buckets, bucket)
  }

  /** The files each live table references, from the last final check. */
  var liveFiles: Map[String, Seq[String]] = Map.empty

  def finalChecks(): Unit = {
    val live = Tables.map(t => t -> pipe.readFlat(t).get).toMap
    val exp = expected()
    val sigs = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    Fixture.parallel(Tables.flatMap(t => Seq(
      () => sigs.put(s"live $t", Checks.signature(live(t))),
      () => sigs.put(s"expected $t", Checks.signature(exp(t))))): _*)
    Tables.foreach { t =>
      val (got, want) = (sigs.get(s"live $t"), sigs.get(s"expected $t"))
      if (got != want) problem(s"$t differs from a from-scratch build: (rows, hash) $got vs $want")
    }
    liveFiles = live.map { case (t, df) =>
      t -> df.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)).toString) }
    if (checkWatermarks) checkLog()
  }

  /** `flat_log` watermarks never go backwards, per table version. */
  def checkLog(): Unit = {
    val rows = Watermark.readLog(spark, root.resolve("flat_log").toString)
      .select("table_name", "date_created", "date_updated").collect()
    if (rows.isEmpty) problem(s"no flat_log under $root")
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val wms = rs.sortBy(_.getTimestamp(1).getTime).map(_.getTimestamp(2).getTime)
      if (wms.sliding(2).exists(w => w.size == 2 && w(1) < w(0)))
        problem(s"flat_log watermark of $t went backwards")
    }
  }

  /** Bytes on disk under the pipeline root over bytes of the files the
    * live tables reference. */
  def spaceAmp(): Double = {
    val onDisk = Checks.files(root).values.sum.toDouble
    val live = liveFiles.values.flatten.map(f => Files.size(Paths.get(f))).sum.toDouble
    onDisk / live
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Layer figures outside the spans: each stage kernel's public build
    * timed through a no-op sink, a full bucketed write, and the shape of
    * the live tables. */
  def layerExtras(): Map[String, Double] = {
    val obs = fixture.obsAt(Fixture.LastDay)
    val enc = fixture.encounterAt(Fixture.LastDay)
    val ord = fixture.ordersAt(Fixture.LastDay)
    val person = fixture.person
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val fo = FlatObs.build(obs, enc, person).localCheckpoint()
    val ford = FlatOrders.build(ord, enc, person).localCheckpoint()
    val vs = FlatVisitSummary.build(fo, ford, person).localCheckpoint()
    val builds = Map(
      "build.flat_obs_s" -> noop(FlatObs.build(obs, enc, person)),
      "build.flat_orders_s" -> noop(FlatOrders.build(ord, enc, person)),
      "build.flat_lab_obs_s" -> noop(FlatLabObs.build(obs, person)),
      "build.flat_visit_summary_s" -> noop(FlatVisitSummary.build(fo, ford, person)),
      "build.flat_latest_hiv_summary_s" -> noop(FlatLatestHivSummary.build(vs)))
    val wf = {
      val target = dir.resolve("write_full_probe").toString
      val t0 = System.nanoTime()
      BucketedSink.writeFull(fo, target, "person_id", buckets)
      val s = (System.nanoTime() - t0) / 1e9
      Fixture.deleteTree(Paths.get(target))
      s
    }
    val live = liveFiles.values.flatten.toSeq
    val epochs = live.flatMap(f => """/(e_\d+)/""".r.findFirstMatchIn(f).map(m =>
      f.substring(0, m.end))).distinct
    val versionLog = Checks.files(root.resolve("obs_version_log"))
      .count(_._1.endsWith(".parquet"))
    builds ++ Map(
      "build.write_full_s" -> wf,
      "tables.files" -> live.size.toDouble,
      "tables.epochs" -> epochs.size.toDouble,
      "tables.live_mb" -> live.map(f => Files.size(Paths.get(f))).sum / MB,
      "version_log.files" -> versionLog.toDouble,
      "point_read.p95_ms" -> Stats.quantile(ops.kind("point_read").seconds.toSeq, 0.95) * 1000)
  }
}

object Workload {
  val Kinds = Seq("tick", "idle_tick", "point_read", "scan_read")
  val Tables = Seq("flat_obs", "flat_orders", "flat_lab_obs", "flat_visit_summary",
    "flat_latest_hiv_summary")
  val ReadTables = Seq("flat_visit_summary", "flat_latest_hiv_summary")
  /** The day every run times. Its delta tick carries new rows for two
    * persons. After it, the first tick with nothing new still rewrites
    * buckets (a void newer than every creation passes the stage
    * watermark again; see the README) on every seed tried, and the ticks
    * after that write nothing: one failed operation in every run. */
  val TimedDay = 65
  val ReadsPerRound = 3
  // the first scan after a tick runs up to a third slower than the rest
  val ScansPerRound = 5
  val MB = 1024.0 * 1024.0

  /** The fixed cohort aggregate: visits per person joined to each
    * person's latest summary, grouped by clinic location. */
  def cohort(vs: DataFrame, latest: DataFrame): DataFrame =
    vs.groupBy("person_id").agg(count(lit(1)).as("visits"))
      .join(latest.select("person_id", "location_id", "encounter_datetime"), Seq("person_id"))
      .groupBy("location_id")
      .agg(count(lit(1)).as("persons"), sum("visits").as("visits"),
        max("encounter_datetime").as("last_seen"))

  /** The same aggregate over collected rows, as row strings. */
  def cohortLocal(vs: Seq[Row], latest: Seq[Row]): Seq[String] = {
    val visits = vs.groupBy(_.getAs[Int]("person_id")).map { case (p, rs) => p -> rs.size.toLong }
    latest.filter(r => visits.contains(r.getAs[Int]("person_id")))
      .groupBy(r => Option(r.getAs[Any]("location_id")))
      .map { case (loc, rs) =>
        val last = rs.flatMap(r => Option(r.getAs[java.sql.Timestamp]("encounter_datetime")))
        Row(loc.orNull, rs.size.toLong, rs.map(r => visits(r.getAs[Int]("person_id"))).sum,
          if (last.isEmpty) null else last.maxBy(_.getTime)).toString
      }.toSeq.sorted
  }

  def rebuilds(obs: DataFrame, enc: DataFrame, ord: DataFrame, person: DataFrame)
      : Map[String, DataFrame] = {
    // each stage's rebuild is materialized once and feeds the next
    val fo = FlatObs.build(obs, enc, person).localCheckpoint()
    val ford = FlatOrders.build(ord, enc, person).localCheckpoint()
    val vs = FlatVisitSummary.build(fo, ford, person).localCheckpoint()
    Map("flat_obs" -> fo, "flat_orders" -> ford, "flat_lab_obs" -> FlatLabObs.build(obs, person),
      "flat_visit_summary" -> vs, "flat_latest_hiv_summary" -> FlatLatestHivSummary.build(vs))
  }
}

/** Production steady state: the day-(d-1) tables on the bucketed layout,
  * then the delta tick of day d fed by the change feed, two no-change
  * ticks and the read mix. Every round repeats day d on a fresh copy of
  * the day-(d-1) tables, so all rounds run the same operations. */
final class DailyTicks(spark: SparkSession, dir: Path, seed: Long)
    extends Workload(spark, dir, seed) {

  def persons = 1000
  private val day = Workload.TimedDay
  var root: Path = _
  var pipe: Pipeline = _
  private var feed: Path = _
  private var base: Path = _
  private lazy val sources = Sources(day)

  def schedule: Seq[Int] = LazyList.from(1)

  /** The source snapshots of one day, read before the tick starts. */
  final case class Sources(day: Int) {
    val obs = fixture.obsAt(day)
    val encounter = fixture.encounterAt(day)
    val orders = fixture.ordersAt(day)
    val person = fixture.person
  }

  /** A tick as a caller runs it: read the feed for every change newer
    * than the oldest watermark the tick of `since` recorded, then tick. */
  private def tick(p: Pipeline, s: Sources, since: Option[Int]): Unit = {
    val deltas = since.fold(SourceDeltas()) { d =>
      val t = fixture.feedSince(d)
      def read(name: String) = Some(ChangeFeed.readSince(spark, feed.resolve(name).toString, t))
      SourceDeltas(obs = read("obs"), encounter = read("encounter"), orders = read("orders"))
    }
    p.tick(s.obs, s.encounter, s.orders, s.person, deltas)
  }

  def setup(): Unit = {
    step("sources")(fixture.prepare(feed = true, arrivals = false))
    feed = dir.resolve("feed")
    fixture.newFeed(feed, day - 1)
    base = dir.resolve("base")
    step("initial load")(tick(new Pipeline(spark, base.toString, Some(buckets)),
      Sources(day - 1), None))
    fixture.arrive(feed, day)
  }

  def round(r: Int): Unit = {
    root = dir.resolve(s"round_$r")
    Fixture.copyTree(base, root)
    pipe = new Pipeline(spark, root.toString, Some(buckets))
    // the delta tick reads from the watermark the load recorded, each
    // no-change tick from the one the delta tick recorded
    tickThenIdle(r, idles = 2)(tick(pipe, sources, Some(day - 1)))(tick(pipe, sources, Some(day)))
    readMix(r, pipe, fixture.touchedByDay(day))
  }

  def expected(): Map[String, DataFrame] =
    Workload.rebuilds(sources.obs, sources.encounter, sources.orders, sources.person)

  def asOfDays: Map[String, Int] = Map("obs" -> day, "encounter" -> day, "orders" -> day)
}

/** The same timeline through the streaming layer: obs versions arrive as
  * files; the arrivals up to day d-1 (one bulk arrival) and the
  * post-backfill version-log fold are set-up, then each day's arrival
  * from day d on is one `runCascadeOnce`, followed by empty triggers and
  * the read mix. */
final class StreamCascade(spark: SparkSession, dir: Path, seed: Long)
    extends Workload(spark, dir, seed) {

  def persons = 1000
  var root: Path = _
  var pipe: Pipeline = _
  private var obsDir: Path = _
  private var memo: IncrementalEtlStream.CascadeRunMemo = _
  private var day = Workload.TimedDay - 1
  private var encounter: DataFrame = _
  private lazy val orders = fixture.ordersAt(Workload.TimedDay - 1)
  private lazy val person = fixture.person

  override def checkWatermarks = false

  def schedule: Seq[Int] = (Workload.TimedDay to Fixture.LastDay).filter(fixture.hasArrival)

  private def trigger(): Unit =
    IncrementalEtlStream.runCascadeOnce(spark, obsDir.toString, encounter, orders, person,
      pipe, root.resolve("_checkpoint").toString, memo)

  def setup(): Unit = {
    step("sources")(fixture.prepare(feed = false, arrivals = true))
    require(fixture.hasArrival(Workload.TimedDay), s"no obs arrival on day ${Workload.TimedDay}")
    val live = dir.resolve("live")
    root = live.resolve("tables")
    obsDir = dir.resolve("obs")
    memo = new IncrementalEtlStream.CascadeRunMemo
    pipe = new Pipeline(spark, root.toString, Some(buckets))
    encounter = fixture.encounterAt(day)
    step("initial load") {
      (Fixture.FirstDay to day).foreach(fixture.arriveObs(obsDir, _))
      trigger()
      // the post-backfill compaction recipe: fold the bulk arrival's
      // deferred version-log residue before the first daily arrival
      BucketedLog.fold(spark, root.resolve("obs_version_log").toString, "person_id",
        buckets, Schemas.obs)
    }
  }

  def round(d: Int): Unit = {
    fixture.arriveObs(obsDir, d)
    day = d
    encounter = fixture.encounterAt(d)
    // an empty trigger costs ~40 ms and varies by a third within a run:
    // thirty per round
    tickThenIdle(d, idles = 30)(trigger())(trigger())
    readMix(d, pipe, fixture.touchedByDay.getOrElse(d, Nil))
  }

  /** A batch build over the same total input: every arrived version,
    * reduced to its latest state, with the encounter snapshot of the
    * last trigger and the orders the cascade was given. */
  def expected(): Map[String, DataFrame] = {
    val obs = IncrementalEtlStream.currentState(spark.read.schema(Schemas.obs)
      .option("recursiveFileLookup", "true").parquet(obsDir.toString))
    Workload.rebuilds(obs, encounter, orders, person)
  }

  def asOfDays: Map[String, Int] =
    Map("obs" -> day, "encounter" -> day, "orders" -> (Workload.TimedDay - 1))
}

/** Just enough JSON writing for the result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def num(v: Int): String = v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
