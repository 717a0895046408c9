package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline tick bench: a full five-stage build at t1, then an
  * incremental tick at t2 over a ~2% active-person delta, with the
  * manifest-committed bucketed sinks on every person-keyed stage — the
  * configuration a production deployment would run. Reports wall seconds
  * per tick and per-stage bytes written (full epoch vs delta epochs),
  * proving the incremental write volume is O(delta), not O(table).
  * Every bucketed stage is hash-checked against
  * a from-scratch rebuild on the t2 sources before any number is
  * reported — a fast bench that drifted from the batch semantics would
  * be worse than no bench.
  *
  * Standalone: `runMain graft.tools.PipelineBench`; also folded into
  * `graft.Bench`'s JSON as the "tick" object (SPARK_GRAFT_TICK=0 skips).
  */
object PipelineBench {

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  /** count + order-independent content hash. */
  private def signature(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted
    val r = df.select(hash(cols.toIndexedSeq.map(col): _*).cast("long").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def run(spark: SparkSession): Seq[(String, Double)] = {
    val nPersons = sys.env.getOrElse("SPARK_GRAFT_TICK_PERSONS", "2000").toInt
    // Bucket-count sizing is what makes the O(delta) write claim true:
    // an incremental epoch rewrites WHOLE touched buckets, so expected
    // write fraction ≈ 1 - exp(-deltaKeys/buckets) — buckets must exceed
    // the steady-state delta key count by ~10x for a ~10% bound. The old
    // fixed-256 setting silently broke that rule past ~5k persons (2%
    // delta = 400 keys touched 80% of 256 buckets) and benched a
    // near-full rewrite; a fixed 4096 obeys it but drowns the toy-scale
    // wall time in per-file costs (4096 near-empty parquet files per
    // stage — measured 23s -> 89s full build at 2000 persons). The
    // default applies the rule to THIS fixture's 2% delta:
    // buckets = persons/5 = 10x the expected delta keys.
    val buckets = sys.env.get("SPARK_GRAFT_TICK_BUCKETS").map(_.toInt)
      .getOrElse(math.max(64, nPersons / 5))
    val root = java.nio.file.Files.createTempDirectory("graft-tickbench")
    try {
      // SPARK_GRAFT_TICK_DEBUG=1 prints per-phase wall/bytes for every
      // tick (stages + the unlogged phases) — attribution, off by default
      if (sys.env.get("SPARK_GRAFT_TICK_DEBUG").contains("1"))
        spark.conf.set("graft.debug.tickTiming", "true")

      val src = BenchFixtures.sources(spark, nPersons)
      val t1 = BenchFixtures.asOf(60)
      val t2 = BenchFixtures.asOf(90)
      def views(t: java.sql.Timestamp) = (
        BenchFixtures.obsAsOf(src("obs"), t).cache(),
        BenchFixtures.encAsOf(src("encounter"), t).cache(),
        BenchFixtures.ordersAsOf(src("orders"), t).cache(),
        src("person").cache())

      val pipe = new graft.etl.Pipeline(spark, root.toString, Some(buckets))
      val (obs1, enc1, ord1, person) = views(t1)
      val s1 = System.nanoTime()
      pipe.tick(obs1, enc1, ord1, person)
      val tickFull = (System.nanoTime() - s1) / 1e9

      val bucketed = Seq("flat_obs", "flat_orders", "flat_lab_obs",
        "flat_visit_summary", "flat_latest_hiv_summary")
      def bucketsDir(name: String) = root.resolve(name).resolve("buckets")
      val fullBytes = bucketed.map(n => n -> dirBytes(bucketsDir(n).resolve("e_0"))).toMap

      val (obs2, enc2, ord2, _) = views(t2)
      val s2 = System.nanoTime()
      pipe.tick(obs2, enc2, ord2, person)
      val tickIncr = (System.nanoTime() - s2) / 1e9
      val incrBytes = bucketed.map(n =>
        n -> (dirBytes(bucketsDir(n)) - fullBytes(n))).toMap

      // gate: every bucketed stage's incremental == a from-scratch
      // rebuild at t2 — a fast bench that drifted from the batch
      // semantics would be worse than no bench
      import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders, FlatVisitSummary}
      val rebuilds: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
        "flat_obs" -> (() => FlatObs.build(obs2, enc2, person)),
        "flat_orders" -> (() => FlatOrders.build(ord2, enc2, person)),
        "flat_lab_obs" -> (() => FlatLabObs.build(obs2, person)),
        "flat_visit_summary" -> (() => FlatVisitSummary.build(
          FlatObs.build(obs2, enc2, person),
          FlatOrders.build(ord2, enc2, person), person)),
        "flat_latest_hiv_summary" -> (() => FlatLatestHivSummary.build(
          FlatVisitSummary.build(
            FlatObs.build(obs2, enc2, person),
            FlatOrders.build(ord2, enc2, person), person))))
      bucketed.foreach { n =>
        val got = signature(
          graft.operators.BucketedSink.read(spark, bucketsDir(n).toString))
        val want = signature(rebuilds(n)())
        require(got == want, s"$n equivalence failed: bucketed=$got rebuild=$want")
      }

      // ---- steady-state scan cost: full-scan vs change-feed tick ----
      // A no-change tick isolates the tick's fixed reads (delta/purge/
      // retraction scans + the wholesale latest-summary rebuild) from
      // delta work. Sources are re-read from PARQUET (not the cached
      // fixtures) so the scans pay real I/O; the feed tick reads the
      // date-partitioned CDC dirs instead, pruned to the delta window —
      // its scan cost tracks the delta, not the table. Both ticks must
      // leave every table byte-identical (gated below).
      import graft.sources.ChangeFeed
      val srcDir = root.resolve("src")
      def writeSrc(df: DataFrame, name: String, dateCols: Seq[String]): DataFrame = {
        df.write.parquet(s"$srcDir/$name")
        ChangeFeed.append(df, s"$srcDir/feed/$name", dateCols)
        spark.read.parquet(s"$srcDir/$name")
      }
      val obsP = writeSrc(obs2, "obs", Seq("date_created", "date_voided"))
      val encP = writeSrc(enc2, "encounter", Seq("date_created", "date_changed"))
      val ordP = writeSrc(ord2, "orders", Seq("date_created", "date_voided"))
      val preSteady = bucketed.map(n => n -> signature(
        graft.operators.BucketedSink.read(spark, bucketsDir(n).toString))).toMap

      // per-stage attribution from the run log (seconds_to_complete, 1s
      // resolution): which stage a mode's win or loss actually lives in —
      // the whole-tick number alone can't distinguish delta-scan savings
      // from shared merge/write cost. Each stage's newest row under its
      // version: the log also holds the stages' horizon rows.
      def stageSecs(): Map[String, Long] = {
        val log = graft.operators.Watermark.collectLog(
          spark, root.resolve("flat_log").toString)
        Seq(pipe.flatObsVersion, pipe.flatOrdersVersion, pipe.flatLabObsVersion,
          pipe.flatVisitSummaryVersion).flatMap { v =>
          log.filter(_.tableName == v).maxByOption(_.dateCreated.getTime)
            .map(r => v -> r.seconds.toLong)
        }.toMap
      }

      val s3 = System.nanoTime()
      pipe.tick(obsP, encP, ordP, person)
      val steadyFull = (System.nanoTime() - s3) / 1e9
      val fullStages = stageSecs()

      val feeds = graft.etl.SourceDeltas(
        obs = Some(ChangeFeed.readSince(spark, s"$srcDir/feed/obs", t1)),
        encounter = Some(ChangeFeed.readSince(spark, s"$srcDir/feed/encounter", t1)),
        orders = Some(ChangeFeed.readSince(spark, s"$srcDir/feed/orders", t1)))
      val s4 = System.nanoTime()
      pipe.tick(obsP, encP, ordP, person, feeds)
      val steadyFeed = (System.nanoTime() - s4) / 1e9
      val feedStages = stageSecs()

      bucketed.foreach { n =>
        val got = signature(
          graft.operators.BucketedSink.read(spark, bucketsDir(n).toString))
        require(got == preSteady(n),
          s"steady-state ticks changed $n: $got vs ${preSteady(n)}")
      }

      // isolated delta queue-scan cost (the tick metric above still
      // carries fixed per-stage orchestration that drowns the scan delta
      // at toy scale; latest-summary is now a keyed bucket merge):
      // the full-scan form reads the obs/encounter time columns across
      // the whole source, the feed form only delta-window partitions;
      // both take their purge set from the purged-persons log. Best of 3.
      val purgedLog = pipe.readFlat("purged_persons").get
      val purgeFromLog = person.filter(col("voided") === 1)
        .select("person_id").join(purgedLog, Seq("person_id"), "left_anti")
      def best3(f: => Unit): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      // bytes the queue build OPENS (sum over every file scan in the
      // plan, post partition-pruning) — the scale-stable form of the
      // O(table)-vs-O(delta) claim: wall seconds at toy scale are
      // dominated by per-file constants, but the bytes ratio is what a
      // 100 TB tick pays
      def scanBytes(df: DataFrame): Double = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        // plan.collect does not descend into AQE wrappers — walk manually
        def go(p: SparkPlan): Long = p match {
          case a: AdaptiveSparkPlanExec => go(a.executedPlan)
          case f: FileSourceScanExec => f.selectedPartitions.totalFileSize
          case other => other.children.map(go).sum
        }
        go(df.queryExecution.executedPlan).toDouble
      }
      val fullQueue = graft.etl.FlatObs.touchedPersons(
        obsP, encP, person, graft.etl.Horizons.at(t2), purgeSet = Some(purgeFromLog))
      val feedQueue = graft.etl.FlatObs.touchedPersons(obsP, encP, person,
        graft.etl.Horizons.at(t2),
        Some(ChangeFeed.readSince(spark, s"$srcDir/feed/obs", t1)),
        Some(ChangeFeed.readSince(spark, s"$srcDir/feed/encounter", t1)),
        Some(purgeFromLog))
      val queueFull = best3 { fullQueue.count() }
      val queueFeed = best3 { feedQueue.count() }

      Seq(obs1, enc1, ord1, obs2, enc2, ord2, person).foreach(_.unpersist())
      Seq(
        "full_build_sec" -> tickFull,
        "incr_tick_sec" -> tickIncr,
        "steady_tick_fullscan_sec" -> steadyFull,
        "steady_tick_feed_sec" -> steadyFeed,
        "queue_scan_fullscan_sec" -> queueFull,
        "queue_scan_feed_sec" -> queueFeed,
        "queue_scan_fullscan_bytes" -> scanBytes(fullQueue),
        "queue_scan_feed_bytes" -> scanBytes(feedQueue),
        "n_persons" -> nPersons.toDouble) ++
        fullStages.toSeq.map { case (v, s) =>
          s"steady_fullscan_${v.replaceAll("_v[0-9.]+$", "")}_sec" -> s.toDouble } ++
        feedStages.toSeq.map { case (v, s) =>
          s"steady_feed_${v.replaceAll("_v[0-9.]+$", "")}_sec" -> s.toDouble } ++
        bucketed.flatMap { n =>
          Seq(
            s"${n}_full_bytes" -> fullBytes(n).toDouble,
            s"${n}_incr_bytes" -> incrBytes(n).toDouble,
            s"${n}_incr_fraction" ->
              (if (fullBytes(n) > 0) incrBytes(n).toDouble / fullBytes(n)
               else 0.0))
        }
    } finally {
      // best-effort temp cleanup
      try {
        val s = java.nio.file.Files.walk(root)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally s.close()
      } catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val m = run(spark)
    println(m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
