package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * A warmup pass first runs each query at sf0.001 (disable with
  * SPARK_GRAFT_WARMUP=0): that compiles the generated code and JITs the
  * hot paths once, so the timed numbers measure steady-state execution —
  * the regime that matters for a long-lived cluster — rather than
  * first-invocation Janino/JIT compile cost.
  *
  * Queries are forced through the `noop` sink, not `.count()`: a count
  * lets Catalyst prune every projection the count doesn't need, so
  * projection-only queries (regex scrubbing, CASE decodes, token counts)
  * would time a bare scan instead of the expressions under test. The noop
  * sink materializes every output row in full with zero I/O cost.
  *
  * Each query is timed SPARK_GRAFT_REPS times (default 3) and the best is
  * reported — single-run numbers at this scale swing ±30-50% with JIT and
  * page-cache state, which made round-over-round comparisons unattributable.
  * A query whose rep throws is not timed at all: it is left out of
  * `queries` and `total` and listed with its first message in `errors`,
  * counted in `failed`.
  * The full metrics JSON is also written to `target/bench.json` so the
  * artifact survives log-tail truncation of the (long) stdout line.
  */
object Bench {

  /** Execute the full plan, all columns, no output I/O. */
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fixed-cost calibration canary: a data-independent, CPU-bound plan
    * (xxhash64 chain over spark.range, no I/O, no shuffle beyond the
    * final 1-row agg) timed best-of-3 BEFORE and AFTER the sweep. The
    * r13 official total moved 216→276 s on byte-identical shared code
    * and the ambient-drift explanation had to be reconstructed from
    * archives; the canary puts the machine-state measurement INSIDE the
    * artifact. Controlled floor on an idle machine is recorded in
    * SCALE.md — a pre/post reading well above it marks the sweep as
    * drift-inflated; a reading at it marks the totals as load-bearing. */
  private[graft] def canary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val hashed = (1 to 8).foldLeft(xxhash64(col("id")))((e, _) => xxhash64(e))
      force(spark.range(0, 800000000L, 1, 32).select(hashed.as("h")))
      (System.nanoTime() - t0) / 1e9
    }
    times.min
  }

  /** "lo,hi" with 0 < lo < hi, or a NAMED failure (a malformed
    * override used to surface as an opaque MatchError). */
  private[graft] def parseBand(raw: String): (Double, Double) =
    raw.split(",").map(s => scala.util.Try(s.trim.toDouble).toOption) match {
      case Array(Some(lo), Some(hi)) if lo > 0 && hi > lo => (lo, hi)
      case _ => sys.error(
        s"bad SPARK_GRAFT_CANARY_BAND '$raw': expected 'lo,hi' with 0 < lo < hi")
    }

  /** "name=sec,name=sec" with sec > 0, or a NAMED failure. */
  private[graft] def parseSweepFloors(raw: String): Seq[(String, Double)] =
    raw.split(",").toSeq.map { kv =>
      kv.split("=").map(_.trim) match {
        case Array(k, v) if k.nonEmpty &&
          scala.util.Try(v.toDouble).toOption.exists(_ > 0) =>
          k -> v.toDouble
        case _ => sys.error(
          s"bad SPARK_GRAFT_SWEEP_FLOORS entry '$kv': expected name=sec")
      }
    }

  /** A JSON string literal: quotes, backslashes and control characters
    * escaped, so an exception message can never break the artifact. */
  private[graft] def jsonString(raw: String): String = {
    val b = new StringBuilder("\"")
    raw.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b += '\\'; b ++= f"u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Best-of-`reps` seconds for `q` through the noop sink, each rep
    * inside a CacheScope after `beforeRep` (the off-clock clear) — or, if
    * a rep throws, the first message (≤300 chars). A throwing rep is
    * never timed: it would read as a fast query. The first failure ends
    * the query's reps. */
  private[graft] def timeQuery(
      spark: SparkSession,
      q: graft.queries.OpQuery,
      dir: String,
      reps: Int,
      beforeRep: () => Unit = () => ()): Either[String, Double] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None
    while (times.size < reps && error.isEmpty) {
      beforeRep()
      graft.core.CacheScope.run {
        val t0 = System.nanoTime()
        try {
          force(q.run(spark, dir))
          times += (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable => error = Some(e.toString.take(300)) }
      }
    }
    error.toLeft(times.min)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Prefer shuffled-hash over sort-merge when a build side fits
      // (guide §3.1/§9: SHJ skips both sorts; SMJ remains the planner's
      // fallback when size conditions fail). The AQE threshold converts
      // SMJ→SHJ at runtime from MEASURED partition sizes, bounding the
      // build-side memory the static estimate can't (64 MB/partition
      // local; a cluster sizes it to executor memory / cores). Measured
      // r17 best-of-3 on the join-heavy set: q172 3.21→2.47, q57
      // 2.25→1.96, q115 3.86→3.59, q33/q55/q56 −4-6%, q95 +0.3 (noise)
      // — SPARK_GRAFT_PREFER_SMJ=true / .._SHJ_LOCAL_THRESHOLD=0 revert.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_THRESHOLD", "64m"))
      .config("spark.ui.enabled", "false")
      // Status-store retention (r16): with the UI off, retaining 1000
      // SQL executions' plan graphs/metrics plus thousands of job/stage
      // rows serves nothing — on a driver running 274 queries x 3 reps
      // (plus streaming micro-batches) it is pure accumulating heap and
      // listener-bus work billed to later queries' timed regions. Keep a
      // debugging-sized window. Same constants a long-lived production
      // driver would set (guide §5: the driver should do almost no data
      // work — bookkeeping included).
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // best-of-2 left ~12% of queries with >10% run-to-run swing (heavy
    // stage queries); best-of-3 settles them for ~70s extra at sf0.1
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt

    // Checkpointed streaming queries rebuild fresh state/checkpoint dirs
    // every invocation, so each rep repeats identical micro-batch
    // orchestration — best-of-N captures no steady-state signal there,
    // and at rep=3 q94 alone was paying ~77 s of bench wall for two
    // discarded runs. But rep=1 proved worse: the round-8 official q94
    // read 37.4 s against a 24.2 s same-session controlled floor — a
    // single sample cannot tell a regression from a load spike, and the
    // driver grades the artifact. Best-of-2 is the compromise: one retry
    // absorbs a transient collision for ~35 s of extra wall across the
    // five streaming queries, keeping the official number within ~15% of
    // the controlled floor (SCALE.md round ledger tracks both).
    val streamingReps = Set("q89_stream_windowed_counts", "q90_stream_sessionize",
      "q94_stream_etl_cascade", "q125_stream_etl_cascade_bucketed",
      "q100_stream_stream_join")

    val warmupDir = "/root/testdata/sf0.001"

    // Controlled canary band (idle-machine best-of-3 floor, three runs,
    // SCALE.md "controlled floors"). Overridable when the hardware
    // changes: SPARK_GRAFT_CANARY_BAND="lo,hi". A malformed override
    // fails with a NAMED error, not a MatchError.
    val (bandLo, bandHi) =
      parseBand(sys.env.getOrElse("SPARK_GRAFT_CANARY_BAND", "2.24,2.5"))

    // ACT on an out-of-band pre-canary instead of filing it: r12-r14
    // each started their sweep on a drift-inflated machine and the
    // official total rose three rounds running on byte-identical code.
    // Bounded retries — wait out a transient spike (15 s apart, up to
    // 4 readings) before committing ~5 min of sweep to a bad window.
    // The PUBLISHED reading is the LAST (post-settle) one, not the min
    // across attempts: the sweep starts in the machine state of the
    // final reading, so an early lucky sample must not set drift=false
    // for a sweep that then runs on a still-drifting host. All attempt
    // readings ride in the artifact.
    val preReadings = scala.collection.mutable.ArrayBuffer(canary(spark))
    while (preReadings.last > bandHi && preReadings.size < 4) {
      System.err.println(
        f"[bench] pre-canary ${preReadings.last}%.3f above band ($bandLo,$bandHi) — waiting for the machine to settle (attempt ${preReadings.size})")
      Thread.sleep(15000)
      preReadings += canary(spark)
    }
    val canaryPre = preReadings.last
    val preAttempts = preReadings.size

    // OFF-CLOCK JVM hygiene between timed regions (r16, guide §1.1/§5):
    // one long-lived session runs 274 queries x 3 reps, and 18 of them
    // .cache() corpus frames they never unpersist — the entries (plus
    // their InMemoryRelation plans and file indexes) accumulate across
    // the sweep, squeezing execution memory and leaving each later query
    // to pay the previous queries' GC debt inside ITS timed region
    // (measured: q172 benched 10.79 s mid-sweep vs 6.78 s warm-isolated
    // on the same build — the residual the r15 sweep canary detected but
    // could not price). Clearing the SQL cache and collecting garbage
    // between reps, off the clock, makes every timed region start from
    // the same JVM state AND compute from the parquet inputs (a cache
    // carried rep-to-rep reported a cached rerun — the "persisted
    // intermediates" class the round rules name as gaming); within-rep
    // multi-consumer caching is untouched. SPARK_GRAFT_CLEAR_CACHE=0
    // reverts to the accumulate-forever form for A/B.
    val clearBetween =
      sys.env.getOrElse("SPARK_GRAFT_CLEAR_CACHE", "1") == "1"
    def offClockClear(): Unit = if (clearBetween) {
      spark.catalog.clearCache()
      System.gc()
    }

    // SWEEP-SHAPED canary (r15 verdict #3): the CPU-bound canary read
    // in-band while the driver's sweep still ran a median 1.13x over
    // the builder archive on byte-identical code — JIT warm-in, page
    // cache, and IO state are costs the xxhash plan never pays. Price
    // them in the sweep's own currency: three fixed mid-cost catalog
    // queries (parquet-scan/join heavy, shuffle heavy, codec heavy)
    // timed best-of-2 against their controlled floors (SCALE.md
    // round-16 floors table; override with
    // SPARK_GRAFT_SWEEP_FLOORS="name=sec,name=sec"). Their median
    // measured/floor ratio is the sweep drift factor the artifact
    // publishes and total_normalized deflates by.
    // measured best-of-5 on an idle machine, 2026-08-17 (SCALE.md
    // round-16 controlled floors table)
    val sweepFloorDefaults = Seq(
      "q43_flat_obs_stage" -> 3.16, // parquet scan + joins (ETL stage)
      "q12_group_concat_obsmap" -> 2.19, // shuffle-heavy grouped agg
      "q205_compressibility_proxy" -> 3.42) // per-row deflate codec work
    val sweepFloors: Seq[(String, Double)] =
      sys.env.get("SPARK_GRAFT_SWEEP_FLOORS") match {
        case None => sweepFloorDefaults
        case Some(raw) => parseSweepFloors(raw)
      }
    // The sweep canary runs BEFORE the global warmup pass, each query
    // individually warmed at sf0.001 first: its floors come from
    // ScaleProbe (a JVM holding only the probed queries' generated
    // code), so timing it after 273 queries' warmup compiles would bake
    // a systematic JVM-context bias into the ratio — the first r16 run
    // measured 1.42x of which only part was real machine drift.
    val sweepReadings = sweepFloors.flatMap { case (name, floor) =>
      SparkEntry.catalog.find(_.name == name).map { q =>
        try q.prepare.foreach(_(spark, warmupDir)) catch {
          case _: Throwable => () }
        try force(q.run(spark, warmupDir)) catch { case _: Throwable => () }
        try q.prepare.foreach(_(spark, sfDir)) catch { case _: Throwable => () }
        val best = (1 to 2).map { _ =>
          offClockClear() // same between-reps discipline as the sweep
          var dt = 0.0
          graft.core.CacheScope.run {
            val t0 = System.nanoTime()
            try force(q.run(spark, sfDir)) catch { case _: Throwable => () }
            dt = (System.nanoTime() - t0) / 1e9
          }
          dt
        }.min
        (name, floor, best)
      }
    }
    val sweepRatio =
      if (sweepReadings.isEmpty) 1.0
      else {
        val rs = sweepReadings.map { case (_, f, t) => t / f }.sorted
        rs(rs.size / 2)
      }

    if (warmup) {
      SparkEntry.catalog.foreach { q =>
        graft.core.CacheScope.run {
          try force(q.run(spark, warmupDir)) catch { case _: Throwable => () }
        }
      }
      offClockClear()
    }

    // immutable fixture prep (streaming source splits etc.) runs OFF the
    // clock: it is harness cost, not stream/query execution. A failed
    // prep must not abort the bench, but it MUST be visible — silently
    // falling through pushes the prep cost back inside the timed run,
    // inflating exactly the numbers this hook stabilizes.
    //
    // Every rep is preceded by an off-clock clear (r16): a query that
    // .cache()s an intermediate for its multiple consumers used to hand
    // that cache to its next rep, so best-of-N reported a cached rerun
    // rather than a from-parquet computation — exactly the "persisted
    // intermediates" class the round rules name as gaming. Within-rep
    // multi-consumer caching (the legitimate optimization) is untouched,
    // and each rep's CacheScope releases the query's caches when the rep
    // ends, off the clock (r17).
    val outcomes = SparkEntry.catalog.map { q =>
      try q.prepare.foreach(_(spark, sfDir)) catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] prepare failed for ${q.name} (cost lands in-run): $e")
      }
      val qReps = if (streamingReps(q.name)) math.min(2, reps) else reps
      q.name -> timeQuery(spark, q, sfDir, qReps, () => offClockClear())
    }
    val results = outcomes.collect { case (n, Right(t)) => n -> t }
    val errors = outcomes.collect { case (n, Left(e)) => n -> e }
    errors.foreach { case (n, e) => System.err.println(s"[bench] $n failed: $e") }
    val canaryPost = canary(spark)

    // 0.1ms resolution keeps the artifact line compact enough to survive
    // a log-tail scrape (full-precision doubles tripled its length)
    def r4(v: Double): Double = math.round(v * 1e4) / 1e4
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val total = r4(results.map(_._2).sum)
    val failed = errors.size
    val errorsJson = errors.map { case (n, e) => jsonString(n) + ":" + jsonString(e) }
      .mkString("{", ",", "}")
    // The artifact self-adjudicates: drift=true whenever either canary
    // reading sits above the controlled band, and total_normalized
    // rescales the total by the band midpoint over the mean canary —
    // a deflate-only correction (a faster-than-floor machine never
    // inflates the number) so a drift-window sweep still carries a
    // comparable figure instead of needing an after-the-fact appendix.
    // drift when EITHER canary is out of band: the CPU canary above its
    // controlled band, or the sweep-shaped trio reading >10% over its
    // floors (the 1.13x class the CPU canary is blind to)
    val drift = canaryPre > bandHi || canaryPost > bandHi || sweepRatio > 1.10
    val bandMid = (bandLo + bandHi) / 2
    val canaryMean = (canaryPre + canaryPost) / 2
    // deflate-only, by the MORE drifted of the two canaries: a
    // faster-than-floor machine never inflates the number
    val normFactor =
      math.min(1.0, math.min(bandMid / canaryMean, 1.0 / sweepRatio))
    val totalNormalized = r4(total * normFactor)
    val preJson = preReadings.map(r4).mkString("[", ",", "]")
    val sweepJson = sweepReadings.map { case (n, f, t) =>
      "\"" + n + "\":[" + r4(t) + "," + f + "]"
    }.mkString("{", ",", "}")
    val canaryJson =
      s""","canary":{"pre":${r4(canaryPre)},"post":${r4(canaryPost)},"pre_readings":$preJson,"band":[$bandLo,$bandHi],"pre_attempts":$preAttempts},"sweep_canary":{"ratio":${r4(sweepRatio)},"measured_vs_floor":$sweepJson},"drift":$drift,"total_normalized":$totalNormalized"""
    // end-to-end incremental pipeline tick (bucketed sink):
    // full build vs delta tick wall time and write volume
    val tick =
      if (sys.env.getOrElse("SPARK_GRAFT_TICK", "1") == "0") ""
      else scala.util.Try(graft.tools.PipelineBench.run(spark)) match {
        case scala.util.Success(m) =>
          m.map { case (k, v) => "\"" + k + "\":" + (math.round(v * 1e4) / 1e4) }
            .mkString(""","tick":{""", ",", "}")
        case scala.util.Failure(e) =>
          // a failed equivalence gate is a correctness signal, not an
          // environment hiccup — it must survive into the artifact
          System.err.println(s"tick bench failed: $e")
          ",\"tick_error\":" + jsonString(String.valueOf(e.getMessage).take(300))
      }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"failed":$failed,"errors":$errorsJson$canaryJson$tick,"sf":"$sfDir"}"""
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    // The driver's artifact scrape tails the log (~2 KB): the full
    // per-query line above outgrew that window four rounds running and
    // BENCH_r0x.json arrived "parsed": null every time. So the LAST
    // stdout line is a SHORT summary — totals + tick only, per-query
    // numbers via the queries_file pointer — sized (and spec-asserted,
    // BenchLineSpec) to survive a 2,000-char tail with sbt's trailing
    // [success] chatter.
    spark.stop()
    println(json)
    println(summaryLine(total, reps, tick, SparkEntry.catalog.size, sfDir, canaryJson, failed))
    System.out.flush()
  }

  /** The driver-facing final line. Must stay complete inside a ~2 KB
    * log tail even with sbt epilogue lines after it. The canary rides
    * in the summary so the drift measurement survives the log-tail
    * scrape even when the per-query line does not; `failed` counts the
    * catalog queries that threw (named, with messages, in the
    * queries_file's `errors`) and are missing from `value`. */
  def summaryLine(total: Double, reps: Int, tickJson: String,
      nQueries: Int, sfDir: String, canaryJson: String = "",
      failed: Int = 0): String = {
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"n_queries":$nQueries,"failed":$failed$canaryJson$tickJson,"queries_file":"target/bench.json","sf":"$sfDir"}"""
    // tick holds a handful of scalar metrics; if it ever grows past the
    // scrape budget, drop it here rather than ship an unparseable tail
    if (line.length <= 1000) line
    else
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"n_queries":$nQueries,"failed":$failed$canaryJson,"queries_file":"target/bench.json","sf":"$sfDir"}"""
  }
}
