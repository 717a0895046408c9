package graft.etl

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BucketedSink, Watermark}

/** Optional pre-pruned change feeds for [[Pipeline.tick]]: each frame, when
  * present, must contain AT LEAST every source row whose latest
  * modification (`date_created`, `date_voided`, `date_changed`) is newer
  * than the OLDEST stage watermark in the run log. The stages use a feed
  * only to SEED their delta key sets — every time predicate is re-applied
  * on it and every group rebuild reads the full snapshot — so feeds may
  * over-approximate freely but must never miss a change. Produce one with
  * [[graft.sources.ChangeFeed.readSince]] (date-partitioned CDC export,
  * partition-pruned) or a pushed-down JDBC predicate; without feeds the
  * tick falls back to single-column scans of the full sources.
  */
final case class SourceDeltas(
    obs: Option[DataFrame] = None,
    encounter: Option[DataFrame] = None,
    orders: Option[DataFrame] = None)

/** The stage DAG runner: the five flat tables maintained as idempotent
  * incremental jobs over parquet, with the `flat_log` watermark store —
  * the Spark rebuild of the reference's cron-style `CALL` loop
  * (README.md:4-9; conceptually Structured Streaming Trigger.AvailableNow
  * done batch-side, SURVEY §2.9).
  *
  * Dependency order (SURVEY dependency graph):
  *   flat_obs, flat_orders, flat_lab_obs  (from openmrs sources)
  *   → flat_visit_summary                 (from flat_obs + flat_orders)
  *   → flat_latest_hiv_summary            (from flat_visit_summary)
  *
  * Each run: resolve watermark (flat_log → fallback → epoch) → incremental
  * update → versioned snapshot write + atomic `_CURRENT` pointer swap (the
  * REPLACE-INTO-equivalent sink; a production deployment would use a
  * Delta/Iceberg MERGE instead) → append run row to flat_log.
  */
class Pipeline(
    spark: SparkSession, root: String, bucketsOverride: Option[Int] = None) {

  val flatObsVersion = "flat_obs_v1.0"
  val flatOrdersVersion = "flat_orders_v1.1" // §7.4.10 version drift, faithful
  val flatLabObsVersion = "flat_lab_obs_v1.3"
  val flatVisitSummaryVersion = "flat_visit_summary_v1.0"

  private def path(name: String) = s"$root/$name"
  private val logPath = path("flat_log")

  /** Person-bucketed obs version log maintained by the streamed
    * cascade's bucketed shape ([[graft.sources.BucketedLog]]) — the
    * touched persons' history source that replaces the per-batch full
    * scan of the source directory. */
  private[graft] def versionLogPath: String = path("obs_version_log")

  // ---- versioned snapshot layout ----
  // Each write lands in a fresh `v_<n>` directory under the table path;
  // `_CURRENT` is a one-line pointer file naming the live version. The
  // pointer is replaced with FileContext.rename(OVERWRITE) — a single
  // atomic rename on HDFS and local filesystems — so a concurrent reader
  // either resolves the old version or the new one, never a missing or
  // half-written table (the directory-swap this replaces had a window
  // where the table path did not exist at all). The previous version is
  // retained one generation for readers whose lazy plans still reference
  // its files; older versions are purged.

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def pointerPath(name: String) = new Path(path(name), "_CURRENT")

  private def currentVersion(name: String): Option[String] = {
    val ptr = pointerPath(name)
    val fs = ptr.getFileSystem(hadoopConf)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  // ---- optional bucketed layout (flat_obs) ----
  // `graft.sink.buckets` = N > 0 switches the flat_obs sink to
  // BucketedSink: incremental ticks dynamically overwrite only the
  // buckets of touched persons (O(delta) write) instead of snapshotting
  // the whole table. Pick the mode when the table is first created —
  // the layouts are distinct directories and don't migrate.

  def sinkBuckets: Int = bucketsOverride.getOrElse(
    spark.conf.getOption("graft.sink.buckets").map(_.toInt).getOrElse(0))
  private[graft] def bucketedDataPath(name: String) = new Path(path(name), "buckets")
  private[graft] def bucketedExists(name: String): Boolean =
    BucketedSink.exists(hadoopConf, bucketedDataPath(name).toString)

  // ---- purged-log consistency marker ----
  // The purge-set presence probe (in tick) exists only for crash
  // recovery: a tick that died between its stage writes and its
  // purged-log update can leave a stale absence entry. Running the probe
  // every tick re-reads every claimed person's buckets across four
  // tables — an O(accumulated purge set) scan paid forever for a
  // once-per-crash hazard (measured ~10 s of a 26 s steady tick at 20k
  // persons). Instead the completed purged-log update records the run
  // log's signature (row count + max date_created) in a sidecar; a tick
  // whose starting log matches the marker KNOWS no tick died mid-flight
  // since — any crash either left log appends past the marker's
  // signature (mismatch → probe runs) or happened before the dying
  // tick's first log append, in which case that tick's delta is still
  // above the un-advanced watermark and the normal queue path re-handles
  // exactly those persons next tick. Out-of-band writers (the streamed
  // cascade's stage facade below) drop the marker.
  private def markerPath = new Path(path("purged_persons"), "_CONSISTENT")

  private def logSignature(log: DataFrame): String = {
    val r = log.agg(count(lit(1)), max(col("date_created"))).first()
    r.getLong(0) + "|" + Option(r.getTimestamp(1)).map(_.getTime).getOrElse(0L)
  }

  private def readMarker(): Option[String] = {
    val fs = markerPath.getFileSystem(hadoopConf)
    if (!fs.exists(markerPath)) None
    else {
      val in = fs.open(markerPath)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def writeMarker(sig: String): Unit = {
    val fs = markerPath.getFileSystem(hadoopConf)
    val tmp = new Path(path("purged_persons"), "_CONSISTENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(sig.getBytes(StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(markerPath.toUri, hadoopConf)
      .rename(tmp, markerPath, Options.Rename.OVERWRITE)
  }

  private[graft] def dropMarker(): Unit = {
    val fs = markerPath.getFileSystem(hadoopConf)
    if (fs.exists(markerPath)) fs.delete(markerPath, false)
  }

  /** Whether the last tick's purge step ran the presence probe —
    * observability for specs (the steady path must NOT probe; a tick
    * after any out-of-band write MUST). */
  private[graft] var lastTickProbed: Boolean = false

  // ---- bucketed stage facade for callers OUTSIDE tick ----
  // The streamed cascade (IncrementalEtlStream) drives the same
  // stage code per micro-batch with a batch-derived watermark; these
  // give it the tick's write discipline without the flat_log plumbing.

  /** Touched-key delta state for one bucketed stage merge: checkpoint
    * the queue, collect its bucket ids, prune the stored table to them. */
  private[graft] def stageDelta(name: String, queue: DataFrame): BucketedDelta =
    bucketedDelta(name, queue)

  /** First write of a bucketed table: every bucket into a fresh epoch.
    * Bypasses the run log, so the purged-log consistency marker no
    * longer proves anything — drop it (next tick re-probes). */
  private[graft] def writeBucketedFull(df: DataFrame, name: String): Unit = {
    dropMarker()
    BucketedSink.writeFull(df, bucketedDataPath(name).toString, "person_id", sinkBuckets)
  }

  /** Incremental write: only the given buckets land in a new epoch;
    * `merged` must cover their complete post-merge rows. Drops the
    * consistency marker (see writeBucketedFull). */
  private[graft] def writeBucketedChanged(
      df: DataFrame, name: String, touched: Set[Int]): Unit = {
    dropMarker()
    BucketedSink.overwriteChanged(
      df, bucketedDataPath(name).toString, "person_id", sinkBuckets, touched)
  }

  /** Read only the given buckets of a bucketed table. */
  private[graft] def readFlatBuckets(name: String, buckets: Set[Int]): DataFrame =
    BucketedSink.readBuckets(spark, bucketedDataPath(name).toString, buckets)

  def readFlat(name: String): Option[DataFrame] =
    if (bucketedExists(name))
      Some(BucketedSink.read(spark, bucketedDataPath(name).toString))
    else
      currentVersion(name).map(v =>
        spark.read.parquet(new Path(path(name), v).toString))

  def writeSnapshot(df: DataFrame, name: String): Unit = {
    // any overwrite of the purged log voids the consistency marker —
    // the tick's own update rewrites it immediately after; an
    // out-of-band caller (crash-recovery surgery, specs) must force the
    // next tick's presence probe
    if (name == "purged_persons") dropMarker()
    val dir = new Path(path(name))
    val fs = dir.getFileSystem(hadoopConf)
    val prev = currentVersion(name)
    val next = "v_" + (prev.map(_.stripPrefix("v_").toLong + 1).getOrElse(0L))
    df.write.mode("overwrite").parquet(new Path(dir, next).toString)

    val tmp = new Path(dir, "_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.getBytes(StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(dir.toUri, hadoopConf)
      .rename(tmp, pointerPath(name), Options.Rename.OVERWRITE)

    // purge everything but the live version and its predecessor
    val keep = Set(next) ++ prev
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v_") && !keep.contains(n))
        fs.delete(st.getPath, true)
    }
  }

  /** The new watermark recorded after a run is the max source
    * `date_created` captured at run start (flat_obs_v1.0.sql:26-28,345:
    * `insert into flat_log values (@start, @last_date_created, …)`) — NOT
    * wall-clock, so source rows racing the run are re-read next tick.
    */
  private def maxTs(dfs: Seq[(DataFrame, String)]): Timestamp =
    // read the aggregate as a Timestamp (an absolute instant) — a
    // string round-trip would re-parse the session-tz rendering in the
    // driver JVM's default zone, shifting the stored watermark by the
    // offset between them and silently skipping late-committing rows
    dfs.flatMap { case (df, c) =>
      Option(df.agg(max(col(c))).first().getTimestamp(0))
    }.reduceOption((a, b) => if (a.after(b)) a else b).getOrElse(Watermark.Epoch)

  // `graft.debug.tickTiming=true` prints per-phase wall seconds and
  // bytes opened for everything a tick does OUTSIDE the four logged
  // stages (purge probe, latest-summary merge, purged-log rewrite) as
  // well as the stages themselves — profiling hook only
  private def phase[A](label: String)(f: => A): A =
    if (spark.conf.getOption("graft.debug.tickTiming").contains("true")) {
      val t0 = System.nanoTime()
      val b0 = graft.core.IoStats.fsBytesRead
      val r = f
      println(f"    [tick] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
        f"  opened ${(graft.core.IoStats.fsBytesRead - b0) / 1024}%8d KiB")
      r
    } else f

  /** `log` is the run log read ONCE at tick start: a stage's own version
    * gains no entries until its own append, so the tick-start snapshot
    * resolves every stage's watermark — re-reading (and re-listing) the
    * log five times per tick bought nothing. */
  private def runStage(
      log: DataFrame,
      version: String,
      flatName: String,
      newWatermark: Timestamp,
      run: Timestamp => DataFrame,
      write: (DataFrame, Timestamp) => Unit = null,
      tableFallback: Boolean = true): Unit = {
    val start = new Timestamp(System.currentTimeMillis())
    // tableFallback=false for stages whose table carries no
    // max_date_created (visit summary): a log miss then resolves to
    // Epoch — a full requeue, the safe recovery — instead of crashing
    // on a missing column (and a fallback on some OTHER table's max
    // would overshoot and silently skip this tick's delta).
    val wm = Watermark.resolve(log, version,
      if (tableFallback) readFlat(flatName) else None)
    val result = run(wm)
    if (write == null) writeSnapshot(result, flatName) else write(result, wm)
    val secs = ((System.currentTimeMillis() - start.getTime) / 1000).toShort
    // never let a recorded watermark REGRESS: a delta-feed-derived max is
    // Epoch when the feed has no new rows, and recording that would turn
    // the next tick into a full requeue
    val floored = if (newWatermark.before(wm)) wm else newWatermark
    Watermark.appendRun(spark, logPath, version, floored, secs)
  }

  /** One bucketed stage's shared tick state: the proven-superset person
    * queue, its collected bucket-id set (≤ nBuckets ints), and the
    * stored table PRUNED to those buckets. The queue defines which rows
    * can change; a person's rows live only in their bucket, so the
    * incremental merge never needs to read (or rewrite) any other
    * bucket's files — that file-level prune is what makes the tick's
    * wall time O(delta + touched buckets) rather than O(table): the
    * 20k-person bench showed the O(delta) WRITE alone left the tick at
    * full-build wall time because the keep-side READ still scanned
    * every bucket.
    */
  private[graft] final case class BucketedDelta(
      queue: DataFrame, buckets: Set[Int], prunedExisting: DataFrame) {
    def release(): Unit = queue.unpersist()
  }

  private def bucketedDelta(name: String, queue: DataFrame): BucketedDelta = {
    // localCheckpoint, not cache: the queue plan reads the stored table
    // (change feed / merge read), and every stage's own write calls
    // refreshByPath on that table — which drops ANY cached plan
    // referencing it. A cache()d queue therefore silently recomputed from
    // files on every later use (the summary stage's bounded retraction
    // scan, the purged-log update) — measured ~4.4 MB re-opened per
    // evaluation per tick at 2k persons. Checkpointing materializes the
    // O(delta) frame once and severs the file lineage, so no later write
    // can invalidate it. (Cluster note: localCheckpoint blocks die with
    // their executor; the durable equivalent is re-reading the stage's
    // just-committed delta epoch. The frame is O(delta persons), so
    // either is cheap.)
    val q = queue.localCheckpoint()
    val p = bucketedDataPath(name).toString
    val buckets = BucketedSink.collectBuckets(q, sinkBuckets)
    BucketedDelta(q, buckets, BucketedSink.readBuckets(spark, p, buckets))
  }

  /** Bucketed-sink write hook: full write into a fresh epoch on first
    * run, then touched-bucket-only epochs committed by the manifest
    * swap. Null (snapshot mode) when bucketing is off. */
  private def bucketedWrite(
      name: String,
      delta: () => BucketedDelta): (DataFrame, Timestamp) => Unit =
    if (sinkBuckets <= 0) null
    else { (result, _) =>
      val p = bucketedDataPath(name).toString
      if (!bucketedExists(name))
        BucketedSink.writeFull(result, p, "person_id", sinkBuckets)
      else
        BucketedSink.overwriteChanged(result, p, "person_id", sinkBuckets,
          delta().buckets)
    }

  /** One full pipeline tick over the given source snapshot. Every
    * person-keyed flat table honors `graft.sink.buckets`; only the small
    * latest-summary (one row per person, rebuilt wholesale from the
    * summary) stays on the versioned-snapshot sink.
    *
    * `deltas` (optional, [[SourceDeltas]]): pre-pruned change feeds that
    * replace the tick's full-source delta/purge scans with O(delta)
    * reads. Correctness never depends on them — stages re-apply every
    * predicate and rebuild from the snapshot — so a wrong feed can only
    * slow the tick down or (if it MISSES changes, violating its contract)
    * skip them exactly as a lagging source snapshot would.
    */
  def tick(
      obs: DataFrame, encounter: DataFrame, orders: DataFrame,
      person: DataFrame, deltas: SourceDeltas = SourceDeltas()): Unit = {
    val bucketed = sinkBuckets > 0
    val obsD = deltas.obs
    val encD = deltas.encounter
    val ordD = deltas.orders
    // watermark advance from the FEED when present: rows created since
    // the old wm are in the feed by contract, so max(feed) equals
    // max(source) whenever anything new arrived; runStage floors at the
    // old wm for the no-new-rows case
    val encObsMax = phase("watermark maxTs")(maxTs(Seq(
      encD.getOrElse(encounter) -> "date_created",
      obsD.getOrElse(obs) -> "date_created")))

    // ---- purged-persons log (bucketed mode) ----
    // The voided-person purge must only queue persons whose rows are
    // still present. The old narrowing semi-joined person against the
    // flat table's person_id column — O(table) over one column, every
    // tick, forever. Instead keep a `purged_persons` side table: a person
    // enters it when their rows are purged and leaves it whenever any
    // stage queue touches them again (the only way their rows can
    // rematerialize — rebuilds of a still-voided person emit nothing).
    // purge set = voided persons not yet in the log: O(persons voided),
    // independent of table size.
    // run log read ONCE at tick start (also signs the consistency check
    // below): a stage's own version gains no entries until its own
    // append, so this snapshot resolves every stage's watermark
    val log0 = Watermark.readLog(spark, logPath)

    lastTickProbed = false
    val purgedLog = if (bucketed) readFlat("purged_persons") else None
    val purgeSet =
      if (!bucketed) None
      else phase("purge probe") {
        val voidedPersons = person.filter(col("voided") === 1).select("person_id")
        Some((purgedLog match {
          case Some(log) =>
            // The log is written in a SEPARATE commit after the stage
            // writes, so a crash between them can leave a stale absence
            // entry: a re-queued person (unvoid + new data) whose rows
            // rematerialized but whose log entry survived. Left alone, a
            // later re-void would be excluded from the purge set forever.
            // Validate exactly the entries whose staleness matters — log
            // ∩ currently-voided — with a bucket-pruned presence probe
            // (O(claimed persons' buckets), not O(table)) — but ONLY
            // when the consistency marker says a crash window is open
            // (see the marker scaladoc): on the steady path the probe,
            // not the purge itself, was the tick's largest unlogged cost.
            val fresh = voidedPersons.join(log, Seq("person_id"), "left_anti")
            val probeNeeded = !readMarker().contains(logSignature(log0))
            lastTickProbed = probeNeeded
            val claimed =
              if (!probeNeeded) fresh.limit(0)
              else voidedPersons.join(log, Seq("person_id"), "left_semi")
            val claimedBuckets =
              if (!probeNeeded) Set.empty[Int]
              else BucketedSink.collectBuckets(claimed, sinkBuckets)
            val stale =
              if (claimedBuckets.isEmpty) claimed.limit(0)
              else Seq("flat_obs", "flat_orders", "flat_lab_obs",
                  "flat_visit_summary")
                .filter(bucketedExists)
                .map(n => BucketedSink.readBuckets(
                  spark, bucketedDataPath(n).toString, claimedBuckets)
                  .select("person_id")
                  .join(claimed, Seq("person_id"), "left_semi"))
                .reduceOption(_ union _)
                .map(_.distinct())
                .getOrElse(claimed.limit(0))
            fresh.union(stale)
          case None => voidedPersons
          // localCheckpoint for the same reason as bucketedDelta's queue:
          // the stale probe reads the flat tables, so the first stage
          // write would invalidate a cache()d plan and every later
          // consumer (each stage's purge narrowing, the log update)
          // would re-run the bucket probe from files
        }).localCheckpoint())
      }
    val tickQueues = scala.collection.mutable.ListBuffer.empty[DataFrame]

    // prev-tick watermarks, read BEFORE any stage appends to the log:
    // the summary stage may bound its retraction scan to this tick's
    // flat_obs queue only if the last summary run saw everything up to
    // the PREVIOUS flat_obs run (crash between the two ⇒ fall back to
    // the full anti-join recovery scan)
    val prevFlatObsWm = Watermark.resolve(log0, flatObsVersion)
    val prevSummaryWm = Watermark.resolve(log0, flatVisitSummaryVersion)
    val summaryAligned = !prevSummaryWm.before(prevFlatObsWm)

    // per-stage shared delta state (queue computed once per stage, its
    // buckets shared between the pruned merge read and the write)
    var delta: BucketedDelta = null
    def noteDelta(d: BucketedDelta): BucketedDelta = { delta = d; d }
    // the flat_obs stage's queue, retained for the summary stage's
    // bounded retraction scan (small: O(delta) person ids); the summary
    // stage's delta, retained for the latest-summary keyed maintenance
    var foDelta: BucketedDelta = null
    var sumDelta: BucketedDelta = null
    def endStage(): Unit = if (delta != null) {
      tickQueues += delta.queue; delta = null // released after the log write
    }

    // In bucketed mode the stage branches consult ONLY bucketedExists —
    // readFlat would eagerly build a full-table file index (every bucket
    // directory listed) just to pattern-match Some(_): `touchedPersons`
    // never reads `existing` when the purge set is supplied (it exists
    // only to narrow the purge in snapshot mode), and the merge reads the
    // bucket-pruned frame. At 200k persons / 40k buckets those dead
    // listings were a multi-second constant per stage, every tick.
    phase("stage flat_obs")(
    runStage(log0, flatObsVersion, "flat_obs", encObsMax, wm =>
      if (bucketed && bucketedExists("flat_obs")) {
        val d = noteDelta(bucketedDelta("flat_obs",
          FlatObs.touchedPersons(obs, encounter, person, wm, None,
            obsD, encD, purgeSet)))
        foDelta = d
        FlatObs.incremental(d.prunedExisting, obs, encounter, person, wm,
          obsD, encD)
      } else readFlat("flat_obs") match {
        case Some(existing) =>
          FlatObs.incremental(existing, obs, encounter, person, wm, obsD, encD)
        case None => FlatObs.build(obs, encounter, person)
      },
      bucketedWrite("flat_obs", () => delta)))
    endStage()

    phase("stage flat_orders")(
    runStage(log0, flatOrdersVersion, "flat_orders",
      maxTs(Seq(ordD.getOrElse(orders) -> "date_created")), wm =>
        if (bucketed && bucketedExists("flat_orders")) {
          val d = noteDelta(bucketedDelta("flat_orders",
            FlatOrders.touchedPersons(orders, person, wm, None,
              ordD, purgeSet)))
          FlatOrders.incremental(d.prunedExisting, orders, encounter, person,
            wm, ordD)
        } else readFlat("flat_orders") match {
          case Some(existing) =>
            FlatOrders.incremental(existing, orders, encounter, person, wm, ordD)
          case None => FlatOrders.build(orders, encounter, person)
        },
      bucketedWrite("flat_orders", () => delta)))
    endStage()

    // lab watermark from the obs actually visible to the lab delta, NOT
    // encObsMax: advancing on the strength of an encounter row alone
    // would widen the window where a lab obs committing just after the
    // snapshot is permanently skipped
    phase("stage flat_lab_obs")(
    runStage(log0, flatLabObsVersion, "flat_lab_obs",
      maxTs(Seq(obsD.getOrElse(obs) -> "date_created")), wm =>
        if (bucketed && bucketedExists("flat_lab_obs")) {
          val d = noteDelta(bucketedDelta("flat_lab_obs",
            FlatLabObs.touchedPersons(obs, person, wm, None,
              obsD, purgeSet)))
          FlatLabObs.incremental(d.prunedExisting, obs, person, wm,
            obsDelta = obsD)
        } else readFlat("flat_lab_obs") match {
          case Some(existing) =>
            FlatLabObs.incremental(existing, obs, person, wm, obsDelta = obsD)
          case None => FlatLabObs.build(obs, person)
        },
      bucketedWrite("flat_lab_obs", () => delta)))
    endStage()

    // Summary new-watermark: the flat_obs stage just recorded max(source
    // date_created seen) as ITS watermark — an upper bound on every
    // flat_obs row's max_date_created, and any FUTURE flat_obs change
    // carries a source date_created above it (the same fixpoint argument
    // flat_obs's own floored watermark rests on). Resolving it from the
    // log (one tiny parquet read, post-append) replaces the previous
    // full-column max scan over the flat_obs table — an O(table files)
    // constant paid every tick.
    phase("stage flat_visit_summary")(
    runStage(log0, flatVisitSummaryVersion, "flat_visit_summary",
      Watermark.resolve(Watermark.readLog(spark, logPath), flatObsVersion),
      wm => {
        // full-table reads are deferred into the branches that use them —
        // constructing one builds its file index immediately, and the
        // bucketed aligned path needs none of them
        def fo = readFlat("flat_obs").get
        def ford = readFlat("flat_orders").get
        if (bucketed && bucketedExists("flat_visit_summary")) {
            // Queue scans: when this tick ran flat_obs incrementally AND
            // the last summary run was aligned with the previous flat_obs
            // run, every flat_obs row that changed since the summary's
            // watermark lives in this tick's flat_obs queue buckets — so
            // the retraction anti-join and the max_date_created scan read
            // only those buckets (O(delta)) instead of the whole table.
            // The WIDE rebuild reads below are pruned to the summary
            // queue's own buckets. flat_obs/flat_orders share the
            // person_id hash and bucket count, so a queued person's
            // upstream rows live in the same bucket ids.
            val queue =
              if (summaryAligned && foDelta != null) {
                val foScoped = BucketedSink.readBuckets(spark,
                  bucketedDataPath("flat_obs").toString, foDelta.buckets)
                // summary shares the person-hash bucketing, so queued
                // persons' summary rows live in the same bucket ids —
                // the retraction probe side is O(delta) files too
                val sumScoped = BucketedSink.readBuckets(spark,
                  bucketedDataPath("flat_visit_summary").toString,
                  foDelta.buckets)
                FlatVisitSummary.touchedPersonsBounded(sumScoped, foScoped,
                  foDelta.queue, obs, encounter, wm, obsD, encD)
              } else
                FlatVisitSummary.touchedPersons(
                  readFlat("flat_visit_summary").get, fo, obs, encounter,
                  wm, obsD, encD)
            val d = noteDelta(bucketedDelta("flat_visit_summary", queue))
            sumDelta = d
            val foPruned = BucketedSink.readBuckets(
              spark, bucketedDataPath("flat_obs").toString, d.buckets)
            val fordPruned = BucketedSink.readBuckets(
              spark, bucketedDataPath("flat_orders").toString, d.buckets)
            FlatVisitSummary.incremental(d.prunedExisting, foPruned, fordPruned,
              obs, encounter, person, wm, Some(d.queue))
        } else readFlat("flat_visit_summary") match {
          case Some(existing) =>
            FlatVisitSummary.incremental(
              existing, fo, ford, obs, encounter, person, wm, None, obsD, encD)
          case None => FlatVisitSummary.build(fo, ford, person)
        }
      },
      bucketedWrite("flat_visit_summary", () => delta),
      tableFallback = false))
    endStage()

    // ---- latest-summary maintenance ----
    // One row per person, derived ONLY from that person's visit-summary
    // rows — so in bucketed mode (shared person-id hash) the stage is a
    // keyed merge: rebuild exactly the buckets the summary stage touched
    // from those buckets' post-tick rows and leave every other bucket's
    // files untouched. O(delta buckets) per tick instead of the wholesale
    // rebuild (the one stage whose incremental path the reference itself
    // punts on, flat_latest_hiv_summary_v1.0.sql:21-37 + §7.4.8).
    // Deletions fall out: a purged person's bucket rebuilds without them.
    phase("latest merge")(
    if (bucketed && bucketedExists("flat_latest_hiv_summary") && sumDelta != null)
      writeBucketedChanged(
        FlatLatestHivSummary.build(
          readFlatBuckets("flat_visit_summary", sumDelta.buckets)),
        "flat_latest_hiv_summary", sumDelta.buckets)
    else if (bucketed)
      writeBucketedFull(
        FlatLatestHivSummary.build(readFlat("flat_visit_summary").get),
        "flat_latest_hiv_summary")
    else
      writeSnapshot(
        FlatLatestHivSummary.build(readFlat("flat_visit_summary").get),
        "flat_latest_hiv_summary"))

    // ---- purged-persons log update ----
    // log' = (log \ every person queued this tick) ∪ purged-this-tick:
    // a queued person's rows may have rematerialized (they were unvoided
    // when some group rebuilt), so their log entry is no longer proof of
    // absence; re-adding the tick's purge set is exact — those persons'
    // rows were removed by every stage this tick.
    phase("purged-log update")(
    purgeSet.foreach { p =>
      val queued = tickQueues.map(_.select("person_id"))
        .reduceOption(_ union _).map(_.distinct())
      val kept = (purgedLog, queued) match {
        case (Some(log), Some(q)) => log.join(q, Seq("person_id"), "left_anti")
        case (Some(log), None) => log
        case (None, _) => p.limit(0)
      }
      writeSnapshot(kept.union(p).distinct(), "purged_persons")
      // the log update committed with every stage append visible →
      // record the log signature so the next tick can skip the
      // crash-recovery presence probe (see markerPath scaladoc)
      writeMarker(logSignature(Watermark.readLog(spark, logPath)))
      p.unpersist()
    })
    tickQueues.foreach(_.unpersist())
  }
}
