package graft.etl

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.core.AtomicFile
import graft.operators.{BucketedSink, Watermark}
import Pipeline.{PersonTables, StageBounds, StagePlan, releaseCheckpoint}

/** Optional pre-pruned change feeds for [[Pipeline.tick]]: each frame, when
  * present, must contain AT LEAST every source row whose latest
  * modification (`date_created`, `date_voided`, `date_changed`) is newer
  * than the OLDEST stage creation watermark in the run log (the rows
  * named by a table version; a modification horizon never asks for an
  * older row than its stage's watermark would). The stages use a feed
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
  * Each run: resolve watermark and horizons (flat_log → fallback → epoch)
  * → incremental update → bucketed write of the touched persons' buckets
  * committed by one `_MANIFEST` swap ([[BucketedSink]], the
  * REPLACE-INTO-equivalent sink; a production deployment would use a
  * Delta/Iceberg MERGE instead) → append run rows to flat_log. A tick with
  * nothing above any bound only appends the run rows (see [[tick]]).
  *
  * `bucketsOverride` is the bucket count of every person-keyed table,
  * [[BucketedSink.DefaultBuckets]] when absent. The tables do not move
  * between counts: a root written with another count is refused.
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

  // ---- versioned snapshot layout (purged_persons) ----
  // Each write lands in a fresh `v_<n>` directory under the table path;
  // `_CURRENT` is a one-line pointer file naming the live version. The
  // pointer is replaced through [[AtomicFile]] — a single atomic rename
  // on HDFS and local filesystems — so a concurrent reader
  // either resolves the old version or the new one, never a missing or
  // half-written table (the directory-swap this replaces had a window
  // where the table path did not exist at all). The previous version is
  // retained one generation for readers whose lazy plans still reference
  // its files; older versions are purged.

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def pointerPath(name: String) = new Path(path(name), "_CURRENT")

  private def currentVersion(name: String): Option[String] =
    AtomicFile.read(hadoopConf, pointerPath(name)).map(_.trim)

  // ---- bucketed layout (the five person-keyed tables) ----
  // Incremental ticks overwrite only the buckets of touched persons
  // (O(delta) write) under `<table>/buckets`.

  val sinkBuckets: Int = bucketsOverride.getOrElse(BucketedSink.DefaultBuckets)
  private[graft] def bucketedDataPath(name: String) = new Path(path(name), "buckets")
  private[graft] def bucketedExists(name: String): Boolean =
    BucketedSink.exists(hadoopConf, bucketedDataPath(name).toString)

  /** The person-keyed tables present under this root. Refuses a table
    * this pipeline cannot merge into, so a caller checks before writing
    * anything: one bucketed by another count ([[BucketedSink.existsWith]]),
    * or one left in the retired versioned-snapshot layout. */
  private[graft] def presentTables(): Set[String] = PersonTables.filter { name =>
    BucketedSink.existsWith(hadoopConf, bucketedDataPath(name).toString, sinkBuckets) || {
      if (currentVersion(name).isDefined)
        throw new IllegalStateException(
          s"${path(name)} holds $name in the retired versioned-snapshot layout " +
            "(_CURRENT, no buckets/_MANIFEST): remove that directory and tick again " +
            "to rebuild it from the sources")
      false
    }
  }.toSet

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

  private def readMarker(): Option[String] = AtomicFile.read(hadoopConf, markerPath)

  private[graft] def writeMarker(sig: String): Unit =
    AtomicFile.replace(hadoopConf, markerPath, sig)

  private[graft] def dropMarker(): Unit = {
    val fs = markerPath.getFileSystem(hadoopConf)
    if (fs.exists(markerPath)) fs.delete(markerPath, false)
  }

  /** Whether the last tick's purge step ran the presence probe —
    * observability for specs (the steady path must NOT probe; a tick
    * after any out-of-band write MUST). */
  private[graft] var lastTickProbed: Boolean = false

  /** Whether the last tick found nothing to do and ran no stage (see
    * [[tick]]) — observability for specs. */
  private[graft] var lastTickShortCircuited: Boolean = false

  // ---- bucketed stage facade for callers OUTSIDE tick ----
  // The streamed cascade (IncrementalEtlStream) drives the same
  // stage code per micro-batch with a batch-derived watermark; these
  // give it the tick's write discipline without the flat_log plumbing.

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
    AtomicFile.replace(hadoopConf, pointerPath(name), next)

    // purge everything but the live version and its predecessor
    val keep = Set(next) ++ prev
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v_") && !keep.contains(n))
        fs.delete(st.getPath, true)
    }
  }

  /** Every maximum the tick's bounds capture — two columns of each
    * source frame — in ONE aggregate over the tagged union of the frames,
    * captured at run start like the reference's `@last_date_created`
    * (flat_obs_v1.0.sql:26-28,345: `insert into flat_log values (@start,
    * @last_date_created, …)`), NOT wall-clock, so source rows racing the
    * run are re-read next tick. A column with no value reads as Epoch.
    */
  private def maxima(frames: Seq[(DataFrame, String, String)]): Seq[(Timestamp, Timestamp)] = {
    val tagged = frames.zipWithIndex.map { case ((df, a, b), i) =>
      df.select(lit(i).as("src"), col(a).as("a"), col(b).as("b"))
    }.reduce(_ union _)
    val maxes = frames.indices.flatMap(i =>
      Seq("a", "b").map(c => max(when(col("src") === i, col(c)))))
    val r = tagged.agg(maxes.head, maxes.tail: _*).first()
    // read the aggregates as Timestamps (absolute instants) — a string
    // round-trip would re-parse the session-tz rendering in the driver
    // JVM's default zone, shifting the stored bound by the offset between
    // them and silently skipping late-committing rows
    def at(j: Int) = if (r.isNullAt(j)) Watermark.Epoch else r.getTimestamp(j)
    frames.indices.map(i => (at(2 * i), at(2 * i + 1)))
  }

  private val flatObsBounds =
    StageBounds(flatObsVersion, "obs.date_voided", Some("encounter.date_changed"))
  private val flatOrdersBounds = StageBounds(flatOrdersVersion, "orders.date_voided", None)
  private val flatLabObsBounds = StageBounds(flatLabObsVersion, "obs.date_voided", None)
  private val flatVisitSummaryBounds = StageBounds(
    flatVisitSummaryVersion, "obs.date_voided", Some("encounter.date_changed"))

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

  /** Run one stage from `plan.start` and append its rows to the run log
    * in one file; returns the appended rows. */
  private def runStage(
      plan: StagePlan,
      run: Horizons => DataFrame,
      write: DataFrame => Unit): Seq[Watermark.RunRow] = {
    val start = System.currentTimeMillis()
    write(run(plan.start))
    val secs = ((System.currentTimeMillis() - start) / 1000).toShort
    Watermark.appendRun(spark, logPath, plan.rows, secs)
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
    def release(): Unit = releaseCheckpoint(queue)
  }

  /** Touched-key delta state for one bucketed stage merge: checkpoint
    * the queue, collect its bucket ids, prune the stored table to them.
    * Shared by [[tick]] and the streamed cascade. */
  private[graft] def bucketedDelta(name: String, queue: DataFrame): BucketedDelta = {
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
    val buckets = BucketedSink.collectBuckets(q, sinkBuckets)
    BucketedDelta(q, buckets, readFlatBuckets(name, buckets))
  }

  /** Bucketed-sink write hook: full write into a fresh epoch on first
    * run, then touched-bucket-only epochs committed by the manifest
    * swap. */
  private def bucketedWrite(
      name: String,
      delta: () => BucketedDelta): DataFrame => Unit = { result =>
    val p = bucketedDataPath(name).toString
    if (!bucketedExists(name))
      BucketedSink.writeFull(result, p, "person_id", sinkBuckets)
    else
      BucketedSink.overwriteChanged(result, p, "person_id", sinkBuckets,
        delta().buckets)
  }

  /** One full pipeline tick over the given source snapshot. Each stage
    * runs a bucketed incremental merge when its table exists, else a full
    * build into a fresh bucketed table; only the purged-persons log stays
    * on the versioned-snapshot sink. A root holding a table this pipeline
    * cannot merge into ([[presentTables]]) is refused before anything is
    * written.
    *
    * `deltas` (optional, [[SourceDeltas]]): pre-pruned change feeds that
    * replace the tick's full-source delta/purge scans with O(delta)
    * reads. Correctness never depends on them — stages re-apply every
    * predicate and rebuild from the snapshot — so a wrong feed can only
    * slow the tick down or (if it MISSES changes, violating its contract)
    * skip them exactly as a lagging source snapshot would.
    *
    * A tick with nothing to do short-circuits: when the run log matches
    * the consistency marker, every table exists, the summary is aligned
    * with flat_obs, no source maximum is above its stage's bounds and no
    * voided person is left to purge, every stage queue would be empty.
    * The tick then appends the run rows (the reference logs every `CALL`)
    * in one file, rewrites the marker and returns — no stage, checkpoint,
    * bucket read, purged-log rewrite or table write.
    */
  def tick(
      obs: DataFrame, encounter: DataFrame, orders: DataFrame,
      person: DataFrame, deltas: SourceDeltas = SourceDeltas()): Unit = {
    val present = presentTables()
    val obsD = deltas.obs
    val encD = deltas.encounter
    val ordD = deltas.orders
    // every bound's capture from the FEED when present: rows created or
    // modified since the old bounds are in the feed by contract, so its
    // maxima equal the source's whenever anything new arrived; the floor
    // at the old bound (StagePlan) covers the no-new-rows case
    val Seq((obsCreated, obsVoided), (encCreated, encChanged), (ordCreated, ordVoided)) =
      phase("watermark maxima")(maxima(Seq(
        (obsD.getOrElse(obs), "date_created", "date_voided"),
        (encD.getOrElse(encounter), "date_created", "date_changed"),
        (ordD.getOrElse(orders), "date_created", "date_voided"))))

    // run log collected ONCE at tick start: a stage's own rows gain no
    // entries until its own append, so this snapshot resolves every
    // stage's bounds, the summary's alignment and the marker signature
    val log0 = Watermark.collectLog(spark, logPath)
    def plan(b: StageBounds, fallback: => Option[DataFrame], captured: Horizons): StagePlan = {
      val start = b.start(log0, Watermark.resolve(log0, b.version, fallback))
      StagePlan(b, start, captured.atLeast(start))
    }
    val foPlan = plan(flatObsBounds, readFlat("flat_obs"),
      Horizons(Horizons.later(obsCreated, encCreated), obsVoided, encChanged))
    val ordPlan = plan(flatOrdersBounds, readFlat("flat_orders"),
      Horizons(ordCreated, ordVoided, Watermark.Epoch))
    // lab watermark from the obs actually visible to the lab delta, NOT
    // encounter's too: advancing on the strength of an encounter row alone
    // would widen the window where a lab obs committing just after the
    // snapshot is permanently skipped
    val labPlan = plan(flatLabObsBounds, readFlat("flat_lab_obs"),
      Horizons(obsCreated, obsVoided, Watermark.Epoch))
    // Summary creation watermark: the flat_obs stage records max(source
    // date_created seen) as ITS watermark — an upper bound on every
    // flat_obs row's max_date_created, and any FUTURE flat_obs change
    // carries a source date_created above it (the same fixpoint argument
    // flat_obs's own floored watermark rests on). Taking it from flat_obs's
    // plan replaces a full-column max scan over the flat_obs table — an
    // O(table files) constant paid every tick. tableFallback-free: the
    // summary table carries no max_date_created, so a log miss resolves to
    // Epoch — a full requeue, the safe recovery — instead of crashing on a
    // missing column (a fallback on some OTHER table's max would overshoot
    // and silently skip this tick's delta).
    val sumPlan = plan(flatVisitSummaryBounds, None,
      Horizons(foPlan.next.created, obsVoided, encChanged))

    // prev-tick watermarks: the summary stage may bound its retraction
    // scan to this tick's flat_obs queue only if the last summary run saw
    // everything up to the PREVIOUS flat_obs run (crash between the two ⇒
    // fall back to the full anti-join recovery scan)
    val summaryAligned = !Watermark.resolve(log0, flatVisitSummaryVersion)
      .before(Watermark.resolve(log0, flatObsVersion))

    // ---- purged-persons log ----
    // The voided-person purge must only queue persons whose rows are
    // still present. The old narrowing semi-joined person against the
    // flat table's person_id column — O(table) over one column, every
    // tick, forever. Instead keep a `purged_persons` side table: a person
    // enters it when their rows are purged and leaves it whenever any
    // stage queue touches them again (the only way their rows can
    // rematerialize — rebuilds of a still-voided person emit nothing).
    // purge set = voided persons not yet in the log: O(persons voided),
    // independent of table size.
    lastTickProbed = false
    lastTickShortCircuited = false
    val purgedLog = readFlat("purged_persons")
    val voidedPersons = person.filter(col("voided") === 1).select("person_id")
    val fresh = purgedLog.map(voidedPersons.join(_, Seq("person_id"), "left_anti"))
    // the marker proves no tick died mid-flight since the last complete one
    // (see the markerPath scaladoc)
    val markerIntact =
      purgedLog.isDefined && readMarker().contains(Watermark.signature(log0))

    val plans = Seq(foPlan, ordPlan, labPlan, sumPlan)
    if (markerIntact && summaryAligned && plans.forall(_.quiet) &&
        present.size == PersonTables.size && fresh.get.isEmpty) {
      // every stage queue is empty: no source row is above its bounds, no
      // purge is due, and with the summary aligned its retraction scan is
      // bounded by flat_obs's (empty) queue
      val appended = Watermark.appendRun(spark, logPath, plans.flatMap(_.rows), 0)
      writeMarker(Watermark.signature(log0 ++ appended))
      lastTickShortCircuited = true
      return
    }

    val purgeSet = phase("purge probe") {
      (purgedLog match {
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
          lastTickProbed = !markerIntact
          val claimed =
            if (markerIntact) fresh.get.limit(0)
            else voidedPersons.join(log, Seq("person_id"), "left_semi")
          val claimedBuckets =
            if (markerIntact) Set.empty[Int]
            else BucketedSink.collectBuckets(claimed, sinkBuckets)
          val stale =
            if (claimedBuckets.isEmpty) claimed.limit(0)
            else Seq("flat_obs", "flat_orders", "flat_lab_obs",
                "flat_visit_summary")
              .filter(present)
              .map(n => readFlatBuckets(n, claimedBuckets)
                .select("person_id")
                .join(claimed, Seq("person_id"), "left_semi"))
              .reduceOption(_ union _)
              .map(_.distinct())
              .getOrElse(claimed.limit(0))
          fresh.get.union(stale)
        case None => voidedPersons
        // localCheckpoint for the same reason as bucketedDelta's queue:
        // the stale probe reads the flat tables, so the first stage
        // write would invalidate a cache()d plan and every later
        // consumer (each stage's purge narrowing, the log update)
        // would re-run the bucket probe from files
      }).localCheckpoint()
    }
    val tickQueues = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val appended = scala.collection.mutable.ListBuffer.empty[Watermark.RunRow]

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

    // The stage branches consult only `present` — readFlat would eagerly
    // build a full-table file index (every bucket directory listed) just
    // to pattern-match Some(_), while the merge reads the bucket-pruned
    // frame. At 200k persons / 40k buckets those dead listings were a
    // multi-second constant per stage, every tick.
    phase("stage flat_obs")(appended ++=
    runStage(foPlan, wm =>
      if (present("flat_obs")) {
        val d = noteDelta(bucketedDelta("flat_obs",
          FlatObs.touchedPersons(obs, encounter, person, wm,
            obsD, encD, Some(purgeSet))))
        foDelta = d
        FlatObs.incremental(d.prunedExisting, obs, encounter, person, wm,
          obsD, encD)
      } else FlatObs.build(obs, encounter, person),
      bucketedWrite("flat_obs", () => delta)))
    endStage()

    phase("stage flat_orders")(appended ++=
    runStage(ordPlan, wm =>
        if (present("flat_orders")) {
          val d = noteDelta(bucketedDelta("flat_orders",
            FlatOrders.touchedPersons(orders, person, wm,
              ordD, Some(purgeSet))))
          FlatOrders.incremental(d.prunedExisting, orders, encounter, person,
            wm, ordD)
        } else FlatOrders.build(orders, encounter, person),
      bucketedWrite("flat_orders", () => delta)))
    endStage()

    phase("stage flat_lab_obs")(appended ++=
    runStage(labPlan, wm =>
        if (present("flat_lab_obs")) {
          val d = noteDelta(bucketedDelta("flat_lab_obs",
            FlatLabObs.touchedPersons(obs, person, wm,
              obsD, Some(purgeSet))))
          FlatLabObs.incremental(d.prunedExisting, obs, person, wm,
            obsDelta = obsD)
        } else FlatLabObs.build(obs, person),
      bucketedWrite("flat_lab_obs", () => delta)))
    endStage()

    phase("stage flat_visit_summary")(appended ++=
    runStage(sumPlan, wm =>
        if (present("flat_visit_summary")) {
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
              val foScoped = readFlatBuckets("flat_obs", foDelta.buckets)
              // summary shares the person-hash bucketing, so queued
              // persons' summary rows live in the same bucket ids —
              // the retraction probe side is O(delta) files too
              val sumScoped = readFlatBuckets("flat_visit_summary", foDelta.buckets)
              FlatVisitSummary.touchedPersonsBounded(sumScoped, foScoped,
                foDelta.queue, obs, encounter, wm, obsD, encD)
            } else
              FlatVisitSummary.touchedPersons(
                readFlat("flat_visit_summary").get, readFlat("flat_obs").get,
                obs, encounter, wm, obsD, encD)
          val d = noteDelta(bucketedDelta("flat_visit_summary", queue))
          sumDelta = d
          val foPruned = readFlatBuckets("flat_obs", d.buckets)
          val fordPruned = readFlatBuckets("flat_orders", d.buckets)
          FlatVisitSummary.incremental(d.prunedExisting, foPruned, fordPruned,
            obs, encounter, person, wm, Some(d.queue))
        } else FlatVisitSummary.build(
          readFlat("flat_obs").get, readFlat("flat_orders").get, person),
      bucketedWrite("flat_visit_summary", () => delta)))
    endStage()

    // ---- latest-summary maintenance ----
    // One row per person, derived ONLY from that person's visit-summary
    // rows — so with the shared person-id hash the stage is a keyed merge:
    // rebuild exactly the buckets the summary stage touched from those
    // buckets' post-tick rows and leave every other bucket's files
    // untouched. O(delta buckets) per tick instead of the wholesale
    // rebuild (the one stage whose incremental path the reference itself
    // punts on, flat_latest_hiv_summary_v1.0.sql:21-37 + §7.4.8).
    // Deletions fall out: a purged person's bucket rebuilds without them.
    phase("latest merge")(
    if (present("flat_latest_hiv_summary") && sumDelta != null)
      writeBucketedChanged(
        FlatLatestHivSummary.build(
          readFlatBuckets("flat_visit_summary", sumDelta.buckets)),
        "flat_latest_hiv_summary", sumDelta.buckets)
    else
      writeBucketedFull(
        FlatLatestHivSummary.build(readFlat("flat_visit_summary").get),
        "flat_latest_hiv_summary"))

    // ---- purged-persons log update ----
    // log' = (log \ every unvoided person queued this tick) ∪
    // purged-this-tick: an unvoided queued person's rows may have
    // rematerialized when some group rebuilt, so their log entry is no
    // longer proof of absence. A queued person who is still voided keeps
    // theirs: every stage drops voided persons' rows, so the rebuild left
    // them absent (dropping the entry made the next tick purge them again
    // and rewrite their buckets unchanged). Re-adding the tick's purge
    // set is exact — those persons' rows were removed by every stage.
    phase("purged-log update") {
      val queued = tickQueues.map(_.select("person_id"))
        .reduceOption(_ union _)
        .map(_.distinct().join(voidedPersons, Seq("person_id"), "left_anti"))
      val kept = (purgedLog, queued) match {
        case (Some(log), Some(q)) => log.join(q, Seq("person_id"), "left_anti")
        case (Some(log), None) => log
        case (None, _) => purgeSet.limit(0)
      }
      writeSnapshot(kept.union(purgeSet).distinct(), "purged_persons")
      // the log update committed with every stage append visible →
      // record the log signature so the next tick can skip the
      // crash-recovery presence probe (see markerPath scaladoc)
      writeMarker(Watermark.signature(log0 ++ appended))
      releaseCheckpoint(purgeSet)
    }
    tickQueues.foreach(releaseCheckpoint)
  }
}

object Pipeline {

  /** Drop a `localCheckpoint`ed frame's blocks. `unpersist` on the frame
    * does nothing (it was never in the cache manager), which left the
    * blocks in storage until the frame was garbage-collected. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** The five person-keyed flat tables, in stage order. */
  private[graft] val PersonTables = Seq("flat_obs", "flat_orders", "flat_lab_obs",
    "flat_visit_summary", "flat_latest_hiv_summary")

  /** Where a stage's three bounds ([[Horizons]]) live in `flat_log`: the
    * creation watermark under the table version (the reference's row),
    * each modification horizon its `> wm` predicates read under
    * [[Watermark.horizonRow]]. The log keeps the reference's schema
    * (flat_log_v1.0.sql:2). */
  private final case class StageBounds(
      version: String, voided: String, changed: Option[String]) {

    /** The bounds a run starts from, given its resolved creation
      * watermark. */
    def start(log: Seq[Watermark.RunRow], created: Timestamp): Horizons = Horizons(created,
      Watermark.horizon(log, version, voided, created),
      changed.fold(created)(Watermark.horizon(log, version, _, created)))

    def rows(h: Horizons): Seq[(String, Timestamp)] =
      Seq(version -> h.created, Watermark.horizonRow(version, voided) -> h.voided) ++
        changed.map(Watermark.horizonRow(version, _) -> h.changed)
  }

  /** One stage's bounds this tick: `start` from the run log, `next` the
    * captured maxima floored at `start` — so a recorded bound never
    * REGRESSES (a feed with no new rows has Epoch maxima, and recording
    * that would turn the next tick into a full requeue). */
  private final case class StagePlan(bounds: StageBounds, start: Horizons, next: Horizons) {
    /** Nothing this stage's predicates read is above its bounds. */
    def quiet: Boolean = next == start
    def rows: Seq[(String, Timestamp)] = bounds.rows(next)
  }
}
