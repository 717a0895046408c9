package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders, FlatVisitSummary, Horizons, Pipeline, Schemas}
import graft.operators.LatestRow

/** Streaming mode for the ETL: the reference's cron-style `CALL` loop IS
  * micro-batch incremental processing (SURVEY §2.9 — "conceptually
  * Structured Streaming with Trigger.AvailableNow, implemented by hand").
  * This wires it for real: a file stream tails the obs source directory
  * and each micro-batch drives the SAME FlatObs.incremental merge the
  * batch pipeline uses. The engine's checkpointed offsets replace the
  * flat_log high-water mark (I1); newly-arrived files are the
  * `date_created > @last_update` delta (I2) with no watermark query.
  *
  * Source contract: an append-only log of row VERSIONS — a void (I4)
  * arrives as a new file carrying the same obs_id with voided=1. Current
  * state = latest version per obs_id (voided version outranks the
  * original). The recompute reads the deduped snapshot for affected
  * groups, because retraction needs the surviving rows, not just the
  * delta.
  */
object IncrementalEtlStream {

  /** Latest version per obs_id: order by date_created, then date_voided
    * (desc, nulls last) so the voided version of a same-timestamp row wins.
    */
  def currentState(versions: DataFrame): DataFrame =
    LatestRow(versions, Seq("obs_id"), Seq(col("date_created"), col("date_voided")))

  private def obsSnapshot(spark: SparkSession, obsDir: String): DataFrame =
    currentState(
      spark.read.schema(Schemas.obs)
        .option("recursiveFileLookup", "true").parquet(obsDir))

  /** Cross-micro-batch (and cross-[[runCascadeOnce]]-call) memo for
    * frames that are static — or safely superset-stable — for one
    * logical cascade run over one immutable `person` dimension. A caller
    * processing several arrival batches through repeated runCascadeOnce
    * calls passes ONE memo so per-batch probe work is paid once:
    *
    *  - `purge`: voided persons still present in flat_obs. `person` is
    *    static for the run, and a voided person's flat rows only ever
    *    SHRINK (rebuilds of a still-voided person emit nothing), so the
    *    first incremental batch's purge set is a SUPERSET of every later
    *    batch's — and `touchedPersons` documents supersets as safe
    *    (extra buckets rewritten identically). localCheckpointed, not
    *    cached: every stage write refreshes the table path, which would
    *    invalidate a cached plan referencing flat_obs files and silently
    *    re-run the probe from (possibly purged) epochs.
    *
    * Callers own release ([[CascadeRunMemo.release]]) after the last
    * batch drains. */
  final class CascadeRunMemo {
    @volatile private[streaming] var purge: DataFrame = null
    def release(): Unit = {
      val p = purge
      if (p != null) { purge = null; Pipeline.releaseCheckpoint(p) }
    }
  }

  /** The full downstream cascade in one micro-batch loop: each batch
    * merges flat_obs, drives flat_lab_obs' person-day incremental from
    * the same snapshot and watermark, then flat_visit_summary's
    * person-queue incremental (including the retraction-only queue via
    * the raw obs snapshot), and maintains flat_latest_hiv_summary — the
    * same stage code and cascade order as `Pipeline.tick`, with the
    * stream's checkpointed offsets as the only progress state. `orders`
    * is a static dimension here (its flat stage builds once); a second
    * file stream on orders would slot in identically.
    *
    * Every batch runs as a bucketed merge ([[cascadeBatchBucketed]])
    * whose per-batch cost is O(batch + touched persons' history), not
    * O(accumulated table). A root holding a table the pipeline cannot
    * merge into ([[Pipeline.presentTables]]) fails the batch before it
    * writes anything.
    *
    * Without a memo the call keeps its own and releases it on return.
    */
  def runCascadeOnce(
      spark: SparkSession,
      obsDir: String,
      encounter: DataFrame,
      orders: DataFrame,
      person: DataFrame,
      pipeline: Pipeline,
      checkpointDir: String): Unit = {
    val memo = new CascadeRunMemo
    try runCascadeOnce(spark, obsDir, encounter, orders, person, pipeline,
      checkpointDir, memo)
    finally memo.release()
  }

  def runCascadeOnce(
      spark: SparkSession,
      obsDir: String,
      encounter: DataFrame,
      orders: DataFrame,
      person: DataFrame,
      pipeline: Pipeline,
      checkpointDir: String,
      memo: CascadeRunMemo): Unit = {
    val stream = spark.readStream
      .schema(Schemas.obs)
      .option("recursiveFileLookup", "true")
      .parquet(obsDir)

    // person is a STATIC dimension within one run: the voided persons'
    // bucket set (the purge probe's file-level prune) cannot change
    // between this run's micro-batches, so collect it once here instead
    // of re-running the collect job every batch. (A superset stays safe
    // across runs too — extra buckets only widen the probe's read.)
    lazy val voidedBuckets: Set[Int] =
      graft.operators.BucketedSink.collectBuckets(
        person.filter(col("voided") === 1).select("person_id"),
        pipeline.sinkBuckets)

    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        cascadeBatchBucketed(
          spark, rawBatch, obsDir, encounter, orders, person, pipeline,
          batchSourceFiles(spark, checkpointDir, batchId),
          () => voidedBuckets, memo)
      }
      .start()
    query.awaitTermination()
  }

  /** The micro-batch's source files, read from the file stream's own
    * checkpointed source log (`<ckpt>/sources/0/<batchId>`: a version
    * header line then one JSON entry per file). foreachBatch hands over
    * an RDD-backed frame whose `inputFiles` is empty, but by the time
    * the batch function runs the engine has already durably recorded
    * exactly which files constitute the batch — read that record instead
    * of re-deriving it from directory listings (which could leak files
    * of not-yet-delivered batches into the residue). Empty when the
    * entry is missing or unparsable — callers treat that as "source
    * files unknown" and fall back to materializing rows. */
  private[graft] def batchSourceFiles(
      spark: SparkSession, checkpointDir: String, batchId: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(checkpointDir, "sources/0"), batchId.toString)
    val entry = """"path"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    graft.core.AtomicFile.read(spark.sparkContext.hadoopConfiguration, p)
      .fold(Seq.empty[String]) { body =>
        entry.findAllMatchIn(body).map { m =>
          // minimal JSON string unescape — source paths are URIs, where
          // only these escapes plausibly occur
          m.group(1).replace("\\/", "/").replace("\\\\", "\\").replace("\\\"", "\"")
        }.toSeq
      }
  }

  private[graft] def fsBytesRead: Long = graft.core.IoStats.fsBytesRead

  // `graft.debug.cascadeTiming=true` prints per-stage seconds and bytes
  // opened — profiling hook only, no behavior change. Lazily-built
  // frames (the pinned snapshot, the purge probe) attribute their read
  // to whichever stage forces them first.
  private def timed[A](spark: SparkSession, label: String)(f: => A): A =
    if (spark.conf.getOption("graft.debug.cascadeTiming").contains("true") ||
        sys.env.get("SPARK_GRAFT_CASCADE_TIMING").contains("1")) {
      val t0 = System.nanoTime()
      val b0 = fsBytesRead
      val r = f
      println(f"    [cascade] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
        f"  opened ${(fsBytesRead - b0) / 1024}%8d KiB")
      r
    } else f

  /** One micro-batch against the BUCKETED sink — the tick's O(delta)
    * write discipline under the stream (round-7 verdict's headline ask):
    *
    *  - the batch seeds every stage's person queue (change-feed
    *    contract: each arriving version registers on its delta path);
    *  - the accumulated version log is PRUNED to queued persons BEFORE
    *    the LatestRow dedup window — all versions of an obs_id share a
    *    person_id, so the window's partitions are included or excluded
    *    whole, and the per-batch window cost is O(touched persons'
    *    history) instead of O(all history), which grew 1.2→5.8 s/batch
    *    as history accumulated when profiled (SCALE.md);
    *  - each stage merges over its stored table pruned to the queue's
    *    buckets ([[graft.operators.BucketedSink.readBuckets]] — a
    *    file-level prune) and commits ONLY those buckets via the
    *    manifest swap; untouched buckets' files are never read, opened,
    *    or rewritten;
    *  - flat_latest_hiv_summary is maintained as a keyed merge over the
    *    summary queue's buckets, not a wholesale rebuild.
    *
    * Idempotent under foreachBatch's at-least-once replay: a re-run
    * batch re-derives the same queues/watermark, rebuilds the same
    * groups to the same rows, and the delete-by-key merges are no-ops
    * on already-merged state.
    *
    * The summary stage's bounded queue scan is sound here without the
    * tick's watermark-alignment check: every stage shares the SAME
    * batch-derived watermark within one foreachBatch invocation, so all
    * flat_obs rows changed since it live in this batch's queue buckets
    * by construction.
    */
  private def cascadeBatchBucketed(
      spark: SparkSession,
      rawBatch: DataFrame,
      obsDir: String,
      encounter: DataFrame,
      orders: DataFrame,
      person: DataFrame,
      pipeline: Pipeline,
      // the batch's source files (from the stream's checkpointed source
      // log): the version log's defer path records these as a residue
      // pointer instead of rewriting the rows when the batch is dense
      batchFiles: Seq[String],
      // voided persons' bucket set, memoized once per run by the caller
      // (person is static within a run)
      voidedBucketsOnce: () => Set[Int],
      memo: CascadeRunMemo): Unit = {
    def t[A](label: String)(f: => A): A = timed(spark, label)(f)
    val batch = rawBatch.persist()
    try {
      // First-arrival detection must require ALL five tables: the five
      // writeBucketedFull calls below are not atomic as a group, so a
      // crash between them leaves a prefix of tables present. On the
      // checkpoint's replay of that batch, treating it as incremental
      // would throw on the missing tables forever; re-running the full
      // builds is idempotent (each is a fresh epoch + manifest swap).
      // The presence check refuses a root it cannot merge into before the
      // version-log write below.
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      if (pipeline.presentTables().size < Pipeline.PersonTables.size ||
          !graft.sources.BucketedLog.exists(hadoopConf, pipeline.versionLogPath)) {
        // First arrival: full builds into fresh single-epoch layouts.
        // Downstream stages consume the PINNED upstream frames rather
        // than reading the bucketed tables back — at N buckets a
        // read-back lists/opens N small files per table, pure overhead
        // when the exact rows are already in memory.
        //
        // The version-log seed comes FIRST: a crash anywhere in the
        // table builds leaves the first-arrival condition true (some
        // table still missing), so the replay re-seeds (idempotent) and
        // re-runs the builds. Seeding last would open a window where all
        // five tables exist but the log holds nothing, and the replay's
        // incremental path would read an empty history.
        //
        // The seed is a residue POINTER, not a bucketed rewrite: a bulk
        // backfill touches every bucket, so its own layout buys no prune
        // — rewriting the whole table into the log here is pure cost
        // (the r9 q125 regression). BucketedLog.appendOrDefer folds the
        // residue into buckets at the first SPARSE batch (or eagerly via
        // BucketedLog.fold — the post-backfill compaction recipe), which
        // is the first moment pruning actually pays.
        val rawAll = spark.read.schema(Schemas.obs)
          .option("recursiveFileLookup", "true").parquet(obsDir)
        t("version_log seed") {
          // clear any partial log a previous crashed lifecycle left, then
          // record the pointer (same idempotence the old overwrite had)
          val logPath = new org.apache.hadoop.fs.Path(pipeline.versionLogPath)
          logPath.getFileSystem(hadoopConf).delete(logPath, true)
          graft.sources.BucketedLog.defer(
            spark, pipeline.versionLogPath, rawAll.inputFiles.toSeq)
        }
        val snapshot = obsSnapshot(spark, obsDir).persist()
        val fo = FlatObs.build(snapshot, encounter, person).persist()
        val ford = FlatOrders.build(orders, encounter, person).persist()
        val vs = FlatVisitSummary.build(fo, ford, person).persist()
        try {
          t("flat_obs")(pipeline.writeBucketedFull(fo, "flat_obs"))
          t("flat_lab_obs")(pipeline.writeBucketedFull(
            FlatLabObs.build(snapshot, person), "flat_lab_obs"))
          t("flat_orders")(pipeline.writeBucketedFull(ford, "flat_orders"))
          t("flat_visit_summary")(
            pipeline.writeBucketedFull(vs, "flat_visit_summary"))
          t("flat_latest")(pipeline.writeBucketedFull(
            FlatLatestHivSummary.build(vs), "flat_latest_hiv_summary"))
        } finally {
          vs.unpersist(); ford.unpersist(); fo.unpersist()
          snapshot.unpersist()
        }
        return
      }
      // ONE pass over the (persisted) batch for both scalar probes: the
      // batch's earliest arrival instant (the watermark) and its key
      // buckets (the version-log routing decision) — previously two
      // driver round-trips over the same cached frame (r17, guide §5:
      // driver bookkeeping is still driver time)
      val statsRow = t("batch stats")(batch.agg(
        min(when(col("voided") === 1, col("date_voided"))
          .otherwise(col("date_created"))).as("min_instant"),
        collect_set(graft.operators.BucketedSink.bucketOf(
          col("person_id"), pipeline.sinkBuckets)).as("buckets")).first())
      if (statsRow.isNullAt(0)) return // empty batch: nothing can change
      val wm = Horizons.at(new java.sql.Timestamp(statsRow.getTimestamp(0).getTime - 1))
      val batchBuckets = statsRow.getSeq[Int](1).toSet

      // Register the batch with the person-bucketed version log BEFORE
      // any stage reads it: a crash after registration replays the batch
      // and re-registers the same version rows, which the latest-version
      // window tolerates (ties among identical contents); registering
      // after the stage writes would instead open a window where the
      // tables reflect versions the log never received. Sparse batches
      // (the steady regime) append bucketed — KiB-scale, buys the
      // directory-pruned history read; dense batches (bulk
      // backfills/reloads, touching most buckets) defer a residue
      // pointer instead — their layout buys no prune, so the second
      // write is skipped until the first sparse batch folds it.
      t("version_log append")(graft.sources.BucketedLog.appendOrDefer(
        batch, pipeline.versionLogPath, "person_id", pipeline.sinkBuckets,
        batchBuckets, batchFiles, Schemas.obs))
      // One purge-narrowing probe shared by both source-driven stages: a
      // person present in flat_lab_obs is present in flat_obs (every lab
      // obs is an obs, both grains cover it), so voided ∩ flat_obs is a
      // safe SUPERSET of the lab stage's purge set. The probe only
      // concerns voided persons, so only THEIR buckets of flat_obs can
      // contribute — a file-level prune instead of the full-table
      // person_id scan (the last per-batch read that grew with table
      // size rather than delta size).
      // memoized across the run's batches (CascadeRunMemo scaladoc: the
      // first incremental batch's set is a safe SUPERSET of later ones)
      val purge = {
        val cached = memo.purge
        if (cached != null) cached
        else t("purge probe") {
          val p = FlatObs.voidedPurgeSet(
            person,
            Some(pipeline.readFlatBuckets("flat_obs", voidedBucketsOnce())))
            .localCheckpoint()
          memo.purge = p
          p
        }
      }
      val foQueue = FlatObs.touchedPersons(batch, encounter, person,
        wm, Some(batch), purgeSet = Some(purge))
      val foD = t("flat_obs queue")(pipeline.bucketedDelta("flat_obs", foQueue))
      // Touched persons' history from the bucketed log — bytes opened are
      // O(touched buckets' history), not O(accumulated source directory):
      // all versions of an obs_id share a person_id, so the queue's
      // buckets hold every version the rebuild needs.
      val history = graft.sources.BucketedLog.readBuckets(
        spark, pipeline.versionLogPath, foD.buckets, Schemas.obs)
      val snapshot = currentState(
        history.join(foD.queue, Seq("person_id"), "left_semi")).persist()
      try {
        t("flat_obs") {
          pipeline.writeBucketedChanged(
            FlatObs.incremental(foD.prunedExisting, snapshot, encounter,
              person, wm, Some(batch)),
            "flat_obs", foD.buckets)
        }
        val labQueue = FlatLabObs.touchedPersons(batch, person, wm,
          Some(batch), purgeSet = Some(purge))
        val labD = t("flat_lab_obs queue")(
          pipeline.bucketedDelta("flat_lab_obs", labQueue))
        try t("flat_lab_obs") {
          pipeline.writeBucketedChanged(
            FlatLabObs.incremental(labD.prunedExisting, snapshot, person,
              wm, obsDelta = Some(batch)),
            "flat_lab_obs", labD.buckets)
        } finally labD.release()
        // summary: bounded queue scans over the flat_obs stage's rewrite
        // scope, then a merge pruned to the summary queue's own buckets
        val foScoped = pipeline.readFlatBuckets("flat_obs", foD.buckets)
        val sumScoped = pipeline.readFlatBuckets("flat_visit_summary", foD.buckets)
        val sumQueue = FlatVisitSummary.touchedPersonsBounded(
          sumScoped, foScoped, foD.queue, snapshot, encounter, wm, Some(batch))
        val sumD = t("flat_visit_summary queue")(
          pipeline.bucketedDelta("flat_visit_summary", sumQueue))
        try {
          val foPruned = pipeline.readFlatBuckets("flat_obs", sumD.buckets)
          val fordPruned = pipeline.readFlatBuckets("flat_orders", sumD.buckets)
          t("flat_visit_summary") {
            pipeline.writeBucketedChanged(
              FlatVisitSummary.incremental(sumD.prunedExisting, foPruned,
                fordPruned, snapshot, encounter, person, wm, Some(sumD.queue)),
              "flat_visit_summary", sumD.buckets)
          }
          t("flat_latest") {
            pipeline.writeBucketedChanged(
              FlatLatestHivSummary.build(
                pipeline.readFlatBuckets("flat_visit_summary", sumD.buckets)),
              "flat_latest_hiv_summary", sumD.buckets)
          }
        } finally sumD.release()
      } finally { snapshot.unpersist(); foD.release() } // purge: memo-owned
    } finally batch.unpersist()
  }
}
