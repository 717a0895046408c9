package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.core.AtomicFile

/** Bucket-partitioned incremental sink — the "write O(delta), not
  * O(table)" path (a poor man's Delta/Iceberg MERGE on plain parquet).
  *
  * Layout: bucket data lives in append-only EPOCH directories
  * (`e_<n>/__bucket=K/`), one epoch per write; `_MANIFEST` is a single
  * pointer file mapping every bucket to the epoch holding its current
  * data, headed by the bucket count the table was written with. A full
  * rebuild writes every bucket into a fresh epoch; an
  * incremental tick writes ONLY the buckets containing touched keys into
  * a fresh epoch — at 100 TB with a steady-state delta touching a few
  * thousand persons, that is a few buckets instead of the whole table —
  * then commits by atomically replacing the manifest ([[AtomicFile]]:
  * FileContext.rename OVERWRITE, a single atomic rename on HDFS and
  * local filesystems).
  *
  * The commit point is the manifest swap, so a concurrent reader
  * resolves either the old bucket→epoch map or the new one, never a mix
  * of bucket A new + bucket B old (the race the previous in-place
  * dynamic-partition-overwrite layout had, and the one a Delta/Iceberg
  * manifest commit removes in production). Epochs referenced by the
  * previous manifest generation are retained one write for readers whose
  * lazy plans already resolved them; older unreferenced epochs are
  * purged.
  *
  * Sizing `nBuckets` is load-bearing, not cosmetic: an incremental
  * epoch rewrites WHOLE touched buckets, so for a uniformly-hashed
  * delta of D keys the expected write fraction is 1 - exp(-D/nBuckets)
  * — pick nBuckets ≈ 10x the steady-state delta key count to bound an
  * incremental write near 10% of the table (delta keys clustered by
  * recency do even better). A bucket count far below the delta size
  * silently degrades every "incremental" write to a near-full rewrite.
  * Floor the count at 64 so toy tables still exercise the pruning paths.
  * On a LOCAL filesystem a per-file open/list constant dwarfs the scan
  * at tens of thousands of near-empty files, so tests and single-node
  * runs trade write fraction for file count (a smaller count means a
  * larger fraction of the table rewritten per tick — measured in
  * SCALE.md); a real DFS amortizes per-file metadata across datanodes
  * and follows the rule uncapped.
  */
object BucketedSink {

  /** The bucket count a table gets when its writer names none: the
    * sizing rule's floor. */
  val DefaultBuckets = 64

  def bucketOf(key: Column, nBuckets: Int): Column = pmod(hash(key), lit(nBuckets))

  private def manifestPath(path: String) = new Path(path, "_MANIFEST")
  private def schemaPath(path: String) = new Path(path, "_SCHEMA")

  // ---- schema evolution (add-column) ----
  // The manifest pins WHICH epoch owns each bucket; the `_SCHEMA` sidecar
  // pins the table's CURRENT logical schema. Adding a column therefore
  // costs one sidecar write: new epochs carry the new column, old
  // epochs' files are untouched, and readers project each epoch frame
  // onto the recorded schema with typed NULLs for columns that postdate
  // it — the Delta/Iceberg add-column semantics, without which a new
  // column on a 100 TB table means a full rewrite. Only ADDITIVE
  // evolution is supported: dropping or retyping a column throws loudly
  // (those DO need a rewrite, and silently narrowing a reader's view
  // would break the tick's merge contract). Tables written before the
  // sidecar existed read exactly as before (no sidecar -> no projection)
  // and pick one up on their next write.

  /** The recorded logical schema (no `__bucket`), if the table has one. */
  def readSchema(conf: Configuration, path: String): Option[StructType] =
    AtomicFile.read(conf, schemaPath(path))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  private def writeSchema(conf: Configuration, path: String, s: StructType): Unit =
    AtomicFile.replace(conf, schemaPath(path), s.json)

  private def logicalSchema(df: DataFrame): StructType =
    StructType(df.schema.filterNot(_.name == "__bucket"))

  /** Merge the recorded schema with an incremental write's: shared
    * columns must keep their exact type (retyping needs a rewrite —
    * throw); the write's NEW columns append to the record; recorded
    * columns the write OMITS stay recorded — the writer's rows get typed
    * NULLs for them (standard add-column semantics: an upstream stage
    * that predates the added column keeps ticking across the evolution
    * boundary, its rewritten rows carrying the default). Removing a
    * column permanently is a [[writeFull]] (which replaces the record
    * wholesale). */
  private def evolvedSchema(prevOpt: Option[StructType], next: StructType): StructType =
    prevOpt.fold(next) { prev =>
      prev.foreach { f =>
        next.find(_.name == f.name).foreach { g =>
          // catalogString ignores NULLABILITY, which legitimately varies
          // between a stage's analyzed plan and the parquet round-trip
          // (map value/array element containsNull) — only a real retype
          // is a rewrite-requiring change
          if (g.dataType.catalogString != f.dataType.catalogString)
            throw new IllegalStateException(
              s"schema evolution is add-column only: '${f.name}' " +
                s"retyped ${f.dataType.simpleString} -> ${g.dataType.simpleString}")
        }
      }
      StructType(prev ++ next.filterNot(f => prev.exists(_.name == f.name)))
    }

  /** Project one epoch's frame onto the recorded schema: columns the
    * epoch predates become typed NULLs; `__bucket` (when present) rides
    * along untouched. */
  private def alignTo(schema: StructType, df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    val cols = schema.map { f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ (if (have("__bucket")) Seq(col("__bucket")) else Seq.empty)
    df.select(cols: _*)
  }

  def exists(conf: Configuration, path: String): Boolean = {
    val p = manifestPath(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) true
    else {
      // a bucketed dir WITHOUT a manifest is the pre-manifest in-place
      // layout (top-level __bucket=K dirs); silently answering "no"
      // would orphan that data behind a fresh full rebuild
      val dir = new Path(path)
      if (fs.exists(dir) && fs.listStatus(dir)
          .exists(_.getPath.getName.startsWith("__bucket=")))
        throw new IllegalStateException(
          s"$path holds a legacy in-place bucket layout (no _MANIFEST); " +
            "migrate it by re-running a full write, then remove the old " +
            "top-level __bucket=* directories")
      false
    }
  }

  /** Whether a table exists at `path`, refusing one whose rows were
    * bucketed by another count: a key's bucket id would not name the
    * bucket holding its rows, so a merge would read and rewrite the wrong
    * buckets. A manifest written before the count was recorded is checked
    * only by its bucket ids. */
  def existsWith(conf: Configuration, path: String, nBuckets: Int): Boolean =
    readManifest(conf, path) match {
      case Some(m) => requireBuckets(path, m, nBuckets); true
      case None => exists(conf, path)
    }

  private def requireBuckets(path: String, m: Manifest, nBuckets: Int): Unit =
    if (!m.nBuckets.fold(m.epochs.keys.forall(_ < nBuckets))(_ == nBuckets))
      throw new IllegalStateException(
        s"$path was written with ${m.nBuckets.fold(s"more than $nBuckets")(_.toString)} " +
          s"buckets, not $nBuckets: open it with its own bucket count, or remove it " +
          "and write it again")

  /** The live bucket id → epoch dir map, and the bucket count the table
    * was written with (None in a manifest that predates the record). */
  private final case class Manifest(epochs: Map[Int, String], nBuckets: Option[Int])

  private val CountLine = "#buckets\t"

  /** The manifest, or None before the first writeFull. */
  private def readManifest(conf: Configuration, path: String): Option[Manifest] =
    AtomicFile.read(conf, manifestPath(path)).map { body =>
      val (count, lines) = body
        .split("\n").filter(_.nonEmpty).toSeq.partition(_.startsWith(CountLine))
      Manifest(
        lines.map { line =>
          val Array(b, e) = line.split("\t")
          b.toInt -> e
        }.toMap,
        count.headOption.map(_.stripPrefix(CountLine).toInt))
    }

  /** The live manifest's bucket → epoch map; a table without one is an
    * error. */
  private def liveEpochs(conf: Configuration, path: String): Map[Int, String] =
    readManifest(conf, path).getOrElse(throw new IllegalStateException(
      s"no manifest at $path")).epochs

  private def writeManifest(conf: Configuration, path: String, m: Manifest): Unit =
    AtomicFile.replace(conf, manifestPath(path),
      (m.nBuckets.map(CountLine + _) ++
        m.epochs.toSeq.sortBy(_._1).map { case (b, e) => s"$b\t$e" }).mkString("\n"))

  private def nextEpoch(conf: Configuration, path: String): String = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val n =
      if (!fs.exists(dir)) 0L
      else fs.listStatus(dir).map(_.getPath.getName)
        .collect { case e if e.startsWith("e_") => e.stripPrefix("e_").toLong + 1 }
        .foldLeft(0L)(math.max)
    s"e_$n"
  }

  /** The buckets an epoch write actually materialized (empty buckets
    * produce no partition directory). */
  private def writtenBuckets(conf: Configuration, epochDir: Path): Seq[Int] = {
    val fs = epochDir.getFileSystem(conf)
    if (!fs.exists(epochDir)) Seq.empty
    else fs.listStatus(epochDir).map(_.getPath.getName)
      .collect { case b if b.startsWith("__bucket=") => b.stripPrefix("__bucket=").toInt }
      .toSeq
  }

  /** Delete epoch dirs referenced by neither the live manifest nor the
    * previous generation (whose readers may still hold resolved plans). */
  private def purge(conf: Configuration, path: String,
      live: Map[Int, String], prev: Map[Int, String]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val keep = (live.values ++ prev.values).toSet
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("e_") && !keep.contains(n))
        fs.delete(st.getPath, true)
    }
  }

  private def conf(df: DataFrame): Configuration =
    df.sparkSession.sparkContext.hadoopConfiguration

  /** Full write: every bucket into a fresh epoch, manifest remapped
    * wholesale. Rows are hash-partitioned on the bucket id before the
    * write so each bucket directory holds ONE file — without it every
    * shuffle task writes a sliver into every bucket (tasks × buckets
    * small files, footer overhead dominating the bytes at small scale
    * and file-listing cost at large).
    *
    * INVARIANT for tables managed by [[graft.etl.Pipeline]]: every
    * mutation of such a table MUST route through Pipeline's facade
    * (writeBucketedFull / writeBucketedChanged), each of
    * which drops the purged-log `_CONSISTENT` marker before writing.
    * Calling writeFull/overwriteChanged here directly against a
    * pipeline-managed path leaves the marker intact, the next tick skips
    * its crash-recovery presence probe, and a stale purged-log entry can
    * then shield a re-voided person from the purge — a silent
    * correctness hole, not a perf issue. Direct use is for tables the
    * pipeline does not own (and tooling/specs that drop the marker
    * themselves). */
  def writeFull(df: DataFrame, path: String, keyCol: String, nBuckets: Int): Unit = {
    val c = conf(df)
    val prev = readManifest(c, path).fold(Map.empty[Int, String])(_.epochs)
    val epoch = nextEpoch(c, path)
    df.withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(new Path(path, epoch).toString)
    val manifest = writtenBuckets(c, new Path(path, epoch)).map(_ -> epoch).toMap
    // the bucket count commits with the map it keys (see existsWith)
    writeManifest(c, path, Manifest(manifest, Some(nBuckets)))
    // a full write REPLACES every bucket, so its schema simply becomes
    // the recorded one (no additivity constraint against history —
    // nothing of the old schema survives the swap). Sidecar AFTER the
    // manifest swap: a full write may DROP or retype columns, so in the
    // sidecar->manifest crash window the old manifest must keep pairing
    // with the old (still-correct) schema — the reverse order would
    // project surviving old epochs onto the narrower new schema. The
    // additive-only overwriteChanged path keeps the before-manifest
    // order (there the new schema is a superset, safe for old epochs).
    writeSchema(c, path, logicalSchema(df))
    purge(c, path, manifest, prev)
  }

  /** Incremental write: only buckets holding a touched key land in the
    * new epoch; untouched buckets keep pointing at their old epochs (the
    * files are not rewritten, or even read). `merged` must cover AT
    * LEAST the touched buckets' complete post-tick rows (so dropped rows
    * vanish from their rewritten bucket) — a caller that bucket-prunes
    * its merge input with [[readBuckets]] over the same touched set
    * satisfies this; rows of untouched buckets, present or not, are
    * ignored. `touchedKeys` is a one-column DataFrame of the keys this
    * tick changed, created, or retracted — a SUPERSET is safe (extra
    * buckets rewritten identically), a miss is not.
    */
  /** Distinct bucket ids of the given one-column key frame — ≤ nBuckets
    * ints in the driver, the same scalar class as a watermark lookup,
    * not a data materialization. */
  def collectBuckets(keys: DataFrame, nBuckets: Int): Set[Int] =
    keys.select(bucketOf(col(keys.columns.head), nBuckets).as("__bucket"))
      .distinct().collect().map(_.getInt(0)).toSet

  def overwriteChanged(
      merged: DataFrame,
      path: String,
      keyCol: String,
      nBuckets: Int,
      touchedKeys: DataFrame,
      maxEpochs: Int): Unit =
    overwriteChanged(merged, path, keyCol, nBuckets,
      collectBuckets(touchedKeys, nBuckets), maxEpochs)

  def overwriteChanged(
      merged: DataFrame,
      path: String,
      keyCol: String,
      nBuckets: Int,
      touchedKeys: DataFrame): Unit =
    overwriteChanged(merged, path, keyCol, nBuckets,
      collectBuckets(touchedKeys, nBuckets), 16)

  /** As above, with the touched-bucket set already collected — callers
    * that also bucket-prune their merge input ([[readBuckets]]) compute
    * the set once and share it. Pipeline-managed tables: see the marker
    * invariant on [[writeFull]] — route through the Pipeline facade. */
  def overwriteChanged(
      merged: DataFrame,
      path: String,
      keyCol: String,
      nBuckets: Int,
      touched: Set[Int],
      maxEpochs: Int = 16): Unit = {
    val c = conf(merged)
    val prevManifest = readManifest(c, path).getOrElse(throw new IllegalStateException(
      s"no manifest at $path — writeFull before overwriteChanged"))
    requireBuckets(path, prevManifest, nBuckets)
    val prev = prevManifest.epochs
    // a no-delta tick (common steady state) changes nothing: skip the
    // write job, the identical-manifest rewrite, and the purge
    if (touched.isEmpty) return
    // Compaction: untouched buckets keep pointing at older epochs, so
    // after K ticks a read unions up to K epoch frames. Once the live
    // manifest references `maxEpochs` epochs, fold the SMALLEST
    // maxEpochs/4 (min 1) epochs' buckets into this tick's epoch — their
    // rows come out of `merged` like any touched bucket, the same single
    // atomic manifest swap commits delta and fold together, and the
    // drained epochs purge a generation later. Smallest-first keeps the
    // per-tick fold near delta-sized (a big early full epoch is folded
    // only once organic touches have drained it below its juniors) and,
    // unlike the previous fold-everything fallback, there is never an
    // O(table) rewrite spike: each tick writes touched + the smallest
    // epochs' buckets, and the epoch count still never exceeds maxEpochs.
    val fold: Set[Int] =
      if (prev.values.toSet.size < maxEpochs) Set.empty
      else prev.groupBy(_._2).toSeq
        .map { case (e, m) => (m.size, e.stripPrefix("e_").toLong, m.keys.toSet) }
        .sortBy { case (n, eNum, _) => (n, eNum) } // size, then oldest
        .take(math.max(1, maxEpochs / 4))
        .flatMap(_._3).toSet
    val rewrite = touched ++ fold
    val epoch = nextEpoch(c, path)
    // Fold buckets OUTSIDE the touched set must come from their stored
    // epochs, never from `merged`: the contract only obliges `merged` to
    // cover the touched buckets (a bucket-pruned merge is the intended
    // O(delta) caller), and an untouched bucket's stored content IS its
    // post-tick content — so the stored read is correct for every
    // caller, while sourcing fold rows from a pruned `merged` silently
    // materialized nothing and dropped the bucket from the manifest.
    val foldOnly = fold -- touched
    // additive schema evolution: the merge may carry NEW columns (they
    // land in this epoch; older epochs' readers project them as NULLs),
    // but every recorded column must survive with its type — checked
    // loudly BEFORE any write
    val nextSchema = evolvedSchema(readSchema(c, path), logicalSchema(merged))
    val touchedPart = alignTo(nextSchema, merged)
      .withColumn("__bucket", bucketOf(col(keyCol), nBuckets))
      .filter(col("__bucket").isInCollection(touched))
    val toWrite =
      if (foldOnly.isEmpty) touchedPart
      else touchedPart.unionByName(
        // fold rows come from pre-evolution epochs: align them to the
        // NEW schema (typed NULLs for the added columns) so the fold
        // epoch carries the current shape
        alignTo(nextSchema,
          readFromManifest(merged.sparkSession, path, prev, foldOnly))
          .withColumn("__bucket", bucketOf(col(keyCol), nBuckets)))
    toWrite
      .repartition(col("__bucket")) // one file per bucket (see writeFull)
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(new Path(path, epoch).toString)
    // schema sidecar BEFORE the manifest swap: the crash window between
    // them leaves readers projecting old epochs onto the new schema
    // (harmless typed NULLs), never new epochs onto an old schema
    writeSchema(c, path, nextSchema)
    // touched buckets that materialized nothing (every row gone) drop out
    // of the manifest entirely
    val written = writtenBuckets(c, new Path(path, epoch)).map(_ -> epoch).toMap
    val manifest = (prev -- rewrite) ++ written
    writeManifest(c, path, Manifest(manifest, prevManifest.nBuckets))
    purge(c, path, manifest, prev)
  }

  /** Read the live table: resolve the manifest once, load each
    * referenced epoch's bucket directories, union. The partition column
    * is dropped — callers see the logical schema. Epochs written before
    * a column was added are projected onto the recorded schema with
    * typed NULLs (see the evolution note on [[readSchema]]). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = liveEpochs(spark.sparkContext.hadoopConfiguration, path)
    readFromManifest(spark, path, m, m.keySet)
  }

  /** Read ONLY the given buckets of the live table — the file-level prune
    * that makes an incremental merge's stored-side read O(touched
    * buckets) instead of O(table). A key's row can only live in its own
    * bucket, so a merge over a touched-key superset needs exactly these
    * directories; no other file is listed, opened, or scanned. An empty
    * selection yields an empty frame with the table's schema. */
  def readBuckets(spark: SparkSession, path: String, buckets: Set[Int]): DataFrame =
    readFromManifest(spark, path,
      liveEpochs(spark.sparkContext.hadoopConfiguration, path), buckets)

  /** A table whose every row was deleted has an empty manifest and no
    * parquet file to carry a schema: it reads as an empty frame of the
    * recorded `_SCHEMA`. A legacy table without the sidecar has none. */
  private def emptyTable(spark: SparkSession, path: String): DataFrame = {
    val schema = readSchema(spark.sparkContext.hadoopConfiguration, path).getOrElse(
      throw new IllegalArgumentException(s"bucketed table at $path is empty and records no schema"))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** The bucket-selective read against an ALREADY-RESOLVED manifest —
    * shared by [[read]], [[readBuckets]] and the compaction fold, which
    * must read fold buckets from the same manifest generation it is
    * replacing. The schema sidecar is read once, and only when some
    * epoch frame needs aligning to it. */
  private def readFromManifest(
      spark: SparkSession, path: String,
      manifest: Map[Int, String], buckets: Set[Int]): DataFrame = {
    val sel = manifest.filter { case (b, _) => buckets.contains(b) }
    lazy val align: DataFrame => DataFrame =
      readSchema(spark.sparkContext.hadoopConfiguration, path)
        .fold(identity[DataFrame] _)(s => alignTo(s, _))
    if (manifest.isEmpty) emptyTable(spark, path)
    else if (sel.isEmpty) {
      // empty selection needs only the SCHEMA — take it from one bucket
      // directory instead of read(path), which lists every bucket dir in
      // the table to build a file index that limit(0) then discards (an
      // O(table files) constant the no-delta steady tick was paying
      // several times per run)
      val (b, epoch) = manifest.minBy(_._1)
      val base = new Path(path, epoch).toString
      align(spark.read.option("basePath", base).parquet(s"$base/__bucket=$b")
        .limit(0)).drop("__bucket")
    } else sel.groupBy(_._2).toSeq.sortBy(_._1).map { case (epoch, bs) =>
      val base = new Path(path, epoch).toString
      align(spark.read.option("basePath", base)
        .parquet(bs.keys.toSeq.sorted.map(b => s"$base/__bucket=$b"): _*))
    }.reduce(_ unionByName _).drop("__bucket")
  }
}
