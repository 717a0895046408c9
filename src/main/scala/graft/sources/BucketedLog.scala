package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.operators.BucketedSink

/** Append-only version log partitioned by key bucket — the cascade's
  * answer to "read only the touched persons' HISTORY, in bytes opened,
  * not just in rows kept".
  *
  * [[graft.sources.ChangeFeed]] prunes by TIME (day partitions: "what
  * changed since the watermark"); this log prunes by KEY (hash buckets:
  * "every version this person ever had"). The streamed cascade needs the
  * latter for retraction recompute — rebuilding a touched person's groups
  * requires all their surviving versions, and with the source directory
  * as one flat file pile that read was an O(accumulated log) scan every
  * micro-batch even though the plan kept only the touched persons' rows.
  * Bucketing the log by `pmod(hash(person_id), N)` turns it into an
  * O(touched buckets' history) directory-pruned read, the same
  * file-level discipline [[graft.operators.BucketedSink.readBuckets]]
  * applies to the stored flat tables.
  *
  * ==Adaptive materialization (deferred appends)==
  *
  * Writing every version a second time, co-located by bucket, only pays
  * off when later reads PRUNE. A bulk backfill (or any batch touching
  * most buckets) gets no prune from its own layout — every subsequent
  * dense read opens everything anyway — so for such batches the log
  * records a RESIDUE POINTER (a tiny manifest naming the batch's source
  * parquet files, which the streaming source retains) instead of
  * rewriting the rows. The first SPARSE batch — the first one whose
  * reads would actually benefit from pruning — FOLDS the accumulated
  * residue into bucket directories (one bulk write, the cost the dense
  * batches deferred) and from then on the steady regime is O(delta):
  * KiB-scale appends, directory-pruned reads. Deployments that know a
  * backfill just finished can run the fold eagerly via [[fold]] (the
  * post-backfill compaction recipe in SCALE.md) so the first steady tick
  * stays delta-sized; the adaptive policy merely makes that recovery
  * automatic when nobody does.
  *
  * Layout: `path/__bucket=<b>/part-*.parquet` (plain directory append)
  * plus `path/_residue/<md5-of-file-list>.txt` pointer manifests. Each
  * append lands one file per touched bucket (rows are co-located by
  * bucket before the write, the same small-files rule as
  * `ChangeFeed.append`), so file count grows with batches x delta
  * buckets; a real deployment compacts old appends per bucket
  * periodically — compaction is a pure rewrite (the log is a set of
  * version rows; readers tolerate any file arrangement) and needs no
  * coordination with readers beyond the usual atomic-rename discipline.
  *
  * At-least-once appenders (foreachBatch replay after a crash) may land
  * the same version rows twice, and a crash between a fold's bucket
  * write and its residue-manifest cleanup replays the fold's rows once
  * more. That is deliberate: consumers go through a
  * latest-version-per-key window (`IncrementalEtlStream.currentState`)
  * for which exact duplicate rows are ties broken among identical
  * contents — append-first-then-process makes every crash window safe
  * with no transactional machinery. Residue manifests are named by the
  * md5 of their sorted file list, so a replayed defer overwrites itself.
  */
object BucketedLog {

  private val BucketCol = "__bucket"
  private val ResidueDir = "_residue"

  def exists(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).exists(p)
  }

  /** Append `df` if the batch is sparse (its keys touch at most
    * `denseFraction` of the buckets — the regime where bucketed layout
    * buys pruned reads), folding any accumulated residue first; defer it
    * as a residue pointer to `sourceFiles` otherwise. Falls back to a
    * real append when the caller could not determine the batch's source
    * files (a pointer needs something to point at). `touched` is the
    * batch's own key-bucket set (compute with
    * [[BucketedSink.collectBuckets]] over the key column). */
  def appendOrDefer(
      df: DataFrame, path: String, keyCol: String, nBuckets: Int,
      touched: Set[Int], sourceFiles: Seq[String], schema: StructType,
      denseFraction: Double = 0.25): Unit = {
    if (touched.size > nBuckets * denseFraction && sourceFiles.nonEmpty)
      defer(df.sparkSession, path, sourceFiles)
    else {
      fold(df.sparkSession, path, keyCol, nBuckets, schema)
      append(df, path, keyCol, nBuckets)
    }
  }

  /** Record a residue pointer: the batch's rows live in `sourceFiles`
    * (retained by the streaming source); readers union them unpruned
    * until [[fold]] materializes them into buckets. Idempotent — the
    * manifest name is the md5 of the sorted file list. */
  def defer(spark: SparkSession, path: String, sourceFiles: Seq[String]): Unit = {
    val body = sourceFiles.sorted.mkString("\n")
    val name = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val dir = new Path(new Path(path), ResidueDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, s"$name.txt"), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Materialize all residue into bucket directories (one bulk write —
    * the cost the deferring batches skipped), then drop the pointers.
    * No-op when there is no residue. A crash between the bucket write
    * and the pointer cleanup replays the rows into the log once more —
    * tolerated, see the class doc. Exposed for the post-backfill
    * compaction recipe; [[appendOrDefer]] invokes it automatically on
    * the first sparse batch. */
  def fold(
      spark: SparkSession, path: String, keyCol: String, nBuckets: Int,
      schema: StructType): Unit = {
    val files = residueFiles(spark, path)
    if (files.isEmpty) return
    append(spark.read.schema(schema).parquet(files.map(_._2).flatten: _*),
      path, keyCol, nBuckets)
    val dir = new Path(new Path(path), ResidueDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach { case (manifest, _) => fs.delete(manifest, false) }
  }

  /** (manifest path, listed parquet files) per residue pointer. */
  private def residueFiles(
      spark: SparkSession, path: String): Seq[(Path, Seq[String])] = {
    val dir = new Path(new Path(path), ResidueDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".txt"))
      .sortBy(_.getPath.getName).map { st =>
        val in = fs.open(st.getPath)
        val body = try {
          val buf = new Array[Byte](st.getLen.toInt)
          in.readFully(buf); new String(buf, StandardCharsets.UTF_8)
        } finally in.close()
        (st.getPath, body.split('\n').toSeq.filter(_.nonEmpty))
      }
  }

  private def append(df: DataFrame, path: String, keyCol: String, nBuckets: Int): Unit =
    df.withColumn(BucketCol, BucketedSink.bucketOf(col(keyCol), nBuckets))
      // co-locate each bucket's rows so the write lands one file per
      // touched bucket instead of tasks x buckets slivers
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("append").parquet(path)

  /** All version rows of the given buckets — pruned at the DIRECTORY
    * level: bucket directory names are deterministic, so the selected
    * paths are constructed (existence-checked, not listed) and only they
    * are handed to the reader; no file index over the rest of the log is
    * ever built. A bucket directory may be absent (no key of that bucket
    * has any version yet) — absent directories contribute nothing.
    * Unfolded residue is unioned UNPRUNED (it is dense by construction —
    * only batches touching most buckets defer — so bucket pruning would
    * buy ~nothing on it; callers key-filter the result anyway). The
    * result may therefore over-approximate by other buckets' rows, which
    * the contract permits. `schema` supplies the frame shape when every
    * selected bucket is absent. */
  def readBuckets(
      spark: SparkSession, path: String, buckets: Set[Int],
      schema: StructType): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = buckets.toSeq.sorted
      .map(b => new Path(root, s"$BucketCol=$b"))
      .filter(fs.exists)
    val bucketed =
      if (dirs.isEmpty) None
      else Some(spark.read.option("basePath", path)
        .parquet(dirs.map(_.toString): _*)
        .drop(BucketCol))
    val residue = residueFiles(spark, path).flatMap(_._2) match {
      case Nil => None
      case fs0 => Some(spark.read.schema(schema).parquet(fs0: _*))
    }
    (bucketed, residue) match {
      case (Some(b), Some(r)) => b.unionByName(r)
      case (Some(b), None) => b
      case (None, Some(r)) => r
      case (None, None) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }
}
