package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase timing for the streamed cascade (q94/q125): where do the
  * seconds go, and does the per-batch merge cost grow with accumulated
  * history? Two source regimes:
  *
  *  - `tpch`: the q94/q125 oracle fixture (every batch touches ~half the
  *    persons — a bulk-backfill shape; the bucketed sink cannot beat a
  *    rewrite when the delta IS the table, so this mode mainly shows the
  *    snapshot shape's history-proportional growth);
  *  - `clinic` (default): BenchFixtures' steady-state regime — ~2% of
  *    persons active per window, the tick bench's honest O(delta)
  *    setting — one bulk load then three 10-day delta arrivals, where
  *    the bucketed cascade's per-batch cost should sit ~flat and far
  *    below the snapshot shape's.
  *
  * Per batch it prints wall seconds, the per-stage cascadeTiming lines,
  * and bytes WRITTEN under the pipeline root (the scale-stable form of
  * the O(delta)-vs-O(table) claim at toy scale, as in PipelineBench).
  *
  * Usage:
  *   runMain graft.tools.ProfileCascade [clinic|tpch] [snapshot|bucketed|both]
  *   env: SPARK_GRAFT_SF_DIR (tpch), SPARK_GRAFT_TICK_PERSONS (clinic),
  *        SPARK_GRAFT_CPUS
  */
object ProfileCascade {

  /** Bytes of regular files under `p` modified at/after `since` — the
    * "written this batch" measure (version/epoch purging makes a plain
    * before/after size delta misleading). */
  private def bytesSince(p: java.nio.file.Path, since: Long): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .filter(f => java.nio.file.Files.getLastModifiedTime(f).toMillis >= since)
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val regime = args.headOption.getOrElse("clinic")
    val shapes = (if (args.length > 1) args(1) else "both") match {
      case "snapshot" => Seq(0)
      case "bucketed" => Seq(-1) // resolved per regime below
      case _ => Seq(0, -1)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.debug.cascadeTiming", "true")
    if (regime == "tpch") tpch(spark, shapes) else clinic(spark, shapes)
    spark.stop()
  }

  private def tpch(spark: SparkSession, shapes: Seq[Int]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cuts = graft.queries.EtlPipelineQueries.BucketedCascadeCuts
    graft.queries.EtlPipelineQueries.preparedChunks(spark, sfDir, cuts)
    shapes.map(b => if (b < 0) 128 else b).foreach { buckets =>
      val label = if (buckets == 0) "snapshot" else s"bucketed($buckets)"
      println(s"---- tpch / $label ----")
      val t0 = System.nanoTime()
      graft.queries.EtlPipelineQueries.streamedCascade(spark, sfDir, buckets, cuts)
      println(f"$label total ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
  }

  /** The steady-state regime: chunk 0 = the day-60 snapshot, then three
    * 10-day version deltas (new rows + void versions), each a separate
    * micro-batch. Source contract matches IncrementalEtlStream: a void
    * arrives as a NEW version of the same obs_id with voided=1. */
  private def clinic(spark: SparkSession, shapes: Seq[Int]): Unit = {
    val nPersons = sys.env.getOrElse("SPARK_GRAFT_TICK_PERSONS", "2000").toInt
    val buckets0 = sys.env.getOrElse("SPARK_GRAFT_TICK_BUCKETS",
      math.max(64, nPersons / 5).toString).toInt
    val src = BenchFixtures.sources(spark, nPersons)
    val days = Seq(60, 70, 80, 90)
    val chunkRoot = java.nio.file.Files.createTempDirectory("graft-profcasc-chunks")
    days.zipWithIndex.foreach { case (d, i) =>
      val t = BenchFixtures.asOf(d)
      val versions =
        if (i == 0) BenchFixtures.obsAsOf(src("obs"), t)
        else {
          val prev = lit(BenchFixtures.asOf(days(i - 1)))
          BenchFixtures.obsAsOf(src("obs"), t).filter(
            col("date_created") > prev ||
              (col("voided") === 1 && col("date_voided") > prev))
        }
      versions.write.mode("overwrite")
        .parquet(chunkRoot.resolve(s"chunk_$i").toString)
    }
    val person = src("person")
    val orders = BenchFixtures.ordersAsOf(src("orders"), BenchFixtures.asOf(60))
    shapes.map(b => if (b < 0) buckets0 else b).foreach { buckets =>
      val label = if (buckets == 0) "snapshot" else s"bucketed($buckets)"
      println(s"---- clinic($nPersons persons) / $label ----")
      val root = java.nio.file.Files.createTempDirectory("graft-profcasc")
      val obsDir = root.resolve("obs")
      val tables = root.resolve("tables")
      val pipe = new graft.etl.Pipeline(spark, tables.toString,
        if (buckets > 0) Some(buckets) else None)
      days.indices.foreach { i =>
        graft.queries.EtlPipelineQueries.copyDir(chunkRoot.resolve(s"chunk_$i"), obsDir.resolve(s"chunk_$i"))
        val enc = BenchFixtures.encAsOf(src("encounter"), BenchFixtures.asOf(days(i)))
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val b0 = graft.streaming.IncrementalEtlStream.fsBytesRead
        graft.streaming.IncrementalEtlStream.runCascadeOnce(
          spark, obsDir.toString, enc, orders, person, pipe,
          root.resolve("ckpt").toString)
        val secs = (System.nanoTime() - t0) / 1e9
        val opened = graft.streaming.IncrementalEtlStream.fsBytesRead - b0
        println(f"batch $i%d  ${secs}%6.2f s   wrote ${bytesSince(tables, wall0) / 1024}%8d KiB" +
          f"   opened ${opened / 1024}%8d KiB")
        // post-backfill compaction recipe (SCALE.md): the bulk batch
        // defers its version-log layout (a backfill's own bucketing buys
        // no prune); folding it eagerly here keeps the FIRST steady tick
        // delta-sized instead of paying the fold inline. Timed as its
        // own line — it is operator-scheduled work, not tick work.
        if (i == 0 && buckets > 0) {
          val f0 = System.nanoTime()
          graft.sources.BucketedLog.fold(spark, pipe.versionLogPath,
            "person_id", buckets, graft.etl.Schemas.obs)
          println(f"post-backfill fold  ${(System.nanoTime() - f0) / 1e9}%6.2f s")
        }
      }
    }
  }

}
