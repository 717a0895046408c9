package graft.etl

import org.apache.spark.sql.SparkSession

/** CLI parity with the reference's run order (README.md:4-9 — repeated
  * `CALL generate_*()` invocations): one invocation = one incremental tick
  * of all five stages over a source snapshot directory.
  *
  * Usage: runMain graft.etl.RunPipeline <sourceDir> <outputDir>
  *   sourceDir — parquet snapshots: obs, encounter, orders, person
  *   outputDir — the flat tables + flat_log watermark store (created on
  *               first run; subsequent runs are incremental)
  *
  * With no args, runs a self-contained demo on the generated OpenMRS-shaped
  * fixture into a temp dir. The demo's fresh root is written with 8
  * buckets per table, sized to its 200 persons; a CLI output root gets
  * the [[Pipeline]] default and keeps the count it was first written
  * with.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (obs, enc, orders, person, outDir, buckets) = args match {
      case Array(src, out) =>
        (spark.read.parquet(s"$src/obs.parquet"),
          spark.read.parquet(s"$src/encounter.parquet"),
          spark.read.parquet(s"$src/orders.parquet"),
          spark.read.parquet(s"$src/person.parquet"),
          out, None)
      case _ =>
        val fx = OpenMrsFixture.generate(spark, nPersons = 200)
        val out = java.nio.file.Files.createTempDirectory("graft-flat").toString
        println(s"[demo mode] generated fixture; output -> $out")
        (fx("obs"), fx("encounter"), fx("orders"), fx("person"), out, Some(8))
    }

    val t0 = System.currentTimeMillis()
    val pipe = new Pipeline(spark, outDir, buckets)
    pipe.tick(obs, enc, orders, person)
    val secs = (System.currentTimeMillis() - t0) / 1000.0
    Seq("flat_obs", "flat_orders", "flat_lab_obs", "flat_visit_summary",
      "flat_latest_hiv_summary").foreach { t =>
      println(f"$t%-26s ${pipe.readFlat(t).get.count()}%8d rows")
    }
    println(f"pipeline tick completed in $secs%.1f s")
    spark.stop()
  }
}
