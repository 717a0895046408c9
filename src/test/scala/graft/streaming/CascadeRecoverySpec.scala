package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders, FlatVisitSummary}
import graft.queries.EtlPipelineQueries

/** The bucketed cascade's five first-batch full writes are not atomic as
  * a group; a crash between them leaves a PREFIX of tables on disk, and
  * the checkpoint then re-delivers the batch. This spec simulates that
  * exact state (first batch applied, then two tables erased) and
  * requires the replay to heal it — re-running the full builds — and
  * the subsequent incremental batches to land on the healed state with
  * full batch parity. Before the all-five-tables guard, the replay
  * threw on the missing manifests forever.
  */
class CascadeRecoverySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def sig(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted
    val r = df.select(hash(cols.toIndexedSeq.map(col): _*).cast("long").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).first()
    (r.getLong(0), r.getLong(1))
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally s.close()
  }

  test("replay after a mid-first-batch crash heals and stays batch-equivalent") {
    val cuts = EtlPipelineQueries.BucketedCascadeCuts
    val (obs, encounter, orderRows, person) =
      EtlPipelineQueries.cascadeInputs(spark, dir)
    val chunks = EtlPipelineQueries.preparedChunks(spark, dir, cuts)
    val root = java.nio.file.Files.createTempDirectory("graft-recovery")
    val obsDir = root.resolve("obs")
    val tables = root.resolve("tables")
    val pipe = new graft.etl.Pipeline(spark, tables.toString, Some(16))

    // batch 0: the bulk arrival, fully applied
    EtlPipelineQueries.copyDir(
      java.nio.file.Paths.get(chunks, "chunk_0"), obsDir.resolve("chunk_0"))
    IncrementalEtlStream.runCascadeOnce(spark, obsDir.toString, encounter,
      orderRows, person, pipe, root.resolve("ckpt1").toString)

    // simulated crash state: the last two stage writes never happened
    rmTree(tables.resolve("flat_visit_summary"))
    rmTree(tables.resolve("flat_latest_hiv_summary"))
    assert(pipe.readFlat("flat_visit_summary").isEmpty)

    // checkpoint replay of the same batch (fresh checkpoint re-delivers
    // chunk_0): must rebuild ALL five tables, not throw on the missing
    // manifests
    IncrementalEtlStream.runCascadeOnce(spark, obsDir.toString, encounter,
      orderRows, person, pipe, root.resolve("ckpt2").toString)
    assert(pipe.readFlat("flat_visit_summary").isDefined)

    // the healed state takes the remaining arrivals incrementally
    Seq(1, 2).foreach { i =>
      EtlPipelineQueries.copyDir(
        java.nio.file.Paths.get(chunks, s"chunk_$i"), obsDir.resolve(s"chunk_$i"))
      IncrementalEtlStream.runCascadeOnce(spark, obsDir.toString, encounter,
        orderRows, person, pipe, root.resolve("ckpt2").toString)
    }

    val batchFlatObs = FlatObs.build(obs, encounter, person)
    val batchOrders = FlatOrders.build(orderRows, encounter, person)
    val batchVs = FlatVisitSummary.build(batchFlatObs, batchOrders, person)
    Seq(
      "flat_obs" -> (() => batchFlatObs),
      "flat_lab_obs" -> (() => FlatLabObs.build(obs, person)),
      "flat_visit_summary" -> (() => batchVs),
      "flat_latest_hiv_summary" -> (() => FlatLatestHivSummary.build(batchVs))
    ).foreach { case (name, batch) =>
      assert(sig(pipe.readFlat(name).get) == sig(batch()),
        s"recovered $name diverged from the batch build")
    }
  }
}
