package graft.sources

import java.sql.{DriverManager, Timestamp}
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Exercises the JDBC read path (the reference's actual deployment mode,
  * flat_obs_v1.0.sql:60) against an embedded Derby database: the
  * partitioned read must land `numPartitions` tasks and the watermark
  * delta predicate must be PUSHED to the database, not evaluated in Spark.
  */
class JdbcSourceSpec extends SparkSuite {

  private val url = "jdbc:derby:memory:graftJdbc;create=true"

  private def ts(s: String) = Timestamp.valueOf(s)

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE SCHEMA openmrs")
    st.execute(
      """CREATE TABLE openmrs.encounter (
        |  encounter_id INT NOT NULL PRIMARY KEY,
        |  patient_id INT,
        |  encounter_datetime TIMESTAMP,
        |  encounter_type INT,
        |  date_created TIMESTAMP,
        |  voided INT)""".stripMargin)
    val ins = conn.prepareStatement(
      "INSERT INTO openmrs.encounter VALUES (?, ?, ?, ?, ?, ?)")
    (1 to 200).foreach { i =>
      ins.setInt(1, i)
      ins.setInt(2, i % 40)
      ins.setTimestamp(3, ts("2015-01-01 09:00:00"))
      ins.setInt(4, if (i % 2 == 0) 21 else 22)
      // half the rows before the watermark, half after
      ins.setTimestamp(5,
        if (i <= 100) ts("2015-01-01 12:00:00") else ts("2015-03-01 12:00:00"))
      ins.setInt(6, 0)
      ins.addBatch()
    }
    ins.executeBatch()
    conn.close()
  }

  test("partitioned JDBC read: numPartitions tasks, watermark predicate pushed") {
    val cfg = OpenMrsSource.JdbcConfig(url, user = "", password = "", numPartitions = 8)
    val df = OpenMrsSource.jdbc(spark, cfg, "encounter",
      partitionColumn = "encounter_id", lowerBound = 1L, upperBound = 201L)

    // the partition split must reach the scan: 8 parallel range queries
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 200)

    // watermark delta: the filter must be pushed into the JDBC scan
    val wm = ts("2015-02-01 00:00:00")
    val delta = df.filter(col("date_created") > lit(wm))
    val physical = delta.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters"))
    assert(physical.toLowerCase.contains("greaterthan(date_created"))
    assert(delta.count() == 100)

    // and the pushed scan still partitions
    assert(delta.rdd.getNumPartitions == 8)
  }

  test("JDBC source feeds a stage end-to-end") {
    val cfg = OpenMrsSource.JdbcConfig(url, user = "", password = "", numPartitions = 4)
    val enc = OpenMrsSource.jdbc(spark, cfg, "encounter",
      partitionColumn = "encounter_id", lowerBound = 1L, upperBound = 201L)
    // clinical-encounter filter + projection, the shape every stage applies
    val clinical = enc.filter(col("encounter_type").isin(21, 22) && col("voided") === 0)
      .select("encounter_id", "patient_id", "encounter_type")
    assert(clinical.count() == 200)
    assert(clinical.select(countDistinct(col("patient_id"))).first().getLong(0) == 40)
  }

  test("FlatObs build + incremental over real JDBC rows == in-memory source") {
    import graft.etl.{FlatObs, Horizons, OpenMrsFixture}
    import java.sql.Timestamp
    val dbUrl = "jdbc:derby:memory:graftJdbcE2e;create=true"
    // real OpenMRS-shaped fixture, loaded through REAL JDBC writes (Spark's
    // JDBC sink creates the tables and batches inserts over a connection),
    // then read back through the partitioned production reader — the full
    // round trip the parquet-snapshot deployment skips
    val fx = OpenMrsFixture.generate(spark, nPersons = 25, seed = 11L)
    DriverManager.getConnection(dbUrl).createStatement()
      .execute("CREATE SCHEMA openmrs")
    def writeJdbc(name: String): Unit =
      fx(name).write.format("jdbc")
        .option("url", dbUrl).option("dbtable", s"openmrs.$name")
        .mode("overwrite").save()
    Seq("obs", "encounter", "person").foreach(writeJdbc)

    val cfg = OpenMrsSource.JdbcConfig(dbUrl, user = "", password = "",
      numPartitions = 4)
    val jObs = OpenMrsSource.jdbc(spark, cfg, "obs", "obs_id", 1L, 100000L)
    val jEnc = OpenMrsSource.jdbc(spark, cfg, "encounter", "encounter_id", 1L, 10000L)
    val jPerson = OpenMrsSource.jdbc(spark, cfg, "person", "person_id", 1L, 1000L)

    // source-visibility-at-t filters, as in IncrementalEquivalenceSpec
    def obsAsOf(obs: org.apache.spark.sql.DataFrame, t: Timestamp) =
      obs.filter(col("date_created") <= lit(t))
        .withColumn("voided",
          when(col("voided") === 1 && col("date_voided") <= lit(t), 1).otherwise(0))
        .withColumn("date_voided", when(col("voided") === 1, col("date_voided")))
    def encAsOf(enc: org.apache.spark.sql.DataFrame, t: Timestamp) =
      enc.filter(col("date_created") <= lit(t))
        .withColumn("date_changed",
          when(col("date_changed") <= lit(t), col("date_changed")))

    val cut1 = ts("2015-02-15 00:00:00")
    val cut2 = ts("2015-06-01 00:00:00")
    def drive(obs: org.apache.spark.sql.DataFrame,
        enc: org.apache.spark.sql.DataFrame,
        person: org.apache.spark.sql.DataFrame): Seq[String] = {
      val base = FlatObs.build(obsAsOf(obs, cut1), encAsOf(enc, cut1), person)
      val ticked = FlatObs.incremental(
        base, obsAsOf(obs, cut2), encAsOf(enc, cut2), person, Horizons.at(cut1))
      ticked.orderBy(ticked.columns.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq
    }
    val viaJdbc = drive(jObs, jEnc, jPerson)
    val viaMemory = drive(fx("obs"), fx("encounter"), fx("person"))
    assert(viaJdbc.nonEmpty && viaJdbc == viaMemory,
      s"JDBC-sourced flat_obs diverged: ${viaJdbc.size} vs ${viaMemory.size} rows")
  }
}
