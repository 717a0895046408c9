package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.load
import graft.etl.{FlatLabObs, FlatLatestHivSummary, FlatObs, FlatOrders, FlatVisitSummary, Schemas}

/** End-to-end checks of the ETL stages themselves, driven through the real
  * stage code on an EAV mapping of the TPC-H fixtures:
  * lineitem rows → obs (concept = partkey, value_numeric = quantity),
  * orders → encounters, customer → persons. The DuckDB oracle replays the
  * stage semantics in SQL, so the full pipeline — typed-value rendering,
  * fake visit ids, map ordering, canonical schema — is hash-checked, not
  * just the individual operators.
  */
object EtlPipelineQueries {

  /** Map fixtures → OpenMRS-shaped sources (deterministic, no RNG). */
  private def eavSources(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val obs = li.join(o.select(col("o_orderkey"), col("o_custkey")),
      col("l_orderkey") === col("o_orderkey"))
      .select(
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("obs_id"),
        col("o_custkey").cast("int").as("person_id"),
        col("l_orderkey").cast("int").as("encounter_id"),
        col("l_partkey").cast("int").as("concept_id"),
        col("l_shipdate").as("obs_datetime"),
        lit(null).cast("int").as("value_coded"),
        col("l_quantity").as("value_numeric"),
        lit(null).cast("timestamp").as("value_datetime"),
        lit(null).cast("int").as("value_boolean"),
        lit(null).cast("string").as("value_text"),
        lit(null).cast("int").as("value_drug"),
        lit(null).cast("string").as("value_modifier"),
        col("l_shipdate").as("date_created"),
        lit(0).as("voided"),
        lit(null).cast("timestamp").as("date_voided"))
    val encounter = o.select(
      col("o_orderkey").cast("int").as("encounter_id"),
      col("o_custkey").cast("int").as("patient_id"),
      lit(null).cast("int").as("visit_id"), // all fake → deterministic minting
      col("o_orderdate").as("encounter_datetime"),
      when(col("o_orderstatus") === "F", 21).when(col("o_orderstatus") === "O", 22)
        .otherwise(35).as("encounter_type"),
      lit(1).as("location_id"),
      col("o_orderdate").as("date_created"),
      lit(null).cast("timestamp").as("date_changed"),
      lit(0).as("voided"))
    val person = c.select(
      col("c_custkey").cast("int").as("person_id"),
      col("c_name").as("uuid"),
      (col("c_custkey") % 97 === 0).cast("int").as("voided"))
    (obs, encounter, person)
  }

  // ---- q56 scaffolding: the visit-summary decode projection driven from
  // one code table, so the Spark input obs-string and the DuckDB oracle's
  // expected labels derive from the same source and cannot drift. ----

  /** Per decoded concept: candidate codes + which modular key picks one
    * ("o" = o_orderkey, "c" = o_custkey). Code index = key % codes.size. */
  private val conceptPicks: Seq[(Int, Seq[Int], String)] = Seq(
    (374, Seq(190, 6495, 780, 5279, 1713), "o"),
    (1048, Seq(1065, 1066, 1175), "c"),
    (1151, Seq(5526, 1708, 6046), "o"),
    (1272, Seq(1107, 5488, 1356, 5483, 5485), "c"),
    (1353, Seq(1356, 1354, 6767, 1360, 1357), "c"),
    (1363, Seq(1065, 1066, 1175), "o"),
    (1565, Seq(1427, 1066, 92), "o"),
    (1571, Seq(628, 814, 6285, 6286, 797, 802), "c"),
    (1836, Seq(1065, 1066, 6765, 50), "c"),
    (5271, Seq(1065, 1066, 6765), "o"),
    (6150, Seq(1066, 6182, 6183, 6151), "o"),
    (6171, Seq(1413, 6169, 1410, 6168), "c"),
    (6175, Seq(1107, 5978, 512, 620), "c"),
    (6181, Seq(6180, 6090, 1505, 105), "o"),
    (6758, Seq(1447, 6757, 6765, 6368), "c"),
    (6760, Seq(1384, 1385, 1386, 1175), "o"),
    (6761, Seq(1384, 1385, 1386, 1175), "c"),
    (6780, Seq(1065, 1066, 1175), "c"),
    (6781, Seq(1065, 1066, 1175), "o"),
    (6784, Seq(1065, 1066), "o"),
    (6785, Seq(1065, 1066, 1175), "c"),
    (6794, Seq(6790, 1852), "o"))

  /** Decoded output column → (concept, decode table). 6760 feeds two
    * columns (cur_arv_adherence and arvs_adherence use different label
    * sets over the same entry — flat_visit_summary_v1.0.sql:231 vs :352). */
  private val decodedCols: Seq[(String, Int, Seq[(String, String)])] = Seq(
    ("patient_source", 1353, FlatVisitSummary.patientSource),
    ("cur_arv_adherence", 6760, FlatVisitSummary.curArvAdherence),
    ("pregnant", 1836, FlatVisitSummary.pregnant),
    ("fp_status", 5271, FlatVisitSummary.fpStatus),
    ("fp_method", 374, FlatVisitSummary.fpMethod),
    ("why_not_on_fp", 6758, FlatVisitSummary.whyNotOnFp),
    ("tb_status", 6150, FlatVisitSummary.tbStatus),
    ("side_effects", 6175, FlatVisitSummary.sideEffects),
    ("who_stage", 6794, FlatVisitSummary.whoStage),
    ("ctx_adherence", 6761, FlatVisitSummary.ctxAdherence),
    ("ctx_dispensed", 1565, FlatVisitSummary.ctxDispensed),
    ("inh_dispensed", 6785, FlatVisitSummary.inhDispensed),
    ("other_medications_dispensed", 6784, FlatVisitSummary.otherMedsDispensed),
    ("arvs_adherence", 6760, FlatVisitSummary.arvsAdherence),
    ("why_arvs_adherence_poor", 6171, FlatVisitSummary.whyArvsAdherencePoor),
    ("currentregmen", 1571, FlatVisitSummary.currentRegimen),
    ("refferal_hospitalized", 1272, FlatVisitSummary.refferalHospitalized),
    ("breastfing_mode", 1151, FlatVisitSummary.breastfingMode),
    ("at_risk_population", 6181, FlatVisitSummary.atRiskPopulation),
    ("pwp_disclosure", 1048, FlatVisitSummary.pwpDisclosure),
    ("pwp_partner_tested", 1363, FlatVisitSummary.pwpPartnerTested),
    ("condoms_dispensed", 6781, FlatVisitSummary.condomsDispensed),
    ("sti_screened", 6780, FlatVisitSummary.stiScreened))

  /** First-match label, mirroring regexpDecode's searched-CASE order (so
    * the who_stage duplicate-code arms resolve the same way). */
  private def label(concept: Int, code: Int, table: Seq[(String, String)]): String =
    table.find(_._1 == s"$concept=$code").map(_._2)
      .getOrElse(sys.error(s"no decode arm $concept=$code"))

  private def keyCol(key: String): Column =
    if (key == "o") col("o_orderkey") else col("o_custkey")
  private def keySql(key: String): String =
    if (key == "o") "o_orderkey" else "o_custkey"

  /** The code picked for a concept by the modular key, as a string. */
  private def pickedCode(codes: Seq[Int], key: String): Column =
    codes.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (cd, i)) =>
        when(keyCol(key) % codes.size === i, lit(cd.toString)).otherwise(acc)
    }

  /** Spark side: one obs-map entry per decoded concept, code chosen by the
    * modular key. */
  private def entryCol(concept: Int, codes: Seq[Int], key: String): Column =
    concat(lit(s"!!$concept="), pickedCode(codes, key), lit("!!"))

  /** Oracle side: expected label as a CASE over the same modular key. */
  private def labelCaseSql(colName: String, concept: Int,
      table: Seq[(String, String)]): String = {
    val (_, codes, key) = conceptPicks.find(_._1 == concept).get
    val whens = codes.zipWithIndex.map { case (cd, i) =>
      s"WHEN $i THEN '${label(concept, cd, table).replace("'", "''")}'"
    }.mkString(" ")
    s"CASE ${keySql(key)} % ${codes.size} $whens END AS $colName"
  }

  /** The q56/q73/q109 oracle: expected visit-summary output recomputed
    * from the same modular-key code tables the Spark inputs derive from.
    * Shared verbatim by the stage build (q56, q73) and the bare decode
    * projection (q109).
    */
  private val visitSummaryOracle: String =
    s"""SELECT CAST(o_custkey AS INT) person_id, c_name uuid,
       |  CAST(o_orderkey*10 AS INT) visit_id, CAST(o_orderkey AS INT) encounter_id,
       |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) encounter_datetime,
       |  CASE WHEN o_orderstatus='F' THEN 21 ELSE 22 END encounter_type,
       |  CAST(1 AS INT) is_clinical_encounter,
       |  CAST(1 + o_orderkey % 5 AS INT) location_id,
       |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) enrollment_date,
       |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) hiv_start_date,
       |  CAST(50 + o_orderkey % 70 AS VARCHAR) weight,
       |  CAST(150 + o_custkey % 40 AS VARCHAR) height,
       |  CASE WHEN o_orderkey % 2 = 0 THEN 'Yes' ELSE 'No' END cd4_cd4percentage_done,
       |  CASE WHEN o_orderkey % 3 = 0 THEN 'Yes' ELSE 'No' END hgb_done,
       |  CASE WHEN o_orderkey % 5 = 0 THEN 'Yes' ELSE 'No' END rpr_done,
       |  CASE WHEN o_orderkey % 7 = 0 THEN 'Yes' ELSE 'No' END tb_sputum_done,
       |  CASE WHEN o_orderkey % 11 = 0 THEN 'Yes' ELSE 'No' END other_test_done,
       |  CASE WHEN o_orderkey % 4 = 0 THEN 'PMTCT/PPCT' END pmtct_ppct,
       |  CASE WHEN o_orderkey % 6 = 0 THEN '' END no_of_day_hospitalized,
       |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) tca,
       |  ${decodedCols.map { case (n, cpt, t) => labelCaseSql(n, cpt, t) }
           .mkString(",\n       |  ")}
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderstatus IN ('F', 'O')""".stripMargin

  /** The q56/q109 STRING fixture: the flat_obs scaffold carrying the
    * encoded obs string (the reference's interface). */
  private[graft] def visitSummaryStringInput(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val entries: Seq[Column] =
      conceptPicks.map { case (cpt, codes, key) => entryCol(cpt, codes, key) } ++ Seq(
        when(col("o_orderkey") % 2 === 0, lit("!!1271=5497!!")),
        when(col("o_orderkey") % 3 === 0, lit("!!1271=21!!")),
        when(col("o_orderkey") % 5 === 0, lit("!!1271=1569!!")),
        when(col("o_orderkey") % 7 === 0, lit("!!1271=1883!!")),
        when(col("o_orderkey") % 11 === 0, lit("!!1271=5622!!")),
        when(col("o_orderkey") % 4 === 0, lit("!!1592=1405!!")),
        when(col("o_orderkey") % 6 === 0, lit("!!1534=3!!")),
        concat(lit("!!6743="),
          (lit(50) + col("o_orderkey") % 70).cast("string"), lit("!!")),
        concat(lit("!!6744="),
          (lit(150) + col("o_custkey") % 40).cast("string"), lit("!!")),
        concat(lit("!!6746="),
          to_date(col("o_orderdate")).cast("string"), lit("!!")),
        concat(lit("!!5096="),
          date_add(to_date(col("o_orderdate")), 30).cast("string"), lit("!!")))
    visitSummaryBase(o)
      .withColumn("obs", concat_ws(" ## ", entries: _*))
      .drop("o_orderkey", "o_custkey", "o_orderdate")
  }

  /** The q56/q73 flat_obs scaffold minus the obs column(s). */
  private def visitSummaryBase(o: DataFrame): DataFrame = o.select(
    col("o_custkey").cast("int").as("person_id"),
    (col("o_orderkey") * 10).cast("int").as("visit_id"),
    col("o_orderkey").cast("int").as("encounter_id"),
    to_date(col("o_orderdate")).cast("timestamp").as("encounter_datetime"),
    when(col("o_orderstatus") === "F", 21)
      .when(col("o_orderstatus") === "O", 22).otherwise(35).as("encounter_type"),
    (lit(1) + col("o_orderkey") % 5).cast("int").as("location_id"),
    col("o_orderkey"), col("o_custkey"), col("o_orderdate"))

  private def visitSummaryOrders(o: DataFrame): DataFrame = o.select(
    col("o_orderkey").cast("int").as("encounter_id"),
    concat(lit("ord-"), col("o_orderkey")).as("orders"))

  /** The OpenMRS-shaped orders source (q54's mapping), shared with the
    * q94 streamed cascade. */
  private def eavOrderRows(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    li.join(o.select(col("o_orderkey"), col("o_custkey")),
      col("l_orderkey") === col("o_orderkey"))
      .select(
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("order_id"),
        col("o_custkey").cast("int").as("patient_id"),
        col("l_orderkey").cast("int").as("encounter_id"),
        (lit(1000) + col("l_partkey") % 50).cast("int").as("concept_id"),
        col("l_shipdate").as("date_created"),
        when(col("l_suppkey") % 11 === 0, 1).otherwise(0).as("voided"),
        lit(null).cast("timestamp").as("date_voided"))
  }

  /** The full flat_obs stage's oracle — shared by q43 (batch) and q94
    * (the streamed cascade's final flat_obs must equal the batch stage
    * over the same total input). */
  private val flatObsStageOracle =
    """WITH obs AS (
        |  SELECT CAST(l_orderkey*8+l_linenumber AS INT) obs_id, CAST(o_custkey AS INT) person_id,
        |         CAST(l_orderkey AS INT) encounter_id, CAST(l_partkey AS INT) concept_id,
        |         l_shipdate obs_datetime, l_quantity value_numeric, l_shipdate date_created
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_orderkey > 0),  -- the stage keeps encounter_id > 0 only (flat_obs_v1.0.sql:204)
        |enc AS (SELECT CAST(o_orderkey AS INT) encounter_id, o_orderdate,
        |               CASE WHEN o_orderstatus='F' THEN 21 WHEN o_orderstatus='O' THEN 22 ELSE 35 END etype
        |        FROM orders),
        |flat AS (
        |  SELECT o.encounter_id,
        |    max(o.person_id) AS person_id,
        |    CAST(10000000 + o.encounter_id AS INT) AS visit_id,
        |    max(e.o_orderdate) AS encounter_datetime,
        |    max(e.etype) AS encounter_type,
        |    1 AS location_id,
        |    string_agg('!!' || concept_id || '=' ||
        |               regexp_replace(regexp_replace(CAST(CAST(value_numeric AS DECIMAL(30,10)) AS VARCHAR), '0+$', ''), '\.$', '') || '!!',
        |               ' ## ' ORDER BY concept_id,
        |                        regexp_replace(regexp_replace(CAST(CAST(value_numeric AS DECIMAL(30,10)) AS VARCHAR), '0+$', ''), '\.$', '')) AS obs,
        |    string_agg('!!' || concept_id || '=' || CAST(CAST(obs_datetime AS DATE) AS VARCHAR) || '!!',
        |               ' ## ' ORDER BY concept_id,
        |                        regexp_replace(regexp_replace(CAST(CAST(value_numeric AS DECIMAL(30,10)) AS VARCHAR), '0+$', ''), '\.$', ''),
        |                        '!!' || concept_id || '=' || CAST(CAST(obs_datetime AS DATE) AS VARCHAR) || '!!') AS obs_datetimes,
        |    max(o.date_created) AS max_date_created
        |  FROM obs o JOIN enc e USING (encounter_id)
        |  GROUP BY o.encounter_id)
        |SELECT * FROM flat WHERE person_id % 97 <> 0""".stripMargin

  val all: Seq[OpQuery] = Seq(

    // The full flat_obs stage: grouping, 7-way render (numeric arm), map
    // ordering, fake visit ids, voided-person purge, canonical schema.
    OpQuery.sql(
      "q43_flat_obs_stage",
      flatObsStageOracle) {
      (s, dir) =>
        val (obs, encounter, person) = eavSources(s, dir)
        FlatObs.build(obs, encounter, person)
    },

    // The latest-row stage (W2 fix) through the real stage code.
    OpQuery.sql(
      "q44_latest_summary_stage",
      """WITH vs AS (
        |  SELECT CAST(o_custkey AS INT) person_id, concat('c', o_custkey) uuid,
        |         o_orderdate encounter_datetime,
        |         CAST(o_orderkey AS INT) encounter_id,
        |         CASE WHEN o_orderstatus='F' THEN 21 ELSE 22 END encounter_type,
        |         1 location_id, CAST(NULL AS TIMESTAMP) enrollment_date,
        |         CAST(NULL AS TIMESTAMP) hiv_start_date,
        |         CAST(o_totalprice AS VARCHAR) weight, '170' height,
        |         o_orderpriority currentregmen, 'Good' arvs_adherence,
        |         '1' who_stage, CAST(NULL AS VARCHAR) tb_status
        |  FROM orders),
        |latest AS (
        |  SELECT person_id, uuid, encounter_type, location_id, weight, height,
        |         who_stage, tb_status
        |  FROM vs QUALIFY row_number() OVER
        |    (PARTITION BY person_id ORDER BY encounter_datetime DESC, encounter_id DESC) = 1),
        |aggs AS (
        |  SELECT person_id, max(encounter_datetime) encounter_datetime,
        |         max(enrollment_date) enrollment_date, max(hiv_start_date) hiv_start_date,
        |         max(currentregmen) current_regimen, max(arvs_adherence) arvs_adherence
        |  FROM vs GROUP BY person_id)
        |SELECT person_id, uuid, encounter_datetime, encounter_type, location_id,
        |       enrollment_date, hiv_start_date, weight, height, current_regimen,
        |       arvs_adherence, who_stage, tb_status
        |FROM latest JOIN aggs USING (person_id)""".stripMargin) {
      (s, dir) =>
        val vs = load(s, dir, "orders").select(
          col("o_custkey").cast("int").as("person_id"),
          concat(lit("c"), col("o_custkey")).as("uuid"),
          col("o_orderdate").as("encounter_datetime"),
          col("o_orderkey").cast("int").as("encounter_id"),
          when(col("o_orderstatus") === "F", 21).otherwise(22).as("encounter_type"),
          lit(1).as("location_id"),
          lit(null).cast("timestamp").as("enrollment_date"),
          lit(null).cast("timestamp").as("hiv_start_date"),
          col("o_totalprice").cast("string").as("weight"),
          lit("170").as("height"),
          col("o_orderpriority").as("currentregmen"),
          lit("Good").as("arvs_adherence"),
          lit("1").as("who_stage"),
          lit(null).cast("string").as("tb_status"))
        FlatLatestHivSummary.build(vs)
    },

    // The full flat_orders stage (flat_orders_v1.0.sql:57-76 semantics):
    // voided filter, left join to encounter, plain GROUP_CONCAT of concept
    // ids + date-rendered order_datetimes, max() row pickers, voided-person
    // purge. Concepts repeat within an encounter (partkey % 50) so the
    // (concept, order_id) ordering is genuinely exercised.
    OpQuery.sql(
      "q54_flat_orders_stage",
      """WITH ord AS (
        |  SELECT CAST(l_orderkey*8+l_linenumber AS INT) order_id,
        |         CAST(o_custkey AS INT) patient_id,
        |         CAST(l_orderkey AS INT) encounter_id,
        |         CAST(1000 + l_partkey % 50 AS INT) concept_id,
        |         l_shipdate date_created,
        |         CASE WHEN l_suppkey % 11 = 0 THEN 1 ELSE 0 END voided
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |enc AS (SELECT CAST(o_orderkey AS INT) encounter_id, o_orderdate,
        |               CASE WHEN o_orderstatus='F' THEN 21 WHEN o_orderstatus='O' THEN 22 ELSE 35 END etype
        |        FROM orders),
        |flat AS (
        |  SELECT o.encounter_id,
        |    max(o.patient_id) AS person_id,
        |    max(o.order_id) AS order_id,
        |    max(e.o_orderdate) AS encounter_datetime,
        |    max(e.etype) AS encounter_type,
        |    max(1) AS location_id,
        |    string_agg(CAST(concept_id AS VARCHAR), ' ## '
        |               ORDER BY concept_id, o.order_id) AS orders,
        |    string_agg('!!' || concept_id || '=' || CAST(CAST(date_created AS DATE) AS VARCHAR) || '!!',
        |               ' ## ' ORDER BY concept_id, o.order_id,
        |                 '!!' || concept_id || '=' || CAST(CAST(date_created AS DATE) AS VARCHAR) || '!!') AS order_datetimes,
        |    max(date_created) AS max_date_created
        |  FROM ord o LEFT JOIN enc e USING (encounter_id)
        |  WHERE o.encounter_id >= 1 AND o.voided = 0
        |  GROUP BY o.encounter_id)
        |SELECT * FROM flat WHERE person_id % 97 <> 0""".stripMargin) {
      (s, dir) =>
        val (_, encounter, person) = eavSources(s, dir)
        FlatOrders.build(eavOrderRows(s, dir), encounter, person)
    },

    // The full flat_lab_obs stage (flat_lab_obs_v1.0.sql:102-134 semantics):
    // lab-panel filter, 1271/1107 orders=NONE exclusion, (person, day)
    // grain, DISTINCT obs map, synthetic encounter id, the unordered-in-the-
    // reference encounter_ids/obs_ids rendered with the documented
    // deterministic (concept, obs_id) sort, voided-person purge.
    OpQuery.sql(
      "q55_flat_lab_obs_stage",
      """WITH lab AS (
        |  SELECT CAST(l_orderkey*8+l_linenumber AS INT) obs_id,
        |         CAST(o_custkey AS INT) person_id,
        |         CAST(l_orderkey AS INT) src_encounter_id,
        |         concept_id, value_coded,
        |         CASE WHEN concept_id = 1271 THEN CAST(value_coded AS VARCHAR)
        |              ELSE regexp_replace(regexp_replace(CAST(CAST(l_quantity AS DECIMAL(30,10)) AS VARCHAR), '0+$', ''), '\.$', '') END rendered,
        |         CAST(l_shipdate AS DATE) test_date,
        |         l_shipdate date_created
        |  FROM (
        |    SELECT *,
        |      CASE l_partkey % 10 WHEN 0 THEN 856 WHEN 1 THEN 5497 WHEN 2 THEN 730
        |           WHEN 3 THEN 21 WHEN 4 THEN 653 WHEN 5 THEN 790 WHEN 6 THEN 887
        |           WHEN 7 THEN 1030 WHEN 8 THEN 1040 ELSE 1271 END concept_id,
        |      CASE WHEN l_partkey % 10 = 9 THEN
        |             CASE WHEN l_suppkey % 3 = 0 THEN 1107 ELSE 5497 END END value_coded,
        |      CASE WHEN l_suppkey % 13 = 0 THEN 1 ELSE 0 END voided
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |  WHERE voided = 0 AND NOT (concept_id = 1271 AND value_coded = 1107)),
        |g1 AS (
        |  SELECT person_id, test_date,
        |    CAST(min(obs_id) + 100000000 AS INT) encounter_id,
        |    max(date_created) max_date_created,
        |    string_agg('!!' || concept_id || '=' || COALESCE(CAST(value_coded AS VARCHAR), '')
        |               || '=' || COALESCE(CAST(src_encounter_id AS VARCHAR), '') || '!!',
        |               ' ## ' ORDER BY concept_id, obs_id) encounter_ids,
        |    string_agg('!!' || concept_id || '=' || obs_id || '!!',
        |               ' ## ' ORDER BY concept_id, obs_id) obs_ids
        |  FROM lab GROUP BY 1, 2),
        |g2 AS (
        |  SELECT person_id, test_date,
        |    string_agg(entry, ' ## '
        |               ORDER BY concept_id, value_coded NULLS FIRST, rendered) obs
        |  FROM (SELECT DISTINCT person_id, test_date, concept_id, value_coded, rendered,
        |               '!!' || concept_id || '=' || rendered || '!!' entry FROM lab)
        |  GROUP BY 1, 2)
        |SELECT g1.person_id, g1.encounter_id,
        |       CAST(test_date AS TIMESTAMP) test_datetime,
        |       99999 encounter_type, CAST(NULL AS INT) location_id, g2.obs,
        |       g1.max_date_created, g1.encounter_ids, g1.obs_ids
        |FROM g1 JOIN g2 USING (person_id, test_date)
        |WHERE g1.person_id % 97 <> 0""".stripMargin) {
      (s, dir) =>
        val li = load(s, dir, "lineitem")
        val o = load(s, dir, "orders")
        val c = load(s, dir, "customer")
        val person = c.select(
          col("c_custkey").cast("int").as("person_id"),
          col("c_name").as("uuid"),
          (col("c_custkey") % 97 === 0).cast("int").as("voided"))
        val panel = Seq(856, 5497, 730, 21, 653, 790, 887, 1030, 1040)
        val conceptId = panel.zipWithIndex.foldLeft(lit(1271)) { case (acc, (cpt, i)) =>
          when(col("l_partkey") % 10 === i, cpt).otherwise(acc)
        }
        val obsRows = li.join(o.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
          .withColumn("concept_id", conceptId.cast("int"))
          .select(
            (col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("obs_id"),
            col("o_custkey").cast("int").as("person_id"),
            col("l_orderkey").cast("int").as("encounter_id"),
            col("concept_id"),
            col("l_shipdate").as("obs_datetime"),
            when(col("concept_id") === 1271,
              when(col("l_suppkey") % 3 === 0, 1107).otherwise(5497))
              .cast("int").as("value_coded"),
            when(col("concept_id") =!= 1271, col("l_quantity")).as("value_numeric"),
            lit(null).cast("timestamp").as("value_datetime"),
            lit(null).cast("int").as("value_boolean"),
            lit(null).cast("string").as("value_text"),
            lit(null).cast("int").as("value_drug"),
            lit(null).cast("string").as("value_modifier"),
            col("l_shipdate").as("date_created"),
            when(col("l_suppkey") % 13 === 0, 1).otherwise(0).as("voided"),
            lit(null).cast("timestamp").as("date_voided"))
        FlatLabObs.build(obsRows, person)
    },

    // The flat_visit_summary decode projection
    // (flat_visit_summary_v1.0.sql:182-531) through the real stage code:
    // 22 decode tables, the 5 tests-ordered membership decodes, the
    // weight/height/enrollment/tca value extractions, the §7.4.5
    // no_of_day_hospitalized quirk, clinical-encounter filter, and the
    // person-uuid join. The input obs map and the oracle's expected labels
    // are generated from ONE code table (conceptPicks/decodedCols above).
    OpQuery.sql("q56_visit_summary_stage", visitSummaryOracle) {
      (s, dir) =>
        val o = load(s, dir, "orders")
        val c = load(s, dir, "customer")
        val person = c.select(
          col("c_custkey").cast("int").as("person_id"), col("c_name").as("uuid"))
        FlatVisitSummary.build(
          visitSummaryStringInput(s, dir), visitSummaryOrders(o), person)
    },

    // The one-pass string decode Expression alone — the bare projection,
    // without the stage's queue scoping — over q56's exact fixture and
    // oracle: the obs string parsed once per row instead of ~180
    // contains scans.
    OpQuery.sql("q109_visit_summary_string_expr", visitSummaryOracle) {
      (s, dir) =>
        val c = load(s, dir, "customer")
        val person = c.select(
          col("c_custkey").cast("int").as("person_id"), col("c_name").as("uuid"))
        val clinical = visitSummaryStringInput(s, dir)
          .filter(col("encounter_type").isin(
            FlatVisitSummary.ClinicalEncounterTypes.map(Integer.valueOf): _*))
          .join(person, Seq("person_id"))
        clinical
          .select(col("person_id"), col("uuid"), col("visit_id"),
            col("encounter_id"), col("encounter_datetime"), col("encounter_type"),
            FlatVisitSummary.isClinicalEncounter(col("encounter_type"))
              .as("is_clinical_encounter"),
            col("location_id"),
            graft.functions.ObsDecode.decodeAllString(col("obs")).as("__dec"))
          .select(Seq("person_id", "uuid", "visit_id", "encounter_id",
            "encounter_datetime", "encounter_type", "is_clinical_encounter",
            "location_id").map(col) ++
            FlatVisitSummary.decodeColumnsFromStruct(col("__dec")): _*)
    },

    // q56's fixture and oracle VERBATIM through FlatVisitSummary.build;
    // the name outlives its typed-map input so the catalog's timings
    // stay comparable across rounds.
    OpQuery.sql("q73_visit_summary_typed", visitSummaryOracle) {
      (s, dir) =>
        val o = load(s, dir, "orders")
        val c = load(s, dir, "customer")
        val person = c.select(
          col("c_custkey").cast("int").as("person_id"), col("c_name").as("uuid"))
        FlatVisitSummary.build(
          visitSummaryStringInput(s, dir), visitSummaryOrders(o), person)
    },

    // The STREAMED ETL cascade under the driver's oracle: see
    // streamedCascade below. The returned table is the final flat_obs,
    // hash-checked by q43's oracle VERBATIM — streamed arrival must be
    // invisible in the result; the three deeper tables (lab, visit
    // summary, latest) are signature-gated against from-scratch batch
    // builds in StreamedCascadeParitySpec over the same fixture.
    OpQuery.sqlPrepared("q94_stream_etl_cascade", flatObsStageOracle)(
      (s, dir) => preparedChunks(s, dir, CascadeCuts): Unit) {
      (s, dir) =>
        // The oracle (q43 verbatim) hash-checks the streamed flat_obs; the
        // three DEEPER streamed tables are signature-gated against
        // from-scratch batch builds in StreamedCascadeParitySpec over the
        // same code path (streamedCascade) on the real fixture — outside
        // this timed body, which round 6 showed was paying ~3 extra
        // batch rebuilds per bench invocation.
        streamedCascade(s, dir, buckets = Some(Q94Buckets)).readFlat("flat_obs").get
    },

    // The SAME streamed cascade on the steady-state arrival schedule: per
    // batch, every stage merges over its stored table pruned to the
    // touched persons' buckets and commits only those buckets; the
    // accumulated obs version log is pruned to queued persons BEFORE its
    // dedup window. Same oracle VERBATIM. The arrival schedule is the
    // steady-state shape (one bulk load + two ~1.5-month deltas) where an
    // unbounded stream actually lives; its twin q94 keeps the reference's
    // even three-way split.
    OpQuery.sqlPrepared("q125_stream_etl_cascade_bucketed", flatObsStageOracle)(
      (s, dir) => preparedChunks(s, dir, BucketedCascadeCuts): Unit) {
      (s, dir) =>
        // the Pipeline's default 64 buckets: the tpch fixture's uniform
        // activity touches ~18% of persons per 1.5-month delta, so NO
        // local bucket count can make the merge prune (pruning needs
        // buckets >= 10x delta keys); the bucket count here only sets
        // per-file constants, and the steady-state pruning claim is
        // carried by the clinic regime in ProfileCascade/SCALE.md where
        // deltas are ~2%.
        streamedCascade(s, dir, cuts = BucketedCascadeCuts)
          .readFlat("flat_obs").get
    }
  )

  /** The streamed five-stage cascade: the obs source lands as three
    * event-time arrival chunks, each processed by a real checkpointed
    * file-stream micro-batch (IncrementalEtlStream.runCascadeOnce — the
    * engine's offsets are the only progress state) driving all four
    * downstream stages through the SAME incremental code as the batch
    * tick. Returns the pipeline holding the four streamed flat tables;
    * `cascadeInputs` exposes the identical (uniquified) inputs so callers
    * can gate streamed output against from-scratch batch builds
    * (StreamedCascadeParitySpec does, per deep table).
    */
  /** q94's event-time arrival chunks: three even splits, watermarks
    * genuinely advance between batches. */
  private[graft] val CascadeCuts = Seq(("1000-01-01", "1995-01-01"),
    ("1995-01-01", "1997-01-01"), ("1997-01-01", "3000-01-01"))

  /** q94's bucket count: each of its chunks touches most persons, so no
    * count prunes, and at sf0.1 64 buckets took 44 s against 35 s at 16
    * (per-file constants; SCALE.md, "One sink layout"). */
  private[graft] val Q94Buckets = 16

  /** q125's steady-state schedule: one bulk load, then two ~1.5-month
    * deltas — the regime an unbounded stream actually runs in, where
    * the bucketed sink's O(touched) merge shows against a full rebuild's
    * O(accumulated history). (The fixture's obs timeline —
    * l_shipdate — runs 1995-01 through 2001-11; the round-7 cuts
    * assumed the classic TPC-H end date and made the "final month" a
    * 41%-of-data bulk reload touching 98% of persons, so q125 benched
    * a second full build instead of a steady tick.) */
  private[graft] val BucketedCascadeCuts = Seq(("1000-01-01", "2001-08-01"),
    ("2001-08-01", "2001-09-15"), ("2001-09-15", "3000-01-01"))

  /** The uniquified obs arrival chunks, written ONCE per (sf dir,
    * schedule) and reused across invocations and bench reps: the ~5 s
    * uniquification window and the chunk writes are fixture prep, not
    * stream execution (the q89/q90/q100 lesson, applied here via the
    * OpQuery.prepare hook). Each cascade run still gets its own obs
    * arrival dir — chunks are file-copied in arrival order so every
    * runCascadeOnce sees exactly one new chunk. */
  private val chunkCache =
    scala.collection.concurrent.TrieMap.empty[(String, Seq[(String, String)]), String]
  private[graft] def preparedChunks(
      s: SparkSession, dir: String, cuts: Seq[(String, String)]): String =
    chunkCache.getOrElseUpdate((dir, cuts), {
      val (obsRaw, _, _, _) = cascadeInputs(s, dir)
      val obs = obsRaw.cache()
      val base = java.nio.file.Files.createTempDirectory("graft-cascade-chunks")
      try cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
        obs.filter(col("date_created") >= lit(lo) &&
            col("date_created") < lit(hi))
          .write.mode("overwrite").parquet(base.resolve(s"chunk_$i").toString)
      } finally obs.unpersist()
      base.toString
    })

  private[graft] def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  private[graft] def streamedCascade(
      s: SparkSession, dir: String,
      cuts: Seq[(String, String)] = CascadeCuts,
      buckets: Option[Int] = None): graft.etl.Pipeline = {
    // encounter/person (and orders on first arrival) are STATIC
    // dimensions consumed by every stage of every micro-batch — uncached,
    // each batch re-ran their EAV projection from parquet several times
    // (r17; guide §5 multi-consumer caching: ~10 encounter scans and ~14
    // person scans across the three batches). Persisted for the run,
    // unpersisted when the last batch drains; the per-batch algorithm is
    // untouched.
    val (_, encounter0, orderRows0, person0) = cascadeInputs(s, dir)
    val encounter = encounter0.persist()
    val orderRows = orderRows0.persist()
    val person = person0.persist()
    val chunks = preparedChunks(s, dir, cuts)
    val root = java.nio.file.Files.createTempDirectory("graft-q94")
    val obsDir = root.resolve("obs")
    val pipe = new graft.etl.Pipeline(s, root.resolve("tables").toString, buckets)
    // one memo across the arrival batches: the purge probe (voided ∩
    // flat_obs, a bucket-pruned read) runs once per cascade run instead
    // of once per batch (CascadeRunMemo scaladoc for the superset
    // argument)
    val memo = new graft.streaming.IncrementalEtlStream.CascadeRunMemo
    try cuts.indices.foreach { i =>
      copyDir(java.nio.file.Paths.get(chunks, s"chunk_$i"),
        obsDir.resolve(s"chunk_$i"))
      graft.streaming.IncrementalEtlStream.runCascadeOnce(
        s, obsDir.toString, encounter, orderRows, person, pipe,
        root.resolve("ckpt").toString, memo)
    } finally {
      memo.release()
      encounter.unpersist(); orderRows.unpersist(); person.unpersist()
    }
    pipe
  }

  /** EAV cascade inputs with the obs_id collision removed. The fixture's
    * (orderkey, linenumber) pairs repeat (up to 6x at sf0.1), so the
    * shared eav obs_id collides. q43/q55 replay the collision in their
    * oracles, but the STREAMED path dedups row VERSIONS by obs_id
    * (currentState — a collision silently drops a live row) and the lab
    * stage mints min(obs_id) merge keys. Uniquify with a per-obs_id
    * occurrence index: a window partitioned by the colliding key
    * (shuffle-by-key, no global sort), ordered by the surviving columns —
    * ties are FULLY identical projected rows, so either numbering is the
    * same multiset. flat_obs output carries no obs_id, so the q43 oracle
    * applies verbatim.
    */
  private[graft] def cascadeInputs(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (obsRaw, encounter, person) = eavSources(s, dir)
    (uniquifyObsIds(obsRaw), encounter, eavOrderRows(s, dir), person)
  }

  /** obs_id -> obs_id*8 + per-id occurrence index. The int cast is safe
    * only while max(obs_id)*8+7 fits in Int — at sf≈10 (orderkey ~60M →
    * obs_id ~480M → ×8 ≈ 3.8G) it would overflow and collide/negate ids,
    * silently voiding the streamed-vs-batch comparison q94 exists to
    * make. The downstream flat schemas pin obs_id as int, so guard
    * loudly — in-plan (one comparison per row fused into this
    * projection), not via a driver-side max() scan.
    */
  private[graft] def uniquifyObsIds(obsRaw: DataFrame): DataFrame = {
    val occ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("obs_id"))
      .orderBy(col("concept_id"), col("value_numeric"), col("obs_datetime"))
    val wide = col("obs_id").cast("long") * 8 + row_number().over(occ) - 1
    obsRaw.withColumn("obs_id",
      when(col("obs_id").cast("long") > lit((Int.MaxValue - 7L) / 8),
        raise_error(concat(
          lit("q94 obs_id uniquification would overflow Int (obs_id="),
          col("obs_id").cast("string"),
          lit("); run at a smaller sf or widen obs_id to long end-to-end"))))
        .otherwise(wide.cast("int")))
  }
}
