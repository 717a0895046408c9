package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage 2: decode flat_obs into the wide per-visit clinical summary — the
  * Spark rebuild of `generate_visit_summary()`
  * (flat_visit_summary_v1.0.sql:4-591).
  *
  * The reference's ~320 lines of searched-CASE regexp decode
  * (flat_visit_summary_v1.0.sql:211-523) are driven here from declarative
  * (concept, code → label) tables; each decode arm is an exact
  * `concept=code` entry match on the encoded obs string (the parens in
  * the reference's regexp patterns are no-op groups — SURVEY §2.8). First
  * match wins, preserving arm order — including the reference's
  * unreachable arms (who_stage 2-4 §7.4.3, refferal 'Other' §7.4.4,
  * currentregmen second 6297).
  *
  * Value extraction (weight/height/enrollment/tca/patient_source fallback)
  * reproduces the SUBSTRING_INDEX surgery's actual semantics: because the
  * map is concept-sorted, the expression yields ALL of the concept's
  * values joined by " ## " (single-valued concepts → the value).
  *
  * Faithful-mode choices (SURVEY §7.4): hiv_start_date := enrollment_date
  * (§7.4.2); lab rows from flat_lab_obs are excluded from the final output
  * (they're filtered by `encounter_type in (21,22)` at :529 — §7.4.7) but
  * can be staged via `withLabRows`; no_of_day_hospitalized reproduces the
  * mismatched-key extraction (yields '' when concept 1534 present, §7.4.5).
  *
  * Scale: one projection over flat_obs that parses each obs string once
  * ([[graft.functions.ObsDecode]]); the reference's 5,000-person chunk
  * loop (:119-127) disappears — partitioned execution bounds memory. The
  * person dimension joins broadcast.
  */
object FlatVisitSummary {

  val ClinicalEncounterTypes: Seq[Int] = Seq(21, 22)

  // ---- decode tables (concept, code → label), transcribed from
  // flat_visit_summary_v1.0.sql:211-523 ----

  val pregnant: Seq[(String, String)] = Seq(
    "1836=1065" -> "Yes", "1836=1066" -> "No", "1836=6765" -> "MC-Recently Miscarried",
    "1836=50" -> "AB-Recently Induced Abortion", "1836=6847" -> "Live Birth",
    "1836=6848" -> "Still Birth")

  val fpStatus: Seq[(String, String)] = Seq(
    "5271=1065" -> "FP", "5271=1066" -> "No FP", "5271=6765" -> "WFP")

  val fpMethod: Seq[(String, String)] = Seq(
    "374=190" -> "Condoms (C)", "374=6495" -> "Emergency Contraceptive (ECP)",
    "374=780" -> "Oral Contraceptive Pills (OC)", "374=5279" -> "Injectables (INJ)",
    "374=1713" -> "Implant (IMP)", "374=5275" -> "Intrauterine Devices (IUD)",
    "374=6496" -> "Lactational Amenorrhea (LAM)", "374=5278" -> "Diaphragm/Cervical Cap (D)",
    "374=6783" -> "Fertility Awareness(FA)", "374=5276" -> "Female Sterilization (BTL/TL)",
    "374=1771" -> "Vasectomy (V)")

  val whyNotOnFp: Seq[(String, String)] = Seq(
    "6758=1447" -> "Wants to get pregnant (WP)", "6758=6757" -> "Thinks can't get pregnant (UP)",
    "6758=6765" -> "Not sexually active now (NSex)", "6758=6368" -> "Pregnant",
    "6758=6854" -> "Abdominal hysterectomy(TAH)", "6758=6825" -> "Undecided(UND)")

  val tbStatus: Seq[(String, String)] = Seq(
    "6150=1066" -> "NO Signs", "6150=6182" -> "TB Suspected",
    "6150=6183" -> "TB Rx", "6150=6151" -> "Not done (ND)")

  val sideEffects: Seq[(String, String)] = Seq(
    "6175=1107" -> "None", "6175=5978" -> "Nausea (N)", "6175=512" -> "Rash (R)",
    "6175=620" -> "Headache (H)", "6175=16" -> "Diarrhoea (D)", "6175=3" -> "Anaemia (A)")

  val patientSource: Seq[(String, String)] = Seq(
    "1353=1356" -> "PMTCT", "1353=1354" -> "VCT", "1353=6767" -> "IPD-Ad",
    "1353=1360" -> "TB Clinic", "1353=1357" -> "OPD", "1353=6768" -> "IPD-Ch",
    "1353=1358" -> "MCH-Child", "1353=1828" -> "VMMC", "1353=1355" -> "Family Member",
    "1353=5622" -> "Other")

  val curArvAdherence: Seq[(String, String)] = Seq(
    "6760=1384" -> "GOOD", "6760=1385" -> "FAIR", "6760=1386" -> "POOR", "6760=1175" -> "N/A")

  /** §7.4.3: arms 2-4 repeat code 6790 and are unreachable — kept faithful. */
  val whoStage: Seq[(String, String)] = Seq(
    "6794=6790" -> "1", "6794=6790" -> "2", "6794=6790" -> "3", "6794=6790" -> "4",
    "6794=1852" -> "Not Stage")

  val ctxAdherence: Seq[(String, String)] = Seq(
    "6761=1384" -> "Good", "6761=1385" -> "Fair", "6761=1386" -> "Poor", "6761=1175" -> "N/A")

  val ctxDispensed: Seq[(String, String)] = Seq(
    "1565=1427" -> "Yes", "1565=1066" -> "No", "1565=92" -> "Dapson")

  val inhDispensed: Seq[(String, String)] = Seq(
    "6785=1065" -> "Yes", "6785=1066" -> "No", "6785=1175" -> "N/A")

  val otherMedsDispensed: Seq[(String, String)] = Seq(
    "6784=1065" -> "Yes", "6784=1066" -> "No")

  val arvsAdherence: Seq[(String, String)] = Seq(
    "6760=1384" -> "Good", "6760=1385" -> "Fair", "6760=1386" -> "Poor",
    "6760=1175" -> "N/A", "6760=8015" -> "Stopped")

  val whyArvsAdherencePoor: Seq[(String, String)] = Seq(
    "6171=1413" -> "Toxicity/Side effects", "6171=6169" -> "Share with others",
    "6171=1410" -> "Forgot", "6171=6168" -> "Felt better", "6171=1415" -> "Felt too ill",
    "6171=1411" -> "Stigma, disclosure or privacy issues", "6171=1417" -> "Drug stock out",
    "6171=1414" -> "Patient lost/run out of pills", "6171=820" -> "Delivery/transport problems",
    "6171=6170" -> "Inability to pay", "6171=1624" -> "Alcohol", "6171=207" -> "Depression",
    "6171=6202" -> "Pill burden", "6171=5622" -> "Other (Specify)")

  val pmtctPpct: Seq[(String, String)] = Seq("1592=1405" -> "PMTCT/PPCT")

  val currentRegimen: Seq[(String, String)] = Seq(
    "1571=628" -> "3TC", "1571=814" -> "ABC", "1571=6285" -> "AF1A/CF1A-3TC/AZT/NVP",
    "1571=6286" -> "AF1B/CF1B-3TC/AZT/EFV", "1571=6288" -> "AF2A-3TC/NVP/TDF",
    "1571=6289" -> "AF2B-3TC/EFV/TDF", "1571=6284" -> "AF3A/CF3A-3TC/d4t/NVP",
    "1571=6287" -> "AF3B/CF3B-3TC/d4t/EFV", "1571=6290" -> "AO1A/CF2A-3TC/ABC/NVP",
    "1571=6291" -> "AO1B/CF2B-3TC/ABC/EFV", "1571=6297" -> "AO1C/CF2D-3TC/ABC/LPV",
    "1571=6293" -> "AS1A/CF1C/CS1A-3TC/AZT/LPV/r", "1571=6298" -> "AS1C/CF2C-3TC/ABC/AZT",
    "1571=6296" -> "AS2A-3TC/LPV/r/TDF", "1571=6292" -> "AS2D-ABC/LPV/r/TDF",
    "1571=6294" -> "AS4A/CS3A-3TC/d4t/LPV/r", "1571=797" -> "AZT-ZIDOVUDINE",
    "1571=6299" -> "CS1B-ABC/AZT/LPV/r", "1571=6297" -> "CS2A-3TC/ABC/LPV/r",
    "1571=625" -> "d4t-STAVUDINE", "1571=633" -> "AFV-EFAVIRENZ",
    "1571=794" -> "LPV/r-LOPINAVIR AND RITONAVIR", "1571=635" -> "NVF-NELFINAVIR",
    "1571=631" -> "NVP-NEVIRAPINE", "1571=802" -> "TDF-TENOFOVIR",
    "1571=5424" -> "Other-OTHER ANTIRETROVIRAL DRUG", "1571=7500" -> "AS2C-TDF/3TC/ATV/r",
    "1571=7501" -> "AS1B-AZT-3TC-ATV/r", "1571=7499" -> "ATV/r - Atazanavir/Ritonavir",
    "1571=7621" -> "AS5B-ABC/3TC/ATV/r", "1571=7626" -> "AS6X-D4T/3TC/ATV/r",
    "1571=7642" -> "TDF/3TC/LPV/r-CF4C", "1571=7644" -> "TDF/3TC/ATV/r-CF4D",
    "1571=7643" -> "TDF/3TC/LPV/r-CS4X", "1571=7645" -> "TDF/3TC/ATV/r-CS4X",
    "1571=7649" -> "ABC/3TC/LPV/r-AS5A", "1571=7652" -> "AZT/TDF/EFV",
    "1571=7653" -> "ABC/3TC/EFV-AF4B", "1571=7654" -> "ABC/3TC/NVP-AF4A")

  /** §7.4.4: the second 1272=1167 arm ("Other (specify)") is unreachable. */
  val refferalHospitalized: Seq[(String, String)] = Seq(
    "1272=1107" -> "None", "1272=5488" -> "Adherence counseling (AD)",
    "1272=1356" -> "ANC/PMTCT", "1272=1167" -> "Disclosure counseling (DC)",
    "1272=5483" -> "Family planning (FP)", "1272=5485" -> "Inpatient care/hospitalization",
    "1272=5484" -> "Nutritional services (NS)", "1272=5486" -> "Social support group (SSG)",
    "1272=5490" -> "Psychosocial counseling (PC)", "1272=5487" -> "TB treatment/Dot program (TB)",
    "1272=1167" -> "Other (specify)")

  val breastfingMode: Seq[(String, String)] = Seq(
    "1151=5526" -> "Breastfed exclusively (EBF)",
    "1151=1708" -> "Exclusive Replacement Feeding (ERF)", "1151=6046" -> "Mixed Feeding (MF)")

  val atRiskPopulation: Seq[(String, String)] = Seq(
    "6181=6180" -> "Client to sex worker (cSW)", "6181=6090" -> "Discorded couple (DC)",
    "6181=1505" -> "Fisher folk (FF)", "6181=105" -> "Injection drug user (IDU)",
    "6181=6179" -> "Same sex partnership (SSP/MSM)", "6181=6177" -> "Sex worker (SW)",
    "6181=6178" -> "Truck driver (TD)", "6181=1175" -> "N/A")

  val pwpDisclosure: Seq[(String, String)] = Seq(
    "1048=1065" -> "Yes", "1048=1066" -> "No", "1048=1175" -> "N/A")
  val pwpPartnerTested: Seq[(String, String)] = Seq(
    "1363=1065" -> "Yes", "1363=1066" -> "No", "1363=1175" -> "N/A")
  val condomsDispensed: Seq[(String, String)] = Seq(
    "6781=1065" -> "Yes", "6781=1066" -> "No", "6781=1175" -> "N/A")
  val stiScreened: Seq[(String, String)] = Seq(
    "6780=1065" -> "Yes", "6780=1066" -> "No", "6780=1175" -> "N/A")

  // ---- decode projection ----

  /** Output order of the struct-backed decode columns between `height`
    * and `tca` (struct field names equal output column names there). */
  private val structOutputOrder = Seq(
    "cur_arv_adherence", "pregnant", "fp_status", "fp_method",
    "why_not_on_fp", "tb_status", "side_effects", "who_stage",
    "ctx_adherence", "ctx_dispensed", "inh_dispensed",
    "other_medications_dispensed", "arvs_adherence",
    "why_arvs_adherence_poor", "pmtct_ppct", "currentregmen",
    "cd4_cd4percentage_done", "hgb_done", "rpr_done", "tb_sputum_done",
    "other_test_done", "refferal_hospitalized", "no_of_day_hospitalized",
    "breastfing_mode", "at_risk_population", "pwp_disclosure",
    "pwp_partner_tested", "condoms_dispensed", "sti_screened")

  /** Unpack [[graft.functions.ObsDecode.decodeAllString]]'s one-pass
    * struct to the 35 output columns (flat_visit_summary_v1.0.sql:188-523
    * + insert :533-577). Dates go through `try_to_timestamp` HERE so
    * timestamp parsing stays in stock Spark expressions: a multi-valued
    * extraction ("d1 ## d2") is not a date — MySQL would coerce to
    * NULL/garbage; we null it (ANSI-safe). §7.4.2: hiv_start_date is fed
    * enrollment_date (insert :543-544).
    */
  def decodeColumnsFromStruct(s: Column): Seq[Column] =
    Seq(
      try_to_timestamp(s.getField("e6746")).as("enrollment_date"),
      try_to_timestamp(s.getField("e6746")).as("hiv_start_date"),
      s.getField("patient_source").as("patient_source"),
      s.getField("weight").as("weight"),
      s.getField("height").as("height")) ++
      structOutputOrder.map(n => s.getField(n).as(n)) ++
      Seq(try_to_timestamp(s.getField("e5096")).as("tca"))

  /** is_clinical_encounter / encounter_type_sort_index derivations
    * (flat_visit_summary_v1.0.sql:141-149). */
  def isClinicalEncounter(encounterType: Column): Column =
    when(encounterType.isin(ClinicalEncounterTypes.map(Integer.valueOf): _*), 1)
  def sortIndex(encounterType: Column): Column =
    when(encounterType === 35, 20).when(encounterType === 45, 10).otherwise(1)

  /** Stage the lab rows the reference unions into its working set
    * (flat_visit_summary_v1.0.sql:157-173) — padded-null shape. They are
    * excluded from the faithful final output (§7.4.7) but exposed for
    * pipelines that want them.
    */
  def withLabRows(clinical: DataFrame, flatLabObs: DataFrame): DataFrame =
    clinical.unionByName(
      flatLabObs.select(
        col("person_id"),
        lit(null).cast("int").as("visit_id"),
        col("encounter_id"),
        col("test_datetime").as("encounter_datetime"),
        col("encounter_type"),
        col("location_id"),
        col("obs"),
        lit(null).cast("string").as("obs_datetimes"),
        lit(0).as("is_clinical_encounter"),
        lit(1).as("encounter_type_sort_index"),
        lit(null).cast("string").as("orders")))

  /** Build the summary for a set of persons (null queue = all persons):
    * clinical encounters only, decode projection, person uuid
    * broadcast-joined.
    *
    * The reference left-joins flat_orders here only to stage an `orders`
    * column onto clinical rows for the lab-union shape
    * (flat_visit_summary_v1.0.sql staging; [[withLabRows]] documents
    * that shape) — the final insert's columns never read it. This build
    * emits the final shape directly, so the join would be a pure wasted
    * shuffle on the heaviest stage (Catalyst cannot prune it: the right
    * side's uniqueness is unprovable) and is skipped; `flatOrders` stays
    * in the signature for the reference-shaped call sites.
    *
    * The decode parses each row's encoded obs string ONCE
    * ([[graft.functions.ObsDecode.decodeAllString]]) and evaluates every
    * decode table, test membership and value extraction over the parsed
    * entries; the reference-shaped `contains`/regexp chain it replaces
    * lives in the test sources as the independent oracle
    * (DecodePathEquivalenceSpec).
    */
  def build(
      flatObs: DataFrame,
      flatOrders: DataFrame,
      person: DataFrame,
      queue: Option[DataFrame] = None): DataFrame = {
    val _ = flatOrders // staged-shape parameter; see scaladoc
    val scoped = queue match {
      case Some(q) => flatObs.join(q.select("person_id").distinct(),
        Seq("person_id"), "left_semi")
      case None => flatObs
    }
    val clinical = scoped
      .filter(col("encounter_type").isin(ClinicalEncounterTypes.map(Integer.valueOf): _*))
    val joined = clinical.join(person.select("person_id", "uuid"), Seq("person_id"))
    val base = Seq(
      col("person_id"), col("uuid"), col("visit_id"), col("encounter_id"),
      col("encounter_datetime"), col("encounter_type"),
      isClinicalEncounter(col("encounter_type")).as("is_clinical_encounter"),
      col("location_id"))
    val baseNames = Seq("person_id", "uuid", "visit_id", "encounter_id",
      "encounter_datetime", "encounter_type", "is_clinical_encounter",
      "location_id")
    joined.select(base :+
      graft.functions.ObsDecode.decodeAllString(col("obs")).as("__dec"): _*)
      .select(baseNames.map(col) ++ decodeColumnsFromStruct(col("__dec")): _*)
  }

  /** Incremental: queue = persons with changed encounters ∪ persons whose
    * flat_obs rows changed (flat_visit_summary_v1.0.sql:86-99), delete
    * their summaries, rebuild them (:117, :533).
    *
    * The reference queue is retraction-blind: voiding an obs rewrites the
    * flat_obs row but `max_date_created` = max(date_created) of SURVIVING
    * rows stays <= wm, and an encounter whose obs are all voided vanishes
    * from flat_obs leaving no trace — so stale decode columns and phantom
    * summary rows would survive. Fixed-mode additions (policy: fixed,
    * flagged — same call as FlatOrders.incremental):
    *   (a) persons touched by voids since the watermark (`obs.date_voided
    *       > wm` — the raw obs source is already in Pipeline.tick's hands);
    *   (b) persons holding summary rows whose encounter_id is no longer
    *       present in flat_obs (catches encounter-level retraction however
    *       it was caused). Anti-join on encounter_id: shuffle-by-key, no
    *       driver materialization — scales with the delta, not the table.
    */
  /** The person queue [[incremental]] rebuilds — exposed so an O(delta)
    * sink can rewrite only these persons' buckets (a SUPERSET of the
    * rows that can change: kept rows are untouched by construction).
    */
  def touchedPersons(
      existing: DataFrame,
      flatObs: DataFrame,
      obs: DataFrame,
      encounter: DataFrame,
      bounds: Horizons,
      obsDelta: Option[DataFrame] = None,
      encounterDelta: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    val obsD = obsDelta.getOrElse(obs)
    val encD = encounterDelta.getOrElse(encounter)
    val retracted = existing.select("person_id", "encounter_id")
      .join(flatObs.select("encounter_id"), Seq("encounter_id"), "left_anti")
      .select("person_id")
    encD.filter(col("date_changed") > lit(bounds.changed))
      .select(col("patient_id").as("person_id"))
      .union(flatObs.filter(col("max_date_created") > wm).select("person_id"))
      .union(obsD.filter(col("date_voided") > lit(bounds.voided)).select("person_id"))
      .union(retracted)
      .distinct()
  }

  /** [[touchedPersons]] with the two flat_obs-side scans bounded to the
    * upstream tick's rewrite scope: `foScoped` is flat_obs PRUNED to the
    * buckets the flat_obs stage touched this tick and `foQueuePersons` is
    * that stage's queue. Sound iff every flat_obs row that changed since
    * THIS stage's watermark lies in that scope — Pipeline.tick proves it
    * by watermark alignment (the last summary run saw everything up to
    * the previous flat_obs run; a crash between the two stages falls
    * back to [[touchedPersons]]'s full anti-join recovery scan). Then:
    * retractions (rows gone from flat_obs) can only affect queued
    * persons, whose flat_obs rows live in the scoped buckets; and rows
    * with `max_date_created` above the watermark were written this tick,
    * also inside the scope. Both scans become O(delta).
    */
  def touchedPersonsBounded(
      existing: DataFrame,
      foScoped: DataFrame,
      foQueuePersons: DataFrame,
      obs: DataFrame,
      encounter: DataFrame,
      bounds: Horizons,
      obsDelta: Option[DataFrame] = None,
      encounterDelta: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    val obsD = obsDelta.getOrElse(obs)
    val encD = encounterDelta.getOrElse(encounter)
    val retracted = existing.select("person_id", "encounter_id")
      .join(foQueuePersons, Seq("person_id"), "left_semi")
      .join(foScoped.select("encounter_id"), Seq("encounter_id"), "left_anti")
      .select("person_id")
    encD.filter(col("date_changed") > lit(bounds.changed))
      .select(col("patient_id").as("person_id"))
      .union(foScoped.filter(col("max_date_created") > wm).select("person_id"))
      .union(obsD.filter(col("date_voided") > lit(bounds.voided)).select("person_id"))
      .union(retracted)
      .distinct()
  }

  /** `queue`: pass a precomputed (ideally cached) [[touchedPersons]]
    * frame when the caller also needs it — e.g. the bucketed sink's
    * touched-key set — so the retraction anti-join inside it executes
    * once, not once per consumer. */
  def incremental(
      existing: DataFrame,
      flatObs: DataFrame,
      flatOrders: DataFrame,
      obs: DataFrame,
      encounter: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      queue: Option[DataFrame] = None,
      obsDelta: Option[DataFrame] = None,
      encounterDelta: Option[DataFrame] = None): DataFrame = {
    val q = queue.getOrElse(
      touchedPersons(existing, flatObs, obs, encounter, bounds,
        obsDelta, encounterDelta))
    val kept = existing.join(q, Seq("person_id"), "left_anti")
    kept.unionByName(build(flatObs, flatOrders, person, Some(q)))
  }
}
