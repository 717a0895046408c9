package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference-shaped visit-summary decode: one `contains` guard plus a
  * first-match arm chain per decode table and a regexp extraction per
  * value column, all over the encoded obs string — the literal transcription
  * of flat_visit_summary_v1.0.sql:188-523. Production decodes through
  * [[graft.functions.ObsDecode.decodeAllString]]; this chain stays in the
  * test sources as the independent oracle it is diffed against
  * (DecodePathEquivalenceSpec).
  */
object ContainsChainDecode {
  import FlatVisitSummary._

  private def decode(obs: Column, table: Seq[(String, String)], default: Column = lit(null))
      : Column =
    graft.functions.MysqlFunctions.regexpDecode(obs, table, default)

  /** All values of `concept` joined " ## " — the SUBSTRING_INDEX surgery's
    * actual yield on a concept-sorted map (flat_visit_summary_v1.0.sql:202).
    *
    * Implemented as ONE codegen'd regexp_extract_all scan rather than
    * [[graft.functions.ObsMap.valuesFor]]: the array-parse form re-splits and re-parses the
    * whole map per extraction call inside interpreted HOF lambdas, and this
    * projection extracts six times per row. The entry-boundary lookahead
    * keeps values containing "!!" intact, matching the split-based parser.
    */
  private def extractAll(obs: Column, concept: Int): Column =
    when(obs.contains(s"!!$concept="),
      array_join(
        regexp_extract_all(obs,
          lit(s"(?:^| ## )!!$concept=(.*?)!!(?= ## |$$)"), lit(1)),
        " ## "))

  /** "Tests ordered" membership decode: 1271=<code> → Yes else No
    * (flat_visit_summary_v1.0.sql:425-449). */
  private def testDone(obs: Column, code: Int): Column =
    when(obs.contains(s"!!1271=$code!!"), "Yes").otherwise("No")

  /** The decode projection: flat_obs(+orders) columns → the 41 summary
    * columns (flat_visit_summary_v1.0.sql:188-523 + insert :533-577). */
  def decodeColumns(obs: Column): Seq[Column] = Seq(
    // try_to_timestamp: a multi-valued extraction ("d1 ## d2") is not a
    // date — MySQL would coerce to NULL/garbage; we null it (ANSI-safe).
    try_to_timestamp(extractAll(obs, 6746)).as("enrollment_date"),
    // §7.4.2: hiv_start_date is fed enrollment_date (insert :543-544)
    try_to_timestamp(extractAll(obs, 6746)).as("hiv_start_date"),
    decode(obs, patientSource, extractAll(obs, 1353)).as("patient_source"),
    extractAll(obs, 6743).as("weight"),
    extractAll(obs, 6744).as("height"),
    decode(obs, curArvAdherence).as("cur_arv_adherence"),
    decode(obs, pregnant).as("pregnant"),
    decode(obs, fpStatus).as("fp_status"),
    decode(obs, fpMethod).as("fp_method"),
    decode(obs, whyNotOnFp).as("why_not_on_fp"),
    decode(obs, tbStatus).as("tb_status"),
    decode(obs, sideEffects).as("side_effects"),
    decode(obs, whoStage).as("who_stage"),
    decode(obs, ctxAdherence).as("ctx_adherence"),
    decode(obs, ctxDispensed).as("ctx_dispensed"),
    decode(obs, inhDispensed).as("inh_dispensed"),
    decode(obs, otherMedsDispensed).as("other_medications_dispensed"),
    decode(obs, arvsAdherence).as("arvs_adherence"),
    decode(obs, whyArvsAdherencePoor).as("why_arvs_adherence_poor"),
    decode(obs, pmtctPpct).as("pmtct_ppct"),
    decode(obs, currentRegimen).as("currentregmen"),
    testDone(obs, 5497).as("cd4_cd4percentage_done"),
    testDone(obs, 21).as("hgb_done"),
    testDone(obs, 1569).as("rpr_done"),
    testDone(obs, 1883).as("tb_sputum_done"),
    testDone(obs, 5622).as("other_test_done"),
    decode(obs, refferalHospitalized).as("refferal_hospitalized"),
    // §7.4.5: mismatched keys — guard '!!1534=' but extract '!!(1534)='
    // which never matches ⇒ empty string when 1534 present, else null.
    when(obs.contains("!!1534="), lit("")).as("no_of_day_hospitalized"),
    decode(obs, breastfingMode).as("breastfing_mode"),
    decode(obs, atRiskPopulation).as("at_risk_population"),
    decode(obs, pwpDisclosure).as("pwp_disclosure"),
    decode(obs, pwpPartnerTested).as("pwp_partner_tested"),
    decode(obs, condomsDispensed).as("condoms_dispensed"),
    decode(obs, stiScreened).as("sti_screened"),
    try_to_timestamp(extractAll(obs, 5096)).as("tca"))
}
