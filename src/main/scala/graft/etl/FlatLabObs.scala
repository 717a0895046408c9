package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ObsMap
import graft.operators.ReplaceInto

/** Stage 1c: flatten lab-panel obs per (person, day) — the Spark rebuild of
  * `generate_flat_lab_obs()` (flat_lab_obs_v1.0.sql:4-185).
  *
  * Grain: (person_id, date(obs_datetime)); synthetic encounter_id =
  * min(obs_id) + 100,000,000; encounter_type 99999; location null
  * (flat_lab_obs_v1.0.sql:104-108).
  *
  * The `obs` map uses GROUP_CONCAT(DISTINCT …) (:109) — dedup on the
  * rendered entry string. `encounter_ids` / `obs_ids` are unordered in the
  * reference (:123-124); the rebuild sorts by (concept_id, obs_id) for
  * determinism (documented deviation, SURVEY §2.5 A3).
  *
  * The lab concept panel and the orders=NONE exclusion
  * (concept 1271 with value_coded 1107, :131) are config here.
  *
  * Quirk §7.4/SURVEY §2.9: the reference's new-obs pass is commented out
  * (:135-168) — its active incremental only rebuilds person-days touched by
  * a void. The rebuild processes new obs too (fixed mode, default).
  */
object FlatLabObs {

  /** flat_lab_obs_v1.0.sql:91 (code list ⊃ comment list, SURVEY §7.4.10). */
  val LabConcepts: Seq[Int] =
    Seq(856, 5497, 730, 21, 653, 790, 12, 1030, 1040, 1271, 9508, 6126, 887, 6252, 1537, 857)

  val NoneOrderConcept = 1271
  val NoneOrderValue = 1107

  private def labRows(obs: DataFrame): DataFrame =
    obs.filter(
      col("concept_id").isin(LabConcepts.map(Integer.valueOf): _*) &&
        !(col("concept_id") === NoneOrderConcept && col("value_coded") === NoneOrderValue) &&
        col("voided") === 0)

  private def aggLabs(rows: DataFrame): DataFrame = {
    // Two sort orders → two collects (down from four): the DISTINCT obs
    // map sorts by (concept, value_coded, rendered); encounter_ids and
    // obs_ids both sort by the unique (concept, obs_id) and derive from
    // one shared collect (PhysicalAggregation dedups the identical
    // collect_list references — see FlatObs.obsAggs).
    val rendered = FlatObs.renderedValue
    val obsKeyed = struct(
      col("concept_id").as("c"), col("value_coded").as("vc"), rendered.as("r"))
    val obsCollected = sort_array(collect_list(when(rendered.isNotNull, obsKeyed)))
    val obsEntries = array_distinct(transform(obsCollected,
      x => concat(lit(ObsMap.Boundary), x.getField("c"), lit("="),
        x.getField("r"), lit(ObsMap.Boundary))))
    val idKeyed = struct(
      col("concept_id").as("c"), col("obs_id").as("oid"),
      col("value_coded").cast("string").as("vc"),
      col("encounter_id").cast("string").as("enc"))
    val idCollected = sort_array(collect_list(when(col("concept_id").isNotNull, idKeyed)))
    val encEntries = transform(idCollected,
      x => concat(lit(ObsMap.Boundary), x.getField("c"), lit("="),
        coalesce(x.getField("vc"), lit("")), lit("="),
        coalesce(x.getField("enc"), lit("")), lit(ObsMap.Boundary)))
    val obsIdEntries = transform(idCollected,
      x => concat(lit(ObsMap.Boundary), x.getField("c"), lit("="),
        x.getField("oid"), lit(ObsMap.Boundary)))
    rows
      .withColumn("test_date", to_date(col("obs_datetime")))
      .groupBy("person_id", "test_date")
      .agg(
        (min(col("obs_id")) + lit(FlatObs.SyntheticEncounterBase)).cast("int")
          .as("encounter_id"),
        when(size(obsEntries) > 0, array_join(obsEntries, ObsMap.Sep)).as("obs"),
        max(col("date_created")).as("max_date_created"),
        when(size(encEntries) > 0, array_join(encEntries, ObsMap.Sep)).as("encounter_ids"),
        when(size(obsIdEntries) > 0, array_join(obsIdEntries, ObsMap.Sep)).as("obs_ids"))
      .select(
        col("person_id"), col("encounter_id"),
        col("test_date").cast("timestamp").as("test_datetime"),
        lit(99999).as("encounter_type"),
        lit(null).cast("int").as("location_id"),
        col("obs"), col("max_date_created"), col("encounter_ids"), col("obs_ids"))
  }

  private def canon(df: DataFrame): DataFrame =
    df.select(Schemas.flatLabObs.fieldNames.map(col).toIndexedSeq: _*)

  /** Full rebuild of every person-day lab group. */
  def build(obs: DataFrame, person: DataFrame): DataFrame =
    canon(FlatObs.removeVoidedPersons(aggLabs(labRows(obs)), person))

  /** Incremental: person-days touched by a lab void (date_voided > wm,
    * here the obs `date_voided` horizon, see [[Horizons]]; :84-93 — NB
    * the `date_created <= wm` guard is commented out in the reference;
    * kept that way) plus, in fixed mode, person-days with new lab obs.
    * Deletes match on date(test_datetime) = obs day (:96-98).
    */
  /** Persons whose flat_lab_obs rows can change this tick — a SUPERSET
    * of the (person, test_date) delta grain (safe for bucket-overwrite
    * writes): creators and voiders of panel obs since the watermark,
    * plus voided persons whose rows the purge removes.
    */
  def touchedPersons(
      obs: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      obsDelta: Option[DataFrame] = None,
      purgeSet: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    val obsD = obsDelta.getOrElse(obs)
    val panel = col("concept_id").isin(LabConcepts.map(Integer.valueOf): _*)
    val purge = purgeSet.getOrElse(FlatObs.voidedPurgeSet(person, None))
    obsD.filter(panel && col("date_voided") > lit(bounds.voided)).select("person_id")
      .union(obsD.filter(panel && col("date_created") > wm).select("person_id"))
      .union(purge)
      .distinct()
  }

  def incremental(
      existing: DataFrame,
      obs: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      includeNewObs: Boolean = true,
      obsDelta: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    // delta feed only seeds the day key sets; rebuilds read full source
    val obsD = obsDelta.getOrElse(obs)
    val panel = col("concept_id").isin(LabConcepts.map(Integer.valueOf): _*)

    val voidedDays = obsD.filter(
      col("voided") === 1 && col("date_voided") > lit(bounds.voided) && panel)
      .select(col("person_id"), to_date(col("obs_datetime")).as("test_date")).distinct()
    val newDays =
      if (includeNewObs)
        labRows(obsD).filter(col("date_created") > wm)
          .select(col("person_id"), to_date(col("obs_datetime")).as("test_date")).distinct()
      else voidedDays.limit(0)
    val days = voidedDays.union(newDays).distinct()

    val rebuilt = aggLabs(
      labRows(obs).withColumn("test_date", to_date(col("obs_datetime")))
        .join(days, Seq("person_id", "test_date"), "left_semi"))
    val deleted = existing
      .withColumn("test_date", to_date(col("test_datetime")))
      .join(days, Seq("person_id", "test_date"), "left_anti")
      .drop("test_date")
    canon(FlatObs.removeVoidedPersons(
      ReplaceInto(canon(deleted), rebuilt, Seq("encounter_id")), person))
  }
}
