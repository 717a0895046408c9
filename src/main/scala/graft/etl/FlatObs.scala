package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ObsMap
import graft.operators.ReplaceInto

/** Stage 1: flatten `openmrs.obs` into one row per encounter (or per
  * (person, obs_datetime) for encounter-less obs groups) with the obs map
  * encoded as text — the Spark rebuild of `generate_flat_obs()`
  * (flat_obs_v1.0.sql:4-352).
  *
  * Grain 1 (with encounter): group by encounter_id, joined to encounter for
  * visit/type/location (flat_obs_v1.0.sql:115-153).
  * Grain 2 (encounter-less): group by (person_id, obs_datetime), synthetic
  * encounter_id = min(obs_id) + 100,000,000, encounter_type 99999
  * (flat_obs_v1.0.sql:157-194).
  *
  * Documented deviations (SURVEY §7.4):
  *  - fake visit ids: the reference mints a load-order-dependent counter
  *    (@fake_visit_id := @fake_visit_id + 1, :29,:160) — here they are
  *    deterministic: 10,000,000 + encounter_id. Unique, reproducible, and
  *    parallelizable (a global counter would serialize on one partition).
  *  - numeric obs values render MySQL-style ("24" not "24.0").
  *  - the reference only materializes encounter-less groups touched by a
  *    void (its new-encounter-less pass is commented out, :251-291); the
  *    rebuild always includes them (fixed mode).
  */
object FlatObs {

  val FakeVisitBase = 10000000L
  val SyntheticEncounterBase = 100000000L

  /** The 7-way typed-value render (flat_obs_v1.0.sql:124-132) — the one
    * shared implementation, MySQL numeric rendering included, lives in
    * [[ObsMap.renderTypedValue]]. */
  def renderedValue: Column =
    ObsMap.renderTypedValue(
      col("value_coded"), col("value_numeric"), col("value_datetime"),
      col("value_boolean"), col("value_text"), col("value_drug"),
      col("value_modifier"))

  /** obs-map aggregate columns shared by every pass: `obs` (concept=value)
    * and `obs_datetimes` (concept=date(obs_datetime)), both ordered by
    * (concept_id, value_coded) with rendered-value tie-break
    * (flat_obs_v1.0.sql:123-144).
    *
    * Both map columns derive from ONE sorted collect: they share the sort
    * keys and their entry strings are pure functions of the collected
    * struct fields, and PhysicalAggregation dedups the two references to
    * the identical collect_list — so the aggregation carries one struct
    * stream per row instead of two (the dominant state in the stage's
    * ObjectHashAggregate). Tie order is unchanged: for rows equal in
    * (concept, value_coded, rendered) the old per-column sort compared
    * the entry string "!!<concept>=<date>!!", which with concept equal is
    * exactly comparing the date string — the struct's last field.
    */
  private def obsAggs: Seq[Column] = {
    val rendered = renderedValue
    val keyed = struct(
      col("concept_id").as("c"), col("value_coded").as("vc"), rendered.as("r"),
      to_date(col("obs_datetime")).cast("string").as("d"))
    // GROUP_CONCAT skips rows whose entry is NULL — which in MySQL's
    // CONCAT('!!', concept_id, '=', rendered, '!!') means a null rendered
    // value OR a null concept_id; the row still counts toward
    // max_date_created, exactly as in MySQL's GROUP BY.
    val collected = sort_array(collect_list(
      when(rendered.isNotNull && col("concept_id").isNotNull, keyed)))
    val obsEntries = transform(collected,
      x => concat(lit(ObsMap.Boundary), x.getField("c"), lit("="),
        x.getField("r"), lit(ObsMap.Boundary)))
    val dtEntries = filter(
      transform(collected,
        x => when(x.getField("d").isNotNull,
          concat(lit(ObsMap.Boundary), x.getField("c"), lit("="),
            x.getField("d"), lit(ObsMap.Boundary)))),
      e => e.isNotNull)
    Seq(
      when(size(obsEntries) > 0, array_join(obsEntries, ObsMap.Sep)).as("obs"),
      when(size(dtEntries) > 0, array_join(dtEntries, ObsMap.Sep)).as("obs_datetimes"),
      max(col("date_created")).as("max_date_created"))
  }

  /** Aggregate with-encounter obs rows (already filtered) to flat rows. */
  private def aggWithEncounter(obsRows: DataFrame, encounter: DataFrame): DataFrame = {
    val joined = obsRows
      .filter(col("encounter_id") > 0 && col("voided") === 0)
      .join(encounter.select("encounter_id", "visit_id", "encounter_datetime",
        "encounter_type", "location_id"), Seq("encounter_id"))
    joined.groupBy("encounter_id")
      .agg(
        max(col("person_id")).as("person_id"),
        (Seq(
          max(col("visit_id")).as("real_visit_id"),
          max(col("encounter_datetime")).as("encounter_datetime"),
          max(col("encounter_type")).as("encounter_type"),
          max(col("location_id")).as("location_id")) ++ obsAggs): _*)
      .withColumn("visit_id",
        coalesce(col("real_visit_id"), (lit(FakeVisitBase) + col("encounter_id")).cast("int")))
      .select("person_id", "visit_id", "encounter_id", "encounter_datetime",
        "encounter_type", "location_id", "obs", "obs_datetimes",
        "max_date_created")
  }

  /** Aggregate encounter-less obs rows to flat rows at the
    * (person, obs_datetime) grain (flat_obs_v1.0.sql:157-194). */
  private def aggEncounterless(obsRows: DataFrame): DataFrame =
    obsRows.filter(col("encounter_id").isNull && col("voided") === 0)
      .groupBy("person_id", "obs_datetime")
      .agg(
        (min(col("obs_id")) + lit(SyntheticEncounterBase)).cast("int").as("encounter_id"),
        obsAggs: _*)
      .select(
        col("person_id"),
        (lit(FakeVisitBase) + col("encounter_id")).cast("int").as("visit_id"),
        col("encounter_id"),
        col("obs_datetime").as("encounter_datetime"),
        lit(99999).as("encounter_type"),
        lit(null).cast("int").as("location_id"),
        col("obs"), col("obs_datetimes"), col("max_date_created"))

  /** Canonical schema: exactly [[Schemas.flatObs]]'s columns, so a
    * stored table carrying any other column (an older layout's extras)
    * sheds it on the next merge. */
  private def canon(df: DataFrame): DataFrame =
    df.select(Schemas.flatObs.fieldNames.map(col).toIndexedSeq: _*)

  /** Full rebuild: every obs group, both grains, voided persons removed. */
  def build(obs: DataFrame, encounter: DataFrame, person: DataFrame): DataFrame = {
    val withEnc = aggWithEncounter(obs, encounter.filter(col("voided") === 0))
    val noEnc = aggEncounterless(obs)
    canon(removeVoidedPersons(withEnc.unionByName(noEnc), person))
  }

  /** Incremental update — the reference's delta dance
    * (flat_obs_v1.0.sql:74-340):
    *  1. voided_obs: voided=1 ∧ date_voided > wm ∧ date_created <= wm (:77);
    *  2. encounters_with_updated_data: date_changed > wm, already flat (:80);
    *  3. encounters_with_new_obs: obs date_created > wm (:199);
    *  4. delete + re-aggregate every touched group at both grains;
    *  5. purge voided persons (:337).
    * Here `date_voided` and `date_changed` compare against the stage's
    * modification horizons in `bounds`, not the creation watermark
    * (flagged deviation, see [[Horizons]]).
    * The delta key sets drive semi/anti joins with no forced broadcast
    * hint: on a steady-state tick they are tiny and AQE converts the join
    * to broadcast at runtime; on a cold/full-delta run they are the whole
    * table and a forced hint would OOM the driver. Recompute scans only
    * rows of affected groups either way.
    */
  def incremental(
      existing: DataFrame,
      obs: DataFrame,
      encounter: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      obsDelta: Option[DataFrame] = None,
      encounterDelta: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    // Delta feeds ONLY seed key sets; every group rebuild below reads the
    // full source-of-truth, so a feed that over-approximates (stale
    // versions, extra rows) costs work, never correctness — the same
    // predicates are re-applied either way (ChangeFeed contract).
    val obsD = obsDelta.getOrElse(obs)
    val encD = encounterDelta.getOrElse(encounter)

    val voidedObs = obsD.filter(col("voided") === 1 &&
      col("date_voided") > lit(bounds.voided) && col("date_created") <= wm)

    // encounter-grain delta keys: voided ∪ changed ∪ new.
    // The reference's changed-encounter set keeps only unvoided
    // encounters already present in the flat table (flat_obs_v1.0.sql:80)
    // — which silently misses encounter-level voids (the flat row is
    // never retracted) and unvoids (the row is never materialized).
    // Fixed mode (policy: fixed, flagged): every encounter with
    // date_changed > wm enters the key set regardless of voided state or
    // flat presence; delete-by-key plus the voided=0 rebuild join then
    // retracts voided encounters and materializes unvoided ones, matching
    // a full rebuild.
    val voidedEncKeys = voidedObs.filter(col("encounter_id").isNotNull)
      .select("encounter_id").distinct()
    val changedEncKeys = encD
      .filter(col("date_changed") > lit(bounds.changed))
      .select("encounter_id")
      .distinct()
    val newObsEncKeys = obsD.filter(
      col("encounter_id") > 0 && col("voided") === 0 && col("date_created") > wm)
      .select("encounter_id").distinct()

    // (person, obs_datetime)-grain delta keys (voids + new encounter-less)
    val voidedMomentKeys = voidedObs.filter(col("encounter_id").isNull)
      .select("person_id", "obs_datetime").distinct()

    // The encounter-less void delete matches flat rows on
    // (person, encounter_datetime) — which can hit a REAL encounter's row
    // that shares the timestamp. The reference deletes it and never
    // rebuilds it (flat_obs_v1.0.sql:110-113 followed by a pass that only
    // re-adds the encounter-less grain :157-194 — data loss, quirk
    // register). Fixed here: real encounters caught by a voided moment are
    // added to the rebuild key set.
    val collidingEncKeys = existing
      .join(voidedMomentKeys
        .withColumnRenamed("obs_datetime", "encounter_datetime"),
        Seq("person_id", "encounter_datetime"), "left_semi")
      .filter(col("encounter_id") < SyntheticEncounterBase.toInt)
      .select("encounter_id")
    val encKeys = voidedEncKeys.union(changedEncKeys).union(newObsEncKeys)
      .union(collidingEncKeys).distinct()
    val newMomentKeys = obsD.filter(
      col("encounter_id").isNull && col("voided") === 0 && col("date_created") > wm)
      .select("person_id", "obs_datetime").distinct()
    val momentKeys = voidedMomentKeys.union(newMomentKeys).distinct()

    // recompute touched groups from source-of-truth
    val rebuiltEnc = aggWithEncounter(
      obs.join(encKeys, Seq("encounter_id"), "left_semi"),
      encounter.filter(col("voided") === 0))
    val rebuiltMoments = aggEncounterless(
      obs.join(momentKeys, Seq("person_id", "obs_datetime"), "left_semi"))

    // deletes: groups whose members are all gone produce no rebuilt row, so
    // delete-by-key + merge covers retraction. Voided moments delete ANY
    // flat row at (person, datetime) — faithful to the reference's
    // encounter-less void delete (flat_obs_v1.0.sql:110-113). New moments
    // must only displace stale SYNTHETIC rows (whose min(obs_id) key may
    // have shifted), never a real encounter that shares the timestamp.
    val deletedByEnc = ReplaceInto.deleteMatching(existing, encKeys, Seq("encounter_id"))
    val afterVoidedMoments = deletedByEnc.join(
      voidedMomentKeys.withColumnRenamed("obs_datetime", "encounter_datetime"),
      Seq("person_id", "encounter_datetime"), "left_anti")
    val deleted = afterVoidedMoments
      .join(
        newMomentKeys
          .withColumnRenamed("obs_datetime", "encounter_datetime")
          .withColumn("__new_moment", lit(1)),
        Seq("person_id", "encounter_datetime"), "left")
      .filter(col("__new_moment").isNull || col("encounter_id") < SyntheticEncounterBase.toInt)
      .drop("__new_moment")

    val merged = ReplaceInto(
      canon(deleted), rebuiltEnc.unionByName(rebuiltMoments), Seq("encounter_id"))
    canon(removeVoidedPersons(merged, person))
  }

  /** Persons whose flat rows [[incremental]] could touch for a given
    * watermark — a SUPERSET of the delta (safe for bucket-overwrite
    * writes, [[graft.operators.BucketedSink.overwriteChanged]]): creators
    * and voiders of obs, changed/new encounters, plus voided persons whose
    * rows the purge removes.
    */
  def touchedPersons(
      obs: DataFrame,
      encounter: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      obsDelta: Option[DataFrame] = None,
      encounterDelta: Option[DataFrame] = None,
      purgeSet: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    val obsD = obsDelta.getOrElse(obs)
    val encD = encounterDelta.getOrElse(encounter)
    val purge = purgeSet.getOrElse(voidedPurgeSet(person, None))
    obsD.filter(col("date_voided") > lit(bounds.voided)).select("person_id")
      .union(obsD.filter(col("date_created") > wm).select("person_id"))
      .union(encD.filter(col("date_changed") > lit(bounds.changed))
        .select(col("patient_id").as("person_id")))
      .union(encD.filter(col("date_created") > wm)
        .select(col("patient_id").as("person_id")))
      .union(purge)
      .distinct()
  }

  /** The voided-person purge only moves rows that are still present:
    * with `existing` given, the purge set narrows to voided persons the
    * table actually holds (a cheap columnar person_id scan) instead of
    * re-touching every long-voided person's bucket on every tick.
    * Without `existing` it is every voided person: the default purge set
    * of every stage's `touchedPersons`.
    */
  def voidedPurgeSet(person: DataFrame, existing: Option[DataFrame]): DataFrame =
    existing match {
      case Some(table) => person.filter(col("voided") === 1)
        .join(table.select("person_id"), Seq("person_id"), "left_semi")
        .select("person_id")
      case None => person.filter(col("voided") === 1).select("person_id")
    }

  /** DELETE voided persons (flat_obs_v1.0.sql:337-340). */
  def removeVoidedPersons(flat: DataFrame, person: DataFrame): DataFrame =
    flat.join(
      person.filter(col("voided") === 1).select("person_id"),
      Seq("person_id"), "left_anti")
}
