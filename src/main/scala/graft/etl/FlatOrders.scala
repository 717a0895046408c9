package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ObsMap
import graft.operators.ReplaceInto

/** Stage 1b: flatten `openmrs.orders` per encounter — the Spark rebuild of
  * `generate_flat_orders()` (flat_orders_v1.0.sql:4-110).
  *
  * Per encounter: `orders` = GROUP_CONCAT of concept ids (plain, no
  * boundary tokens — flat_orders_v1.0.sql:65) and `order_datetimes` =
  * `!!concept=date(date_created)!!` entries (:85).
  *
  * Documented deviations (SURVEY §7.4):
  *  - §7.4.1: the reference's positional insert puts `e.location_id` into
  *    the `date_activated` DDL slot (:24 vs :64); the rebuild names the
  *    column `location_id` for what it holds.
  *  - the reference's two passes render order_datetimes inconsistently
  *    (raw datetime at :66, date() at :85); the rebuild uses date() always.
  *  - `order_id` is a bare column under GROUP BY (MySQL picks an arbitrary
  *    row); the rebuild takes max(order_id) deterministically.
  *  - the rebuild pass left-joins encounter (:70) while the new pass
  *    inner-joins (:89); the rebuild uses left join in both so orders with
  *    a dangling encounter_id are kept (null encounter columns).
  */
object FlatOrders {

  private def aggOrders(orderRows: DataFrame, encounter: DataFrame): DataFrame = {
    // Both map columns share the (concept, order_id) sort and derive from
    // ONE sorted collect (PhysicalAggregation dedups the identical
    // collect_list — see FlatObs.obsAggs for the tie-order argument; here
    // the date string is the struct's last field, matching the old
    // per-column entry-string tie-break).
    val keyed = struct(
      col("concept_id").as("c"), col("order_id").as("oid"),
      to_date(col("date_created")).cast("string").as("d"))
    val collected = sort_array(collect_list(when(col("concept_id").isNotNull, keyed)))
    val orderEntries = transform(collected, x => x.getField("c").cast("string"))
    val dtEntries = filter(
      transform(collected,
        x => when(x.getField("d").isNotNull,
          concat(lit(ObsMap.Boundary), x.getField("c"), lit("="),
            x.getField("d"), lit(ObsMap.Boundary)))),
      e => e.isNotNull)
    orderRows
      .filter(col("encounter_id") >= 1 && col("voided") === 0)
      .join(
        encounter.select("encounter_id", "encounter_datetime", "encounter_type", "location_id"),
        Seq("encounter_id"), "left")
      .groupBy("encounter_id")
      .agg(
        max(col("patient_id")).as("person_id"),
        max(col("order_id")).as("order_id"),
        max(col("encounter_datetime")).as("encounter_datetime"),
        max(col("encounter_type")).as("encounter_type"),
        max(col("location_id")).as("location_id"),
        when(size(orderEntries) > 0, array_join(orderEntries, ObsMap.Sep)).as("orders"),
        when(size(dtEntries) > 0, array_join(dtEntries, ObsMap.Sep)).as("order_datetimes"),
        max(col("date_created")).as("max_date_created"))
      .select("person_id", "encounter_id", "order_id", "encounter_datetime",
        "encounter_type", "location_id", "orders", "order_datetimes", "max_date_created")
  }

  private def canon(df: DataFrame): DataFrame =
    df.select(Schemas.flatOrders.fieldNames.map(col).toIndexedSeq: _*)

  /** Full rebuild. */
  def build(orders: DataFrame, encounter: DataFrame, person: DataFrame): DataFrame =
    canon(FlatObs.removeVoidedPersons(aggOrders(orders, encounter), person))

  /** Incremental (flat_orders_v1.0.sql:45-98): voided-order capture,
    * delete + rebuild touched encounters, add encounters with new orders,
    * purge voided persons.
    *
    * Fixed-mode deviation (§7.4 policy): the reference's voided capture
    * requires `date_created > @last_update` (:48) — a void of an order
    * created BEFORE the watermark is never captured, leaving its flat row
    * permanently stale. The rebuild captures on `date_voided > wm` alone,
    * which the incremental ≡ full-rebuild property requires.
    */
  /** Persons whose flat_orders rows can change this tick — a SUPERSET of
    * the delta (safe for bucket-overwrite writes): creators and voiders
    * of orders since the watermark, plus voided persons whose rows the
    * purge removes. Encounter changes don't queue here because the
    * reference's delta keys come from orders alone.
    */
  def touchedPersons(
      orders: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      ordersDelta: Option[DataFrame] = None,
      purgeSet: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    val ordD = ordersDelta.getOrElse(orders)
    val purge = purgeSet.getOrElse(FlatObs.voidedPurgeSet(person, None))
    ordD.filter(col("date_voided") > lit(bounds.voided))
      .select(col("patient_id").as("person_id"))
      .union(ordD.filter(col("date_created") > wm)
        .select(col("patient_id").as("person_id")))
      .union(purge)
      .distinct()
  }

  def incremental(
      existing: DataFrame,
      orders: DataFrame,
      encounter: DataFrame,
      person: DataFrame,
      bounds: Horizons,
      ordersDelta: Option[DataFrame] = None): DataFrame = {
    val wm = lit(bounds.created)
    // delta feed only seeds the key sets; the rebuild reads full source
    val ordD = ordersDelta.getOrElse(orders)
    val voidedKeys = ordD.filter(
      col("voided") === 1 && col("date_voided") > lit(bounds.voided))
      .filter(col("encounter_id").isNotNull)
      .select("encounter_id").distinct()
    val newKeys = ordD.filter(
      col("encounter_id") > 0 && col("voided") === 0 && col("date_created") > wm)
      .select("encounter_id").distinct()
    val keys = voidedKeys.union(newKeys).distinct()

    val rebuilt = aggOrders(orders.join(keys, Seq("encounter_id"), "left_semi"),
      encounter)
    val merged = ReplaceInto(
      ReplaceInto.deleteMatching(existing, keys, Seq("encounter_id")),
      rebuilt, Seq("encounter_id"))
    canon(FlatObs.removeVoidedPersons(merged, person))
  }
}
