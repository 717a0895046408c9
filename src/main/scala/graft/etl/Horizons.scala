package graft.etl

import java.sql.Timestamp

/** The three bounds a stage's `> wm` predicates compare against.
  *
  *  - `created`: the creation watermark, the newest source `date_created`
  *    the last run captured (flat_obs_v1.0.sql:26-28,345).
  *  - `voided`: the modification horizon of the stage's own source's
  *    `date_voided` (obs for flat_obs, flat_lab_obs and the summary; orders
  *    for flat_orders).
  *  - `changed`: the modification horizon of encounter `date_changed`
  *    (flat_obs and the summary; the other stages ignore it).
  *
  * The reference compares its voids and changes against the creation
  * watermark (flat_obs_v1.0.sql:77), so a void newer than every creation
  * matches again on every later run; a horizon records how far that
  * column has been read instead. [[Horizons.at]] gives all three the same
  * value: the reference's single bound, and the streamed cascade's batch
  * watermark.
  */
final case class Horizons(created: Timestamp, voided: Timestamp, changed: Timestamp) {

  /** Each bound at least as late as the same bound of `floor` — a
    * recorded bound never regresses. */
  def atLeast(floor: Horizons): Horizons =
    Horizons(Horizons.later(created, floor.created), Horizons.later(voided, floor.voided),
      Horizons.later(changed, floor.changed))
}

object Horizons {
  def at(t: Timestamp): Horizons = Horizons(t, t, t)

  def later(a: Timestamp, b: Timestamp): Timestamp = if (a.before(b)) b else a
}
