"""Key-set checks in DuckDB, apart from the Spark code path.

Each table's keys are recomputed from the source parquet with the grain
rules of the reference SQL, as of the day the final tables reflect:
  flat_obs        encounter ids, plus person x obs_datetime groups of
                  encounter-less obs (synthetic id = min(obs_id) + 1e8)
  flat_orders     encounter ids
  flat_lab_obs    person x day of lab-panel obs
  flat_latest_hiv_summary  persons with a clinical (type 21/22) encounter
Voided rows and voided persons are excluded everywhere. The keys the
pipeline holds are read by DuckDB straight from the parquet files each
live table references, and compared as multisets, so a duplicate fails
too.
"""
import os

LAB_CONCEPTS = (856, 5497, 730, 21, 653, 790, 12, 1030, 1040, 1271, 9508, 6126,
                887, 6252, 1537, 857)

EXPECTED = {
    "flat_obs": """
        SELECT person_id, encounter_id FROM (
          SELECT max(o.person_id) AS person_id, o.encounter_id
          FROM obs o JOIN enc e ON o.encounter_id = e.encounter_id
          WHERE o.voided = 0 AND e.voided = 0 AND o.encounter_id > 0
          GROUP BY o.encounter_id
          UNION ALL
          SELECT person_id, min(obs_id) + 100000000 AS encounter_id
          FROM obs WHERE voided = 0 AND encounter_id IS NULL
          GROUP BY person_id, obs_datetime) k
        WHERE NOT EXISTS (SELECT 1 FROM voided_person v WHERE v.person_id = k.person_id)""",
    "flat_orders": """
        SELECT person_id, encounter_id FROM (
          SELECT max(patient_id) AS person_id, encounter_id FROM ord
          WHERE voided = 0 AND encounter_id >= 1 GROUP BY encounter_id) k
        WHERE NOT EXISTS (SELECT 1 FROM voided_person v WHERE v.person_id = k.person_id)""",
    "flat_lab_obs": """
        SELECT DISTINCT person_id, CAST(obs_datetime AS DATE) AS test_date FROM obs k
        WHERE voided = 0 AND concept_id IN %s
          AND NOT (concept_id = 1271 AND value_coded = 1107)
          AND NOT EXISTS (SELECT 1 FROM voided_person v WHERE v.person_id = k.person_id)"""
        % (LAB_CONCEPTS,),
    "flat_latest_hiv_summary": """
        SELECT DISTINCT k.person_id FROM (
          SELECT max(o.person_id) AS person_id, max(e.encounter_type) AS encounter_type
          FROM obs o JOIN enc e ON o.encounter_id = e.encounter_id
          WHERE o.voided = 0 AND e.voided = 0 AND o.encounter_id > 0
          GROUP BY o.encounter_id) k
        JOIN person p ON p.person_id = k.person_id
        WHERE k.encounter_type IN (21, 22) AND p.voided = 0""",
}


KEY_COLUMNS = {
    "flat_obs": "person_id, encounter_id",
    "flat_orders": "person_id, encounter_id",
    "flat_lab_obs": "person_id, CAST(test_datetime AS DATE)",
    "flat_latest_hiv_summary": "person_id",
}


def check(src_dir, live_files, asof):
    """Problems found (empty when every key set matches)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")

    def src(t):
        return "read_parquet('%s')" % os.path.join(src_dir, t, "*.parquet")

    def at(day):
        return "(TIMESTAMP '2015-01-01' + INTERVAL %d DAY)" % int(day)

    con.execute("CREATE VIEW person AS SELECT person_id, voided FROM %s" % src("person"))
    con.execute("CREATE VIEW voided_person AS SELECT person_id FROM person WHERE voided = 1")
    con.execute("""CREATE VIEW obs AS SELECT obs_id, person_id, encounter_id, concept_id,
        obs_datetime, value_coded,
        CASE WHEN voided = 1 AND date_voided <= {t} THEN 1 ELSE 0 END AS voided
        FROM {s} WHERE date_created <= {t}""".format(s=src("obs"), t=at(asof["obs"])))
    con.execute("""CREATE VIEW enc AS SELECT encounter_id, encounter_type, voided
        FROM {s} WHERE date_created <= {t}""".format(s=src("encounter"), t=at(asof["encounter"])))
    con.execute("""CREATE VIEW ord AS SELECT patient_id, encounter_id,
        CASE WHEN voided = 1 AND date_voided <= {t} THEN 1 ELSE 0 END AS voided
        FROM {s} WHERE date_created <= {t}""".format(s=src("orders"), t=at(asof["orders"])))

    problems = []
    for table, sql in EXPECTED.items():
        files = live_files.get(table) or []
        if not files:
            problems.append("%s has no live files" % table)
            continue
        got = "SELECT %s FROM read_parquet([%s])" % (
            KEY_COLUMNS[table], ", ".join("'%s'" % f for f in files))
        want = "SELECT * FROM (%s)" % sql
        missing = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)" % (want, got)).fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)" % (got, want)).fetchone()[0]
        n = con.execute("SELECT count(*) FROM (%s)" % want).fetchone()[0]
        if missing or extra or n == 0:
            problems.append("%s keys vs DuckDB: %d missing, %d extra of %d expected"
                            % (table, missing, extra, n))
    return problems
