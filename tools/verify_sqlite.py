#!/usr/bin/env python3
"""Reverse half of the SQLite cross-check: graft's Scala fixture
writer (operators/Sqlite.write) emits databases that the REAL engine
must open and agree with — schema objects, row counts, row text.
(The forward half — real-engine databases read by the graft census —
runs in SqliteSpec.)

Usage: python3 tools/verify_sqlite.py  (after `sbt Test/compile`)
"""
import os
import sqlite3
import subprocess
import sys
import tempfile

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
d = tempfile.mkdtemp(prefix="sqlite_verify_")
try:
    r = subprocess.run(["tools/runjava.sh", "graft.tools.SqliteFixtures", d],
                       cwd=root)
    if r.returncode != 0:
        sys.exit(r.returncode)
    fails = 0
    n = 0
    for name in sorted(os.listdir(d)):
        if not name.endswith(".db"):
            continue
        n += 1
        path = os.path.join(d, name)
        expect = open(path + ".expect").read().strip().split("\n")
        con = sqlite3.connect(path)
        cur = con.cursor()
        got = []
        for t, tname, rows in [tuple(e.split("\t")) for e in expect]:
            cur.execute(f"SELECT count(*) FROM {tname}")
            cnt = cur.fetchone()[0]
            got.append(f"{t}\t{tname}\t{cnt}")
            # integrity check runs the engine's own b-tree validation
        cur.execute("PRAGMA integrity_check")
        ok = cur.fetchone()[0] == "ok"
        con.close()
        if got != expect or not ok:
            print(f"FAIL {name}: integrity={ok} got={got} want={expect}")
            fails += 1
    print(f"{n - fails}/{n} graft-written databases open clean in the "
          f"real engine (incl. integrity_check)")
    sys.exit(1 if fails else 0)
finally:
    import shutil
    shutil.rmtree(d, ignore_errors=True)
