"""One-command evidence bundle: certify EVERY registered query, then
(optionally) pytest and the bench sweep — and fail loudly if any
registered query name is missing from the produced correctness record.

This is the guard that would have caught the r4 driver-record
truncation (CORRECTNESS_r04.json stopped at 50 of 63 names): the
correctness sweep here iterates the full registry, writes
``evidence_correctness.json`` with one entry per name, and exits
nonzero if any name is absent or non-green.

Usage (~minutes at sf0.01). Run it from a directory outside the repo,
as the driver does, so the sweep also catches executor ``sys.path``
regressions:

    cd /tmp && python <repo>/tools/evidence.py --out /tmp   # correctness only
    python /root/repo/tools/evidence.py --pytest        # + full test suite
    python /root/repo/tools/evidence.py --bench         # + sf0.1 bench sweep
    python /root/repo/tools/evidence.py --sf /root/testdata/sf0.01 --out /tmp
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def run_correctness(sf_dir: str, out_path: str) -> int:
    import __spark_entry__ as e
    from pdxbldgimport_spark import oracle
    from pdxbldgimport_spark import registry as R
    from pdxbldgimport_spark.session import get_spark

    spark = get_spark(app_name="evidence")
    n = e.entry(spark).count()
    print(f"entry rows: {n}")

    con = oracle.duck_views(sf_dir)
    oracles = e.oracle_sql()
    record: dict[str, dict] = {}
    for name, fn in e.queries().items():
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        t0 = time.perf_counter()
        try:
            sp = fn(spark, sf_dir).toPandas()
            rec["spark_sec"] = round(time.perf_counter() - t0, 3)
            rec["spark_rows"] = len(sp)
            du = con.sql(oracles[name]).df()
            rec["oracle_rows"] = len(du)
            rec["rows_match"] = len(sp) == len(du)
            rec["schema_match"] = sorted(sp.columns) == sorted(du.columns)
            msg = oracle.diff(sp, du)
            rec["hash_match"] = msg is None
            print(f"{name}: {'OK' if msg is None else 'MISMATCH ' + msg} "
                  f"({len(sp)} rows) "
                  f"[{rec['spark_sec']}s]")
        except Exception as ex:  # noqa: BLE001 - recorded, not hidden
            rec["err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            print(f"{name}: ERR {rec['err']}")
        record[name] = rec

    with open(out_path, "w") as f:
        json.dump(record, f, indent=2)
    print(f"wrote {out_path} ({len(record)} entries)")

    # the evidence session holds a pinned heap + accumulated DISK_ONLY
    # checkpoint blocks; release the JVM before --pytest/--bench spawn
    # their own (a second pinned-heap JVM alongside this one would
    # contaminate the very timings the bundle records)
    spark.stop()

    fails = 0
    # THE guard: every registered name must be present and green —
    # validated against the WRITTEN file, not the in-memory dict the
    # loop itself iterated (a loop break / partial queries() view /
    # pre-write exception must not pass silently).
    with open(out_path) as f:
        written = json.load(f)
    missing = [q for q in R.QUERIES if q not in written]
    if missing:
        print(f"FATAL: names missing from record: {missing}")
        fails += len(missing)
    for name, rec in written.items():
        # a query without an oracle errs above; an empty result
        # matches its oracle vacuously, so it is not green either
        green = (
            rec["err"] is None
            and rec["rows_match"]
            and rec["schema_match"]
            and rec["hash_match"]
            and rec["spark_rows"] > 0
        )
        if not green:
            print(f"FATAL: {name} not green: {rec}")
            fails += 1
    return fails


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=REPO)
    ap.add_argument("--pytest", action="store_true")
    ap.add_argument("--bench", action="store_true")
    args = ap.parse_args()

    fails = run_correctness(
        args.sf, os.path.join(args.out, "evidence_correctness.json")
    )

    if args.pytest:
        rc = subprocess.run(
            [sys.executable, "-m", "pytest", "-x", "-q", "tests/"], cwd=REPO
        ).returncode
        print(f"pytest rc={rc}")
        fails += rc != 0

    if args.bench:
        out = subprocess.run(
            [sys.executable, "bench.py"], cwd=REPO,
            capture_output=True, text=True,
        )
        sys.stdout.write(out.stdout[-2000:])
        print(f"bench rc={out.returncode}")
        fails += out.returncode != 0

    print(f"EVIDENCE FAILS: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
