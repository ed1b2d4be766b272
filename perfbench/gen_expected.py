"""Regenerate ``perfbench/expected.json``: the row count and canonical
digest of every ``query_mix`` query, computed by the registry's DuckDB
oracle over the benchmark's copy of the input tables, and the row count
of every stage of ``plans.manifest.run_pipeline``, computed in DuckDB
from the oracle of the same table.

    python3 perfbench/gen_expected.py

Takes a few minutes: some oracles are slow in DuckDB (``bpe_merge_topk``
alone takes over a minute at sf0.01), which is why the benchmark reads
the stored values instead of running the oracles on every run.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402

SCALES = ("sf0.01", "sf0.001")


def stage_oracles() -> dict:
    """The DuckDB query each pipeline stage's rows must match: the
    registry oracle of the same table where there is one, else the synth
    table or conflation CTE it materializes (footprints_ingest drops the
    bowtie footprints, every 97th id from 5, as geometry repair does)."""
    from pdxbldgimport_spark import oracles_conflation as OC
    from pdxbldgimport_spark import registry as R
    from pdxbldgimport_spark import synth

    same = ["pip_assign", "knn_unassigned", "pdx_addrs", "addr_bldg_counts",
            "house_and_garage", "pdx_bldgs", "tile_export"]
    sql = {s: R.ORACLES[s] for s in same}
    sql["pages_ingest"] = synth.oracle_with("pages") + " SELECT * FROM pages"
    sql["footprints_ingest"] = (synth.oracle_with("footprints_base")
                                + " SELECT * FROM footprints_base WHERE fp_id % 97 <> 5")
    sql["cbldg_enriched"] = synth.oracle_with("cbldg_base") + " SELECT * FROM cbldg_base"
    sql["pdx_bldg_view"] = OC.with_prefix(OC.PDX_BLDGS_CTES) + " SELECT * FROM v"
    assert sorted(sql) == sorted(workloads.PIPELINE_STAGES)
    return sql


def main() -> int:
    from pdxbldgimport_spark import registry as R

    results: dict[str, dict] = {}
    pipeline_rows: dict[str, dict] = {}
    stages = stage_oracles()
    for sf in SCALES:
        con = check.duck_views(sf)
        results[sf] = {}
        pipeline_rows[sf] = {
            s: con.sql(f"SELECT COUNT(*) FROM ({stages[s]}) t").fetchone()[0]
            for s in workloads.PIPELINE_STAGES
        }
        print(f"{sf} pipeline rows: {pipeline_rows[sf]}", file=sys.stderr)
        for q in workloads.QUERY_MIX:
            t0 = time.perf_counter()
            results[sf][q] = check.digest(con.sql(R.ORACLES[q]).df())
            print(f"{sf} {q}: {results[sf][q]['rows']} rows "
                  f"[{time.perf_counter() - t0:.1f}s]", file=sys.stderr)
        con.close()
    doc = {
        "command": "python3 perfbench/gen_expected.py",
        "source": "registry.ORACLES and the pipeline stage oracles of gen_expected.py, run in DuckDB over perfbench/data/<sf>",
        "results": results,
        "pipeline_rows": pipeline_rows,
    }
    with open(check.EXPECTED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
