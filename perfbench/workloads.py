"""The benchmark's workloads. Each is one closed-loop client in one fresh
process: set-up (counted in ``setup_s``), an untimed warm-up, then timed
operations until ``--seconds`` have passed, then the output check.

An operation is one call into the engine's public API that returns a
DataFrame (the driver-side *build*), followed by one action on it (the
*execute*): a ``noop`` write in timed operations.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

import check

# query_mix membership: the iterative half is driver-build and
# scheduling bound (27-33 jobs per query), the kernel half is Python/Arrow
# (applyInPandas) and JVM-operator (SortAggregate) bound with 4-8 jobs.
# Thirteen more queries of the same two profiles are left out to keep a
# run within the benchmark's time budget; README.md lists them and why.
ITERATIVE = [
    "host_sssp",
    "redirect_resolve",
]
KERNEL = [
    "rel_artifacts",         # applyInPandas
    "snap_to_segment",       # SortAggregate (struct argmin)
    "part_share_suppliers",  # regressed 0.64x in round 6
]
QUERY_MIX = ITERATIVE + KERNEL

# the stages of plans.manifest.run_pipeline, in build order
PIPELINE_STAGES = [
    "pages_ingest", "footprints_ingest", "pip_assign", "knn_unassigned",
    "cbldg_enriched", "pdx_addrs", "addr_bldg_counts", "house_and_garage",
    "pdx_bldg_view", "pdx_bldgs", "tile_export",
]

POINTS = 12_000_000     # pip_assign_bulk input size
WARM_JOINS = 2          # untimed pip_assign_bulk calls before timing
HOT_PARCEL_MOD = 7      # 1 point in 7 lands in the hot parcel, as in synth.pages
SAMPLE_POINTS = 4000    # points whose assignment is checked against DuckDB


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State of one benchmark run: the session, the timings of the set-up
    steps and operations, and the count of attempted and failed ones."""

    def __init__(self, spark, sf: str, seed: int, seconds: float, tracer,
                 layers, work_dir: str, expected: str, points: int):
        self.spark = spark
        self.sf = sf
        self.sf_dir = check.sf_dir(sf)
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.layers = layers
        self.work_dir = work_dir
        self.expected = expected
        self.points = points
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0
        self.input_s = 0.0
        self.t_measure = None
        self.not_setup_s = 0.0
        self.measure_wall = None
        self.report: dict = {}
        self.pipeline: dict[str, float] = {}

    def step(self, key: str, fn):
        """A timed set-up step, e.g. ``synth.views_s``."""
        with self.tracer.span(key):
            t0 = time.perf_counter()
            out = fn()
            self.setup[key] = self.setup.get(key, 0.0) + time.perf_counter() - t0
        return out

    def _fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {err}"
        self.errors.append(f"{what}: {msg}"[:400])
        print(f"perfbench: {what} failed: {msg}", file=sys.stderr)

    def op(self, name: str, build, action=_noop, timed: bool = True):
        """Build and execute one operation; returns the action's result, or
        None when the operation raised (counted as failed)."""
        self.attempted += 1
        group = self.layers.begin(name) if self.layers else None
        rec = {"op": name, "timed": timed}
        result = None
        with self.tracer.span("op", op=name, timed=timed):
            t0 = time.perf_counter()
            try:
                with self.tracer.span("build", op=name):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span("execute", op=name):
                    result = action(df)
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0)
            except Exception as e:  # one failed op must not end the run
                traceback.print_exc()
                self._fail(name, e)
                rec["error"] = True
        if group is not None:
            rec["layers"] = self.layers.end(group)
        self.ops.append(rec)
        return result

    def check(self, name: str, fn) -> None:
        """An output check; ``fn`` returns None when the output is right,
        else a description of the mismatch."""
        self.attempted += 1
        with self.tracer.span("oracle.check", op=name):
            t0 = time.perf_counter()
            try:
                problem = fn()
            except Exception as e:  # a check that cannot run is a failure
                traceback.print_exc()
                problem = f"{type(e).__name__}: {e}"
            self.check_s += time.perf_counter() - t0
        if problem:
            self._fail(f"check {name}", problem)

    def measure(self, pass_ops, min_passes: int = 1) -> None:
        """Timed closed loop: whole passes of ``pass_ops(p)`` (a list of
        (name, build)) until ``seconds`` have passed and at least
        ``min_passes`` ran."""
        self.t_measure = time.perf_counter()
        # the benchmark's own work before timing is not the engine's set-up
        self.not_setup_s = self.input_s + self.check_s
        p = 1
        while True:
            with self.tracer.span("pass", index=p):
                for name, build in pass_ops(p):
                    self.op(name, build)
            if p >= min_passes and time.perf_counter() - self.t_measure >= self.seconds:
                break
            p += 1
        self.measure_wall = time.perf_counter() - self.t_measure

    def timed_ok(self) -> list[dict]:
        return [r for r in self.ops if r["timed"] and "error" not in r]


def _points_df(spark, seed: int, n: int, partitions: int):
    """Seeded points over the synth world's parcel grid: one in
    HOT_PARCEL_MOD lands in the hot parcel, the rest spread uniformly over
    all parcels, each at a uniform position inside its parcel (the same
    placement rule as ``synth.pages``)."""
    from pyspark.sql import functions as F

    from pdxbldgimport_spark import synth

    def h(k: int):
        return F.xxhash64(F.lit(seed), F.col("id"), F.lit(k))

    def unit(k: int):
        return F.pmod(h(k), F.lit(1 << 30)) / float(1 << 30)

    pid = F.when(F.pmod(h(0), F.lit(HOT_PARCEL_MOD)) == 3, F.lit(synth.HOT_PARCEL)) \
        .otherwise(F.pmod(h(1), F.lit(synth.NP)))
    return (
        spark.range(0, n, 1, partitions)
        .select(F.col("id").alias("point_id"), pid.alias("pid"),
                unit(2).alias("u"), unit(3).alias("v"))
        .select(
            "point_id",
            (F.lit(synth.W) + ((F.col("pid") % synth.NPX) + 0.02 + 0.96 * F.col("u"))
             * F.lit(synth.PW)).alias("lon"),
            (F.lit(synth.S) + (F.floor(F.col("pid") / float(synth.NPX)) + 0.02
                               + 0.96 * F.col("v")) * F.lit(synth.PH)).alias("lat"),
        )
    )


def _expected_assignments(run: Run, path: str, lo: int, hi: int) -> set:
    """``pip_assign``'s rectangle predicate over ``footprints_base`` and the
    tile formula of ``page_tile_counts``, in DuckDB, for point ids in
    [lo, hi)."""
    from pdxbldgimport_spark import synth
    from pdxbldgimport_spark.geo import cells as C

    n = 1 << C.RES_TILE
    con = check.duck_views(run.sf)
    try:
        rows = con.sql(
            synth.oracle_with("footprints_base")
            + f"""
            SELECT p.point_id, f.fp_id,
              CAST(LEAST(GREATEST(FLOOR((p.lat - ({C.LAT_S!r})) / {C.SPAN_Y!r} * {n}e0), 0), {n - 1}) AS BIGINT) * {n}
              + CAST(LEAST(GREATEST(FLOOR((p.lon - ({C.LON_W!r})) / {C.SPAN_X!r} * {n}e0), 0), {n - 1}) AS BIGINT)
            FROM read_parquet('{path}/*.parquet') p
            JOIN footprints_base f
              ON f.fp_id % 97 <> 5
             AND p.lon >= f.x0 AND p.lon < f.x1
             AND p.lat >= f.y0 AND p.lat < f.y1
            WHERE p.point_id >= {lo} AND p.point_id < {hi}
            """
        ).fetchall()
    finally:
        con.close()
    return {tuple(int(v) for v in r) for r in rows}


def pip_assign_bulk(run: Run) -> None:
    """Bulk point-in-polygon assignment: ``run.points`` seeded points,
    written to parquet during set-up, each assigned to its footprint and
    tile through ``queries.pip_fp_join`` — the BASELINE.json headline."""
    from pyspark.sql import functions as F, types as T

    from pdxbldgimport_spark import queries as Q
    from pdxbldgimport_spark.geo import cells as C
    from pdxbldgimport_spark.operators.pip_join import tile_expr

    spark = run.spark
    run.step("queries.prepared_fp_cover_s",
             lambda: Q.prepared_fp_cover(spark, run.sf_dir))

    path = f"{run.work_dir}/points"
    with run.tracer.span("input.generate", points=run.points):
        t0 = time.perf_counter()
        parts = 2 * spark.sparkContext.defaultParallelism
        _points_df(spark, run.seed, run.points, parts).write.mode("overwrite").parquet(path)
        run.input_s += time.perf_counter() - t0

    pts = spark.read.parquet(path).select(
        "point_id", "lon", "lat",
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile_id"),
    )

    def build():
        return Q.pip_fp_join(spark, run.sf_dir, pts, "point_id",
                             carry=[("tile_id", T.LongType())])

    def warm():
        # the second call still ran 10-30% slower than later ones
        for _ in range(WARM_JOINS):
            run.op("pip_fp_join", build, timed=False)

    run.step("queries.warm_pass_s", warm)
    run.measure(lambda p: [("pip_fp_join", build)])

    # a seeded run of consecutive ids: positions are hashed from the id, so
    # the sample is spread over the whole extent, and both engines prune
    # the point file by its id statistics
    size = min(SAMPLE_POINTS, run.points)
    lo = random.Random(run.seed).randrange(run.points - size + 1)
    hi = lo + size

    def sample_check():
        got = {
            (r["point_id"], r["fp_id"], r["tile_id"])
            for r in build().where((F.col("point_id") >= lo) & (F.col("point_id") < hi)).collect()
        }
        want = _expected_assignments(run, path, lo, hi)
        if not want:
            return "the sample hit no footprint"
        if got != want:
            return (f"{len(got ^ want)} of {len(want)} sampled assignments differ,"
                    f" e.g. {sorted(got ^ want)[:3]}")
        return None

    run.check("pip_sample", sample_check)
    if run.layers:
        run.step("spark.scan_s", lambda: _noop(spark.read.parquet(path)))
    ok = run.timed_ok()
    walls = [r["wall_s"] for r in ok]
    run.report = {
        "points": run.points,
        "docs_per_s": run.points * len(walls) / sum(walls) if walls else None,
        "join_s": walls,
    }


def query_mix(run: Run) -> None:
    """Registry queries in a per-pass order shuffled from the seed. The
    untimed warm-up pass collects every result and checks it against the
    stored oracle digest; timed passes use the noop sink."""
    from pdxbldgimport_spark import registry as R

    spark = run.spark
    expected = check.load_expected(run.expected, run.sf)

    def order(p: int) -> list[str]:
        return random.Random(f"{run.seed}/{p}").sample(QUERY_MIX, len(QUERY_MIX))

    def build_of(q: str):
        return lambda: R.QUERIES[q](spark, run.sf_dir)

    def warm_pass():
        for q in order(0):
            pdf = run.op(q, build_of(q), action=lambda df: df.toPandas(), timed=False)
            if pdf is not None:
                run.check(q, lambda: _compare_digest(check.digest(pdf), expected[q]))

    run.step("queries.warm_pass_s", warm_pass)
    # the first timed pass still runs slower than later ones; two passes
    # keep every run's sample the same size
    run.measure(lambda p: [(q, build_of(q)) for q in order(p)], min_passes=2)

    ok = run.timed_ok()
    walls = [r["wall_s"] for r in ok]
    per_query = {}
    for q in QUERY_MIX:
        mine = [r for r in ok if r["op"] == q]
        if mine:
            per_query[q] = {
                "half": "iterative" if q in ITERATIVE else "kernel",
                "build_s": statistics.median(r["build_s"] for r in mine),
                "execute_s": statistics.median(r["execute_s"] for r in mine),
                "n": len(mine),
            }
    run.report = {
        "queries": per_query,
        "query_p50_s": statistics.median(walls) if walls else None,
        "queries_per_s": len(walls) / run.measure_wall,
        "query_tail_s": tail(walls),
    }
    if run.layers:
        # the traced run only: a cold build takes half a minute, too long
        # for every run, and it comes after the timed passes
        pipeline(run)


def pipeline(run: Run) -> None:
    """The checkpointed pipeline, in the traced run only: one cold
    ``plans.manifest.run_pipeline`` into an empty root, then one resume
    over it. Each stage's wall time is the one its manifest records; the
    bytes are those of every file under the root."""
    from pdxbldgimport_spark.plans.manifest import StageRunner, run_pipeline

    root = f"{run.work_dir}/pipeline"
    reports = {}
    for phase in ("cold", "resume"):
        run.attempted += 1
        with run.tracer.span(f"manifest.{phase}"):
            t0 = time.perf_counter()
            try:
                reports[phase] = run_pipeline(run.spark, run.sf_dir, root)
            except Exception as e:  # a failed build must not end the run
                traceback.print_exc()
                run._fail(f"run_pipeline ({phase})", e)
                return
            run.pipeline[f"{phase}_s"] = time.perf_counter() - t0

    runner = StageRunner(run.spark, root)
    manifests = {s: runner.read_manifest(s) for s in PIPELINE_STAGES}
    for s, m in manifests.items():
        if m is not None:
            run.pipeline[f"stage_s.{s}"] = float(m["wall_s"])
    run.pipeline["rows_written"] = float(sum(m["row_count"] for m in manifests.values() if m))
    run.pipeline["bytes_written"] = float(sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files))
    want_rows = check.load_pipeline_rows(run.expected, run.sf)

    def rows_check():
        got = {s: m["row_count"] if m else None for s, m in manifests.items()}
        if reports["cold"]["built"] != PIPELINE_STAGES:
            return f"the cold build built {reports['cold']['built']}"
        if got != want_rows:
            return f"stage rows {got}, want {want_rows}"
        return None

    def resume_check():
        rep = reports["resume"]
        if rep["built"] or rep["skipped"] != PIPELINE_STAGES:
            return f"the resume built {rep['built']} and skipped {rep['skipped']}"
        return None

    run.check("pipeline_rows", rows_check)
    run.check("pipeline_resume", resume_check)
    run.report["pipeline"] = run.pipeline


def _compare_digest(got: dict, want: dict) -> str | None:
    if got == want:
        return None
    return f"got {got['rows']} rows {got['sha256'][:12]}, want {want['rows']} rows {want['sha256'][:12]}"


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"value": None, "n": n, "why": "fewer than 11 samples"}
    return {"value": sorted(values)[n - 11], "pct": 100.0 * (n - 10) / n, "n": n}


WORKLOADS = {
    "pip_assign_bulk": pip_assign_bulk,
    "query_mix": query_mix,
}
