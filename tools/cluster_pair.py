"""True multi-executor evidence: run the engine under ``spark-submit
--py-files engine.zip`` on a ``local-cluster[N, C, mem]`` master —
separate executor JVMs with real closure shipping and inter-process
shuffle — at N and 4N EXECUTORS (the north rule's literal axis; the
local[N] pairs in pairs_r5.jsonl scale threads inside one JVM).

Usage:
    python tools/cluster_pair.py check               # correctness at 2 executors
    python tools/cluster_pair.py bench <n_executors> # one headline leg, logged
    python tools/cluster_pair.py pair                # 2-exec + 8-exec legs

``bench`` legs append ``{"kind": "cluster_bench", "executors": N, ...}``
to BENCH/pairs_r5.jsonl; ``tools/pairs_report.py`` aggregates
consecutive N→4N cluster legs like the thread pairs. Every leg that
runs is logged — no exclusions.
"""
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG = os.environ.get("PAIR_LOG", os.path.join(REPO, "BENCH", "pairs_r5.jsonl"))
SPARK_SUBMIT = os.environ.get("SPARK_SUBMIT", "/opt/spark/bin/spark-submit")
CORES_PER_EXEC = int(os.environ.get("CLUSTER_CORES_PER_EXEC", "4"))
WORKER_MEM_MB = int(os.environ.get("CLUSTER_WORKER_MEM_MB", "4096"))
REP_MULT = os.environ.get("CLUSTER_REP_MULT", "4096")


def log_line(rec: dict) -> None:
    rec["t_wall"] = round(time.time(), 1)
    with open(LOG, "a") as f:
        f.write(json.dumps(rec) + "\n")


def _submit(n_exec: int, script: str, argv: list[str], env_extra: dict,
            driver_mem: str = "6g") -> subprocess.CompletedProcess:
    sys.path.insert(0, REPO)
    from pdxbldgimport_spark.shipping import package_zip

    py = sys.executable
    env = dict(
        os.environ,
        PYSPARK_PYTHON=py,
        PYSPARK_DRIVER_PYTHON=py,
        **env_extra,
    )
    cmd = [
        SPARK_SUBMIT,
        "--master", f"local-cluster[{n_exec},{CORES_PER_EXEC},{WORKER_MEM_MB}]",
        "--driver-memory", driver_mem,
        "--conf", f"spark.executor.memory={WORKER_MEM_MB - 512}m",
        "--conf", "spark.ui.enabled=false",
        # JVM ergonomics see MACHINE cores, so each of N co-located
        # executor JVMs defaults to ~5/8·32 G1 GC threads — N×23 GC
        # threads thrashing 32 cores during the shuffle's allocation
        # storm. Capping GC threads to the executor's core budget
        # measured 95.1 s vs a 132.7 s same-window default control
        # (8-JVM shuffle) — this is exactly what container CPU limits
        # give executors on a real cluster, where ergonomics see the
        # cgroup, not the host. (-XX:ActiveProcessorCount=4 over-caps:
        # 179 s — it starves netty/JIT too, like the IO experiment.)
        "--conf",
        "spark.executor.extraJavaOptions="
        f"-XX:ParallelGCThreads={CORES_PER_EXEC} -XX:ConcGCThreads=2",
        # optional netty IO-pool cap experiment (measured: capping to
        # the per-executor core count made the 8-JVM shuffle WORSE —
        # 262 s vs 118-158 s — fetch parallelism starves before
        # scheduler thrash matters; keep default pools unless testing)
        *(
            c for n in [os.environ.get("CLUSTER_IO_THREADS")] if n
            for c in (
                "--conf", f"spark.shuffle.io.serverThreads={n}",
                "--conf", f"spark.shuffle.io.clientThreads={n}",
                "--conf", f"spark.rpc.io.threads={n}",
            )
        ),
        "--py-files", package_zip(),
        script, *argv,
    ]
    return subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True)


def check() -> None:
    """The full registry vs its DuckDB oracles at sf0.01 and 2 executors,
    through tools/evidence.py: broadcast replication, shuffle files
    between JVMs and Python-worker shipping via --py-files, which
    local[N] threads cannot exercise."""
    with tempfile.TemporaryDirectory() as out_dir:
        out = _submit(
            2, os.path.join(REPO, "tools", "evidence.py"), ["--out", out_dir], {}
        )
    print("\n".join(out.stdout.strip().splitlines()[-5:]))
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"cluster check failed (rc={out.returncode})")
    log_line({"kind": "cluster_check", "executors": 2,
              "cores_per_exec": CORES_PER_EXEC, "fails": 0})


def bench(n_exec: int) -> None:
    out = _submit(
        n_exec, os.path.join(REPO, "bench.py"), [],
        {
            "SPARK_GRAFT_SKIP_SWEEP": "1",
            "SPARK_GRAFT_REP_MULT": REP_MULT,
            "SPARK_GRAFT_CPUS": str(n_exec * CORES_PER_EXEC),
            "SPARK_GRAFT_RUNS": os.environ.get("PAIR_RUNS", "1"),
        },
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"cluster bench leg failed (rc={out.returncode})")
    d = None
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            cand = json.loads(line)
        except ValueError:
            continue
        if isinstance(cand, dict) and "n_docs" in cand:
            d = cand
            break
    if d is None:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit("bench.py emitted no JSON record; stderr above")
    rec = {"kind": "cluster_bench", "executors": n_exec,
           "cores_per_exec": CORES_PER_EXEC, "rep_mult": int(REP_MULT),
           "n_docs": d["n_docs"], "headline_sec": d["headline_sec"],
           "docs_per_sec": d["value"]}
    log_line(rec)
    print(json.dumps(rec))


def shuffle(n_exec: int) -> None:
    """Inter-JVM exchange leg: run scaling_pair.py's shuffle benchmark
    (full-width groupBy on the ~unique url) under spark-submit on the
    local-cluster master, so the measured exchange crosses REAL
    executor-process boundaries (shuffle files written and fetched
    between JVMs) rather than threads in one heap. Logged with
    tag="cluster" to keep the record distinguishable from thread legs.
    """
    out = _submit(
        n_exec, os.path.join(REPO, "tools", "scaling_pair.py"),
        ["shuffle", str(n_exec * CORES_PER_EXEC)],
        {"PAIR_TAG": "cluster",
         "PAIR_SHUFFLE_REP": os.environ.get("PAIR_SHUFFLE_REP", "512")},
    )
    sys.stdout.write(out.stdout[-500:])
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"cluster shuffle leg failed (rc={out.returncode})")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "pair"
    if mode == "check":
        check()
    elif mode == "bench":
        bench(int(sys.argv[2]))
    elif mode == "shuffle":
        shuffle(int(sys.argv[2]))
    elif mode == "pair":
        bench(2)
        bench(8)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
