"""Multi-executor scaling evidence: spark-submit --py-files at N and 4N executors.

The north rule asks for the pipeline to run "via spark-submit --py-files on
multi-executor clusters at N and 4N executors with >=0.8 throughput scaling
efficiency".  ``tools/scaling_bench.py`` evidences the core-count axis with
local[N] threads; this tool evidences the EXECUTOR axis literally, using
Spark's ``local-cluster[n,cores,mem]`` master: each executor is a separate
JVM with its own Python daemon pool, tasks and broadcasts travel over real
RPC/serialization, and the package reaches executors only through
``--py-files atsc_spark.zip`` (no repo checkout on the executor side) — the
same launch shape as a standalone cluster.

Default levels: 2 executors vs 8 executors, 1 core each.  Two reasons:
  * 2 -> 8 is literally N -> 4N executor JVMs, and BOTH levels are real
    multi-executor topologies (no degenerate single-executor baseline);
  * the committed hardware control probe (tools/hw_scaling_probe.py) shows
    this box itself stops scaling past ~8 busy cores (memory bandwidth /
    all-core clocks), so 2 -> 8 busy cores is the regime where the
    measurement reflects the PLAN's scalability rather than the box's.

The measured job is the engine's core workload (identical to
scaling_bench.py): synthesize transcripts (fixed seed), derive
per-conversation series, fit ATSC frames at 3% max-error, decode and count —
the full shuffle + grouped_points/mapInArrow fit + mapInArrow decode path,
identical input at both levels.  Protocol is also identical: input
materialized and Python workers warmed outside the timed window (a cluster
pays daemon-fork/import once per executor lifetime), best-of-3 passes inside
each JVM, levels interleaved across repeats so slow host drift cannot bias
one level.

Usage:
    python tools/cluster_scaling_bench.py                 # 2 and 8 executors
    python tools/cluster_scaling_bench.py --repeat 2
    python tools/cluster_scaling_bench.py --single 8      # (spark-submit internal)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Large enough that per-pass compute dominates Spark's fixed per-query cost
# (planning + task-set launch + codegen classload, measured ~5-8 s/pass in
# local-cluster mode regardless of executor count).  A real cluster amortizes
# that fixed cost over hours-long jobs; at 60k convs (~11M turns) it is <10%
# of the 2-executor wall, so the efficiency number measures the plan.
N_CONVS = int(os.environ.get("SCALING_N_CONVS", "60000"))
CORES_PER_EXEC = int(os.environ.get("SCALING_CORES_PER_EXEC", "1"))
# 6g/executor: the 11M-turn cached input (~3.5 GB serialized) must fit in
# the 2-executor level's aggregate storage memory too — a disk-spilled
# baseline would flatter the efficiency number.
EXEC_MEM_MB = 6144
# Separate JVMs converge slowly: each executor pays its own JIT +
# codegen-classload warm-up, and MORE executors means more cold JVMs, so an
# unwarmed best-of-3 is biased AGAINST the larger cluster (measured: pass
# walls 27.6/14.7/15.5/12.7/9.3/10.5/10.0 s at 8 executors).  Steady-state
# is what a long-running cluster measures.
WARM_PASSES = int(os.environ.get("SCALING_WARM_PASSES", "4"))


def _spark_submit_bin() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def single(n_exec: int) -> dict:
    """Runs inside spark-submit: the SparkSession already carries the
    local-cluster master and --py-files; atsc_spark imports resolve from
    the zip on both driver and executors."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"cluster_scaling_{n_exec}")
        .config("spark.sql.shuffle.partitions", str(n_exec * CORES_PER_EXEC * 2))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from atsc_spark.fixtures import monitoring_series, transcripts
    from atsc_spark.frames import decode_frames, fit_frames
    from atsc_spark.series import derive_series

    n_cores = n_exec * CORES_PER_EXEC
    t = transcripts(
        spark, n_convs=N_CONVS, window_days=7, partitions=n_cores * 2
    ).cache()
    n_turns = t.count()  # materialize input outside the timed section
    # warm every executor's Python daemon (fork + numpy/pandas import)
    # outside the timed window — one task per core
    fit_frames(
        monitoring_series(spark, n_series=n_cores, samples_per_series=64)
    ).count()

    wall = float("inf")
    decoded_rows = 0
    walls = []
    for i in range(WARM_PASSES + 3):
        t0 = time.time()
        series = derive_series(t)
        frames = fit_frames(series, max_error=0.03)
        decoded_rows = decode_frames(frames).count()
        dt = time.time() - t0
        walls.append(round(dt, 2))
        if i >= WARM_PASSES:  # first passes warm each executor JVM's JIT
            wall = min(wall, dt)

    # host-window canary (same kernel as bench.host_probe): lets a
    # sub-target efficiency reading be attributed to a slow host window
    # from the artifact itself, matching the BENCH.md §3 bisect method
    import numpy as np

    y = np.random.default_rng(42).standard_normal(1 << 20)
    kernel_ms = float("inf")
    for _ in range(3):
        k0 = time.perf_counter()
        np.argsort(np.abs(np.fft.rfft(y)))
        kernel_ms = min(kernel_ms, (time.perf_counter() - k0) * 1000.0)

    execs = [
        e
        for e in json.load(
            __import__("urllib.request", fromlist=["urlopen"]).urlopen(
                spark.sparkContext.uiWebUrl
                + "/api/v1/applications/"
                + spark.sparkContext.applicationId
                + "/executors"
            )
        )
        if e["id"] != "driver"
    ]
    out = {
        "executors": len(execs),
        "cores_per_executor": CORES_PER_EXEC,
        "turns": n_turns,
        "decoded_rows": decoded_rows,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        "all_pass_walls": walls,
        "warm_passes": WARM_PASSES,
        "host_kernel_ms": round(kernel_ms, 1),
    }
    spark.stop()
    return out


def run_level(n_exec: int) -> dict:
    master = f"local-cluster[{n_exec},{CORES_PER_EXEC},{EXEC_MEM_MB}]"
    env = dict(os.environ)
    env.setdefault("SPARK_SUBMIT_OPTS", "-Dderby.system.home=/tmp")
    proc = subprocess.run(
        [
            _spark_submit_bin(),
            "--master",
            master,
            "--conf",
            f"spark.executor.memory={EXEC_MEM_MB - 512}m",
            "--py-files",
            os.path.join(REPO, "atsc_spark.zip"),
            os.path.abspath(__file__),
            "--single",
            str(n_exec),
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=1800,
        env=env,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("CSB_RESULT ")]
    if not lines:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:] + "\n")
        raise RuntimeError(f"no result line from spark-submit at {master}")
    return json.loads(lines[-1][len("CSB_RESULT ") :])


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--single", type=int, default=None)
    p.add_argument("--levels", type=int, nargs=2, default=[2, 8])
    p.add_argument(
        "--repeat",
        type=int,
        default=1,
        help="runs per level, interleaved; keeps the best (min-wall) run — "
        "this sandbox VM shows +/-15%% wall noise between identical runs",
    )
    args = p.parse_args()

    if args.single:
        print("CSB_RESULT " + json.dumps(single(args.single)))
        return

    if not os.path.exists(os.path.join(REPO, "atsc_spark.zip")):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_pyfiles_zip.py")],
            check=True,
            cwd=REPO,
        )

    runs = {}
    for _ in range(args.repeat):
        for n_exec in args.levels:
            r = run_level(n_exec)
            if n_exec not in runs or r["wall_sec"] < runs[n_exec]["wall_sec"]:
                runs[n_exec] = r

    lo, hi = args.levels
    speedup = runs[hi]["turns_per_sec"] / runs[lo]["turns_per_sec"]
    efficiency = speedup / (hi / lo)
    print(
        json.dumps(
            {
                "job": "derive+fit_frames+decode (n_convs=%d), spark-submit "
                "--py-files, local-cluster (separate executor JVMs)" % N_CONVS,
                "runs": runs,
                "speedup": round(speedup, 2),
                "scaling_efficiency": round(efficiency, 3),
                "target": 0.8,
            }
        )
    )


if __name__ == "__main__":
    main()
