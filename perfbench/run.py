"""Engine benchmark: one workload, one seed, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload codec_regular --seed 1 --seconds 10 --trace 0

Set-up (session start, worker warm-up, input materialization, and for
``dashboard_reads`` the store build) is timed apart from the measured
loop.  The loop runs one op after another until ``--seconds`` have
passed.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it holds the workload's own metrics, the run environment and,
when traced, the per-span table.

The workload runs in a child process; the process started from the
command line only waits for it, then waits for (and if need be kills)
every process the child's tree left behind, so a run leaves nothing
running.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
STATE_FILE = os.path.join(ROOT, ".perfbench_state", "runs.json")
SETUP_REPEATS = 3
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
TASK_FACTOR_VARS = ("ATSC_FIT_TASK_FACTOR", "ATSC_DECODE_TASK_FACTOR")
CHILD_VAR = "PERFBENCH_CHILD"  # set in the process that runs the workload
PR_SET_CHILD_SUBREAPER = 36
RUN_TIMEOUT_S = 175  # a run must end within 180 s


# ------------------------------------------------------------ processes


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM starts the Python
    workers from threads other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass  # the thread ended between listing and reading
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page split among the
    processes mapping it, so a worker freshly forked from the Python
    daemon, or a child the JVM spawns, is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # the process ended between listing and reading
    return 0


class MemorySampler:
    """Peak PSS of this process and all its descendants (the driver JVM
    and the Python workers), sampled every 100 ms on a thread, with the
    peak of each part and of the number of processes."""

    def __init__(self) -> None:
        self.peak = 0
        self.parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.1):
            jvm = _children(me)
            workers = [p for p in descendants(me) if p not in jvm]
            parts = {
                "driver": pss_bytes(me),
                "jvm": sum(map(pss_bytes, jvm)),
                "workers": sum(map(pss_bytes, workers)),
            }
            self.peak = max(self.peak, sum(parts.values()))
            parts["procs"] = len(jvm) + len(workers)
            for k, v in parts.items():
                self.parts[k] = max(self.parts.get(k, 0), v / 2**20 if k != "procs" else v)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap_all(grace_s: float = 5.0) -> list[int]:
    """Wait for every descendant to end, killing those still running
    after ``grace_s``; returns the pids that had to be killed.  Zombies
    are reaped as they appear, so on return none is left."""
    deadline, killed = time.time() + grace_s, set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass  # no child left to reap
        live = descendants(os.getpid())
        if not live:
            return sorted(killed)
        if time.time() >= deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                    killed.add(p)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str], timeout_s: float | None) -> int:
    """Run the benchmark in a child process and, once it ends, make sure
    nothing it started outlives it.  This process is made child
    subreaper, so every orphan of the child's tree (Python workers that
    outlive the JVM, the multiprocessing resource tracker) is re-parented
    here and can be waited for."""
    import ctypes
    import subprocess

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGHUP, on_signal)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv], env={**os.environ, CHILD_VAR: "1"}
    )
    code = 1
    try:
        code = child.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout_s:.0f} s; stopped", file=sys.stderr)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        killed = reap_all()
        if killed:
            print(f"perfbench: killed {len(killed)} leftover process(es)", file=sys.stderr)
        # a child that was killed could not delete its own run directory
        shutil.rmtree(os.path.join(RUN_ROOT, str(child.pid)), ignore_errors=True)
    return code


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until the JVM has
    ended.  Python workers that outlive it are waited for by
    ``supervise``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    jvm.wait(timeout=60)


# ------------------------------------------------------------ environment


def pin_environment(cores: int, run_dir: str, trace: bool) -> dict:
    """Environment every run uses; returned for the output record."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    conf = {
        "spark.local.dir": local,
        # a heap that never resizes: a growing one moved the JVM's
        # resident memory by +-10% from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEMORY']}"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "127.0.0.1",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # pyspark splits this with shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    import numpy
    import pyarrow
    import pyspark

    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        **{v: os.environ[v] for v in THREAD_VARS},
        **{v: os.environ.get(v) for v in TASK_FACTOR_VARS},
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


def load_state() -> dict:
    try:
        with open(STATE_FILE) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_state(state: dict) -> None:
    os.makedirs(os.path.dirname(STATE_FILE), exist_ok=True)
    tmp = STATE_FILE + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    os.replace(tmp, STATE_FILE)


# ------------------------------------------------------------ metrics


def end_to_end(setup_s: float, ops: list[dict], peak_mem: int, detail: dict) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(o["wall"] for o in ops), "s"),
        "peak_pss_mb": (peak_mem / 2**20, "MB"),
        "bytes_per_sample": (detail["bytes_per_sample"], "B"),
    }


SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes",
)


def per_layer(tracer, ops: list[dict], setup: dict, kernels: dict, cores: int) -> dict:
    """Layer metrics every workload exercises: session start/warm-up,
    the single-thread core kernels, and the Spark work of one op (the
    median over ops of the per-op totals across its spans)."""
    from spans import self_times

    selfs = self_times(tracer.spans)
    by_op: dict[int, list[dict]] = {}
    for rec in tracer.spans:
        by_op.setdefault(rec["op"], []).append(rec)
    rows = []
    for i, op in enumerate(ops):
        recs = by_op.get(i, [])
        row = {k: sum(r["metrics"][k] for r in recs) for k in SPARK_KEYS}
        row["core_util"] = row["executor_run_s"] / (op["wall"] * cores)
        heaviest = max(recs, key=lambda r: r["metrics"]["executor_run_s"], default=None)
        row["task_skew"] = heaviest["metrics"]["task_skew"] if heaviest else 1.0
        top = sum(r["end"] - r["start"] for r in recs if r["parent"] is None)
        row["driver_gap_s"] = max(op["wall"] - top, 0.0)
        row["span_self_s"] = sum(selfs[r["id"]] for r in recs)
        rows.append(row)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    units = {"_s": "s", "_bytes": "B", "core_util": "ratio", "task_skew": "ratio"}

    def unit(k: str) -> str:
        return next((u for suf, u in units.items() if k.endswith(suf)), "count")

    out = {
        "session.start_s": (setup["session_start_s"], "s"),
        # worker start: the warm-up, or the full-size warm-up ops that
        # stand in for it
        "session.warm_s": (setup["warm_s"] + setup["warm_ops_s"], "s"),
        "trace.op_s": (statistics.median(o["wall"] for o in ops), "s"),
        "trace.overhead_s": (tracer.overhead_s / len(ops), "s"),
    }
    for k, v in kernels.items():
        out[k] = (v, "Msamples/s" if k.endswith("_msps") else "count")
    for k, v in med.items():
        out[f"spark.{k}"] = (v, unit(k))
    return out


# ------------------------------------------------------------ main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true", help="tiny inputs, for the benchmark's own test"
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # before numpy loads, so driver-side kernels and workers alike run
    # single-threaded BLAS/OpenMP
    for var in THREAD_VARS:
        os.environ[var] = "1"
    sys.path.insert(0, ROOT)
    try:
        import bench  # host_probe(): the machine-speed canary
        import atsc_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(RUN_ROOT, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        marks = {"start": time.perf_counter()}
        env = pin_environment(cores, run_dir, bool(args.trace))
        env["host_kernel_ms_pre"] = bench.host_probe()["kernel_ms"]
        marks["probe"] = time.perf_counter()
        with MemorySampler() as mem:
            from atsc_spark.session import get_spark
            from spans import Tracer, summarize

            t0 = time.perf_counter()
            spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
            spark.sparkContext.setLogLevel("ERROR")
            setup = {"session_start_s": time.perf_counter() - t0}
            tracer = Tracer(spark, bool(args.trace))
            wl = WORKLOADS[args.workload](
                spark, tracer, args.seed, "smoke" if args.smoke else "full", run_dir, cores
            )
            # set-up work is never traced
            tracer.enabled, traced = False, tracer.enabled
            t0 = time.perf_counter()
            wl.warm()
            setup["warm_s"] = time.perf_counter() - t0
            mats = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.materialize()
                mats.append(time.perf_counter() - t0)
            setup["materialize_s"] = mats
            t0 = time.perf_counter()
            setup["store_build_s"] = wl.build()
            setup["build_s"] = time.perf_counter() - t0
            # full-size warm-up ops: checked, never timed as ops
            t0 = time.perf_counter()
            warm_ops = [wl.op(-1 - i) for i in range(wl.warmup_ops)]
            setup["warm_ops_s"] = time.perf_counter() - t0
            tracer.enabled = traced
            setup_s = (
                setup["session_start_s"] + setup["warm_s"] + statistics.median(mats)
                + setup["build_s"] + setup["warm_ops_s"]
            )

            marks["setup"] = time.perf_counter()
            ops: list[dict] = []
            deadline = time.perf_counter() + args.seconds
            # start an op only when, as long as the last one, it ends
            # within the window: a run measures about --seconds
            while len(ops) < wl.min_ops or time.perf_counter() + ops[-1]["wall"] <= deadline:
                tracer.op_id = len(ops)
                ops.append(wl.op(len(ops)))
            peak_mem = mem.peak
            mem_parts = mem.parts
            marks["loop"] = time.perf_counter()

        detail = wl.summary(ops)
        from workloads import tail

        detail["op_tail_s"], detail["op_tail_pct"] = tail([o["wall"] for o in ops])
        detail["ops"] = len(ops)
        checked = warm_ops + ops
        failed = sum(1 for o in checked if o["fails"])
        detail["failures"] = sorted({f for o in checked for f in o["fails"]})[:10]

        state = load_state()
        key = f"{args.workload}:{args.seed}:{'smoke' if args.smoke else 'full'}"
        prev = state.get(key, {})
        fp = detail.pop("fingerprint")
        if prev.get("fingerprint", fp) != fp:
            # deterministic per seed: a change means the codec or the
            # writer changed, not noise
            detail["fingerprint_mismatch"] = {"was": prev["fingerprint"], "now": fp}
            print(f"perfbench: FLAG fingerprint changed for {key}: {prev['fingerprint']} -> {fp}",
                  file=sys.stderr)
        detail["fingerprint"] = fp

        if args.trace:
            from workloads import kernel_rates

            kernels, detail["core"] = kernel_rates(wl.kernel_series)
            for ph, k in (("fit", "core.fit_kernel_msps"), ("decode", "core.decode_kernel_msps")):
                if f"{ph}_msamples_per_s" in detail:  # end-to-end rate / (kernel rate x cores)
                    detail[f"frames.{ph}_efficiency"] = (
                        detail[f"{ph}_msamples_per_s"] / (kernels[k] * cores)
                    )
            wl.trace_probes()
            tracer.collect(cores)
            metrics = per_layer(tracer, ops, setup, kernels, cores)
            detail["spans"] = summarize(tracer.spans, cores)
            os.makedirs(os.path.dirname(STATE_FILE), exist_ok=True)
            spans_file = os.path.join(
                os.path.dirname(STATE_FILE), f"spans_{args.workload}_{args.seed}.json"
            )
            with open(spans_file, "w") as f:
                json.dump(tracer.spans, f)
            detail["layer"] = {**wl.trace_extra, **wl.span_layer(detail["spans"], ops)}
            if "op_p50_s" in prev:
                detail["tracing_overhead_s"] = metrics["trace.op_s"][0] - prev["op_p50_s"]
        else:
            metrics = end_to_end(setup_s, ops, peak_mem, detail)
            prev["op_p50_s"] = metrics["op_p50_s"][0]
        prev["fingerprint"] = fp
        state[key] = prev
        save_state(state)

        detail["setup"] = setup
        marks["report"] = time.perf_counter()
        stop_spark(spark)
        spark = None
        marks["stop"] = time.perf_counter()
        env["host_kernel_ms_post"] = bench.host_probe()["kernel_ms"]
        detail["env"] = env
        detail["op_walls_s"] = [o["wall"] for o in ops]
        detail["pss_parts_mb"] = mem_parts
        marks["end"] = time.perf_counter()
        detail["timeline_s"] = {k: v - marks["start"] for k, v in marks.items()}
        print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    if os.environ.get(CHILD_VAR):
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:], None if "--smoke" in sys.argv else RUN_TIMEOUT_S))
