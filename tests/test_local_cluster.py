"""The engine under real executor JVMs (local-cluster), via spark-submit.

These tests exercise the one execution topology local[N] cannot: separate
executor processes with their own Python daemons, the package shipped with
--py-files.  They catch bugs invisible in thread mode — closures relying
on driver-side module state, objects that don't survive serialization.

The check runs in a SUBPROCESS (tools/local_cluster_check.py) because
this pytest process may already hold the session-scoped local[4]
SparkContext, and one process gets one context.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_local_cluster_end_to_end_and_strict_propagation():
    """Two executor JVMs run the fit/decode roundtrip, and a non-default,
    closure-captured fit argument (``compressor="fft"``) reaches them.
    The propagation check once used a strict flag; the name is kept."""
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles_zip.py")],
        check=True,
        cwd=REPO,
        capture_output=True,
    )
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master",
            "local-cluster[2,1,1536]",
            "--conf",
            "spark.executor.memory=1024m",
            "--py-files",
            os.path.join(REPO, "atsc_spark.zip"),
            os.path.join(REPO, "tools", "local_cluster_check.py"),
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("LCC_RESULT ")]
    assert lines, f"no result from check:\n{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}"
    r = json.loads(lines[-1][len("LCC_RESULT ") :])
    assert r["executors"] == 2, r
    assert r["fit_roundtrip_ok"], r
    assert r["n_in"] == r["n_out"] > 0, r
    # a non-default fit argument travels in the UDF closure to executors
    assert r["closure_arg_reached"], r
