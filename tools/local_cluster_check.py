"""Multi-executor correctness check: the engine under real executor JVMs.

``local[N]`` runs every task inside the driver JVM, which can hide a class
of bugs that only exist on a real cluster: closures that accidentally rely
on driver-side module state, objects that don't survive serialization,
plans that assume all partitions share a process.  This check runs a small
end-to-end workload under ``local-cluster[2,1,...]`` — two separate
executor JVMs, each with its own Python daemon, the package shipped via
``--py-files`` — and prints one JSON line of invariants:

- ``executors``: must be 2 (the driver row is excluded);
- ``fit_roundtrip_ok``: dense monitoring series fit at 3% then decoded on
  the cluster returns exactly one point per input point with the recorded
  per-frame max_error within the bound;
- ``closure_arg_reached``: a fit with the non-default ``compressor="fft"``
  tags every frame row ``fft``.  The argument reaches the executor
  processes only inside the UDF closure, and a fixed compressor is kept
  on every frame, so any other value means the closure lost it (the
  ``max_error`` above cannot show this: 0.03 is also the default).

Run directly (it builds its own session) or via spark-submit:

    spark-submit --master local-cluster[2,1,1536] \
        --py-files atsc_spark.zip tools/local_cluster_check.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("local_cluster_check")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if "--standalone" in sys.argv:  # not under spark-submit
        builder = builder.master("local-cluster[2,1,1536]").config(
            "spark.submit.pyFiles", os.path.join(REPO, "atsc_spark.zip")
        ).config("spark.executor.memory", "1024m")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import urllib.request

    execs = [
        e
        for e in json.load(
            urllib.request.urlopen(
                spark.sparkContext.uiWebUrl
                + "/api/v1/applications/"
                + spark.sparkContext.applicationId
                + "/executors"
            )
        )
        if e["id"] != "driver"
    ]

    from pyspark.sql import functions as F

    from atsc_spark.fixtures import monitoring_series
    from atsc_spark.frames import decode_frames, fit_frames

    series = monitoring_series(spark, n_series=8, samples_per_series=512)
    n_in = series.count()
    frames = fit_frames(series, max_error=0.03).cache()
    max_err = frames.agg(F.max("error")).collect()[0][0]
    n_out = decode_frames(frames).count()
    fit_roundtrip_ok = (n_out == n_in) and (max_err or 0.0) <= 0.03

    compressors = [
        r.compressor
        for r in fit_frames(series, compressor="fft").select("compressor").distinct().collect()
    ]
    closure_arg_reached = compressors == ["fft"]

    # sentinel prefix: Spark 4's structured logging emits JSON *log*
    # lines on stdout/stderr, so a bare startswith("{") scrape can
    # grab an ERROR record instead of the result
    print(
        "LCC_RESULT "
        + json.dumps(
            {
                "executors": len(execs),
                "n_in": n_in,
                "n_out": n_out,
                "max_error": max_err,
                "fit_roundtrip_ok": fit_roundtrip_ok,
                "closure_arg_reached": closure_arg_reached,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
