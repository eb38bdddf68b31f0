"""Fast self-check of the benchmark itself (two to six minutes on 4 cores).

    python3 linkbench/selfcheck.py

Runs the three workload paths at toy size in one Spark session (the
`mini` and `small` fixture graphs, a few dozen pages) and asserts that:
every end-to-end and per-layer metric in BENCHMARK.json is printed with
its unit; rmat-hub engages the salted gather and web-tripled does not;
the warm-start oracle equals the repo's oracle when started cold; and a
deliberately corrupted rank vector fails the gate and counts in
error_rate. Exits non-zero on the first failed assertion.
"""

import contextlib
import io
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402

import run  # noqa: E402
import stage  # noqa: E402
from spans import RssSampler, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from ps_projekt_pagerank_spark.fixtures import FIXTURE_GRAPHS  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok  {what}")


def printed(metrics: dict, units: dict, gated, measured) -> tuple[str, dict]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result = run.report(metrics, units, gated, measured)
    return buf.getvalue(), result


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        manifest = json.load(f)

    edges = np.array(FIXTURE_GRAPHS["small"], dtype=np.int64)
    cold, warm = (
        stage.cold_oracle(edges[:, 0], edges[:, 1]),
        stage.warm_oracle(edges[:, 0], edges[:, 1], {}),
    )
    check(
        cold["iterations"] == warm["iterations"]
        and np.array_equal(cold["ids"], warm["ids"])
        and np.allclose(cold["ranks"], warm["ranks"], rtol=0, atol=1e-15),
        "warm-start oracle started cold equals oracle.pagerank",
    )

    os.makedirs(run.WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="selfcheck-", dir=run.WORK)
    cache = os.path.join(run.WORK, "cache")
    spark = run.start_spark(run_dir)
    try:
        for name in run.WORKLOAD_NAMES:
            t = time.perf_counter()
            wl = WORKLOADS[name](
                spark, stage.stage(cache, name, "toy", 0), stage.SIZES["toy"][name]
            )
            wl.open()
            setup_s = time.perf_counter() - t
            tr = Tracer(spark.sparkContext, enabled=False)
            with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
                gated, measured = run.measure(wl, tr, 0, trace=True)
            e2e = run.end_to_end(setup_s, measured, rss.peak)
            layers = run.per_layer(tr, gated, measured, setup_s)
            for kind, metrics, units in (
                ("end_to_end", e2e, run.END_TO_END),
                ("per_layer", layers, run.PER_LAYER),
            ):
                text, result = printed(metrics, units, gated, measured)
                for m in manifest[kind]:
                    check(
                        any(
                            line.split()[:1] == [m["name"]]
                            and line.split()[2] == m["unit"]
                            for line in text.splitlines()
                        ),
                        f"{name}: {m['name']} printed in {m['unit']}",
                    )
                check("error_rate" in text, f"{name}: error_rate printed")
                check(result["correct"] and result["failed"] == 0, f"{name}: every job passes the gate")
            salt = layers["graph.salt_buckets"]
            if name == "rmat-hub":
                check(salt >= 2, f"rmat-hub salts the gather (salt_buckets={salt:g})")
            if name == "web-tripled":
                check(salt == 1, f"web-tripled does not salt (salt_buckets={salt:g})")

        wl = WORKLOADS["web-tripled"](
            spark, stage.stage(cache, "web-tripled", "toy", 0),
            stage.SIZES["toy"]["web-tripled"],
        )
        wl.open()
        gated, measured = run.measure(
            wl, Tracer(spark.sparkContext, enabled=False), 0, trace=False, corrupt_job=0
        )
        text, result = printed(
            run.end_to_end(0.0, measured, 0), run.END_TO_END, gated, measured
        )
        check(
            result["failed"] == 1 and not result["correct"],
            "a corrupted rank vector fails the gate",
        )
        check(
            f"1 of {len(gated)} jobs failed" in text,
            "the corrupted job counts in error_rate",
        )
    finally:
        run.stop_spark(spark)
        import shutil

        shutil.rmtree(run_dir, ignore_errors=True)
    print("selfcheck passed")


if __name__ == "__main__":
    main()
