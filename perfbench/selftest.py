"""Self-test of the benchmark on the sf0.001 fixtures (a few minutes).

1. A run reports every metric named in ``BENCHMARK.json`` with its unit:
   the end-to-end metrics untraced, the per-layer metrics traced.
2. A wrong answer lowers ``ok_frac``: a builder that drops rows fails its
   oracle check, and, checked against the honest verification, every
   execution of that key counts as failed.

Both run in one session, through the functions ``run.py`` measures and
reports with.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "gvcf_pipeline"
WRONG_KEY = "gvcf_combine"


def check_reported_metrics(run, measure, setup_s) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        attempted, failed, metrics, _ = measure(trace)
        if not trace:
            metrics["setup_s"] = setup_s
        result = json.loads(json.dumps(run.report(attempted, failed, metrics, trace)))
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        assert result["correct"] and result["failed"] == 0, result
        printed = result["metrics"]
        want = {m["name"]: m["unit"] for m in bench[section]}
        assert set(printed) == set(want), (section, sorted(printed), sorted(want))
        for name, unit in want.items():
            assert printed[name]["unit"] == unit, (name, printed[name])
            assert isinstance(printed[name]["value"], (int, float)), (name, printed[name])
        print(f"ok: trace {trace} reports the {len(want)} {section} metrics with units")


def main() -> None:
    sys.path[:0] = [ROOT, HERE]
    import check
    import layers
    import run

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    run.program_env(run_dir, cores)
    os.chdir(os.environ["TMPDIR"])
    from pyspark.sql import functions as F

    fixtures = run.fixture_dir("sf0.001")
    keys = run.WORKLOADS[WORKLOAD]
    spark, specs, setup_s = run.start_program("perfbench-selftest")
    right = specs[WRONG_KEY].fn

    def wrong(spark_, sf_dir):
        df = right(spark_, sf_dir)
        return df.where(F.xxhash64(*df.columns) % 5 != 0)

    try:
        honest = check.verify(spark, specs, keys, fixtures, check.demoted_keys())
        assert all(v["ok"] for v in honest.values()), honest

        def measure(trace):
            return run.measure(spark, specs, keys, fixtures, honest, seed=7, measured=3,
                               trace=trace, cores=cores)

        check_reported_metrics(run, measure, setup_s)

        specs[WRONG_KEY].fn = wrong
        bad = check.verify(spark, specs, [WRONG_KEY], fixtures, check.demoted_keys())
        assert not bad[WRONG_KEY]["ok"], bad
        print(f"ok: oracle check fails the wrong {WRONG_KEY}: {bad[WRONG_KEY]['detail']}")

        attempted, failed, metrics, _ = measure(0)
        ok_frac = metrics["ok_frac"]
        assert failed == attempted // len(keys), (attempted, failed)
        assert math.isclose(ok_frac, 1 - 1 / len(keys)), ok_frac
        print(f"ok: ok_frac {ok_frac:.3f} with one wrong key of {len(keys)}")
    finally:
        specs[WRONG_KEY].fn = right
        layers.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
    print("selftest passed")
