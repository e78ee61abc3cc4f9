#!/usr/bin/env python3
"""Fast self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

1. Runs every workload of BENCHMARK.json with ``--size tiny``, untraced
   and traced, and checks that the last output line carries exactly the
   result keys and every named metric with its unit.
2. Checks, in one session, that deliberately wrong expected outputs are
   caught: every operation whose output disagrees counts as failed, and
   ``ok_ratio`` drops below 1.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench import run, spans, workloads  # noqa: E402


def check(cond: bool, what: str, detail: str = "") -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}\n{detail}")
    print(f"ok  {what}", flush=True)


def check_metric_lines(bench: dict) -> None:
    for wl in bench["workloads"]:
        for traced, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", wl["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(traced), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            check(proc.returncode == 0, f"{wl['name']} trace={traced} exits 0", proc.stderr[-2000:])
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            check(sorted(result) == ["attempted", "correct", "failed", "metrics"],
                  f"{wl['name']} trace={traced} result keys")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{wl['name']} trace={traced} outputs correct")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == want, f"{wl['name']} trace={traced} emits every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                  f"{wl['name']} trace={traced} metric values are numbers")


def check_wrong_outputs_fail() -> None:
    workdir = os.path.join(ROOT, "perfbench", ".work", f"selftest-{os.getpid()}")
    os.makedirs(workdir)
    try:
        run._configure_env(workdir, len(os.sched_getaffinity(0)), None)
        from simple_etl_pipeline_spark.session import get_spark

        spark = get_spark(app_name="perfbench-selftest")
        try:
            ctx = workloads.Context(spark, spans.Tracer(spark, "selftest"), workdir, 7)
            etl = workloads.EtlProducts(ctx, **run.SIZES["etl_products"]["tiny"])
            ops = etl.run_pass() + etl.run_pass()
            wrong = etl.expected[:-1] + [etl.expected[-1][:1] + (-1.0,) + etl.expected[-1][2:]]
            etl.verify(ops[:1])
            etl.verify(ops[1:], expected=wrong)
            check(ops[0].ok and not ops[1].ok, "etl_products: a wrong expected CSV row fails its run")

            mix = workloads.AnalyticsMix(ctx, **run.SIZES["analytics_mix"]["tiny"])
            good = [mix._query("q3_shipping_priority")] + mix._replay()
            bad = [mix._query("dedup_exact")] + mix._replay()
            mix.verify(good)
            mix.verify(bad, oracles={"dedup_exact": "SELECT 1 AS doc_id",
                                     "st_session_windows": "SELECT 1 AS user_id"})
            check(all(op.ok for op in good), "analytics_mix: outputs agree with their oracles")
            check(not any(op.ok for op in bad),
                  "analytics_mix: a wrong oracle fails the query and every micro-batch of the replay")
            all_ops = ops + good + bad
            metrics = run.end_to_end([run.Pass("untraced", 1.0, 0.0, all_ops)], 1.0, 1)
            check(metrics["ok_ratio"][0] == (1 + len(good)) / len(all_ops),
                  "failed outputs lower ok_ratio by their share of attempted operations")
        finally:
            run._stop(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    check_metric_lines(bench)
    check_wrong_outputs_fail()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
