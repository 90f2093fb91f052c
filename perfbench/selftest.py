"""Self-test of the benchmark's output contract, at a tiny size.

    python3 perfbench/selftest.py        (from the repository root, ~6 min)

Runs ``perfbench/run.py --tiny`` (sf0.001-sized tables, two queries per
batch workload, a 600-vector corpus) on every workload, traced and
untraced, and asserts that:

- the last line is ``{"correct", "attempted", "failed", "metrics"}`` with
  every BENCHMARK.json end-to-end (untraced) or per-layer (traced) metric,
  each with its unit;
- the detail line names every workload metric and per-layer metric with a
  unit and a direction, and a sample count for the timings;
- a deliberately wrong expected hash is counted in ``fail_ratio``;
- the bypass predictions hold in the traced runs;
- in a directory holding only BENCHMARK.json and this directory, the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_METRICS = {
    "mr_batch": ("batch_wall_s", "query_geomean_s", "peak_rss_mb", "fail_ratio"),
    "llm_corpus": ("batch_wall_s", "query_geomean_s", "peak_rss_mb", "fail_ratio"),
    "ann_serve": ("lsh.serve_p50_s", "ivfpq.serve_p50_s", "lsh.ingest_p50_s",
                  "ivfpq.ingest_p50_s", "lifecycle_s", "recall_at_10", "peak_rss_mb",
                  "fail_ratio"),
}
TIMINGS = ("batch_wall_s", "lsh.serve_p50_s", "ivfpq.serve_p50_s", "lsh.ingest_p50_s",
           "ivfpq.ingest_p50_s")


def run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--seconds", "1", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def parse(lines: list[str]) -> tuple[dict, dict]:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    detail = next(json.loads(line.split(" ", 2)[2]) for line in lines
                  if line.startswith("perfbench detail "))
    return result, detail


def check_names(result: dict, detail: dict, expected: list[dict], workload: str, trace: int) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in expected}, set(metrics) ^ {m["name"] for m in expected}
    for m in expected:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)
    table = detail["per_layer"] if trace else {**detail["end_to_end"], **detail["workload_metrics"]}
    names = [m["name"] for m in expected] + ([] if trace else list(WORKLOAD_METRICS[workload]))
    for name in names:
        row = table[name]
        assert row["unit"] and row["better"] in ("lower", "higher"), (name, row)
        if not trace and name in TIMINGS and name in detail["workload_metrics"]:
            assert row["samples"] >= 1, (name, row)
    if trace:
        assert all(detail["predictions"].values()), detail["predictions"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in ("mr_batch", "llm_corpus", "ann_serve"):
        for trace in (0, 1):
            rc, lines = run(ROOT, "--workload", workload, "--seed", "7", "--trace", str(trace), "--tiny")
            assert rc == 0, (workload, trace, lines[-3:])
            result, detail = parse(lines)
            assert result["correct"] and result["failed"] == 0, detail["failures"]
            check_names(result, detail, bench["per_layer" if trace else "end_to_end"], workload, trace)
            print(f"ok  {workload} trace={trace}")

    rc, lines = run(ROOT, "--workload", "mr_batch", "--seed", "7", "--trace", "0", "--tiny",
                    "--expect-wrong-hash")
    assert rc == 0
    result, detail = parse(lines)
    fail = detail["workload_metrics"]["fail_ratio"]
    assert not result["correct"] and result["failed"] == 1 and fail["value"] > 0, fail
    assert fail["failures"] == [detail["failures"][0]["name"]], fail
    print(f"ok  wrong expected hash counted: fail_ratio={fail['value']:.3f} {fail['failures']}")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(bare, "--workload", "mr_batch", "--seed", "7", "--trace", "0")
        assert rc != 0 and not any(line.startswith("{") for line in lines), (rc, lines)
        print(f"ok  bare directory exits {rc} without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
