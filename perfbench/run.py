"""Seeded benchmark for the spark-graft engine on ``local[<all cores>]``.

    python3 perfbench/run.py --workload mr_batch|llm_corpus|ann_serve \
        --seed N --seconds S --trace 0|1 [--tiny] [--expect-wrong-hash]

Run from the repository root. One run: start the session, generate the
seeded inputs three times (their median counts in set-up time), warm up by
running a few of the workload's operations once on tiny inputs (so the first
timed operation does not pay the JVM's and the Python workers' cold start),
then run whole passes of the workload's script as one closed-loop client until
``--seconds`` have passed (always at least one pass). Every operation's
output is checked outside its timed region: batch queries (built, then
collected) against their DuckDB oracle, the ANN lifecycle against an exact
numpy top-10 and its invariants.

Output: progress and a detail record (host stamp, every metric with unit,
direction and sample count, the failures by name) on the lines before the
last; the last line is ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics from a
traced run (``--trace 1``). ``--tiny`` shrinks inputs and scripts for the
self-test; ``--expect-wrong-hash`` corrupts one expected oracle hash so the
self-test can see the failure counted.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "hadoop_2_10_0_src_mapreduce_spark"
SETUP_REPS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


class Harness:
    """Times operations, resets the session between them, counts failures
    and (traced run) attributes Spark work to each operation's layers."""

    def __init__(self, args, work: str, warm: bool = False):
        # the warm-up harness runs tiny inputs and its expected outputs are
        # never corrupted
        self.seed, self.tiny, self.warm = args.seed, args.tiny or warm, warm
        self.wrong_hash = args.expect_wrong_hash and not warm
        self.work = work
        self.spark = self.sc = self.tracer = None
        self.ops: list[dict] = []
        self.pass_no = 0
        self.attempted = 0
        self.failures: list[dict] = []
        self.rdds_released = 0
        self.cached_peak = 0.0

    def attach(self, spark, tracer) -> None:
        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer

    def fail(self, name: str, reason: str) -> None:
        self.failures.append({"name": name, "reason": reason[:400]})

    def op(self, key: str, kind: str, steps):
        """Run one operation: ``steps`` is [(phase, fn)], each fn taking the
        previous step's result. Returns (record, last result)."""
        rec = {"key": key, "kind": kind, "ok": True, "id": str(len(self.ops)),
               "pass": self.pass_no, "marks": [], "phases": []}
        self.ops.append(rec)
        self.attempted += 1
        result = None
        rec["marks"].append(time.time())
        try:
            for phase, fn in steps:
                if self.tracer is not None:
                    self.tracer.tag(rec["id"], phase)
                result = fn(result)
                rec["marks"].append(time.time())
                rec["phases"].append(phase)
        except Exception as ex:  # noqa: BLE001 - a failing op is counted, the run goes on
            rec["ok"] = False
            self.fail(key, f"{type(ex).__name__}: {ex}")
        finally:
            if self.tracer is not None:
                self.tracer.untag()
        if rec["ok"]:
            rec["wall"] = rec["marks"][-1] - rec["marks"][0]
            rec["phase_s"] = {p: rec["marks"][i + 1] - rec["marks"][i]
                              for i, p in enumerate(rec["phases"])}
        return rec, result

    def finish_op(self, rec: dict) -> None:
        """Untimed: read the trace for ``rec``, then reset the session."""
        tr = self.tracer
        if tr is not None and rec["ok"]:
            t0 = time.time()
            m = rec["marks"]
            root = tr.span(f"op.{rec['kind']}", m[0], m[-1], None, rec["id"])
            names = {"build": "plans.build", "action": "operators.action"}
            spans = {p: tr.span(names[p], m[i], m[i + 1], root, rec["id"])
                     for i, p in enumerate(rec["phases"])}
            tr.read_s += time.time() - t0
            self.cached_peak = max(self.cached_peak, tr.cached_bytes())
            rec["counters"] = tr.read_op(rec["id"], spans)
        self.reset()

    def absorb(self, other: "Harness", prefix: str) -> None:
        """Count ``other``'s attempts and failures as this run's."""
        self.attempted += other.attempted
        self.failures += [{**f, "name": prefix + f["name"]} for f in other.failures]

    def reset(self) -> None:
        """clearCache, then unpersist every RDD that survived it."""
        self.spark.catalog.clearCache()
        leftover = self.sc._jsc.getPersistentRDDs()
        n = leftover.size()
        for rdd in list(leftover.values()):
            rdd.unpersist(True)
        self.rdds_released += n


def _pct_hi(values: list[float]) -> dict | None:
    """Highest whole percentile that leaves at least ten samples above it."""
    n = len(values)
    if n <= 10:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return {"pct": pct, "value": statistics.quantiles(values, n=100, method="inclusive")[pct - 1]}


def timing(values: list[float]) -> dict:
    return {"samples": len(values), "median": statistics.median(values) if values else None,
            "high": _pct_hi(values)}


def op_walls(h: Harness) -> dict:
    """Every timed wall of every operation, in run order, by op key."""
    walls: dict[str, list[float]] = {}
    for rec in h.ops:
        if rec["ok"]:
            walls.setdefault(rec["key"], []).append(round(rec["wall"], 4))
    return walls


def end_to_end(h: Harness, setup: dict) -> dict:
    """Median pass wall; geometric mean over op keys of each key's median
    wall (a key repeated within a pass, as ann_serve's deletes, is one)."""
    walls: dict[str, list[float]] = {}
    pass_walls: dict[int, float] = {}
    for rec in h.ops:
        if rec["ok"]:
            walls.setdefault(rec["key"], []).append(rec["wall"])
            pass_walls[rec["pass"]] = pass_walls.get(rec["pass"], 0.0) + rec["wall"]
    medians = [statistics.median(v) for v in walls.values()]
    return {
        "setup_s": setup["setup_s"],
        "pass_wall_s": statistics.median(pass_walls.values()),
        "op_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
    }


E2E_UNITS = {"setup_s": ("s", "lower"), "pass_wall_s": ("s", "lower"),
             "op_geomean_s": ("s", "lower")}


def _sum(ops, name):
    return sum(r.get("counters", {}).get(name, 0.0) for r in ops)


def per_layer(h: Harness, setup: dict, passes: int, extra: dict, wall_s: float,
              rss_mb: float) -> dict:
    """Per-layer metrics of a traced run, per pass. Bypassed layers read 0."""
    ops = [r for r in h.ops if r["ok"]]
    batch = [r for r in ops if r["kind"] == "query"]
    per = 1.0 / passes
    build_s = sum(r["phase_s"].get("build", 0.0) for r in batch)
    eager_cover = _sum(batch, "build.job_cover_s")
    action_s = sum(r["phase_s"].get("action", 0.0) for r in ops)
    m = {
        "session.start_s": (setup["session_start_s"], "s", "lower"),
        "session.warmup_s": (setup["warmup_s"], "s", "lower"),
        "setup.inputs_s": (setup["inputs_s"], "s", "lower"),
        "plans.build_s": (build_s * per, "s", "lower"),
        "plans.eager_jobs": (_sum(batch, "build.jobs") * per, "count", "lower"),
        "plans.eager_job_s": (eager_cover * per, "s", "lower"),
        "plans.pure_build_s": ((build_s - eager_cover) * per, "s", "lower"),
        "operators.jobs": (_sum(ops, "action.jobs") * per + _sum(ops, "build.jobs") * per, "count", "lower"),
        "operators.stages": (_sum(ops, "stages") * per, "count", "lower"),
        "operators.tasks": (_sum(ops, "tasks") * per, "count", "lower"),
        "operators.action_s": (action_s * per, "s", "lower"),
        "operators.executor_run_s": (_sum(ops, "executor_run_s") * per, "s", "lower"),
        "operators.executor_cpu_s": (_sum(ops, "executor_cpu_s") * per, "s", "lower"),
        "operators.gc_s": (_sum(ops, "gc_s") * per, "s", "lower"),
        "operators.idle_core_s": ((action_s * cores() - _sum(ops, "action.executor_run_s")) * per,
                                  "s", "lower"),
        "operators.shuffle_write_bytes": (_sum(ops, "shuffle_write_bytes") * per, "B", "lower"),
        "operators.shuffle_read_bytes": (_sum(ops, "shuffle_read_bytes") * per, "B", "lower"),
        "operators.shuffle_fetch_wait_s": (_sum(ops, "shuffle_fetch_wait_s") * per, "s", "lower"),
        "operators.spill_bytes": (_sum(ops, "spill_bytes") * per, "B", "lower"),
        "operators.task_skew": (_longest_stage_skew(ops), "ratio", "lower"),
        "operators.rdds_leaked": (h.rdds_released * per, "count", "lower"),
        "operators.cached_bytes_peak": (h.cached_peak, "B", "lower"),
        "peak_rss_mb": (rss_mb, "MB", "lower"),
        "functions.py_run_s": (_sum(ops, "py_run_s") * per, "s", "lower"),
        "functions.py_start_s": (_sum(ops, "py_start_s") * per, "s", "lower"),
        "functions.py_bytes_sent": (_sum(ops, "py_bytes_sent") * per, "B", "lower"),
        "functions.py_bytes_returned": (_sum(ops, "py_bytes_returned") * per, "B", "lower"),
        "functions.offcpu_s": (_sum(ops, "offcpu_s") * per, "s", "lower"),
        "sources.files_read": (_sum(ops, "files_read") * per, "count", "lower"),
        "sources.bytes_read": (_sum(ops, "bytes_read") * per, "B", "lower"),
        "sources.input_records": (_sum(ops, "input_records") * per, "count", "lower"),
        "sources.output_bytes": (_sum(ops, "output_bytes") * per, "B", "lower"),
        "sources.files_written": (_sum(ops, "files_written") * per, "count", "lower"),
    }
    m.update(_index_layer(ops, extra))
    m["trace.overhead_ratio"] = (wall_s / max(wall_s - h.tracer.read_s, 1e-9), "ratio", "lower")
    return m


def predictions(workload: str, layers: dict) -> dict:
    """The bypass predictions the traced run checks."""
    def zero(prefix):
        return all(v == 0 for k, (v, _, _) in layers.items() if k.startswith(prefix))
    if workload == "ann_serve":
        return {"plans.* absent on ann_serve": zero("plans.")}
    p = {"index.* absent on batch workloads": zero("index.")}
    if workload == "mr_batch":
        p["functions.* zero on mr_batch"] = zero("functions.")
    return p


def _longest_stage_skew(ops) -> float:
    best = max((r.get("counters", {}) for r in ops),
               key=lambda c: c.get("longest_stage_run_s", -1.0), default={})
    return best.get("task_skew", 0.0)


def _mean(values):
    return statistics.fmean(values) if values else 0.0


def _index_layer(ops, extra: dict) -> dict:
    serve = [r for r in ops if r["kind"] == "serve"]
    append = [r for r in ops if r["kind"] == "append"]
    idx = extra.get("index", {})
    m = {
        "index.jobs_per_query": (_mean([r["counters"].get("action.jobs", 0) for r in serve]), "count", "lower"),
        "index.tasks_per_query": (_mean([r["counters"].get("tasks", 0) for r in serve]), "count", "lower"),
        "index.files_read_per_query": (_mean([r["counters"].get("files_read", 0) for r in serve]),
                                       "count", "lower"),
        "index.prune_ratio": (_mean([r["counters"].get("files_read", 0) / r["live_files"]
                                     for r in serve if r.get("live_files")]), "ratio", "lower"),
        "index.jobs_per_append": (_mean([r["counters"].get("action.jobs", 0) for r in append]),
                                  "count", "lower"),
        "index.files": (idx.get("files", 0.0), "count", "lower"),
        "index.bytes_per_vector": (idx["bytes"] / idx["vectors"] if idx.get("vectors") else 0.0,
                                   "B", "lower"),
        "index.tombstones": (idx.get("tombstones", 0.0), "count", "lower"),
        "index.maintain_actions": (idx.get("maintain_actions", 0.0), "count", "lower"),
        "index.recall_at_10": (min(extra["recall"].values()) if extra.get("recall") else 0.0,
                               "ratio", "higher"),
    }
    from workloads import FAMILIES

    for fam in FAMILIES:
        w = extra.get("walls", {}).get(fam, {})
        m[f"index.{fam}.serve_p50_s"] = (statistics.median(w["serve"]) if w.get("serve") else 0.0,
                                         "s", "lower")
        m[f"index.{fam}.ingest_p50_s"] = (statistics.median(w["ingest"]) if w.get("ingest") else 0.0,
                                          "s", "lower")
    return m


def workload_metrics(h: Harness, workload: str, extra: dict, e2e: dict, rss_mb: float) -> dict:
    """The workload-specific end-to-end metrics, with sample counts."""
    ok = [r for r in h.ops if r["ok"]]
    out = {"peak_rss_mb": {"value": rss_mb, "unit": "MB", "better": "lower"},
           "fail_ratio": {"value": len(h.failures) / max(h.attempted, 1), "unit": "ratio",
                          "better": "lower", "failed": len(h.failures), "attempted": h.attempted,
                          "failures": [f["name"] for f in h.failures]}}
    if workload == "ann_serve":
        for fam in extra["walls"]:
            for kind in ("serve", "ingest"):
                out[f"{fam}.{kind}_p50_s"] = {"unit": "s", "better": "lower",
                                              **timing(extra["walls"][fam][kind])}
        out["lifecycle_s"] = {"value": sum(r["wall"] for r in ok), "unit": "s", "better": "lower",
                              "samples": len(ok)}
        out["recall_at_10"] = {"value": min(extra["recall"].values()) if extra["recall"] else None,
                               "unit": "ratio", "better": "higher", "by_family": extra["recall"]}
    else:
        walls = [r["wall"] for r in ok]
        out["batch_wall_s"] = {"value": e2e["pass_wall_s"], "unit": "s", "better": "lower",
                               **timing(walls)}
        out["query_geomean_s"] = {"value": e2e["op_geomean_s"], "unit": "s", "better": "lower",
                                  "samples": len(walls)}
    return out


def host_stamp(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    jvm = spark.sparkContext._jvm
    return {"nproc": cores(), "ram_mb": mem_kb // 1024, "spark": spark.version,
            "java": jvm.System.getProperty("java.version"), "python": platform.python_version(),
            "conf": dict(sorted(spark.sparkContext.getConf().getAll()))}


def _prepare_env(work: str) -> None:
    """Everything the run writes stays under ``work``; cores come from the
    host through the engine's own SPARK_GRAFT_CPUS."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then wait for it
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("mr_batch", "llm_corpus", "ann_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--expect-wrong-hash", action="store_true")
    args = ap.parse_args()

    for need in (os.path.join(ROOT, ENGINE, "__init__.py"),
                 os.path.join(ROOT, "tools", "gen_fixtures.py"),
                 os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.isfile(need):
            print(f"perfbench: missing {os.path.relpath(need, ROOT)}; run from a full checkout",
                  file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    spark = None
    waiting: list = []
    try:
        from hadoop_2_10_0_src_mapreduce_spark.session import get_spark

        from tracing import Tracer
        from workloads import WORKLOADS

        h = Harness(args, work)
        wl = WORKLOADS[args.workload](h)
        warm_h = Harness(args, work, warm=True)
        warm = WORKLOADS[args.workload](warm_h)
        warm.warm_set()
        inputs = os.path.join(work, "inputs")
        t0 = time.time()
        wl.make_inputs(os.path.join(inputs, "0"))
        inputs_s = [time.time() - t0]
        t0 = time.time()
        warm.make_inputs(os.path.join(inputs, "warm"))
        warm_inputs_s = time.time() - t0
        # expected outputs (DuckDB oracles, exact neighbours) need no Spark:
        # they are computed while the JVM starts
        waiting = [wl.expect(), warm.expect()]

        spark = get_spark(f"perfbench-{args.workload}", extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_start = time.time() - T_PROCESS - inputs_s[0] - warm_inputs_s
        h.attach(spark, Tracer(spark.sparkContext) if args.trace else None)
        warm_h.attach(spark, None)

        for rep in range(1, SETUP_REPS):
            t0 = time.time()
            wl.make_inputs(os.path.join(inputs, str(rep)))
            inputs_s.append(time.time() - t0)
        # the warm-up operations are checked like timed ones, and count
        waiting.pop()()
        t0 = time.time()
        warm.run_pass(0)
        warmup_s = time.time() - t0
        h.absorb(warm_h, "warmup.")
        timeline = {"setup_done": time.time() - T_PROCESS}
        inputs_med = statistics.median(inputs_s) + warm_inputs_s
        setup = {"session_start_s": session_start, "inputs_s": inputs_med,
                 "warmup_s": warmup_s, "setup_s": session_start + inputs_med + warmup_s}
        h.reset()
        waiting.pop()()
        timeline["checks_ready"] = time.time() - T_PROCESS

        passes = 0
        t_start = time.time()
        with RssSampler() as rss:
            while passes == 0 or time.time() - t_start < args.seconds:
                h.pass_no = passes
                wl.run_pass(passes)
                passes += 1
        measured_s = time.time() - t_start
        timeline["passes_done"] = time.time() - T_PROCESS
        extra = wl.finish()

        e2e = end_to_end(h, setup)
        rss_mb = rss.peak / 2**20
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "passes": passes,
            "measured_s": measured_s, "timeline_s": timeline, "host": host_stamp(spark),
            "setup": setup,
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k][0], "better": E2E_UNITS[k][1]}
                           for k, v in e2e.items()},
            "workload_metrics": workload_metrics(h, args.workload, extra, e2e, rss_mb),
            "op_walls_s": op_walls(h),
            "warmup_walls_s": op_walls(warm_h),
            "failures": h.failures,
        }
        if args.trace:
            layers = per_layer(h, setup, passes, extra, measured_s, rss_mb)
            tracer = h.tracer
            detail["per_layer"] = {k: {"value": v, "unit": u, "better": b}
                                   for k, (v, u, b) in layers.items()}
            detail["predictions"] = predictions(args.workload, layers)
            detail["self_time_s"] = tracer.self_times()
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                     f"{args.workload}-seed{args.seed}.json"))
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in layers.items()}
        else:
            metrics = {k: {"value": v["value"], "unit": v["unit"]}
                       for k, v in detail["end_to_end"].items()}
        timeline["reported"] = time.time() - T_PROCESS
        print("perfbench detail " + json.dumps(detail, default=str), flush=True)
        print(json.dumps({"correct": not h.failures, "attempted": h.attempted,
                          "failed": len(h.failures), "metrics": metrics}), flush=True)
        return 0
    finally:
        for pending in waiting:  # failed before the expected outputs were read
            with contextlib.suppress(Exception):
                pending()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
