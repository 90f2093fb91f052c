"""The workloads. Each runs whole passes of a fixed script through the
engine's public functions; the harness in ``run.py`` times every operation
and the checks here run outside the timed region.

- mr_batch / llm_corpus: every registered query of their catalog modules,
  one operation per query: build the DataFrame, then collect it. The
  collected rows are hash-checked against the query's DuckDB oracle over
  the same generated parquet.
- ann_serve: per index family (LSH, IVF-PQ) build, append, delete, a query
  batch and ``maintain_index``. The query batch's results are checked
  for recall@10 against an exact numpy top-10, for every appended vector
  coming back as its own nearest neighbour, and for no deleted id served.

Each workload has ``make_inputs(dir)`` (seeded, timed as set-up),
``expect()`` (starts computing the expected outputs, without Spark, and
returns a callable that waits for them), ``run_pass(n)``, ``finish()`` and
``warm_set()``, which narrows a (tiny) instance to the operations the
untimed warm-up runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

from inputs import clustered_vectors, load_tool, write_batch_tables, write_vectors

# LSH (bucket store, LSH compactor) and IVF-PQ (list store, IVF compactor,
# PQ codec) between them cover both store layouts and both compactors; plain
# IVF adds only its float codec, which no workload times.
FAMILIES = ("lsh", "ivfpq")
MR_MODULES = ("aggregates", "core", "joins", "sorts", "sourceops", "streamops", "transforms")
# The dedup family and the similarity queries: the eager jobs, persists and
# self-joins (dedupops) and the Python-worker UDFs (simops) the ROADMAP's dedup
# and persist directions act on. textops, mmops and udfops, and the batch ANN
# queries (ann_serve times ANN search through the index store), are left out:
# with them a run no longer fits the time that 22 runs per workload may take.
LLM_MODULES = ("dedupops", "simops")
LLM_SKIP = ("sim_ann_lsh", "sim_ann_ivf")


def in_child(fn, *args):
    """Run ``fn(*args)``, a function of this module taking and returning
    JSON values, in a child interpreter at the lowest CPU priority; return a
    callable that waits for the result. A process, not a thread: the JVM
    launch forks, and a fork while another thread runs native code can
    deadlock the child."""
    code = ("import json, os, sys; os.nice(19); import workloads; "
            f"json.dump(workloads.{fn.__name__}(*json.loads(sys.argv[1])), sys.stdout)")
    here = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([here, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.Popen([sys.executable, "-c", code, json.dumps(args)],
                            stdout=subprocess.PIPE, env=env)

    def result():
        out, _ = proc.communicate()
        if proc.returncode != 0:
            raise RuntimeError(f"{fn.__name__} exited with {proc.returncode}")
        return json.loads(out)
    return result


def oracle_signatures(names: list[str], sf_dir: str) -> dict[str, tuple]:
    """frame_signature of each query's DuckDB oracle over ``sf_dir``."""
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_oracle_sql

    check_oracle = load_tool("check_oracle")
    oracles = all_oracle_sql()
    expected: dict[str, tuple] = {}
    con = duckdb.connect()
    try:
        # no progress bar: it would write to the stdout that carries the result
        con.execute("SET enable_progress_bar = false")
        for t in check_oracle.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            try:
                rel = con.sql(oracles[name])
                expected[name] = check_oracle.frame_signature(list(rel.columns), rel.fetchall())
            except Exception as ex:  # noqa: BLE001 - the query's check then fails
                expected[name] = ("oracle error", f"{type(ex).__name__}: {ex}")
    finally:
        con.close()
    return expected


class BatchWorkload:
    """Registered queries from ``modules`` over seeded gen_fixtures tables."""

    def __init__(self, h, modules: tuple[str, ...], skip: tuple[str, ...] = ()):
        from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_queries

        self.h = h
        self.queries = [(name, fn) for name, fn in all_queries().items()
                        if fn.__module__.rsplit(".", 1)[-1] in modules and name not in skip]
        if h.tiny and not h.warm:
            self.queries = self.queries[:2]
        self.sf = 0.001 if h.tiny else 0.01
        self.gen_fixtures = load_tool("gen_fixtures")
        self.check_oracle = load_tool("check_oracle")
        self.dir = None
        self.expected: dict[str, tuple] = {}

    def make_inputs(self, out_dir: str) -> None:
        write_batch_tables(self.gen_fixtures, out_dir, self.sf, self.h.seed)
        self.dir = self.dir or out_dir

    def expect(self):
        pending = in_child(oracle_signatures, [name for name, _ in self.queries], self.dir)

        def done():
            self.expected = {name: tuple(sig) for name, sig in pending().items()}
            if self.h.wrong_hash:
                first = self.queries[0][0]
                n, cols, _ = self.expected[first]
                self.expected[first] = (n, cols, "0" * 16)
        return done

    def warm_set(self) -> None:
        """The first query: in a fresh session it pays the cold start
        (class loading, code generation, the first shuffle and persist)
        that the queries after it would otherwise share unevenly."""
        self.queries = self.queries[:1]

    def run_pass(self, n: int) -> None:
        spark, h = self.h.spark, self.h
        for name, fn in self.queries:
            rec, out = h.op(name, "query", [
                ("build", lambda _, fn=fn: fn(spark, self.dir)),
                ("action", lambda df: (df.columns, df.collect())),
            ])
            if rec["ok"]:
                cols, rows = out
                got = self.check_oracle.frame_signature(cols, [tuple(r) for r in rows])
                if got != self.expected[name]:
                    h.fail(name, f"oracle mismatch: spark={got} oracle={self.expected[name]}")
            h.finish_op(rec)

    def finish(self) -> dict:
        return {}


class AnnWorkload:
    """Index lifecycle per family over a seeded clustered corpus.

    Vector ids: [0, base) build the index, [base, base+append) are appended,
    then the held-out check queries. The query batch is the check queries
    plus a sample of appended vectors under fresh ids (self-retrieval)."""

    DIM, CLUSTERS, K = 64, 50, 10
    # At the families' default geometry this corpus shape (weak clusters,
    # noise-dominated) serves recall@10 of roughly 0.4-0.6; the floor catches
    # a broken index, not a retuned one.
    RECALL_FLOOR = 0.25
    SELF_OFFSET = 1_000_000
    # maintain_index compacts once tombstones pass this fraction of stored
    # rows; the script's deletes are ~2% of vectors (far less of LSH rows)
    TOMBSTONE_WARN = 0.001
    # a delete takes ~0.2 s, the noisiest op: several batches give its
    # per-op median (op_geomean_s) more than one sample
    DELETE_BATCHES = 4

    def __init__(self, h):
        from hadoop_2_10_0_src_mapreduce_spark.operators import pq, similarity

        self.h = h
        scale = 5 if h.tiny else 1
        self.n_base, self.n_append = 3000 // scale, 200 // scale
        self.n_check, self.n_self = 32 // scale, 16 // scale
        self.n_random_deletes = 40 // scale
        self.check_lo = self.n_base + self.n_append
        self.total = self.check_lo + self.n_check
        self.fn = {
            "lsh": (similarity.save_lsh_index, similarity.query_lsh_index,
                    similarity.append_to_lsh_index, {"dim": self.DIM}),
            "ivfpq": (pq.save_ivfpq_index, pq.query_ivfpq_index,
                      pq.append_to_ivfpq_index, {}),
        }
        self.families, self.skip = FAMILIES, ()
        self.delete_from_index = similarity.delete_from_index
        self.maintain_index = similarity.maintain_index
        self.path = None
        self.mat = None
        self._vectors = None
        self.walls = {f: {"serve": [], "ingest": []} for f in FAMILIES}
        self.recall: dict[str, float] = {}
        self.index = {"files": 0.0, "bytes": 0.0, "vectors": 0.0,
                      "tombstones": 0.0, "maintain_actions": 0.0}

    def make_inputs(self, out_dir: str) -> None:
        mat = clustered_vectors(self.total, self.DIM, self.CLUSTERS, self.h.seed)
        path = os.path.join(out_dir, "embeddings.parquet")
        write_vectors(path, mat)
        if self.path is None:
            self.path, self.mat = path, mat

    def expect(self):
        # cheap, and run after the JVM launch: a BLAS thread pool alive
        # across that fork is what ``in_child`` avoids for the batch oracles
        return self._expect

    def _expect(self) -> None:
        base, checks = self.mat[: self.n_base], self.mat[self.check_lo:]
        # deleting each check query's true nearest neighbour means a served
        # tombstoned id lands in the checked results
        top1 = np.argmax(checks @ base.T, axis=1)
        extra = np.random.default_rng(self.h.seed + 1).choice(
            self.n_base, self.n_random_deletes, replace=False)
        self.deleted = sorted({int(i) for i in top1} | {int(i) for i in extra})
        live = np.ones(self.check_lo, dtype=bool)
        live[self.deleted] = False
        live_ids = np.flatnonzero(live)
        sims = checks @ self.mat[live_ids].T
        self.exact = live_ids[np.argsort(-sims, axis=1, kind="stable")[:, : self.K]]
        appended = np.arange(self.n_base, self.check_lo)
        self.selfs = appended[:: len(appended) // self.n_self][: self.n_self]

    def _vecs(self, lo: int, hi: int):
        if self._vectors is None:
            self._vectors = self.h.spark.read.parquet(self.path)
        return self._vectors.where(f"vec_id >= {lo} AND vec_id < {hi}")

    def _query_batch(self):
        from pyspark.sql import functions as F

        selfs = self._vecs(self.n_base, self.check_lo).where(
            F.col("vec_id").isin([int(i) for i in self.selfs])).select(
            (F.col("vec_id") + self.SELF_OFFSET).alias("vec_id"), "embedding")
        return self._vecs(self.check_lo, self.total).unionByName(selfs)

    @staticmethod
    def _data_files(path: str) -> int:
        """Parquet files under the index's data dir (lists or buckets)."""
        lists = os.path.join(path, "lists")
        data = lists if os.path.isdir(lists) else os.path.join(path, "buckets")
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(data) for f in fs)

    def warm_set(self) -> None:
        """The first family's lifecycle up to its query batch: the Python
        workers and the index store's reads and writes start cold once."""
        self.families, self.skip = FAMILIES[:1], ("maintain",)

    def run_pass(self, n: int) -> None:
        for fam in self.families:
            self._lifecycle(fam, os.path.join(self.h.work, "index", str(n), fam))

    def _lifecycle(self, fam: str, path: str) -> None:
        h, spark = self.h, self.h.spark
        save, query, append, kw = self.fn[fam]
        serve_kw = {"rescore": self._vecs(0, self.total)} if fam == "ivfpq" else {}
        script = [
            ("build", lambda _: save(self._vecs(0, self.n_base), path, **kw)),
            ("append", lambda _: append(self._vecs(self.n_base, self.check_lo), path)),
            *[("delete", lambda _, ids=self.deleted[i::self.DELETE_BATCHES]:
               self.delete_from_index(spark, path, ids)) for i in range(self.DELETE_BATCHES)],
            ("serve", lambda _: query(self._query_batch(), path, k=self.K, **serve_kw).collect()),
            ("maintain", lambda _: self.maintain_index(spark, path, tombstone_warn=self.TOMBSTONE_WARN)),
        ]
        for kind, call in script:
            if kind in self.skip:
                continue
            live_files = self._data_files(path) if h.tracer is not None and kind == "serve" else 0
            rec, out = h.op(f"{fam}.{kind}", kind, [("action", call)])
            if live_files:
                rec["live_files"] = live_files
            if rec["ok"] and kind in ("serve", "append", "delete"):
                self.walls[fam]["serve" if kind == "serve" else "ingest"].append(rec["wall"])
            if rec["ok"] and kind == "serve":
                self._check(fam, out)
            if rec["ok"] and kind == "maintain":
                self.index["tombstones"] += out["before"].get("n_tombstones") or 0
                self.index["maintain_actions"] += len(out["actions"])
            h.finish_op(rec)
            if not rec["ok"]:
                return  # the rest of this family's script depends on this step
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        self.index["files"] += len(files)
        self.index["bytes"] += sum(os.path.getsize(f) for f in files)
        self.index["vectors"] += self.check_lo - len(self.deleted)

    def _check(self, fam: str, rows) -> None:
        """recall@10 (on the serve op itself), then self-retrieval and no
        deleted id served (one more attempt each)."""
        h = self.h
        got: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append((int(r["rnk"]), int(r["neighbor_id"])))
        hits = sum(len({nb for _, nb in got.get(self.check_lo + i, [])} & set(self.exact[i].tolist()))
                   for i in range(self.n_check))
        self.recall[fam] = hits / (self.K * self.n_check)
        if self.recall[fam] < self.RECALL_FLOOR:
            h.fail(f"{fam}.recall", f"recall@10 {self.recall[fam]:.3f} < {self.RECALL_FLOOR}")
        h.attempted += 2
        wrong_self = [int(i) for i in self.selfs
                      if min(got.get(int(i) + self.SELF_OFFSET, [(0, -1)]))[1] != int(i)]
        if wrong_self:
            h.fail(f"{fam}.self", f"appended ids not their own nearest neighbour: {wrong_self}")
        served = sorted({nb for lst in got.values() for _, nb in lst} & set(self.deleted))
        if served:
            h.fail(f"{fam}.deleted", f"deleted ids served: {served}")

    def finish(self) -> dict:
        return {"walls": self.walls, "recall": self.recall, "index": self.index}


WORKLOADS = {
    "mr_batch": lambda h: BatchWorkload(h, MR_MODULES),
    "llm_corpus": lambda h: BatchWorkload(h, LLM_MODULES, LLM_SKIP),
    "ann_serve": AnnWorkload,
}
