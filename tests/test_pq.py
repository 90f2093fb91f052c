"""Product quantization: determinism, nearest-code invariant,
reconstruction dominance over int8, ADC recall pins, scale-shape
audit. Since round 7 the family is ALSO oracle-hashed (the 'ivfpq'
branch of the sim_ann_ivf driver gate replays trainer+encode+ADC+
rescore in DuckDB); the non-vacuity test here guards against the one
failure the replaying oracle can't see — a degenerate collapse that
both engines would faithfully agree on."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.operators import pq, similarity
from hadoop_2_10_0_src_mapreduce_spark.operators.index_store import (
    _read_conf,
    _stored_dirs,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").persist()


@pytest.fixture(scope="module")
def books(emb):
    return pq.train_pq_codebooks(emb, n_subspaces=8, n_codes=64, n_iters=4)


def test_codebooks_deterministic_and_shaped(emb, books):
    again = pq.train_pq_codebooks(emb, n_subspaces=8, n_codes=64, n_iters=4)
    assert books.shape == (8, 64, 8)  # 64-dim fixture / 8 subspaces
    assert np.array_equal(books, again)


def test_dim_not_divisible_fails_fast(emb):
    with pytest.raises(ValueError, match="divisible"):
        pq.train_pq_codebooks(emb, n_subspaces=7)


def test_encode_emits_nearest_code_per_subspace(spark, emb, books):
    codes = {
        r["vec_id"]: np.asarray(r["pq_codes"])
        for r in pq.pq_encode(emb, books).collect()
    }
    sample = emb.orderBy("vec_id").limit(20).collect()
    for row in sample:
        v = np.asarray(row["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        got = codes[row["vec_id"]]
        assert got.shape == (8,)
        for s in range(8):
            sub = v[s * 8 : (s + 1) * 8]
            d2 = ((books[s] - sub) ** 2).sum(axis=1)
            # first-min tie rule, same as the encoder's argmin
            assert got[s] == d2.argmin()


def test_reconstruction_beats_int8_on_cosine(spark, emb, books):
    """PQ spends 8 bytes/vector vs int8's 64 — yet with 64 codes per
    subspace trained on this 500-vector corpus its reconstructions
    should still sit close to the true (normalized) vectors. Pin both
    the absolute quality and the 8× payload shrink vs int8."""
    rec = pq.pq_decode(pq.pq_encode(emb, books), books, out_col="rec")
    orig = emb.select("vec_id", F.col("embedding").alias("orig"))
    joined = rec.join(orig, "vec_id").select(
        similarity.cosine("rec", "orig").alias("cos")
    )
    # the fixture corpus is NEAR-RANDOM (10 weak clusters, within-cos
    # 0.018), the hardest case for a codebook: 0.82 measured. Pin well
    # above chance (E[cos] of a random 64-dim pair ≈ 0.1) but below
    # the clustered-corpus quality PQ gets in production
    mean_cos = joined.agg(F.avg("cos")).first()[0]
    assert mean_cos > 0.75, mean_cos

    int8_rec = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(emb), out_col="rec"
    )
    int8_cos = (
        int8_rec.join(orig, "vec_id")
        .select(similarity.cosine("rec", "orig").alias("cos"))
        .agg(F.avg("cos"))
        .first()[0]
    )
    # int8 keeps 8× the bytes, so it reconstructs better — the sanity
    # direction, and the documented trade PQ makes for the 32× shrink
    assert int8_cos > mean_cos > 0.75, (mean_cos, int8_cos)


def _recall(approx_rows, exact_rows, k):
    exact = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for r in approx_rows:
        total += 1
        if r["neighbor_id"] in exact.get(r["query_id"], set()):
            hits += 1
    assert total > 0
    return hits / (len(exact) * k)


def test_adc_topk_recall_vs_brute_force(spark, emb, books):
    queries = emb.where(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(emb, queries, k=10).collect()
    codes = pq.pq_encode(emb, books)
    adc = pq.pq_topk(codes, queries, books, k=10).collect()
    # the fixture corpus is near-random (within-cluster cos 0.018), so
    # true top-10 margins sit inside the ADC approximation error — the
    # worst case for raw ADC. Deterministic measured values: raw 0.415,
    # rescored 0.805 (4×) / 0.96 (8×); pinned with margin
    assert _recall(adc, exact, 10) >= 0.35, "raw ADC recall collapsed"

    rescored = pq.pq_topk(
        codes, queries, books, k=10, rescore=emb, oversample=4
    ).collect()
    assert _recall(rescored, exact, 10) >= 0.75, "rescored recall collapsed"
    deep = pq.pq_topk(
        codes, queries, books, k=10, rescore=emb, oversample=8
    ).collect()
    assert _recall(deep, exact, 10) >= 0.9, "oversample=8 recall collapsed"
    # rescored sims are TRUE cosines: every (query, neighbor) row that
    # also appears in the exact top-k must carry the identical sim
    exact_sim = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact}
    for r in rescored:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sim:
            assert r["sim"] == exact_sim[key]


def test_pq_topk_guards(spark, emb, books):
    codes = pq.pq_encode(emb, books)
    with pytest.raises(ValueError, match="empty query batch"):
        pq.pq_topk(codes, emb.where(F.lit(False)), books)
    with pytest.raises(ValueError, match="max_queries"):
        pq.pq_topk(codes, emb, books, max_queries=10)


def test_pq_plans_stay_scale_safe(spark, emb, books):
    """Same audit as the library composition test: encode and ADC
    scoring must never plan a row-wise Python UDF, a cartesian, or a
    nested-loop join — the corpus side is mapInPandas-only and the
    query side rides a broadcast variable, not a join."""
    codes = pq.pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 5)
    plans = {
        "encode": codes,
        "adc": pq.pq_topk(codes, queries, books, k=5),
        "rescored": pq.pq_topk(codes, queries, books, k=5, rescore=emb),
    }
    offenders = []
    for name, df in plans.items():
        plan = df._jdf.queryExecution().sparkPlan().toString()
        for marker in ("BatchEvalPython", "CartesianProduct",
                       "BroadcastNestedLoopJoin"):
            if marker in plan:
                offenders.append(f"{name}: {marker}")
    assert not offenders, offenders


def test_keep_cols_ride_encode(spark, emb, books):
    out = pq.pq_encode(emb, books, keep_cols=("label",))
    row = out.where(F.col("vec_id") == 3).first()
    want = emb.where(F.col("vec_id") == 3).first()["label"]
    assert row["label"] == want


def test_ivfpq_save_query_probe_all_equals_flat_adc(spark, emb, books, tmp_path):
    """With every list probed and no tombstones, the persisted IVF-PQ
    server must rank exactly like flat ADC over the same codes — IVF
    routing only prunes, never rescores."""
    path = str(tmp_path / "ivfpq")
    pq.save_ivfpq_index(emb, path, n_centroids=8, n_subspaces=8, n_codes=64)
    queries = emb.where(F.col("vec_id") < 10)
    served = pq.query_ivfpq_index(queries, path, k=10, n_probe=8)

    stored_books = pq._load_pq_codebooks(path)
    codes = spark.read.parquet(f"{path}/lists").select("vec_id", "pq_codes")
    flat = pq.pq_topk(codes, queries, stored_books, k=10)
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    got = as_rows(served)
    assert got == as_rows(flat)
    assert got, "serving returned no rows"


def test_ivfpq_partition_pruning_and_probe_recall(spark, emb, books, tmp_path):
    path = str(tmp_path / "ivfpq_p")
    pq.save_ivfpq_index(emb, path, n_centroids=8, n_subspaces=8, n_codes=64)
    queries = emb.where(F.col("vec_id") < 20)
    served = pq.query_ivfpq_index(
        queries, path, k=10, n_probe=3, rescore=emb, oversample=8
    )

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    scan_lines = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "list_id" in line
    ]
    assert scan_lines, f"lists scan did not partition-prune:\n{plan[:2000]}"

    exact = similarity.brute_force_topk(emb, queries, k=10).collect()
    # 3/8 lists probed on a near-random corpus: the probed set holds
    # ~3/8 of all vectors, so recall is bounded by probe coverage
    # before ADC error — measured 0.345, pinned above the floor a
    # broken mask/routing would produce
    assert _recall(served.collect(), exact, 10) >= 0.25


def test_packed_codes_equal_unpacked(spark, emb, books, tmp_path):
    """packed=True stores one m-byte binary per vector; every kernel
    must read it identically to the array<smallint> layout, and the
    persisted store (which packs automatically at n_codes<=256) must
    keep the layout across appends."""
    unpacked = pq.pq_encode(emb, books)
    packed = pq.pq_encode(emb, books, packed=True)
    assert dict(packed.dtypes)["pq_codes"] == "binary"
    a = {r.vec_id: tuple(r.pq_codes) for r in unpacked.collect()}
    b = {r.vec_id: tuple(r.pq_codes) for r in packed.collect()}
    assert a == b

    queries = emb.where(F.col("vec_id") < 10)
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    assert as_rows(pq.pq_topk(packed, queries, books, k=5)) == as_rows(
        pq.pq_topk(unpacked, queries, books, k=5)
    )
    rec_a = {r.vec_id: tuple(r.embedding)
             for r in pq.pq_decode(unpacked, books).collect()}
    rec_b = {r.vec_id: tuple(r.embedding)
             for r in pq.pq_decode(packed, books).collect()}
    assert rec_a == rec_b

    # the persisted store writes UNPACKED (parquet dictionary+RLE
    # beats raw bytes — measured in pq_encode's note), and appends
    # follow the STORED layout rather than re-deriving it
    path = str(tmp_path / "pk")
    pq.save_ivfpq_index(
        emb.where(F.col("vec_id") < 400), path,
        n_centroids=8, n_subspaces=8, n_codes=64,
    )
    stored = spark.read.parquet(f"{path}/lists")
    assert dict(stored.dtypes)["pq_codes"] == "array<smallint>"
    pq.append_to_ivfpq_index(emb.where(F.col("vec_id") >= 400), path)
    again = spark.read.parquet(f"{path}/lists")
    assert dict(again.dtypes)["pq_codes"] == "array<smallint>"
    assert again.count() == 500

    with pytest.raises(ValueError, match="256"):
        big = np.zeros((8, 300, 8))
        pq.pq_encode(emb, big, packed=True)


@pytest.fixture(scope="module")
def clustered(spark):
    """Planted 5-cluster corpus: centroid + small noise — the shape
    residual encoding exists for (the fixture embeddings are near-
    random, which hides the residual win)."""
    rng = np.random.RandomState(7)
    cents = rng.randn(5, 64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = []
    for i in range(300):
        v = cents[i % 5] + 0.05 * rng.randn(64)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").persist()


def test_residual_reconstruction_beats_plain_on_clusters(spark, clustered, tmp_path):
    """With few codes on clustered data, residual codebooks spend
    their bits on within-cell noise instead of cluster positions —
    reconstructions must land measurably closer."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        _load_ivf_centroids,
    )

    errs = {}
    for name, residual in (("plain", False), ("res", True)):
        path = str(tmp_path / name)
        pq.save_ivfpq_index(
            clustered, path, n_centroids=5, n_subspaces=8, n_codes=8,
            residual=residual,
        )
        cents = _load_ivf_centroids(path)
        books = pq._load_pq_codebooks(path)
        # decode through the API: residual stores pass centers= (the
        # conf records which — pq_decode without them would return
        # near-zero residuals, the documented audit footgun)
        assert _read_conf(f"{path}/conf")["residual"] is residual
        rec_rows = pq.pq_decode(
            spark.read.parquet(f"{path}/lists"), books,
            centers=cents if residual else None,
        ).collect()
        orig = {
            r.vec_id: np.asarray(r.embedding) for r in clustered.collect()
        }
        tot = 0.0
        for r in rec_rows:
            x = orig[r.vec_id]
            x = x / np.linalg.norm(x)
            tot += float(((np.asarray(r.embedding) - x) ** 2).sum())
        errs[name] = tot / len(rec_rows)
    # deterministic measured values: plain 0.1214, residual 0.0883 —
    # a 27% tighter reconstruction from the same 8 codes. (The planted
    # noise radius ~0.4 is large relative to the cluster geometry, so
    # plain codebooks still capture some cluster structure; the gap
    # widens as clusters tighten.) Pin direction + margin.
    assert errs["res"] < 0.8 * errs["plain"], errs


def test_residual_served_matches_brute_force_when_codes_saturate(
    spark, clustered, tmp_path
):
    """300 vectors ≤ 8·subspace codebooks of 300+ codes: every residual
    subvector becomes its own code, reconstruction is exact, so probe-
    all residual ADC must reproduce brute-force cosine top-k (sims to
    within the 6-digit rounding of two float paths)."""
    path = str(tmp_path / "sat")
    pq.save_ivfpq_index(
        clustered, path, n_centroids=5, n_subspaces=8, n_codes=512,
        residual=True,
    )
    queries = clustered.where(F.col("vec_id") < 10)
    served = {
        (r.query_id, r.rnk): (r.neighbor_id, r.sim)
        for r in pq.query_ivfpq_index(queries, path, k=5, n_probe=5).collect()
    }
    exact = {
        (r.query_id, r.rnk): (r.neighbor_id, r.sim)
        for r in similarity.brute_force_topk(clustered, queries, k=5).collect()
    }
    assert served.keys() == exact.keys()
    for key, (nid, sim) in exact.items():
        snid, ssim = served[key]
        assert snid == nid, (key, snid, nid)
        assert abs(ssim - sim) <= 2e-6, (key, ssim, sim)


def test_ivfpq_index_written_before_conf_serves_as_plain(
    spark, clustered, tmp_path
):
    """An IVF-PQ index written before it had a conf dir reads as the
    non-residual layout: it serves exactly what it served with the
    conf, and appends still encode."""
    import shutil

    legacy = str(tmp_path / "legacy")
    pq.save_ivfpq_index(clustered.where(F.col("vec_id") < 250), legacy,
                        n_centroids=5, n_subspaces=8, n_codes=16)
    queries = clustered.where(F.col("vec_id") < 5)
    as_rows = lambda: sorted(  # noqa: E731
        tuple(r) for r in
        pq.query_ivfpq_index(queries, legacy, k=3, n_probe=5).collect()
    )
    with_conf = as_rows()
    shutil.rmtree(f"{legacy}/conf")
    assert _read_conf(f"{legacy}/conf") == {}
    assert with_conf and as_rows() == with_conf
    similarity.append_to_index(clustered.where(F.col("vec_id") >= 250), legacy)
    assert spark.read.parquet(f"{legacy}/lists").count() == 300


def test_text_to_ivfpq_serving_composition(spark, tmp_path):
    """The model-free text serving path end to end: hash_embeddings
    vectorizes a corpus, save_ivfpq_index stores it as codes, and a
    rescored query over a PARAPHRASED probe retrieves the original
    document first — the retrieval shape a reference-era user would
    build from these parts."""
    from hadoop_2_10_0_src_mapreduce_spark.functions.text import hash_embeddings

    target = ("the quick brown fox jumps over the lazy dog near the "
              "river bank today")
    docs = [(0, target)]
    for i in range(1, 60):
        docs.append((i, f"unrelated filler document number {i} about "
                        f"spark shuffle partitions and parquet footers "
                        f"topic{i % 7} section{i % 5}"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    emb = hash_embeddings(df, "text", "doc_id", dim=64).persist()

    path = str(tmp_path / "textpq")
    pq.save_ivfpq_index(
        emb, path, id_col="doc_id", n_centroids=4, n_subspaces=8,
        n_codes=32, residual=True,
    )
    probe_text = ("quick brown fox jumps over the lazy dog by the "
                  "river bank")
    probe = hash_embeddings(
        spark.createDataFrame([(999, probe_text)], ["doc_id", "text"]),
        "text", "doc_id", dim=64,
    )
    got = pq.query_ivfpq_index(
        probe, path, id_col="doc_id", k=3, n_probe=4,
        rescore=emb, oversample=8,
    ).orderBy("rnk").collect()
    assert got[0].neighbor_id == 0, got
    assert got[0].sim > 0.8
    assert all(r.sim < 0.5 for r in got[1:])


def test_adaptive_cell_cap_follows_max_train(spark):
    """The cell-count cap is the trainer's sample bound: at the
    default it is CELL_CAP, and a raised max_train raises it with the
    SQL twin in agreement — so index_stats' occupancy recommendation
    can always be satisfied by the rebuild it names."""
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        CELL_CAP,
        adaptive_centroids,
        adaptive_centroids_sql,
    )

    n = 3_000_000
    assert adaptive_centroids(n) == CELL_CAP
    assert adaptive_centroids(n, cap=32768) == -(-n // 132)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE e AS SELECT * FROM range({n})")
    got = con.execute(
        "SELECT " + adaptive_centroids_sql("e", cap=32768)
    ).fetchone()[0]
    assert got == adaptive_centroids(n, cap=32768)


def test_ivfpq_gate_branch_nonvacuous(spark, emb):
    """The 'ivfpq' driver-gate branch replays its oracle bit-for-bit,
    so hash-green alone can't rule out a DEGENERATE agreement (e.g. a
    collapsed codebook both engines faithfully reproduce). Assert the
    distribution is real: every query returns full-k exact-cosine
    rows with distinct non-self neighbors, sims vary, the returned
    sims ARE true cosines, and the gate-geometry codebook spreads the
    corpus over many codes per subspace."""
    from hadoop_2_10_0_src_mapreduce_spark.plans.catalog.simops import (
        _PQ_CODES,
        _PQ_ITERS,
        _PQ_M,
        sim_ann_ivf,
    )

    rows = [
        r
        for r in sim_ann_ivf(spark, SF_SMALL).collect()
        if r.branch == "ivfpq"
    ]
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 20  # every vec_id < 20 query answered
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.where(F.col("vec_id") < 1000).collect()
    }
    for qid, qr in by_q.items():
        assert len(qr) == 5 and [r.rnk for r in sorted(qr, key=lambda r: r.rnk)] == [1, 2, 3, 4, 5]
        assert len({r.neighbor_id for r in qr}) == 5
        assert qid not in {r.neighbor_id for r in qr}
        sims = [r.sim for r in sorted(qr, key=lambda r: r.rnk)]
        assert sims == sorted(sims, reverse=True)
        # spot-verify the rescore really is the exact cosine
        top = sorted(qr, key=lambda r: r.rnk)[0]
        if top.neighbor_id in vecs:
            q, n = vecs[qid], vecs[top.neighbor_id]
            exact = float(q @ n / (np.linalg.norm(q) * np.linalg.norm(n)))
            assert abs(top.sim - exact) < 1e-5
    assert len({r.sim for r in rows}) > 10  # not a constant-sim collapse
    # codebook usage at the gate geometry: no subspace collapsed
    books = pq.train_pq_codebooks(
        emb, n_subspaces=_PQ_M, n_codes=_PQ_CODES, n_iters=_PQ_ITERS
    )
    codes = np.stack([
        np.asarray(r.pq_codes) for r in pq.pq_encode(emb, books).collect()
    ])
    for s in range(_PQ_M):
        assert len(np.unique(codes[:, s])) >= 8, f"subspace {s} collapsed"


def test_adaptive_probes_rule_and_twin(spark):
    """n_probe="auto" closes the last fixed-knob scale defect: probes
    scale with the list count (ceil(lists/16), floor 4). At the
    historical 16-list geometry it resolves to EXACTLY the old default
    (so every pre-r7 gate hash is untouched); at the measured
    200k-vector/1516-list corpus it probes 48 lists instead of 4 (the
    0.10-recall collapse). The SQL twin agrees at every size."""
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        adaptive_centroids_sql,
        adaptive_probes,
        adaptive_probes_sql,
    )

    assert adaptive_probes(16) == 4      # historical default preserved
    assert adaptive_probes(1) == 4       # floor wins below it (clamped downstream)
    assert adaptive_probes(152) == 10    # sf1 fixture geometry
    assert adaptive_probes(1516) == 95   # the 200k-corpus fix: recall@10
    # 0.102 at the old fixed 4 -> 0.557 measured at 95 (probe sweep, r7)
    con = duckdb.connect()
    for n in (100, 2_000, 20_000, 200_000, 3_000_000):
        con.execute("CREATE OR REPLACE TABLE e AS SELECT * FROM range(?)", [n])
        lists_sql = adaptive_centroids_sql("e", cap=32768)
        got = con.execute(
            "SELECT " + adaptive_probes_sql(lists_sql)
        ).fetchone()[0]
        from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
            adaptive_centroids,
        )

        assert got == adaptive_probes(adaptive_centroids(n, cap=32768)), n


def test_adaptive_tables_rule_and_twin(spark):
    """n_tables="auto" closes the last unadaptive LSH geometry knob:
    tables double per bit past the 10-bit geometry (capped at
    LSH_MAX_TABLES), so per-table recall decay from the bit rule is
    compensated instead of compounding — the n_probe failure class,
    one knob over. At every ≤10-bit corpus (all driver fixtures
    through sf1) it resolves to EXACTLY the historical 16, so every
    pre-r8 hash carries. The SQL twin agrees at every boundary edge
    of the shared bit thresholds."""
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        LSH_MAX_TABLES,
        LSH_TARGET_BUCKET,
        adaptive_planes,
        adaptive_tables,
        adaptive_tables_sql,
    )

    assert adaptive_tables(500) == 16      # sf0.01 geometry (6 bits)
    assert adaptive_tables(20_000) == 16   # sf1 geometry (10 bits)
    assert adaptive_tables(200_000) == 128  # the r7 decade corpus (13 bits)
    assert adaptive_tables(10**9) == LSH_MAX_TABLES  # cap
    con = duckdb.connect()
    edges = []
    for p in range(6, 21):
        n_edge = (1 << p) * LSH_TARGET_BUCKET
        edges += [n_edge, n_edge + 1]
    for n in edges + [500, 2_000, 20_000, 200_000]:
        con.execute("CREATE OR REPLACE TABLE e AS SELECT * FROM range(?)", [n])
        got = con.execute("SELECT " + adaptive_tables_sql("e")).fetchone()[0]
        assert got == adaptive_tables(n), (n, got)
        # and the rule keys off the SAME bit count the plane rule uses
        assert adaptive_tables(n) == min(
            128, 16 << max(0, adaptive_planes(n) - 10)
        ), n


def test_adaptive_multiprobe_rule_and_twin(spark):
    """n_multiprobe="auto" covers the bit deficit the TABLE rule left:
    flips = (bits − 10) − log2(tables/16), capped — so probes·tables
    equals the bucket-read volume the uncapped table rule orders, at
    whatever store the stored table count costs. Zero at every
    auto-built geometry until the table cap binds, zero at all
    ≤10-bit driver fixtures (hashes carry), and it engages exactly
    when a user pins a smaller store. SQL twin agrees at every bit
    boundary, for both the auto table count and a pinned one."""
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        LSH_MULTIPROBE_CAP,
        LSH_TARGET_BUCKET,
        adaptive_multiprobe,
        adaptive_multiprobe_sql,
        adaptive_planes,
        adaptive_tables_for_planes,
    )

    # ≤10-bit geometries (every driver fixture through sf1): no flips
    assert adaptive_multiprobe(6, 16) == 0
    assert adaptive_multiprobe(10, 16) == 0
    # auto-built 13-bit store gets 128 tables → fully covered
    assert adaptive_multiprobe(13, 128) == 0
    # user pins 16 tables at 13 bits → 3 uncovered bits → 3+1 flips
    # (the +1 covers the measured ~11% per-flip shortfall vs a true
    # table doubling: 0.542 recall@10 vs the table rule's 0.435)
    assert adaptive_multiprobe(13, 16) == 4
    assert adaptive_multiprobe(13, 32) == 3
    # past the 128-table cap the deficit reappears even at auto tables
    assert adaptive_multiprobe(14, 128) == 2
    assert adaptive_multiprobe(24, 16) == LSH_MULTIPROBE_CAP  # cap
    con = duckdb.connect()
    edges = []
    for p in range(6, 21):
        n_edge = (1 << p) * LSH_TARGET_BUCKET
        edges += [n_edge, n_edge + 1]
    for n in edges + [500, 20_000, 200_000]:
        con.execute("CREATE OR REPLACE TABLE e AS SELECT * FROM range(?)", [n])
        bits = adaptive_planes(n)
        got_auto = con.execute(
            "SELECT " + adaptive_multiprobe_sql("e")
        ).fetchone()[0]
        assert got_auto == adaptive_multiprobe(
            bits, adaptive_tables_for_planes(bits)
        ), n
        got_pinned = con.execute(
            "SELECT " + adaptive_multiprobe_sql("e", n_tables=16)
        ).fetchone()[0]
        assert got_pinned == adaptive_multiprobe(bits, 16), n


def test_lsh_signatures_n_flip_naive_reference(spark):
    """Multi-probe signature generation against a pure-numpy replay:
    per (vector, table), the engine emits the base bucket plus the
    2^q−1 buckets from XOR-flipping every non-empty subset of the q
    lowest-|margin| bits (ties broken by plane index), margins
    accumulated in the same left-to-right dim order as exact mode.
    n_flip=0 rows are exactly the base rows — the historical output."""
    import numpy as np

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        lsh_signatures,
        md5_planes,
    )

    n_planes, n_tables, dim, q = 5, 3, 8, 2
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((12, dim)).astype(np.float32)
    planes = md5_planes(n_tables, n_planes, dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.table_idx, r.bucket)
        for r in lsh_signatures(
            emb, n_planes=n_planes, n_tables=n_tables, dim=dim,
            planes=planes, n_flip=q,
        ).collect()
    }
    base = {
        (r.vec_id, r.table_idx, r.bucket)
        for r in lsh_signatures(
            emb, n_planes=n_planes, n_tables=n_tables, dim=dim,
            planes=planes,
        ).collect()
    }
    # reference replay
    acc = np.zeros((len(mat), n_tables * n_planes))
    m64 = mat.astype(np.float64)
    for d in range(dim):
        acc += m64[:, d : d + 1] * planes[:, d][None, :]
    want = set()
    for i in range(len(mat)):
        for t in range(n_tables):
            margins = acc[i, t * n_planes : (t + 1) * n_planes]
            bucket = sum(1 << p for p in range(n_planes) if margins[p] > 0)
            order = sorted(range(n_planes), key=lambda p: (abs(margins[p]), p))
            lowbits = order[:q]
            for s in range(1 << q):
                mask = 0
                for j in range(q):
                    if s >> j & 1:
                        mask ^= 1 << lowbits[j]
                want.add((i, t, bucket ^ mask))
    assert got == want
    assert base <= got and len(got) == len(mat) * n_tables * (1 << q)


def test_resolve_tables_keys_off_resolved_planes(spark):
    """Review fix: an EXPLICIT n_planes drives the table rule (the
    rule compensates per-bit recall loss, so it must key off the bits
    the index actually has, not the corpus size) — n_planes=6 on a
    200k-row corpus keeps 16 tables instead of the 128 the count rule
    would order. And with planes='auto' the resolution is identical
    to the count-keyed adaptive_tables, so every hash carries. Also
    pins the single-count contract: resolving both knobs triggers at
    most ONE count() job."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        _resolve_planes,
        _resolve_tables,
        adaptive_planes,
        adaptive_tables,
        adaptive_tables_for_planes,
    )

    assert _resolve_tables(6, "auto") == 16
    assert _resolve_tables(13, "auto") == 128
    assert _resolve_tables(13, 32) == 32
    for n in (500, 20_000, 200_000, 10**7):
        assert (
            adaptive_tables_for_planes(adaptive_planes(n))
            == adaptive_tables(n)
        ), n

    emb = spark.range(3000).selectExpr(
        "id AS vec_id", "array(cast(id as float)) AS embedding"
    )
    sc = spark.sparkContext
    # AQE may split one count() action into >1 job — measure the
    # baseline and require resolving BOTH knobs costs exactly one
    # count() action, not two
    sc.setJobGroup("baseline-count", "one bare count")
    try:
        emb.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    baseline = len(sc.statusTracker().getJobIdsForGroup("baseline-count"))
    sc.setJobGroup("resolve-count-gate", "one count for both knobs")
    try:
        planes = _resolve_planes(emb, "auto")
        _resolve_tables(planes, "auto")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("resolve-count-gate")
    assert len(jobs) == baseline, (jobs, baseline)


def test_lsh_semijoin_pruning_matches_literal_predicate(
    spark, emb, tmp_path, monkeypatch
):
    """Above LSH_LITERAL_PRED_MAX probed pairs, query_lsh_index prunes
    via a broadcast semi-join instead of a literal OR-of-ANDs (the
    12.8k-literal predicate measured 246 s of planning at the 200k
    table sweep). Served rows must be IDENTICAL either way — the
    threshold may only change the pruning mechanism."""
    path = str(tmp_path / "lp")
    base = emb.where(F.col("vec_id") < 400)
    similarity.save_lsh_index(base, path, n_tables=8)
    queries = emb.where(F.col("vec_id") < 12)
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    lit = as_rows(similarity.query_lsh_index(queries, path, k=3))
    monkeypatch.setattr(similarity, "LSH_LITERAL_PRED_MAX", 0)
    join = as_rows(similarity.query_lsh_index(queries, path, k=3))
    assert lit == join and lit


def test_auto_layout_resolves_from_list_count(spark, emb, tmp_path):
    """list_dirs="auto" (the save-time default since r7) picks the
    layout from the resolved list count — dirs below 256, flat at or
    above (the measured crossover) — and the served rows are
    bit-identical across layouts at both geometries, so auto can never
    change results, only the skip mechanism."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        FLAT_LISTS_THRESHOLD,
        _resolve_list_dirs,
    )

    assert _resolve_list_dirs("auto", 16) is True
    assert _resolve_list_dirs("auto", FLAT_LISTS_THRESHOLD) is False
    assert _resolve_list_dirs(True, 100_000) is True   # explicit wins
    assert _resolve_list_dirs(False, 8) is False

    queries = emb.where(F.col("vec_id") < 10)
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )

    # small geometry: auto == explicit dirs (IVF)
    small_auto, small_dirs = str(tmp_path / "sa"), str(tmp_path / "sd")
    similarity.save_ivf_index(emb, small_auto, n_centroids=8)
    similarity.save_ivf_index(emb, small_dirs, n_centroids=8,
                              list_dirs=True)
    assert _stored_dirs(f"{small_auto}/lists", ("list_id",))
    got = as_rows(similarity.query_ivf_index(queries, small_auto, k=5))
    assert got == as_rows(
        similarity.query_ivf_index(queries, small_dirs, k=5)
    ) and got

    # large geometry (300 lists ≥ threshold): auto == explicit flat
    # (IVF-PQ — exercises the pq save path's resolution too)
    big_auto, big_flat = str(tmp_path / "ba"), str(tmp_path / "bf")
    pq.save_ivfpq_index(emb, big_auto, n_centroids=300, n_codes=16)
    pq.save_ivfpq_index(emb, big_flat, n_centroids=300, n_codes=16,
                        list_dirs=False)
    assert not _stored_dirs(f"{big_auto}/lists", ("list_id",))
    got = as_rows(pq.query_ivfpq_index(queries, big_auto, k=5))
    assert got == as_rows(
        pq.query_ivfpq_index(queries, big_flat, k=5)
    ) and got


def test_pointer_swaps_blink_free_and_deferred_deletion(spark, tmp_path):
    """enable_pointer_swaps converts a live dir to symlink-generation
    layout; every later atomic_swap_write keeps `path` resolvable at
    all times, preserves content, and defers deleting the replaced
    generation until the NEXT swap (one-generation grace for
    in-flight scans)."""
    import os
    import pathlib

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
    )

    path = str(tmp_path / "tbl")
    spark.range(10).write.parquet(path)
    enable_pointer_swaps(path)
    enable_pointer_swaps(path)  # idempotent
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 10

    atomic_swap_write(spark.range(20), path, [])
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 20
    gens = sorted(pathlib.Path(str(tmp_path)).glob("tbl.__gen_*__"))
    assert len(gens) == 2  # replaced generation kept one swap

    atomic_swap_write(spark.range(30), path, [])
    assert spark.read.parquet(path).count() == 30
    gens = sorted(pathlib.Path(str(tmp_path)).glob("tbl.__gen_*__"))
    assert len(gens) == 2  # gen_0 reaped at the second swap
    with pytest.raises(ValueError, match="EMPTY"):
        atomic_swap_write(spark.range(0), path, [])


def test_concurrent_serving_during_compaction_no_enoent(spark, emb, tmp_path):
    """The maintain-while-serving composition the CLI encourages:
    with pointer swaps enabled on the lists dir, a reader looping
    query_ivf_index during compact_index never sees ENOENT or an
    empty result — the r6-documented blink is closed."""
    import threading

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        enable_pointer_swaps,
    )

    path = str(tmp_path / "serve")
    base = emb.where(F.col("vec_id") < 400)
    similarity.save_ivf_index(base, path, n_centroids=8)
    enable_pointer_swaps(f"{path}/lists")
    queries = emb.where(F.col("vec_id") < 5)

    errors: list[BaseException] = []
    done = threading.Event()

    def compact_loop():
        try:
            similarity.compact_index(spark, path)
        except BaseException as e:  # surfaced to the main thread
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=compact_loop)
    t.start()
    serves = 0
    try:
        while not done.is_set() or serves == 0:
            rows = similarity.query_ivf_index(
                queries, path, k=3, n_probe=8
            ).collect()
            assert rows, "serving returned no rows mid-compaction"
            serves += 1
            if serves > 200:
                break
    finally:
        t.join()
    assert not errors, errors
    assert serves >= 1
    # and the index still serves identically after the dust settles
    assert similarity.query_ivf_index(queries, path, k=3, n_probe=8).count() > 0


def test_auto_probe_clamps_on_tiny_corpus(spark, emb, tmp_path):
    """adaptive_probes floors at 4 even when fewer lists exist; every
    probe path must clamp to the lists that are there (probe-all is
    the correct degenerate limit) instead of IndexError-ing inside
    ivf_assign — the r7 review's crash case."""
    tiny = emb.where(F.col("vec_id") < 3)
    path = str(tmp_path / "tiny")
    similarity.save_ivf_index(tiny, path, n_centroids=3)
    assert similarity.query_ivf_index(tiny, path, k=2).count() > 0
    assert similarity.ann_ivf_topk(tiny, k=2, n_centroids=3).count() > 0
    ppath = str(tmp_path / "tinypq")
    pq.save_ivfpq_index(tiny, ppath, n_centroids=3, n_codes=4)
    assert pq.query_ivfpq_index(tiny, ppath, k=2).count() > 0


def test_foreign_symlink_refused_by_pointer_swap(spark, tmp_path):
    """A symlink the CALLER manages (their own serving indirection)
    must not be silently detached by the generation swapper — clear
    refusal with the sanctioned alternatives named."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
    )

    real = str(tmp_path / "real")
    spark.range(5).write.parquet(real)
    link = str(tmp_path / "mylink")
    os.symlink("real", link)
    with pytest.raises(ValueError, match="enable_pointer_swaps"):
        atomic_swap_write(spark.range(7), link, [])
    assert spark.read.parquet(link).count() == 5  # untouched


def test_minima_report_extracts_all_bench_shapes(tmp_path):
    """tools/minima_report must read every shape a BENCH file takes:
    bench.py's own line, the driver wrapper with `parsed`, and the
    truncated-tail wrapper (r5/r6) — recovering complete query pairs
    before "branches" and never mistaking totals for queries."""
    from tools.minima_report import _extract

    own = {"queries": {"q1": 1.0, "q2": 2.0}, "sf": 0.1}
    assert _extract(own) == ({"q1": 1.0, "q2": 2.0}, 0.1)

    wrapped = {"sf": 0.1, "parsed": {"queries": {"q1": 3.0}, "sf": 0.1}}
    assert _extract(wrapped) == ({"q1": 3.0}, 0.1)

    tail = {
        "sf": 0.1,
        "parsed": None,
        "tail": 'stats": 0.3, "q_whole": 1.5, "value": 65.0, '
                '"r3_equivalent_total": 52.0}, "branches": {"q_whole": '
                '{"a": 0.7}}, "sf": 0.1}',
    }
    qs, sf = _extract(tail)
    # the head pair is CUT (no opening quote: "stats" could be the
    # tail of any longer name) and is rightly dropped; totals are
    # filtered; branch sub-timings (after "branches") never parsed
    assert qs == {"q_whole": 1.5}
    assert sf == 0.1
    assert _extract({"tail": "no pairs here"}) == (None, None)


def test_rollback_pointer_swap_flip_flop(spark, tmp_path):
    """rollback_pointer_swap re-points at the grace generation
    atomically: swap -> rollback serves the OLD rows; the rolled-FROM
    generation becomes the new grace copy, so rollback is itself
    rollback-able (flip-flop); non-pointer dirs and exhausted grace
    windows refuse clearly."""
    import pathlib

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        rollback_pointer_swap,
    )

    path = str(tmp_path / "rb")
    spark.range(10).write.parquet(path)
    with pytest.raises(ValueError, match="not a pointer-mode"):
        rollback_pointer_swap(path)
    enable_pointer_swaps(path)
    with pytest.raises(ValueError, match="no previous COMPLETE generation"):
        rollback_pointer_swap(path)  # only one generation exists

    atomic_swap_write(spark.range(20), path, [])
    assert spark.read.parquet(path).count() == 20
    rollback_pointer_swap(path)
    assert spark.read.parquet(path).count() == 10  # served rows: OLD
    rollback_pointer_swap(path)  # flip-flop back
    assert spark.read.parquet(path).count() == 20
    # a swap after rollback reaps only the non-grace generation
    rollback_pointer_swap(path)  # serving 10 again
    atomic_swap_write(spark.range(30), path, [])
    assert spark.read.parquet(path).count() == 30
    rollback_pointer_swap(path)
    assert spark.read.parquet(path).count() == 10  # grace = rolled-from
    gens = sorted(pathlib.Path(str(tmp_path)).glob("rb.__gen_*__"))
    assert len(gens) == 2


def test_pointer_swap_dot_slash_spelling_keeps_grace(spark, tmp_path):
    """The r7 ADVICE medium: a dot-segment path spelling (CLI
    --path ./idx) made the deferred-deletion loop compare raw glob
    results against a normpath'd cur_target and rmtree the grace
    generation IMMEDIATELY — in-flight readers ENOENT mid-scan and
    rollback became impossible. Both sides now normalize; grace +
    rollback must hold for the dotted spelling."""
    import pathlib

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        rollback_pointer_swap,
    )

    # glob('<dir>/./x.__gen_*__') returns './'-containing paths while
    # normpath(cur_target) strips the segment — the exact raw-vs-
    # normalized mismatch the CLI's ./idx spelling hits
    path = str(tmp_path) + "/./dotted"
    spark.range(10).write.parquet(path)
    enable_pointer_swaps(path)
    atomic_swap_write(spark.range(20), path, [])
    gens = sorted(pathlib.Path(str(tmp_path)).glob("dotted.__gen_*__"))
    assert len(gens) == 2, "grace generation was reaped at swap time"
    rollback_pointer_swap(path)
    assert spark.read.parquet(path).count() == 10


def test_pointer_swap_glob_metacharacters_in_path(tmp_path):
    """The r7 ADVICE low: an index path containing glob
    metacharacters ('[', '?', '*') must still find its generation
    siblings (glob.escape), not read as 'no generations' — which made
    enable_pointer_swaps reuse generation numbers and
    _pointer_swap_write raise on a valid pointer-mode directory.
    Pure-filesystem check (Spark's own Hadoop path layer globs read
    paths, so such dirs are served via the symlink, not read
    directly)."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        _gen_paths,
        enable_pointer_swaps,
        rollback_pointer_swap,
    )

    path = str(tmp_path / "tbl[v1]")
    os.makedirs(path)
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
    enable_pointer_swaps(path)
    assert os.path.islink(path)
    assert [os.path.basename(g) for g in _gen_paths(path)] == [
        "tbl[v1].__gen_0__"
    ]
    # a second conversion attempt is idempotent, NOT a number reuse
    enable_pointer_swaps(path)
    assert os.readlink(path) == "tbl[v1].__gen_0__"
    # fabricate the next generation as a swap would, re-point, roll back
    gen1 = f"{path}.__gen_1__"
    os.makedirs(gen1)
    with open(os.path.join(gen1, "_SUCCESS"), "w"):
        pass
    tmp_link = f"{path}.__ptr_tmp__"
    os.symlink(os.path.basename(gen1), tmp_link)
    os.replace(tmp_link, path)
    assert rollback_pointer_swap(path).endswith("tbl[v1].__gen_0__")


def test_rollback_skips_crashed_write_stray(spark, tmp_path):
    """The r7 ADVICE low: a swap that crashed after starting its
    parquet write leaves a stray, never-served, possibly-partial
    generation that outranks the true grace copy. rollback must skip
    never-served strays (no .__served__ marker — never serve
    incomplete data) and still land on the real grace generation."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        rollback_pointer_swap,
    )

    path = str(tmp_path / "crash")
    spark.range(10).write.parquet(path)
    enable_pointer_swaps(path)
    atomic_swap_write(spark.range(20), path, [])  # grace = gen_0 (10 rows)
    # simulate the crashed NEXT swap: partial generation, no _SUCCESS
    stray = f"{path}.__gen_99__"
    os.makedirs(stray)
    with open(os.path.join(stray, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00partial")
    prev = rollback_pointer_swap(path)
    assert prev.endswith(".__gen_0__")  # real grace, not the stray
    assert spark.read.parquet(path).count() == 10
    # with ONLY the stray as a candidate, refuse clearly
    os.unlink(path)
    os.symlink(os.path.basename(f"{path}.__gen_0__"), path)
    import shutil

    shutil.rmtree(f"{path}.__gen_1__")
    with pytest.raises(ValueError, match="no previous COMPLETE generation"):
        rollback_pointer_swap(path)


def test_rollback_pre_marker_tree_falls_back_to_success(spark, tmp_path):
    """Second-review fix: a tree converted BEFORE .__served__ markers
    existed has none anywhere — rollback must fall back to the
    _SUCCESS rule there so a genuinely served pre-upgrade flip-flop
    target stays reachable, while any tree with markers trusts only
    markers."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        rollback_pointer_swap,
    )

    path = str(tmp_path / "pre")
    spark.range(10).write.parquet(path)
    enable_pointer_swaps(path)
    atomic_swap_write(spark.range(20), path, [])
    rollback_pointer_swap(path)  # cur = gen_0, gen_1 is flip-flop target
    # simulate a pre-upgrade tree: strip every marker
    for g in [f"{path}.__gen_0__", f"{path}.__gen_1__"]:
        m = os.path.join(g, ".__served__")
        if os.path.exists(m):
            os.remove(m)
    assert rollback_pointer_swap(path).endswith(".__gen_1__")
    assert spark.read.parquet(path).count() == 20


def test_rollback_skips_committed_but_never_served_stray(spark, tmp_path):
    """Review fix: a swap that COMMITTED its parquet (_SUCCESS
    present) but crashed before the link replace is indistinguishable
    from a flip-flop candidate by _SUCCESS alone — rolling back would
    serve the data the crashed swap was deploying, the opposite of
    rollback intent. Every link flip now stamps .__served__ and
    rollback trusts only that: the committed-never-served stray is
    skipped, the true (older, once-served) grace wins, and the
    genuine flip-flop still works because rolled-FROM generations
    carry the marker."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        rollback_pointer_swap,
    )

    path = str(tmp_path / "cns")
    spark.range(10).write.parquet(path)
    enable_pointer_swaps(path)
    atomic_swap_write(spark.range(20), path, [])  # grace gen_0, cur gen_1
    # crashed swap: gen_2 fully committed by Spark, link never flipped
    stray = f"{path}.__gen_2__"
    spark.range(30).write.parquet(stray)
    assert os.path.exists(os.path.join(stray, "_SUCCESS"))
    assert not os.path.exists(os.path.join(stray, ".__served__"))
    prev = rollback_pointer_swap(path)
    assert prev.endswith(".__gen_0__")  # never forward onto gen_2
    assert spark.read.parquet(path).count() == 10
    # flip-flop (newer-than-current but genuinely served) still works
    assert rollback_pointer_swap(path).endswith(".__gen_1__")
    assert spark.read.parquet(path).count() == 20


def test_generation_pinned_scan_survives_link_flip(spark, tmp_path):
    """The deterministic form of the r10 serve-during-compaction race:
    a scan planned BETWEEN swaps must finish even when the pointer
    flips before collect. pin_generation resolves the link at plan
    time, so the plan's file listing holds .__gen_N__ paths that the
    one-generation grace copy actually protects; the same scan planned
    THROUGH the symlink records link-relative paths that re-resolve
    into the new generation at open time and ENOENT — which is why
    every index reader pins."""
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        pin_generation,
    )

    path = str(tmp_path / "pinned")
    spark.range(10).write.parquet(path)
    assert pin_generation(path) == path  # plain dir: no-op
    enable_pointer_swaps(path)
    pinned = pin_generation(path)
    assert pinned.endswith(".__gen_0__")

    planned = spark.read.parquet(pinned)  # plan now, collect later
    unpinned = spark.read.parquet(path)  # the pre-fix reader shape
    atomic_swap_write(spark.range(100, 120), path, [])  # link flips

    # pinned plan: grace generation still on disk -> the scan finishes
    # against the rows it planned (old generation, 10 rows)
    assert sorted(r.id for r in planned.collect()) == list(range(10))
    # unpinned plan: open re-traverses the link into gen_1 where the
    # planned part files do not exist -> the documented failure mode
    with pytest.raises(Exception, match="not exist|FileNotFound"):
        unpinned.collect()
    # fresh reads (plan after the flip) serve the new generation
    assert spark.read.parquet(pin_generation(path)).count() == 20


def test_query_planned_before_compaction_collects_after(spark, emb, tmp_path):
    """query_ivf_index planned before a compaction's pointer swap must
    collect correctly after it — the serving-side regression pin for
    the realpath fix (the widened deterministic window the concurrency
    test above can only hit probabilistically)."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        enable_pointer_swaps,
    )

    path = str(tmp_path / "planflip")
    base = emb.where(F.col("vec_id") < 300)
    similarity.save_ivf_index(base, path, n_centroids=8)
    enable_pointer_swaps(f"{path}/lists")
    queries = emb.where(F.col("vec_id") < 5)

    planned = similarity.query_ivf_index(queries, path, k=3, n_probe=8)
    similarity.compact_index(spark, path)  # swaps the link mid-flight
    got = {(r.query_id, r.neighbor_id) for r in planned.collect()}

    assert os.path.islink(f"{path}/lists")  # still pointer-mode
    fresh = {
        (r.query_id, r.neighbor_id)
        for r in similarity.query_ivf_index(
            queries, path, k=3, n_probe=8
        ).collect()
    }
    # compaction without tombstones is a pure rewrite: identical answers
    assert got == fresh and got


def test_pin_generations_never_returns_mixed_set(spark, tmp_path):
    """r12 (r11 ADVICE low): a reader pinning each index subdirectory
    independently can capture old-centroids + new-lists when a
    rebuild's sequential swaps land between the pins — silently wrong
    neighbors. pin_generations resolves the whole set twice and
    retries until a full double pass is stable, so the returned set is
    always a state that was simultaneously on disk. The _mid_hook seam
    injects the concurrent swap deterministically between the two
    resolve passes."""
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        atomic_swap_write,
        enable_pointer_swaps,
        pin_generations,
    )

    root = str(tmp_path / "ix")
    spark.range(10).write.parquet(f"{root}/a")
    spark.range(20).write.parquet(f"{root}/b")
    enable_pointer_swaps(f"{root}/a")
    enable_pointer_swaps(f"{root}/b")

    # quiet path: both pins are the gen-0 concrete dirs
    pins = pin_generations(root, ("a", "b"))
    assert pins["a"].endswith(".__gen_0__")
    assert pins["b"].endswith(".__gen_0__")

    # a two-subdir "rebuild" landing mid-pinning: the returned set
    # must be the POST-swap generation for both — never a/old+b/new
    def rebuild_both():
        atomic_swap_write(spark.range(100, 110), f"{root}/a", [])
        atomic_swap_write(spark.range(100, 120), f"{root}/b", [])

    pins = pin_generations(root, ("a", "b"), _mid_hook=rebuild_both)
    assert pins["a"].endswith(".__gen_1__")
    assert pins["b"].endswith(".__gen_1__")

    # single-subdir swap (a compact touching only b): mixed NAMES are
    # fine because that IS the on-disk state — a stays at its only
    # generation, b advances
    def compact_b_only():
        atomic_swap_write(spark.range(200, 220), f"{root}/b", [])

    pins = pin_generations(root, ("a", "b"), _mid_hook=compact_b_only)
    assert pins["a"].endswith(".__gen_1__")
    assert pins["b"].endswith(".__gen_2__")

    # plain (non-pointer) dirs pass through untouched
    spark.range(3).write.parquet(f"{root}/plain")
    pins = pin_generations(root, ("plain",))
    assert pins["plain"] == f"{root}/plain"


@pytest.mark.parametrize("family", ["ivf", "lsh", "ivfpq"])
def test_serving_pins_all_subdirs_as_a_set(
    spark, emb, tmp_path, monkeypatch, family
):
    """Every family's serve pins ALL of its subdirs in one
    ``pin_generations`` call — metadata of one generation applied to
    rows of another serves wrong neighbors — and a query planned with
    every subdir in pointer mode collects after a compaction swapped
    the row store, with the same answers."""
    import os

    from hadoop_2_10_0_src_mapreduce_spark.operators import index_store
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        enable_pointer_swaps,
    )

    path = str(tmp_path / family)
    base = emb.where(F.col("vec_id") < 300)
    if family == "ivf":
        similarity.save_ivf_index(base, path, n_centroids=8)
        serve = lambda q: similarity.query_ivf_index(  # noqa: E731
            q, path, k=3, n_probe=8)
    elif family == "lsh":
        similarity.save_lsh_index(base, path, n_planes=8, n_tables=4)
        serve = lambda q: similarity.query_lsh_index(q, path, k=3)  # noqa: E731
    else:
        pq.save_ivfpq_index(base, path, n_centroids=8, n_codes=16)
        serve = lambda q: pq.query_ivfpq_index(  # noqa: E731
            q, path, k=3, n_probe=8)
    codec = index_store.index_codec(path)
    for sub in codec.subdirs:
        enable_pointer_swaps(f"{path}/{sub}")
    queries = emb.where(F.col("vec_id") < 5)

    calls = []
    pin_set = index_store.pin_generations
    monkeypatch.setattr(
        index_store, "pin_generations",
        lambda p, names: calls.append(set(names)) or pin_set(p, names),
    )
    planned = serve(queries)
    assert calls == [set(codec.subdirs)]
    similarity.compact_index(spark, path)  # swaps the row store mid-flight
    got = {(r.query_id, r.neighbor_id) for r in planned.collect()}

    assert os.path.islink(f"{path}/{codec.rows}")  # still pointer-mode
    fresh = {(r.query_id, r.neighbor_id) for r in serve(queries).collect()}
    # compaction without tombstones rewrites the same rows (LSH
    # re-applies the same global cap): identical answers
    assert got == fresh and got
