from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.functions import text as T
from hadoop_2_10_0_src_mapreduce_spark.operators import dedup, similarity
from tests.conftest import SF_SMALL


def test_lang_id_on_real_sentences(spark):
    rows = [
        ("the cat sat on the mat and it is happy",),
        ("der hund ist ein gutes tier und die katze",),
        ("el perro es un animal y la casa es grande",),
        ("le chat est un animal et les maisons pour une",),
        ("你好世界这是中文",),  # CJK chars
        ("zzz qqq xxx",),  # no stopwords → undetermined
    ]
    df = spark.createDataFrame(rows, ["text"])
    out = [r.pred for r in df.select(T.lang_id("text").alias("pred")).collect()]
    assert out == ["en", "de", "es", "fr", "zh", "und"]


def test_quality_score_orders_texts(spark):
    good = "the quick brown fox jumps over the lazy dog and it is a fine day for running in the park " * 3
    noise = "@@@ ### $$$ 123 456 !!! ??? %%% ^^^ &&&"
    df = spark.createDataFrame([(good,), (noise,)], ["text"])
    scores = [r.q for r in df.select(T.quality_score("text").alias("q")).collect()]
    assert scores[0] > scores[1]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("  hello world ",), ("different text",)], ["text"]
    )
    fps = [r.fp for r in df.select(T.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    out = [r.sh for r in df.select(T.shingles("text", 3).alias("sh")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (5, "Same   TEXT"), (9, "other")], ["doc_id", "text"]
    )
    out = {r.keeper: r.n_copies for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 9: 1}


@pytest.fixture(scope="module")
def dup_corpus(spark):
    from hadoop_2_10_0_src_mapreduce_spark.plans.catalog.dedupops import corpus_with_dups

    return corpus_with_dups(spark, SF_SMALL).cache()


def test_minhash_lsh_recall_equals_exact(spark, dup_corpus):
    """LSH(32×4) must find every exact-Jaccard≥0.8 pair on this corpus."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            dup_corpus, "text", "doc_id", threshold=0.8
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            dup_corpus, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert exact, "corpus construction must plant J>=0.8 pairs"
    assert lsh == exact


def test_winnowing_fingerprints_guarantee_and_locality(spark):
    """Winnowing contracts: (a) documents sharing a long run of tokens
    share ≥1 fingerprint; (b) a local edit preserves fingerprints from
    windows away from the edit; (c) a naive whole-doc hash would share
    nothing — the reason winnowing exists."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"{shared} unique one ending here"),
        (2, f"different start words {shared}"),
        (3, "completely unrelated text with other tokens entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = dedup.winnowing_fingerprints(df, "text", "doc_id", k=3, w=4)
    got = fps.collect()
    sets = {}
    for r in got:
        sets.setdefault(r.id, set()).add(r.fp)
    assert sets[1] & sets[2], "10-token shared run must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])
    # locality: editing the tail of doc 1 keeps most of its fingerprints
    edited = spark.createDataFrame(
        [(9, f"{shared} unique one ending changed")], ["doc_id", "text"]
    )
    efps = {
        r.fp for r in dedup.winnowing_fingerprints(
            edited, "text", "doc_id", k=3, w=4
        ).collect()
    }
    overlap = len(efps & sets[1]) / len(sets[1])
    assert overlap >= 0.5, f"local edit destroyed fingerprints: {overlap}"
    # short doc: fewer shingles than the window → one fingerprint, no crash
    tiny = spark.createDataFrame([(5, "just three tokens")], ["doc_id", "text"])
    assert dedup.winnowing_fingerprints(tiny, "text", "doc_id", k=3, w=4).count() == 1


def test_winnowing_md5_mode_same_contracts(spark):
    """The oracle-replayable md5 variant (lead-window rows instead of
    array lambdas) must honor the same winnowing contracts as the
    xxhash64 array path — same selection positions, different hash
    family — including the short-doc whole-sequence fallback."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"{shared} unique one ending here"),
        (2, f"different start words {shared}"),
        (3, "completely unrelated text with other tokens entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sets = {}
    for r in dedup.winnowing_fingerprints(
        df, "text", "doc_id", k=3, w=4, shingle_hash="md5"
    ).collect():
        sets.setdefault(r.id, set()).add(r.fp)
    assert sets[1] & sets[2], "10-token shared run must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])
    # density contract: ~2/(w+1) of positions, never more than all
    for i, s in sets.items():
        assert 1 <= len(s) <= 12
    # NOTE: per-doc counts may differ from the xxhash64 path — the
    # argmin POSITIONS depend on the hash values, so the two families
    # legitimately select different window minima.
    tiny = spark.createDataFrame([(5, "just three tokens")], ["doc_id", "text"])
    assert (
        dedup.winnowing_fingerprints(
            tiny, "text", "doc_id", k=3, w=4, shingle_hash="md5"
        ).count()
        == 1
    )


def test_prefix_filter_jaccard_equals_plain(spark, dup_corpus):
    """Prefix filtering must be LOSSLESS: the filtered join's exact
    output equals the plain inverted-index path at both thresholds
    (lemma: a J≥t pair always collides on an indexed prefix shingle)."""
    for t in (0.6, 0.8):
        plain = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(
                dup_corpus, "text", "doc_id", threshold=t, max_doc_freq=100
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs_prefix(
                dup_corpus, "text", "doc_id", threshold=t, max_doc_freq=100
            ).collect()
        }
        assert plain, "corpus must plant near-dup pairs"
        assert pref == plain


def test_prefix_filter_prunes_candidates(spark, dup_corpus):
    """The point of the prefix: the candidate self-join must touch far
    fewer pairs than the plain index join (here the prefix index drops
    the common shingles, which generate most collisions)."""
    from pyspark.sql import functions as F

    sh = dedup._shingled(dup_corpus, "text", "doc_id", 3)
    inv = dedup._df_capped(dedup._hashed_index(sh), 100).persist()
    plain_pairs = (
        inv.alias("x").join(inv.alias("y"), "h")
        .where(F.col("x.id") < F.col("y.id")).count()
    )
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    sizes = dedup._index_sizes(inv)
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("_df", "h")
    ranked = (
        inv.join(dfreq, "h").withColumn("_pos", F.row_number().over(w))
        .join(sizes, "id")
        .where(F.col("_pos") <= F.col("n") - F.ceil(F.lit(0.6) * F.col("n")) + 1)
        .select("id", "h")
    )
    pref_pairs = (
        ranked.alias("x").join(ranked.alias("y"), "h")
        .where(F.col("x.id") < F.col("y.id")).count()
    )
    assert pref_pairs < plain_pairs / 2, (pref_pairs, plain_pairs)


def test_df_cap_drops_stop_shingles(spark):
    """Hot-key guard: a shingle shared by every doc (the join key that
    goes quadratic at scale) is dropped when its document frequency
    exceeds the cap, and Jaccard is recomputed over the retained sets
    on BOTH the inverted-index and the MinHash verify paths."""
    stop = "the quick brown"  # one shared 3-shingle across all docs
    rows = [(i, f"{stop} unique{i} tail{i} end{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # uncapped: every pair shares exactly the stop shingle: J = 1/7 ≈ .14
    uncapped = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.1
    ).collect()
    assert len(uncapped) == 15 and all(abs(r.jaccard - 1 / 7) < 1e-6 for r in uncapped)
    # capped at df<=5: the shared shingle (df=6) is dropped -> no pairs
    for fn in (dedup.ngram_jaccard_pairs, dedup.minhash_lsh_pairs):
        assert fn(
            df, "text", "doc_id", threshold=0.1, max_doc_freq=5
        ).count() == 0


def test_duplicate_components_paths_cycles_and_singletons(spark):
    """Min-label propagation must find exact components: a 4-chain
    (transitive closure beyond direct pairs), a 3-cycle, and an
    isolated pair — every member labeled with the component's min id,
    and ONLY ids that appear in pairs are returned."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (12, 10),  # cycle
         (20, 21)],                   # isolated pair
        ["id_a", "id_b"],
    )
    got = {
        r.id: r.rep for r in dedup.duplicate_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_duplicate_components_long_chain_converges_or_raises(spark):
    """A 12-node path needs ~11 propagation rounds end to end: default
    iterations must converge; a tiny max_iters must raise loudly
    rather than return a truncated labeling."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    got = {r.id: r.rep for r in dedup.duplicate_components(chain).collect()}
    assert got == {i: 0 for i in range(12)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_components(chain, max_iters=2)


def test_duplicate_components_deep_chain_logarithmic_rounds(spark):
    """The r8 decade-check defect pin: a 256-node PATH (diameter 255 —
    the sliding-window near-dup chain shape of versioned/templated
    docs) previously needed O(diameter) propagation rounds and blew
    max_iters=25; with pointer-jumping the hop distance ~doubles per
    round, so it must converge WELL inside the default budget —
    O(log d) ≈ 12 rounds — with the identical unique fixpoint."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], ["id_a", "id_b"]
    )
    stats: dict = {}
    got = {
        r.id: r.rep
        for r in dedup.duplicate_components(chain, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(256)}
    assert stats["rounds"] <= 12, stats


def test_duplicate_components_reliable_checkpoint_mode(spark, tmp_path):
    """r10 cluster-resilience dial: ``checkpoint_dir`` switches every
    round's lineage truncation from localCheckpoint (executor-local
    blocks — lost with a preempted executor) to a reliable parquet
    round-trip. Labels must be bit-identical to the local mode, the
    dir must hold at most the final step when the call returns
    (intermediates are deleted as each round lands — the 'writes and
    cleans its dir' contract), and the convergence/round count must
    not change (the mechanism is orthogonal to the algorithm)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)]        # 31-node path
        + [(100, 101), (101, 102), (102, 100)],  # plus a cycle
        ["id_a", "id_b"],
    )
    s_local, s_rel = {}, {}
    want = {r.id: r.rep
            for r in dedup.duplicate_components(pairs, stats=s_local).collect()}
    ckdir = tmp_path / "ck"
    rel = dedup.duplicate_components(
        pairs, stats=s_rel, checkpoint_dir=str(ckdir)
    )
    got = {r.id: r.rep for r in rel.collect()}
    assert got == want
    assert s_rel["rounds"] == s_local["rounds"]
    # eager cleanup: only the FINAL step (backing the returned frame)
    # may remain; everything earlier is already gone
    steps = sorted(p.name for p in ckdir.iterdir())
    assert len(steps) == 1 and steps[0].startswith("step-")
    # the returned frame stays readable from those files
    assert rel.count() == len(want)


def test_round_checkpointer_unit(spark, tmp_path):
    """RoundCheckpointer invariants: at most TWO live step dirs at any
    moment (current + the one feeding it), retire_intermediates drops
    to one, close() empties the dir; local mode (dir=None) delegates
    to localCheckpoint and touches no files."""
    from hadoop_2_10_0_src_mapreduce_spark.checkpointing import (
        RoundCheckpointer,
    )

    ck = RoundCheckpointer(spark, str(tmp_path / "steps"))
    df = spark.range(10)
    for i in range(4):
        df = ck(df.withColumn(f"c{i}", F.lit(i)))
        live = sorted(p.name for p in (tmp_path / "steps").iterdir())
        assert len(live) <= 2, live
    assert df.count() == 10
    ck.retire_intermediates()
    assert len(list((tmp_path / "steps").iterdir())) == 1
    ck.close()
    # r11: close() also removes the (empty) dir itself — per-batch
    # streaming callers mint one dir per micro-batch and must not
    # accumulate empty directories without bound
    assert not (tmp_path / "steps").exists()
    # dir=None: pure localCheckpoint passthrough
    ck2 = RoundCheckpointer(spark, None)
    assert ck2(spark.range(5)).count() == 5
    ck2.close()  # no-op, no files to own
    # r11: a fresh instance CLEARS stale steps a crashed prior run
    # leaked at the same dir (a new run only overwrites the step
    # numbers it reaches; later stale steps would otherwise survive)
    stale = tmp_path / "steps2"
    stale.mkdir()
    (stale / "step-00047").mkdir()
    (stale / "step-00047" / "junk").write_text("x")
    ck3 = RoundCheckpointer(spark, str(stale))
    assert not (stale / "step-00047").exists()
    ck3(spark.range(3)).count()
    ck3.close()
    # r11: close() leaves a NON-EMPTY root alone (caller's other files)
    shared = tmp_path / "shared"
    shared.mkdir()
    (shared / "callers_file").write_text("keep me")
    ck4 = RoundCheckpointer(spark, str(shared / "steps"))
    ck4(spark.range(3)).count()
    ck4.close()
    assert (shared / "callers_file").exists()


def test_components_failure_cleans_checkpoint_steps(spark, tmp_path):
    """r11 (r10 ADVICE): a propagation that FAILS — here the
    non-convergence RuntimeError — must not leak live step dirs in
    reliable mode; the dir is removed with them."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    ckdir = tmp_path / "ckfail"
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_components(
            pairs, max_iters=1, checkpoint_dir=str(ckdir)
        )
    assert not ckdir.exists()


def _mega_corpus(spark):
    """Inline decade-corpus miniature: a 12-doc near-identical MEGA
    cluster (3 one-token-edit variants × 4 exact copies), two 3-doc
    near-dup cliques, and unique background docs."""
    rows, did = [], 0
    base = [f"m{i:02d}" for i in range(30)]
    for v in range(3):
        t = base.copy()
        t[5] = f"sub{v}"
        for _ in range(4):
            rows.append((did, " ".join(t)))
            did += 1
    for c in range(2):
        cb = [f"c{c}t{i}" for i in range(30)]
        for j in range(3):
            t = cb.copy()
            t[7] = f"e{c}{j}"
            rows.append((did, " ".join(t)))
            did += 1
    for b in range(24):
        rows.append((did, " ".join(f"b{b}x{i}" for i in range(30))))
        did += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_max_bucket_linked_preserves_clusters(spark):
    """The r8 mega-bucket guard: with max_bucket, oversized band
    buckets emit consecutive edges instead of all-pairs — pairs must
    be a SUBSET of the uncapped output, quadratically fewer on the
    mega cluster, and duplicate_components must produce the IDENTICAL
    clustering (same rep per id)."""
    docs = _mega_corpus(spark)
    full = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8)
    capped = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, max_bucket=4
    )
    fp = {(r.id_a, r.id_b) for r in full.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    assert cp <= fp
    # mega cluster is all-pairs in full (C(12,2)=66), linked in capped
    mega_full = {p for p in fp if p[0] < 12 and p[1] < 12}
    mega_cap = {p for p in cp if p[0] < 12 and p[1] < 12}
    assert len(mega_full) == 66
    assert len(mega_cap) < 30
    comp_f = {
        r.id: r.rep for r in dedup.duplicate_components(full).collect()
    }
    comp_c = {
        r.id: r.rep for r in dedup.duplicate_components(capped).collect()
    }
    assert comp_f == comp_c
    assert {comp_f[i] for i in range(12)} == {0}  # mega stays ONE cluster


def test_simhash_max_bucket_linked_preserves_clusters(spark):
    """Same guard on the SimHash chunk-pair tables: capped pairs are a
    subset, the mega cluster collapses from all-pairs to a linked
    chain, and the clustering is unchanged."""
    docs = _mega_corpus(spark)
    full = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=6)
    capped = dedup.simhash_pairs(
        docs, "text", "doc_id", max_hamming=6, max_bucket=4
    )
    fp = {(r.id_a, r.id_b) for r in full.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    assert cp <= fp
    # one-token edits can flip >6 bits, so full mega is near- but not
    # exactly all-pairs; capped must still be quadratically smaller
    mega_full = {p for p in fp if p[0] < 12 and p[1] < 12}
    mega_cap = {p for p in cp if p[0] < 12 and p[1] < 12}
    assert len(mega_full) > 40
    assert len(mega_cap) < 30
    comp_f = {
        r.id: r.rep for r in dedup.duplicate_components(full).collect()
    }
    comp_c = {
        r.id: r.rep for r in dedup.duplicate_components(capped).collect()
    }
    assert comp_f == comp_c


def test_simhash_lpairs_branch_nonvacuous(spark):
    """The r8 driver-gate branch 'lpairs' (dedup_simhash, max_bucket=2)
    must actually ENGAGE on the fixture corpus: strictly fewer pairs
    than the uncapped 'pairs' branch (linked edges forfeit some
    qualifying pairs in oversized buckets), and a non-empty result —
    otherwise the oracle's linked-replay CTEs are testing nothing."""
    from hadoop_2_10_0_src_mapreduce_spark.plans.catalog.dedupops import (
        dedup_simhash,
    )
    counts = {
        r["branch"]: r["count"]
        for r in dedup_simhash(spark, "/root/testdata/sf0.001")
        .groupBy("branch")
        .count()
        .collect()
    }
    assert 0 < counts["lpairs"] < counts["pairs"]


def test_simhash_rejects_uncoverable_hamming():
    with pytest.raises(ValueError):
        dedup.simhash_pairs(None, "text", "doc_id", max_hamming=8)


def test_simhash_finds_planted_exact_dups(spark, dup_corpus):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(dup_corpus, "text", "doc_id").collect()
    }
    from hadoop_2_10_0_src_mapreduce_spark.plans.catalog.dedupops import (
        PLANT_OFFSET,
    )

    planted = {
        (r.doc_id, r.doc_id + PLANT_OFFSET)
        for r in dup_corpus.where(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < PLANT_OFFSET)
        ).collect()
    }
    assert planted <= set(pairs)
    assert all(pairs[p] == 0 for p in planted)  # identical text → distance 0


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(emb, k=5).collect()
    }
    recall = len(ann & brute) / len(brute)
    # 16 tables × 6 bits on weakly-correlated vectors: recall ~0.5 by
    # design (speed/recall tradeoff); pin a floor so regressions show.
    assert recall >= 0.35, f"ANN recall collapsed: {recall:.3f}"


def test_ann_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf_topk(emb, k=5).collect()
    }
    recall = len(ann & brute) / len(brute)
    # 4/16 probed lists scan ~1/4 of the corpus; on weakly-correlated
    # vectors recall tracks a bit above the scan fraction. Pin a floor.
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.3f}"


def test_ann_ivf_external_queries_probe_all_equals_bruteforce(spark):
    """External-query mode (the serving shape: corpus files once,
    only queries fan out): probing every list must reproduce
    brute-force corpus-vs-queries exactly; with the default 4/16
    probes, recall over the probed subset keeps a floor."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    brute = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    exhaustive = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in similarity.ann_ivf_topk(
            emb, queries=queries, k=5, n_centroids=8, n_probe=8
        ).collect()
    }
    assert exhaustive == brute

    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf_topk(emb, queries=queries, k=5).collect()
    }
    brute_pairs = {(q, n) for (q, _), n in brute.items()}
    recall = len(approx & brute_pairs) / len(brute_pairs)
    assert recall >= 0.3, f"external-query IVF recall collapsed: {recall:.3f}"


def test_ivf_training_deterministic_and_replayable(spark):
    """Round-4 exactness contract of the k-means: training twice gives
    the BIT-identical centroid matrix (md5-seeded init, sequential
    reductions — no RNG, no BLAS reassociation), centroids are exactly
    unit-norm under the engine's own sequential norm, and a driver-side
    numpy replay of the same recipe reproduces the matrix — the same
    property the DuckDB oracle relies on."""
    import hashlib as _hl

    import numpy as np

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    c1 = similarity.train_ivf_centroids(emb, n_centroids=8)
    c2 = similarity.train_ivf_centroids(emb, n_centroids=8)
    assert c1.shape == (8, 64)
    assert np.array_equal(c1, c2)  # bit-equal, not just close

    # unit norm under the SEQUENTIAL norm the engine itself uses
    n = np.sqrt(similarity._seq_sq_norms(c1))
    assert np.all(np.abs(n - 1.0) < 1e-12)

    # independent numpy replay from the raw parquet rows
    pdf = emb.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    replay = similarity._kmeans_spherical(ids, mat, 8, 5)
    assert np.array_equal(c1, replay)

    # md5 init order is the documented (md5(str(id)), id) sort
    order = sorted(range(len(ids)), key=lambda i: (
        _hl.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    nmat = mat / np.sqrt(similarity._seq_sq_norms(mat))[:, None]
    assert np.array_equal(
        similarity._seq_matdot(nmat[order[:1]], nmat[order[:1]]).round(12),
        np.array([[1.0]]),
    )


def test_ivf_training_stride_sample_bounded_and_deterministic(spark):
    """When the corpus exceeds max_train, the md5 stride keeps a
    bounded deterministic sample — training must not depend on
    partitioning and must stay reproducible."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    a = similarity.train_ivf_centroids(emb, n_centroids=4, max_train=128)
    b = similarity.train_ivf_centroids(
        emb.repartition(13), n_centroids=4, max_train=128
    )
    assert np.array_equal(a, b)  # partitioning-independent
    full = similarity.train_ivf_centroids(emb, n_centroids=4)
    assert not np.array_equal(a, full)  # the cap genuinely sampled


def test_ann_ivf_exhaustive_probe_equals_bruteforce(spark):
    """Probing every list makes IVF's candidate set the whole corpus,
    so the grouped-BLAS scorer must reproduce brute force exactly —
    pins the block scoring + per-group-topk + global-rerank pipeline
    against the oracle-checked exact path."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf_topk(
            emb, k=5, n_centroids=8, n_probe=8
        ).collect()
    }
    assert ann == brute


def test_ann_lsh_single_bucket_equals_bruteforce(spark):
    """Zero hyperplanes → one bucket holding the whole corpus: the
    per-bucket top-k must equal brute force, and the cross-table dedup
    must not drop or duplicate anything."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(
            emb, k=5, n_planes=0, n_tables=2
        ).collect()
    }
    assert ann == brute


def test_pairs_topk_tie_break_and_self_exclusion():
    """The numpy group scorer must match the engine's deterministic
    ranking contract: rounded sim desc, neighbor_id asc on ties, and
    never a self-pair."""
    import numpy as np

    qids = np.array([1], dtype=np.int64)
    qmat = np.array([[1.0, 0.0]])
    cids = np.array([4, 3, 2, 1], dtype=np.int64)  # deliberately unsorted
    cmat = np.array([[0.6, 0.8], [0.0, 1.0], [0.0, 1.0], [1.0, 0.0]])
    out = similarity._pairs_topk(qids, qmat, cids, cmat, k=3, round_digits=6)
    # self (id 1) excluded; 4 scores 0.6; 2 and 3 tie at 0.0 → id asc
    assert list(out.neighbor_id) == [4, 2, 3]
    assert list(out.sim) == [0.6, 0.0, 0.0]
    assert list(out.query_id) == [1, 1, 1]

    # k larger than the group never manufactures rows
    out_all = similarity._pairs_topk(qids, qmat, cids, cmat, k=99, round_digits=6)
    assert len(out_all) == 3


def test_pairs_topk_zero_norm_ranked_last_not_first():
    """A zero-norm vector makes 0/0 = NaN sims; numpy's default would
    let NaN outrank every real value under a desc sort. The scorer must
    mask non-finite sims so they drop out entirely (the JVM path's NULL
    semantics: ranked last / absent)."""
    import numpy as np

    qids = np.array([1], dtype=np.int64)
    qmat = np.array([[1.0, 0.0]])
    cids = np.array([2, 3], dtype=np.int64)
    cmat = np.array([[0.0, 0.0], [0.6, 0.8]])  # id 2 has zero norm
    out = similarity._pairs_topk(qids, qmat, cids, cmat, k=2, round_digits=6)
    assert list(out.neighbor_id) == [3]  # NaN row gone, not rank 1
    assert list(out.sim) == [0.6]


def test_pairs_topk_rounds_half_away_from_zero():
    """np.round is half-to-even; the engine contract (F.round / SQL
    ROUND) is half away from zero. 0.1234565 must round UP to 0.123457,
    not down to 0.123456."""
    import numpy as np

    qids = np.array([1], dtype=np.int64)
    qmat = np.array([[1.0]])
    # cosine of 1-d positive vectors is exactly 1; scale the sim via a
    # direct call to the rounding formula instead: use a crafted pair
    # whose cosine is 0.5 at round_digits=0 → half-away rounds to 1.
    cids = np.array([2], dtype=np.int64)
    cmat = np.array([[1.0]])
    out = similarity._pairs_topk(qids, qmat, cids, cmat, k=1, round_digits=6)
    assert list(out.sim) == [1.0]
    # the formula itself, as used by both numpy scorers:
    scale = 10.0**6
    vals = np.array([0.1234565, -0.1234565])
    rounded = np.copysign(np.floor(np.abs(vals) * scale + 0.5), vals) / scale
    assert list(rounded) == [0.123457, -0.123457]
    assert list(np.round(vals, 6)) == [0.123456, -0.123456]  # the bug this avoids


def test_quantize_embeddings_roundtrip_and_recall(spark):
    """int8 quantization: reconstruction error ≤ scale/2 per component,
    and top-5 brute force on dequantized vectors keeps high recall vs
    float — the quantized-candidates + float-rescore contract."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = similarity.quantize_embeddings(emb)
    deq = similarity.dequantize_embeddings(q)
    err = (
        emb.join(deq.withColumnRenamed("embedding", "e2"), "vec_id")
        .join(q.select("vec_id", "scale"), "vec_id")
        .select(
            F.aggregate(
                F.zip_with(
                    similarity._as_double("embedding"),
                    F.col("e2"),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("max_err"),
            (F.col("scale") / 2 * 1.0001).alias("bound"),  # fp slack
        )
    )
    assert err.where(F.col("max_err") > F.col("bound")).count() == 0

    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=5).collect()
    }
    qtop = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(deq, deq, k=5).collect()
    }
    recall = len(qtop & brute) / len(brute)
    assert recall >= 0.8, f"int8 recall collapsed: {recall:.3f}"


def test_ann_lsh_on_quantized_vectors_keeps_recall(spark):
    """The quantized-index contract end to end: build the LSH index and
    score over int8-dequantized vectors (4-8x cheaper to move), compare
    against float brute force — recall must hold near the float ANN's
    own level."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    deq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, emb, k=5).collect()
    }
    ann_q = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(deq, k=5).collect()
    }
    recall = len(ann_q & brute) / len(brute)
    assert recall >= 0.3, f"quantized ANN recall collapsed: {recall:.3f}"


def test_tfidf_top_terms_matches_duckdb(spark, duck):
    """Oracle-grade check without a registry slot: DuckDB recomputes
    the identical rational-idf expression tree over the same documents;
    every (id, rnk, term, tfidf) must match exactly."""
    from hadoop_2_10_0_src_mapreduce_spark.functions.text import TOKEN_PATTERN, tfidf_top_terms

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {
        (r.id, r.rnk, r.term, r.tfidf)
        for r in tfidf_top_terms(docs, "text", "doc_id", k=3).collect()
    }
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    expected = {
        tuple(row)
        for row in duck.execute(f"""
            WITH t AS (SELECT doc_id AS id, unnest({toks}) AS term FROM documents),
            tf AS (SELECT id, term, COUNT(*) AS cnt FROM t GROUP BY id, term),
            lens AS (SELECT id, SUM(cnt) AS n_d FROM tf GROUP BY id),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            n AS (SELECT COUNT(DISTINCT id) AS n_docs FROM tf),
            scored AS (
                SELECT tf.id, tf.term,
                       round((tf.cnt / lens.n_d) * ((n.n_docs + 1) / (dfreq.df + 1)), 6) AS tfidf
                FROM tf JOIN lens USING (id) JOIN dfreq USING (term), n
            )
            SELECT id, rnk, term, tfidf FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                           ORDER BY tfidf DESC, term) AS rnk
                FROM scored
            ) WHERE rnk <= 3
        """).fetchall()
    }
    assert got == expected


def test_cosine_self_is_one(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(5)
    sims = emb.select(
        F.round(similarity.cosine("embedding", "embedding"), 9).alias("s")
    ).collect()
    assert all(abs(r.s - 1.0) < 1e-9 for r in sims)


def test_prepare_training_corpus_end_to_end(spark):
    """The composed cleaning recipe: exact dups collapse to one doc,
    near-dup clusters keep only the min-id representative, short/junk
    docs are gated out, and survivors carry (lang, quality, tokens)."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        prepare_training_corpus,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and it is a fine "
        "day for running in the sun with a friend of the family"
    )
    near = prose.replace("fine day", "good day")
    rows = [
        (1, prose),
        (2, prose),            # exact dup of 1 → dropped
        (3, near),             # near dup of 1 → clustered, dropped
        (4, "zzz qqq 123"),    # junk: too short, no stopwords
        (5, "a completely different long document about the weather in "
            "the mountains where it rains for days and the rivers rise"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r for r in prepare_training_corpus(
        docs, near_dup_threshold=0.5, min_quality=0.2, min_tokens=5
    ).collect()}
    assert set(out) == {1, 5}
    assert out[1].pred_lang == "en" and out[5].pred_lang == "en"
    assert out[1].n_tokens > 20
    assert 0.0 <= out[1].quality <= 1.0
    # determinism: rerun yields the identical corpus
    again = {r.id for r in prepare_training_corpus(
        docs, near_dup_threshold=0.5, min_quality=0.2, min_tokens=5
    ).collect()}
    assert again == {1, 5}


def test_prepare_training_corpus_max_bucket_keeps_same_corpus(spark):
    """The r9 recipe guard: the default ``max_bucket=64`` (linked-edge
    candidate capping in the near-dup step) must yield the IDENTICAL
    keeper set as the exact all-pairs path — the recipe only consumes
    duplicate_components(pairs), whose clustering is pinned unchanged
    under the cap. Exercised on a corpus with a genuine mega-cluster
    (every band bucket overflows a tiny cap) plus singletons."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        prepare_training_corpus,
    )

    docs = _mega_corpus(spark)
    # exact dedup collapses the 4 verbatim copies per variant first, so
    # the minhash stage sees 3-doc buckets — cap at 2 to overflow them
    kw = dict(near_dup_threshold=0.5, min_quality=0.0, min_tokens=1,
              max_doc_freq=None)
    capped = {r.id for r in prepare_training_corpus(
        docs, max_bucket=2, **kw).collect()}
    exact = {r.id for r in prepare_training_corpus(
        docs, max_bucket=None, **kw).collect()}
    assert capped == exact
    # the mega cluster really collapsed to its min-id representative
    assert 0 in capped and not any(i in capped for i in range(1, 12))


def test_recipe_df_cap_would_blind_mega_cluster(spark):
    """The r9 end-to-end decade finding (tools/dedup_decade.py
    'recipe'): a df cap BELOW a near-dup cluster's member count drops
    every shingle the cluster shares, so each member's signature is
    built from its few unique edit shingles — disjoint across members
    — and the cluster sails through near-dedup whole (the planted
    200-variant mega-cluster survived 200-strong at cap=100). The
    recipe therefore defaults ``max_doc_freq=None``; ``max_bucket``
    carries the candidate-cost guard without touching recall."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        prepare_training_corpus,
    )

    docs = _mega_corpus(spark)
    kw = dict(near_dup_threshold=0.5, min_quality=0.0, min_tokens=1)
    # default (max_doc_freq=None): the mega cluster collapses to its
    # min-id representative
    kept = {r.id for r in prepare_training_corpus(docs, **kw).collect()}
    assert 0 in kept and not any(i in kept for i in range(1, 12))
    # the blinded configuration this default guards against: a cap
    # below the post-exact cluster size (3 variants share every base
    # shingle, df=3 > 2) keeps ALL the variants
    blind = {r.id for r in prepare_training_corpus(
        docs, max_doc_freq=2, **kw).collect()}
    assert {0, 4, 8} <= blind


def test_incremental_exact_dedup_equals_batch_recompute(spark, dup_corpus):
    """THE incremental invariant: folding the planted-dup batch into
    the original documents' index must equal one exact_dedup over the
    whole corpus — min/sum merge over disjoint fingerprint groups."""
    existing = dup_corpus.where(F.col("doc_id") < 10000)
    batch = dup_corpus.where(F.col("doc_id") >= 10000)
    index = dedup.exact_dedup(existing, "text", "doc_id")
    merged = dedup.incremental_exact_dedup(batch, "text", "doc_id", index)
    full = dedup.exact_dedup(dup_corpus, "text", "doc_id")
    as_set = lambda df: {(r.fp, r.keeper, r.n_copies) for r in df.collect()}
    assert as_set(merged) == as_set(full)


def test_novel_docs_drops_seen_fingerprints(spark):
    existing = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], ["doc_id", "text"]
    )
    index = dedup.exact_dedup(existing, "text", "doc_id")
    batch = spark.createDataFrame(
        [(10, "SEEN   before"),   # dup of fp(1) modulo normalization
         (11, "brand new text"),
         (12, "brand  NEW text")],  # in-batch dup of 11's fp
        ["doc_id", "text"],
    )
    out = {r.doc_id for r in dedup.novel_docs(batch, "text", "doc_id", index).collect()}
    assert out == {11}


def test_incremental_minhash_lsh_equals_full_run(spark, dup_corpus):
    """pairs(A ∪ B) == pairs(A) ∪ incremental(B vs A's index state):
    the corpus×corpus work is reused, cross and within-batch pairs come
    from the incremental join, and the pair SET is unchanged."""
    existing = dup_corpus.where(F.col("doc_id") < 10000)
    batch = dup_corpus.where(F.col("doc_id") >= 10000)
    # pipeline state from the prior run over `existing`
    index_inv = dedup._hashed_index(
        dedup._shingled(existing, "text", "doc_id", 3)
    )
    index_sigs = dedup._minhash_from_index(index_inv, 128)
    pair_set = lambda df: {(r.id_a, r.id_b) for r in df.collect()}
    within_existing = pair_set(
        dedup.minhash_lsh_pairs(existing, "text", "doc_id", threshold=0.8)
    )
    incr = pair_set(
        dedup.minhash_lsh_pairs_incremental(
            batch, "text", "doc_id",
            index_inv=index_inv, index_sigs=index_sigs, threshold=0.8,
        )
    )
    full = pair_set(
        dedup.minhash_lsh_pairs(dup_corpus, "text", "doc_id", threshold=0.8)
    )
    assert incr, "planted dups must produce batch-touching pairs"
    assert incr.isdisjoint(within_existing)
    assert within_existing | incr == full


def test_redact_pii_and_counts(spark):
    rows = [
        (1, "mail me at john.doe+x@example.co.uk today"),
        (2, "server 192.168.0.1 and 10.0.0.255 are up"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {
        r.id: r.red
        for r in df.select("id", T.redact_pii("text").alias("red")).collect()
    }
    assert out[1] == "mail me at <EMAIL> today"
    assert out[2] == "server <IP> and <IP> are up"
    assert out[3] == "call <PHONE> now"
    assert out[4] == rows[3][1]
    counts = df.select(
        "id", *[c.alias(n) for n, c in T.pii_counts("text").items()]
    ).collect()
    got = {r.id: (r.email, r.ipv4, r.phone) for r in counts}
    assert got[1] == (1, 0, 0)
    assert got[2][1] == 2
    assert got[3][2] >= 1
    assert got[4] == (0, 0, 0)


def test_redact_pii_sql_twin_matches_spark(spark):
    """The DuckDB twin must reproduce Spark's redaction byte-for-byte
    (common regex subset + fixed application order)."""
    import duckdb

    rows = [
        ("a@b.com or c.d-e@f.org end",),
        ("ip 8.8.8.8 phone 555-123-4567 mix a@b.io 1.2.3.4",),
        ("nothing here",),
        ("+44 20 7946 0958 trailing",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    spark_out = [
        r.red for r in df.select(T.redact_pii("text").alias("red")).collect()
    ]
    con = duckdb.connect()
    duck_out = [
        con.execute(
            f"SELECT {T.redact_pii_sql('?::VARCHAR')}".replace("?::VARCHAR", "$1::VARCHAR"), [t]
        ).fetchone()[0]
        for (t,) in rows
    ]
    assert spark_out == duck_out


def test_dup_ngram_fraction_known_values(spark):
    rows = [
        (1, "a b a b a b"),       # 2-grams: ab ba ab ba ab → 5 total, 2 distinct
        (2, "x y z w"),           # all distinct
        (3, "q"),                 # no 2-grams
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {
        r.id: r.f
        for r in df.select(
            "id", T.dup_ngram_fraction("text", 2).alias("f")
        ).collect()
    }
    assert out[1] == round(3 / 5, 6)
    assert out[2] == 0.0
    assert out[3] == 0.0


def test_top_ngram_stats_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w")], ["id", "text"]
    )
    out = {
        r.id: (r.top_gram_count, r.total_grams, r.top_gram_fraction)
        for r in T.top_ngram_stats(df, "text", "id", n=2).collect()
    }
    assert out[1] == (3, 5, 0.6)   # "a b" appears 3 of 5
    assert out[2] == (1, 3, round(1 / 3, 6))


def test_embedding_near_dup_clusters_compose(spark):
    """duplicate_components is modality-generic: feed it embedding
    near-dup pairs (planted copies at two offsets → 3-member cliques)
    and each planted group collapses to one representative."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = emb.where(F.col("vec_id") % 40 == 0)
    corpus = (
        emb.unionByName(
            planted.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
        )
        .unionByName(
            planted.select((F.col("vec_id") + 20000).alias("vec_id"), "embedding")
        )
    )
    pairs = similarity.near_dup_pairs(corpus, threshold=0.999999)
    clusters = {
        r.id: r.rep for r in dedup.duplicate_components(pairs).collect()
    }
    originals = [r.vec_id for r in planted.collect()]
    assert originals, "fixture must contain planted ids"
    for v in originals:
        # the three copies form one cluster labeled by the smallest id
        assert clusters[v + 10000] == v
        assert clusters[v + 20000] == v


def test_prepare_training_corpus_repetition_gate_and_redaction(spark):
    """The recipe's round-4 stages: a looping document is dropped by
    the dup-3-gram ceiling, and surviving text is PII-redacted while
    the gates scored the RAW text."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        prepare_training_corpus,
    )

    loopy = "the cat sat on the mat and " * 20  # dup-3-gram ≈ 1
    clean = (
        "write to alice@example.org about the weather in the mountains "
        "where it rains for days and the rivers rise over the banks"
    )
    docs = spark.createDataFrame(
        [(1, loopy), (2, clean)], ["doc_id", "text"]
    )
    out = {r.id: r for r in prepare_training_corpus(
        docs, near_dup_threshold=0.9, min_quality=0.2, min_tokens=5,
        max_dup_3gram_frac=0.5,
    ).collect()}
    assert set(out) == {2}
    assert "<EMAIL>" in out[2].text and "alice@" not in out[2].text
    # redact=False keeps raw text; disabling the ceiling keeps the loop
    raw = {r.id: r for r in prepare_training_corpus(
        docs, near_dup_threshold=0.9, min_quality=0.2, min_tokens=5,
        max_dup_3gram_frac=None, redact=False,
    ).collect()}
    assert set(raw) == {1, 2}
    assert "alice@example.org" in raw[2].text


def test_sample_by_token_budget_mixes_sources(spark):
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        sample_by_token_budget,
    )

    rows = [(i, "w " * 100, "big") for i in range(200)] + [
        (1000 + i, "w " * 100, "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # budget big → ~10% of its 20k tokens; small has no budget → whole
    out = sample_by_token_budget(docs, {"big": 2000}, seed=7)
    counts = {r.source: r.n for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("small") == 10
    assert 5 <= counts.get("big", 0) <= 45  # Bernoulli around 20 of 200
    # deterministic for a fixed seed
    again = {r.source: r.n for r in sample_by_token_budget(
        docs, {"big": 2000}, seed=7
    ).groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == counts


def test_assign_packing_bins_bound_and_order(spark):
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import assign_packing_bins

    rows = [(i, "tok " * ((i % 7 + 1) * 10), "s") for i in range(50)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "src"])
    out = assign_packing_bins(
        docs, target_tokens=100, shard_col="src"
    ).collect()
    # bound: every bin <= target + its boundary-crossing doc's tokens
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault(r.bin, []).append(r)
    for b, members in by_bin.items():
        members.sort(key=lambda r: r.doc_id)
        total = sum(r.n_tokens for r in members)
        assert total == members[0].bin_tokens
        assert total <= 100 + members[-1].n_tokens
    # bins are contiguous id ranges (sequential packing): the doc ids
    # sorted by bin equal the ids sorted outright
    ordered = [r.doc_id for r in sorted(out, key=lambda r: (r.bin, r.doc_id))]
    assert ordered == sorted(r.doc_id for r in out)


def test_write_jsonl_shards_deterministic_layout(spark, tmp_path):
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import write_jsonl_shards

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(100)], ["doc_id", "text"]
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_jsonl_shards(docs, p1, rows_per_shard=30)
    write_jsonl_shards(docs, p2, rows_per_shard=30)
    import pathlib

    files1 = sorted(f.name for f in pathlib.Path(p1).glob("part-*"))
    assert len(files1) == 4  # ceil(100/30)
    back = spark.read.json(p1)
    assert back.count() == 100
    # same shard boundaries on re-publish: per-file row counts match
    def sizes(p):
        return sorted(
            len(f.read_text().splitlines())
            for f in pathlib.Path(p).glob("part-*")
        )
    assert sizes(p1) == sizes(p2)


def test_winnow_jaccard_finds_planted_near_dups_with_smaller_index(
    spark, dup_corpus
):
    """The winnowed candidate index must be several times smaller than
    the full shingle index, and still find every planted near-dup pair
    at J>=0.6 (prose near-dups share long token runs, so the winnowing
    guarantee covers them); reported Jaccard matches the plain path
    exactly on the pairs found."""
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            dup_corpus, "text", "doc_id", threshold=0.6
        ).collect()
    }
    winnowed = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.winnow_jaccard_pairs(
            dup_corpus, "text", "doc_id", threshold=0.6
        ).collect()
    }
    planted = {p for p in full if p[1] >= 10000}
    assert planted and planted <= set(winnowed)
    for p, j in winnowed.items():
        assert full[p] == j  # same exact verify → same values
    n_shingle = dedup._hashed_index(
        dedup._shingled(dup_corpus, "text", "doc_id", 3)
    ).count()
    n_winnow = dedup.winnowing_fingerprints(
        dup_corpus, "text", "doc_id", k=3, w=4
    ).count()
    assert n_winnow * 2 < n_shingle  # the index-size win is real


def test_quantized_ivf_index_smaller_and_recalls(spark, tmp_path):
    """int8 index storage: the lists directory shrinks by >2x, the
    server dequantizes transparently, and quantized serving recalls
    most of the unquantized serving's neighbor pairs (per-component
    error <= scale/2)."""
    import pathlib

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    pf, pq = str(tmp_path / "float"), str(tmp_path / "int8")
    similarity.save_ivf_index(emb, pf, n_centroids=8)
    similarity.save_ivf_index(emb, pq, n_centroids=8, quantize=True)

    def dir_size(p):
        return sum(
            f.stat().st_size for f in pathlib.Path(p, "lists").rglob("*.parquet")
        )

    assert dir_size(pq) * 2 < dir_size(pf)

    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.query_ivf_index(queries, pf, k=5, n_probe=4).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in similarity.query_ivf_index(queries, pq, k=5, n_probe=4).collect()
    }
    assert full, "serving returned no rows"
    recall = len(quant & full) / len(full)
    assert recall >= 0.7, f"quantized serving recall collapsed: {recall:.3f}"


def test_pack_bins_to_sequences_orders_and_bounds(spark):
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        assign_packing_bins,
        pack_bins_to_sequences,
    )

    rows = [(i, f"doc{i} " * 10, "s") for i in range(20)]  # 10 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
    bins = assign_packing_bins(docs, target_tokens=35, shard_col="src")
    seqs = pack_bins_to_sequences(docs, bins, shard_col="src").collect()
    assert sum(r.n_docs for r in seqs) == 20
    for r in seqs:
        members = r.seq_text.split("\n\n")
        ids = [int(m.split()[0][3:]) for m in members]
        assert ids == sorted(ids)          # id order within the sequence
        assert r.n_tokens <= 35 + 10       # bound: target + boundary doc
        assert r.n_tokens == 10 * r.n_docs


def test_edge_cases_empty_batches_and_queries(spark, tmp_path):
    """Robustness edges: an empty incremental batch leaves the index
    unchanged; serving an empty query batch returns an empty frame
    (no probed partitions, no failure); compacting an unpartitioned
    table preserves rows."""
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import compact_table

    # empty incremental batch
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    index = dedup.exact_dedup(docs, "text", "doc_id")
    empty = docs.where(F.lit(False))
    merged = dedup.incremental_exact_dedup(empty, "text", "doc_id", index)
    key = lambda df: {(r.fp, r.keeper, r.n_copies) for r in df.collect()}
    assert key(merged) == key(index)

    # empty query batch against a persisted IVF index
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "idx")
    similarity.save_ivf_index(emb, path, n_centroids=4)
    no_queries = emb.where(F.lit(False)).select("vec_id", "embedding")
    served = similarity.query_ivf_index(no_queries, path, k=3, n_probe=2)
    assert served.count() == 0

    # unpartitioned compaction
    t = str(tmp_path / "flat")
    for b in range(6):
        spark.range(b * 10, b * 10 + 10).write.mode("append").parquet(t)
    before = sorted(r.id for r in spark.read.parquet(t).collect())
    compact_table(spark, t)
    after = sorted(r.id for r in spark.read.parquet(t).collect())
    assert after == before


def test_split_corpus_disjoint_complete_stable(spark):
    """split_assign partitions the corpus: every doc gets exactly one
    label, proportions track the weights, growing the corpus never
    moves an existing doc, and the DuckDB twin reproduces every
    assignment."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import split_corpus, split_sql

    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], ["doc_id", "text"]
    )
    out = split_corpus(docs, weights).collect()
    labels = {r.doc_id: r.split for r in out}
    assert len(labels) == 2000 and set(labels.values()) <= set(weights)
    counts = {s: sum(1 for v in labels.values() if v == s) for s in weights}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05  # uniform-hash tolerance
    assert counts["val"] > 100 and counts["test"] > 100

    # stability: half the corpus yields the identical labels for its docs
    half = split_corpus(docs.where(F.col("doc_id") < 1000), weights).collect()
    assert all(labels[r.doc_id] == r.split for r in half)

    # engine-independence: DuckDB twin agrees on every row
    import duckdb

    con = duckdb.connect()
    dd = con.execute(
        "SELECT i AS doc_id, " + split_sql("i", weights) +
        " AS split FROM range(2000) t(i)"
    ).fetchall()
    assert all(labels[i] == s for i, s in dd)


def test_decontaminate_drops_quoting_docs_only(spark):
    """Planted benchmark quotes are flagged; clean docs survive; the
    filtered corpus keeps its schema."""
    evald = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "pack my box with five dozen liquor jugs")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [(10, "completely unrelated text about spark partitions and shuffles"),
         (11, "he said the quick brown fox jumps over whatever and left"),
         (12, "short"),
         (13, "my box with five dozen liquor jugs was heavy says the report"),
         (14, "another clean document mentioning a fox and a dog only")],
        ["doc_id", "text"],
    )
    bad = {r.id for r in dedup.contaminated_ids(train, evald, "text", "doc_id", n=5).collect()}
    assert bad == {11, 13}
    clean = dedup.decontaminate(train, evald, "text", "doc_id", n=5)
    assert clean.columns == ["doc_id", "text"]
    assert {r.doc_id for r in clean.collect()} == {10, 12, 14}


def test_write_jsonl_shards_shuffle_is_deterministic_permutation(spark, tmp_path):
    """shuffle=True publishes the same rows in an id-decorrelated but
    reproducible order: two publishes are byte-identical, and the
    within-shard order differs from the sorted-id order."""
    import pathlib

    from hadoop_2_10_0_src_mapreduce_spark.pipeline import write_jsonl_shards

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(200)], ["doc_id", "text"]
    )
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_jsonl_shards(docs, p1, rows_per_shard=50, shuffle=True)
    write_jsonl_shards(docs, p2, rows_per_shard=50, shuffle=True)

    def lines(p):
        return [
            f.read_text() for f in sorted(pathlib.Path(p).glob("part-*"))
        ]

    assert lines(p1) == lines(p2)  # reproducible publish
    back = spark.read.json(p1)
    assert back.count() == 200 and "_shard_key" not in back.columns
    first = lines(p1)[0].splitlines()
    ids = [int(l.split('"doc_id":')[1].split(",")[0].strip("} ")) for l in first]
    assert ids != sorted(ids)  # order decorrelated from ids


def test_linear_score_known_values_and_monotone(spark):
    """z=0 → 0.5; the rational sigmoid is monotone in z; weights flip
    the direction as expected."""
    from hadoop_2_10_0_src_mapreduce_spark.functions.text import (
        linear_score,
        linear_score_sql,
    )

    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 0.0), (4.0, 0.0), (0.0, 3.0)], ["good", "bad"]
    )
    feats = {"good": F.col("good"), "bad": F.col("bad")}
    out = df.select(
        linear_score(feats, {"good": 1.0, "bad": -2.0}).alias("s")
    ).collect()
    scores = [r.s for r in out]
    assert scores[0] == 0.5               # z = 0
    assert scores[0] < scores[1] < scores[2]   # monotone in good
    assert scores[3] < scores[0]          # negative weight pulls down
    assert all(0.0 < s < 1.0 for s in scores)

    # SQL twin reproduces the exact doubles
    import duckdb

    sql = linear_score_sql(
        {"good": "good", "bad": "bad"}, {"good": 1.0, "bad": -2.0}
    )
    dd = duckdb.connect().execute(
        f"SELECT {sql} FROM (VALUES (0.0, 0.0), (1.0, 0.0), (4.0, 0.0),"
        " (0.0, 3.0)) t(good, bad)"
    ).fetchall()
    assert [r[0] for r in dd] == scores


def test_semantic_dedup_finds_planted_copies(spark):
    """Planted exact copies always share a k-means home cell (same
    dots, same stable argmax), so every copy clusters with its
    original; the rep is the smallest reachable id."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    comp = {
        r.id: r.rep
        for r in similarity.semantic_dedup(
            corpus, threshold=0.999, n_centroids=4
        ).collect()
    }
    originals = {r.vec_id for r in planted.collect()}
    for copy_id in originals:
        assert comp.get(copy_id) == copy_id - 10000  # copy → original
    # pairs are symmetric members of the same cluster
    assert all(rep <= i for i, rep in comp.items())


def test_hash_embeddings_compose_with_semantic_dedup(spark):
    """The hashing-trick vectorizer: unit-norm output, duplicate texts
    get identical vectors (cosine 1), near-dups land close, unrelated
    texts far — and the output column feeds semantic_dedup directly,
    giving text corpora the embedding-family dedup without a model."""
    from hadoop_2_10_0_src_mapreduce_spark.functions.text import hash_embeddings

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                   # exact copy
            (3, base + " extra trailing words appended"),  # near-dup
            (4, "completely different content about spark shuffle partitions"),
        ],
        ["doc_id", "text"],
    )
    emb = hash_embeddings(docs, "text", "doc_id", dim=32)
    vecs = {r.doc_id: r.embedding for r in emb.collect()}
    import math

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    for v in vecs.values():
        assert abs(math.sqrt(cos(v, v)) - 1.0) < 1e-9  # unit norm
    assert vecs[1] == vecs[2]
    assert cos(vecs[1], vecs[3]) > 0.8
    assert cos(vecs[1], vecs[4]) < 0.5

    comp = {
        r.id: r.rep
        for r in similarity.semantic_dedup(
            emb, id_col="doc_id", threshold=0.999, n_centroids=2
        ).collect()
    }
    assert comp.get(2) == 1  # the copy clusters to its original
    assert 4 not in comp


def test_cap_per_source_two_level_equals_one_level(spark):
    """The salted two-level cap returns exactly the one-level window's
    keeper set (smallest max_docs by (md5(id), id) per source), with a
    planted hot source."""
    import hashlib

    from hadoop_2_10_0_src_mapreduce_spark.pipeline import cap_per_source

    rows = [(i, "hot" if i < 500 else f"src{i % 7}", f"text {i}")
            for i in range(700)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    capped = cap_per_source(docs, 20, cap_salts=4)
    got = {(r.source, r.doc_id) for r in capped.collect()}

    by_src = {}
    for i, src, _ in rows:
        by_src.setdefault(src, []).append(i)
    want = set()
    for src, ids in by_src.items():
        keep = sorted(ids, key=lambda x: (hashlib.md5(str(x).encode()).hexdigest(), x))[:20]
        want |= {(src, i) for i in keep}
    assert got == want
    hot = [i for s, i in got if s == "hot"]
    assert len(hot) == 20


def test_prepare_training_corpus_decontam_and_split(spark):
    """The recipe drops benchmark-quoting docs when eval_df is given
    and attaches the deterministic split label when split_weights is."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import prepare_training_corpus

    quote = "zebras quietly migrate across the northern basin every autumn season"
    filler = "the quick brown fox jumps over the lazy dog and then the small cat runs home today"
    docs = spark.createDataFrame(
        [(i, f"{filler} variant {i} with extra words number {i * 7}")
         for i in range(40)]
        + [(100, f"intro text then {quote} closing remark words here")],
        ["doc_id", "text"],
    )
    evald = spark.createDataFrame([(0, quote)], ["doc_id", "text"])
    out = prepare_training_corpus(
        docs,
        text_col="text",
        id_col="doc_id",
        min_quality=0.0,
        min_tokens=1,
        max_dup_3gram_frac=None,
        eval_df=evald,
        decontam_ngram=5,
        split_weights={"train": 0.8, "val": 0.2},
    )
    ids = {r.id for r in out.collect()}
    assert 100 not in ids and len(ids) > 30
    assert "split" in out.columns
    labels = {r.split for r in out.collect()}
    assert labels <= {"train", "val"} and "train" in labels


def test_build_side_multiprobe_dominance_and_default(spark):
    """r10: the multi-probe recall dial extended from the serve path
    to the BUILD-side paths. (a) ``ann_lsh_topk`` auto resolves to 0
    flips at the fixture geometry — bit-identical to an explicit
    n_multiprobe=0 run (every gate hash carries); (b) at a pinned
    sparse geometry (12 bits, 4 tables — a store-pinned user's recall
    ceiling) explicit flips probe a candidate SUPERSET, so
    per-(query, rank) sim dominates and something strictly improves;
    (c) ``near_dup_pairs``: auto == 0 at its 12-bit base geometry,
    and explicit flips at a narrow geometry find a superset of
    pairs."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    # (a) gate identity: auto → 0 at the fixture geometry
    assert as_rows(similarity.ann_lsh_topk(emb, k=3)) == as_rows(
        similarity.ann_lsh_topk(emb, k=3, n_multiprobe=0)
    )
    # (b) dominance + strict gain at a sparse pinned store
    kw = dict(k=3, n_planes=12, n_tables=4)
    b = {
        (q, r): s
        for q, r, _n, s in as_rows(
            similarity.ann_lsh_topk(emb, n_multiprobe=0, **kw)
        )
    }
    f = {
        (q, r): s
        for q, r, _n, s in as_rows(
            similarity.ann_lsh_topk(emb, n_multiprobe=3, **kw)
        )
    }
    assert set(b) <= set(f), "build-side multiprobe lost a slot"
    assert all(f[k] >= b[k] for k in b), "multiprobe lowered a sim"
    assert len(f) > len(b) or sum(f.values()) > sum(b.values()), (
        "flips changed nothing at a sparse 12-bit geometry — dial inert"
    )
    # (c) near_dup_pairs: auto == 0 at base geometry; flips ⊇ at a
    # narrow one (threshold lowered so the fixture yields pairs)
    nd = lambda **kv: {
        (r.id_a, r.id_b)
        for r in similarity.near_dup_pairs(emb, threshold=0.35, **kv).collect()
    }
    assert nd() == nd(n_multiprobe=0)
    narrow = dict(n_planes=16, n_tables=2)
    nd0 = nd(n_multiprobe=0, **narrow)
    nd3 = nd(n_multiprobe=3, **narrow)
    assert nd0 <= nd3
    assert len(nd3) > len(nd0), "flips found no extra near-dup pairs"


def test_query_lsh_index_multiprobe_dominance_and_default(spark, tmp_path):
    """The r9 multi-probe serve dial: (a) at a ≤10-bit geometry the
    "auto" default resolves to 0 flips, bit-identical to an explicit
    n_multiprobe=0 serve (every existing hash carries); (b) flipping
    probes a SUPERSET of the base candidate set, so per-(query, rank)
    served similarity can only rise — top-k dominance, the recall
    property at fixed store; (c) the probed volume per (query, table)
    is exactly 2^flips buckets."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "lsh_mp")
    # 12 bits / 8 tables: sparse buckets (recall headroom for flips);
    # adaptive_multiprobe(12, 8) = 2+1 — deficit engages automatically
    similarity.save_lsh_index(emb, path, n_planes=12, n_tables=8)
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    base = similarity.query_lsh_index(emb, path, k=3, n_multiprobe=0)
    flip = similarity.query_lsh_index(emb, path, k=3)  # auto → 3
    base_rows, flip_rows = as_rows(base), as_rows(flip)
    assert base_rows, "base serve returned no rows"
    b = {(q, r): s for q, r, _n, s in base_rows}
    f = {(q, r): s for q, r, _n, s in flip_rows}
    assert set(b) <= set(f), "multiprobe lost a (query, rank) slot"
    assert all(f[k] >= b[k] for k in b), "multiprobe lowered a rank's sim"
    assert len(f) > len(b) or sum(f.values()) > sum(b.values()), (
        "flips changed nothing at a sparse 12-bit geometry — dial inert"
    )
    # ≤10-bit index: auto is 0 and serves bit-identically
    p10 = str(tmp_path / "lsh_p6")
    similarity.save_lsh_index(emb, p10, n_planes=6, n_tables=8)
    assert as_rows(
        similarity.query_lsh_index(emb, p10, k=3)
    ) == as_rows(similarity.query_lsh_index(emb, p10, k=3, n_multiprobe=0))
    # probe volume: 2^flips buckets per (query, table)
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        lsh_signatures,
        md5_planes,
    )
    one = emb.limit(1)
    sig = lsh_signatures(
        one, n_planes=12, n_tables=8, planes=md5_planes(8, 12, 64), n_flip=2
    )
    assert sig.count() == 8 * 4


def test_compact_table_cluster_by_skipping_layout(spark, tmp_path):
    """cluster_by compaction produces near-disjoint per-file value
    ranges (parquet footer min/max), the layout any engine's
    statistics-based skipping needs; rows are preserved."""
    import pathlib

    import pyarrow.parquet as pq

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import compact_table

    t = str(tmp_path / "tbl")
    # append-heavy table: every batch spans the whole key range, so
    # pre-compaction file ranges ALL overlap
    for b in range(5):
        spark.range(0, 1000).select(
            (F.col("id") * 5 + b).alias("k"), F.lit(b).alias("batch")
        ).write.mode("append").parquet(t)

    def ranges(p):
        out = []
        for f in pathlib.Path(p).rglob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            ks, ke = [], []
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    if col.path_in_schema == "k" and col.statistics:
                        ks.append(col.statistics.min)
                        ke.append(col.statistics.max)
            if ks:
                out.append((min(ks), max(ke)))
        return sorted(out)

    before = ranges(t)
    overlaps_before = sum(
        1 for i in range(len(before) - 1) if before[i][1] >= before[i + 1][0]
    )
    assert overlaps_before > 0  # appended batches interleave key ranges

    n = compact_table(spark, t, target_file_bytes=8 * 1024, cluster_by=("k",))
    assert n >= 2  # multiple clustered files, or the test proves nothing
    after = ranges(t)
    assert len(after) >= 2
    overlaps_after = sum(
        1 for i in range(len(after) - 1) if after[i][1] >= after[i + 1][0]
    )
    assert overlaps_after == 0  # disjoint ranges: skipping-ready layout
    assert spark.read.parquet(t).count() == 5000


def test_new_ops_empty_and_boundary_edges(spark, tmp_path):
    """Empty/boundary edges of the round-4 additions: semantic dedup
    with no qualifying pairs, LSH serving with a no-hit query batch,
    per-source cap larger than any source, single-split assignment."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        cap_per_source,
        split_corpus,
    )

    # semantic dedup: all-orthogonal vectors → no pairs, empty frame
    eye = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    assert (
        similarity.semantic_dedup(eye, threshold=0.5, n_centroids=2).count()
        == 0
    )

    # LSH serving: query batch present, k larger than candidates — runs,
    # bounded, and every returned neighbor is a stored id
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    similarity.save_lsh_index(emb, path, n_planes=6, n_tables=4)
    few = emb.where(F.col("vec_id") < 3)
    got = similarity.query_lsh_index(few, path, k=10_000).collect()
    stored_ids = {r.vec_id for r in emb.collect()}
    assert got and all(r.neighbor_id in stored_ids for r in got)
    # truly EMPTY batch: empty frame, not a crash (the IVF-twin edge)
    none = emb.where(F.lit(False))
    empty = similarity.query_lsh_index(none, path, k=5)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "rnk", "neighbor_id", "sim"]

    # cap larger than every source: identity
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "t") for i in range(30)],
        ["doc_id", "source", "text"],
    )
    assert cap_per_source(docs, 1000).count() == 30

    # single split: everything gets the one label
    labels = {r.split for r in split_corpus(docs, {"train": 1.0}).collect()}
    assert labels == {"train"}


def test_hash_embeddings_bag_of_words_invariance(spark):
    """ngram=1 hashing is a bag-of-words map: token order never changes
    the vector; ngram=2 is order-sensitive by construction."""
    from hadoop_2_10_0_src_mapreduce_spark.functions.text import hash_embeddings

    a = "alpha beta gamma delta epsilon zeta"
    b = "zeta epsilon delta gamma beta alpha"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    v1 = hash_embeddings(docs, "text", "doc_id", dim=16)
    vecs = {r.doc_id: r.embedding for r in v1.collect()}
    assert vecs[1] == vecs[2]
    v2 = {
        r.doc_id: r.embedding
        for r in hash_embeddings(docs, "text", "doc_id", dim=16, ngram=2).collect()
    }
    assert v2[1] != v2[2]

    # contract: gram-less docs (no tokens / fewer than ngram) get an
    # all-zero row rather than vanishing from the output
    with_empty = spark.createDataFrame(
        [(1, a), (2, "!!! ... ???"), (3, "solo")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.embedding
        for r in hash_embeddings(
            with_empty, "text", "doc_id", dim=16, ngram=2
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[2] == [0.0] * 16 and out[3] == [0.0] * 16
    assert any(x != 0.0 for x in out[1])


def test_sample_by_token_budget_id_keyed_is_layout_independent(spark):
    """With id_col, the kept set is a pure function of (seed, id):
    identical across repartitioned copies of the same data, and changes
    with the seed."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import sample_by_token_budget

    rows = [(i, "w " * 50, "big") for i in range(300)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    kept1 = {
        r.doc_id
        for r in sample_by_token_budget(
            docs, {"big": 3000}, seed=7, id_col="doc_id"
        ).collect()
    }
    shuffled = docs.repartition(17, "text")
    kept2 = {
        r.doc_id
        for r in sample_by_token_budget(
            shuffled, {"big": 3000}, seed=7, id_col="doc_id"
        ).collect()
    }
    assert kept1 == kept2 and 0 < len(kept1) < 300
    kept3 = {
        r.doc_id
        for r in sample_by_token_budget(
            docs, {"big": 3000}, seed=8, id_col="doc_id"
        ).collect()
    }
    assert kept3 != kept1


def test_prepare_training_corpus_model_gate(spark):
    """model_weights adds the model_quality column and its floor gates
    rows; digit-soup docs score below prose under digit-penalizing
    weights."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import prepare_training_corpus

    prose = "the quick brown fox jumps over the lazy dog and it is a fine day for that"
    soup = "4437 9081 2219 7745 3310 8864 5521 9907 1123 6678 2235 8810"
    docs = spark.createDataFrame(
        [(1, prose), (2, soup)], ["doc_id", "text"]
    )
    w = {"stopword_ratio": 2.0, "digit_ratio": -4.0}
    out = prepare_training_corpus(
        docs,
        min_quality=0.0,
        min_tokens=1,
        max_dup_3gram_frac=None,
        model_weights=w,
        min_model_quality=0.5,
    )
    rows = {r.id: r.model_quality for r in out.collect()}
    assert set(rows) == {1} and rows[1] > 0.5


def test_compact_table_cluster_with_partition_dirs(spark, tmp_path):
    """cluster_by + partition_cols: range keys lead with the partition
    columns, so tasks align with directories and the write does not
    splinter into n_files x n_partitions small files."""
    import pathlib

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import compact_table

    t = str(tmp_path / "tbl")
    for b in range(4):
        spark.range(0, 800).select(
            (F.col("id") % 4).alias("p"), (F.col("id") * 4 + b).alias("k")
        ).write.mode("append").partitionBy("p").parquet(t)
    n = compact_table(
        spark, t, target_file_bytes=16 * 1024,
        partition_cols=("p",), cluster_by=("k",),
    )
    files = list(pathlib.Path(t).rglob("*.parquet"))
    # tasks span few partition values: file count stays O(n_files),
    # not n_files x |p|
    assert len(files) <= 2 * n
    assert spark.read.parquet(t).count() == 3200


def test_repeated_ngram_doc_stats_flags_cross_doc_spans_only(spark):
    """Exact-substring signal: a 3-gram shared across docs flags its
    positions in every holder; a WITHIN-doc-only repeat does not flag
    (that signal belongs to the quality row's dup fractions)."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.dedup import (
        repeated_ngram_doc_stats,
    )

    docs = spark.createDataFrame(
        [
            # doc 1 and 2 share the run "a b c d" → 3-grams (a b c) at
            # pos 1 and (b c d) at pos 2 flagged in both
            (1, "a b c d x y z"),
            (2, "q q a b c d"),
            # doc 3: internal repeat "u v w ... u v w" only — its
            # 3-gram occurs twice in ONE doc, zero flagged rows
            (3, "u v w t u v w"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.id: (r.first_pos, r.n_repeated)
        for r in repeated_ngram_doc_stats(docs, "text", "doc_id", k=3).collect()
    }
    assert rows == {1: (1, 2), 2: (3, 2)}


def test_repeated_ngram_spans_merge_islands(spark):
    # Doc 1 and 2 share two DISJOINT verbatim runs ("alpha beta gamma
    # delta" and "omega psi chi"); doc 3 is unrelated filler. With k=3:
    # run 1 flags 2 adjacent positions -> ONE span of 4 tokens; run 2
    # flags 1 position -> one span of 3 tokens. Span algebra:
    # span_len = n_positions + k - 1 for every island.
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta xx omega psi chi"),
            (2, "yy zz alpha beta gamma delta ww omega psi chi"),
            (3, "unrelated words only here nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    spans = dedup.repeated_ngram_spans(docs, "text", "doc_id", k=3)
    got = {
        (r.id, r.span_start): (r.span_len, r.n_positions)
        for r in spans.collect()
    }
    assert got == {
        # doc 1: "alpha beta gamma delta" at tokens 1-4, "omega psi chi" at 6-8
        (1, 1): (4, 2),
        (1, 6): (3, 1),
        # doc 2: same runs at tokens 3-6 and 8-10
        (2, 3): (4, 2),
        (2, 8): (3, 1),
    }
    # invariant on every row: token length == positions + k - 1
    assert all(sl == np + 2 for (sl, np) in got.values())
    # the doc-stats view derives from the same flagged positions
    flagged = dedup.repeated_ngram_flagged_positions(docs, "text", "doc_id", k=3)
    stats = {
        r.id: (r.first_pos, r.n_repeated)
        for r in dedup.repeated_ngram_doc_stats(
            docs, "text", "doc_id", k=3, flagged=flagged
        ).collect()
    }
    assert stats == {1: (1, 3), 2: (3, 3)}


def test_assign_packing_bins_guard_and_auto_shard(spark):
    """Round-5 footgun fixes: the unsharded packing path refuses to
    funnel a large corpus through one window task (size guard), and
    auto_shards=k shards by pmod(xxhash64(id), k) with the packing
    bound holding per shard."""
    from hadoop_2_10_0_src_mapreduce_spark import pipeline as P

    big = spark.range(0, 5000).selectExpr(
        "id AS doc_id", "'alpha beta gamma' AS text"
    )
    with pytest.raises(ValueError, match="global window"):
        P.assign_packing_bins(big, target_tokens=64, max_global_window_rows=1000)

    auto = P.assign_packing_bins(
        big, target_tokens=64, auto_shards=8, max_global_window_rows=1000
    )
    rows = auto.collect()
    assert {r._shard for r in rows} == set(range(8))
    assert len(rows) == 5000
    # the packing bound holds within every (shard, bin): bin_tokens ≤
    # target + the boundary doc's overshoot (docs are 3 tokens, so
    # bin_tokens ≤ 64 + 2)
    assert all(r.bin_tokens <= 64 + 2 for r in rows)


def test_sample_by_token_budget_auto_infers_id_column(spark):
    """The layout-independent md5 path is now the DEFAULT whenever an
    id column exists: default-call results equal explicit id_col
    results and survive repartitioning; id_col=None still forces the
    sampleBy fallback."""
    from hadoop_2_10_0_src_mapreduce_spark import pipeline as P

    docs = spark.range(0, 2000).selectExpr(
        "id AS doc_id",
        "concat('tok', cast(id AS string), ' words here') AS text",
        "CASE WHEN id % 2 = 0 THEN 'web' ELSE 'code' END AS source",
    )
    budgets = {"web": 1500, "code": 1500}
    auto_ids = sorted(r.doc_id for r in P.sample_by_token_budget(docs, budgets).collect())
    explicit_ids = sorted(
        r.doc_id
        for r in P.sample_by_token_budget(docs, budgets, id_col="doc_id").collect()
    )
    shuffled_ids = sorted(
        r.doc_id
        for r in P.sample_by_token_budget(docs.repartition(17), budgets).collect()
    )
    assert auto_ids == explicit_ids == shuffled_ids
    assert 0 < len(auto_ids) < 2000


def test_cut_repeated_spans_removes_only_long_cross_doc_repeats(spark):
    """cut_repeated_spans removes exactly the maximal cross-document
    repeated run when it meets the length floor, keeps sub-threshold
    repeats (common phrases are language, not boilerplate), and leaves
    unrelated documents byte-identical modulo tokenizer
    normalization."""
    shared = "one two three four five six seven eight nine ten eleven twelve"
    short = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"intro text here {shared} outro words and {short} tail"),
            (2, f"different opening {shared} different closing {short} end"),
            (3, "totally unrelated content nothing shared"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: r.text
        for r in dedup.cut_repeated_spans(
            docs, "text", "doc_id", k=3, min_span_tokens=10
        ).collect()
    }
    # the 12-token shared run is cut; the 4-token shared run survives
    assert out[1] == f"intro text here outro words and {short} tail"
    assert out[2] == f"different opening different closing {short} end"
    assert out[3] == "totally unrelated content nothing shared"


def test_prepare_training_corpus_cut_spans_stage(spark):
    """cut_spans_min_tokens wires the exact-substring cut step into
    the recipe: the long run shared by two surviving docs is gone from
    BOTH published texts, and docs remain otherwise intact."""
    from hadoop_2_10_0_src_mapreduce_spark import pipeline as P

    run = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening here {run} and a unique ending indeed"),
            (2, f"another document begins {run} then finishes differently here"),
            (3, "completely unrelated third document with enough tokens here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: r.text
        for r in P.prepare_training_corpus(
            docs, min_quality=0.0, min_tokens=3, max_dup_3gram_frac=None,
            redact=False, cut_spans_min_tokens=10,
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert run not in out[1] and run not in out[2]
    assert "unique opening here" in out[1] and "unique ending indeed" in out[1]


def test_contamination_report_quantifies_overlap(spark):
    """contamination_report: per (train, eval) pair, distinct shared
    n-grams and the train-side overlap fraction — exact on a planted
    quote."""
    # train doc 1 = 10 tokens, of which tokens 4-8 quote eval doc 100
    quote = "alpha beta gamma delta epsilon"
    train = spark.createDataFrame(
        [
            (1, f"own words here {quote} tail bits"),
            (2, "completely clean document with no quoted material at all"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, f"benchmark prompt {quote} benchmark answer")],
        ["doc_id", "text"],
    )
    rep = {
        (r.id, r.eval_id): (r.n_shared, r.overlap_frac)
        for r in dedup.contamination_report(
            train, ev, "text", "doc_id", n=3
        ).collect()
    }
    # doc 1 has 10 tokens -> 8 distinct 3-gram shingles; the 5-token
    # quote contributes 3 shared shingles
    assert rep == {(1, 100): (3, round(3 / 8, 6))}


def test_compact_table_zorder_skips_multiplicatively(spark, tmp_path):
    """Z-order compaction: with two independent uniform columns, a
    conjunctive box predicate must touch far fewer files than the
    lexicographic (x, y) sort layout — lexicographic gives perfect
    x-skipping but every file spans all of y, so its candidate count
    is ~files·(x-selectivity), while the Morton layout's boxes are
    narrow in BOTH dimensions and skip multiplicatively. Rows are
    preserved."""
    import pathlib

    import pyarrow.parquet as pq

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import compact_table

    def mk(path):
        # x, y independent and uniform on [0, 1024)
        spark.range(0, 40_000).select(
            F.pmod(F.xxhash64("id"), F.lit(1024)).alias("x"),
            F.pmod(F.xxhash64(F.col("id") + 1_000_000), F.lit(1024)).alias("y"),
        ).write.mode("overwrite").parquet(path)

    def boxes(p):
        out = []
        for f in pathlib.Path(p).rglob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            lo = {"x": [], "y": []}
            hi = {"x": [], "y": []}
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    if col.path_in_schema in lo and col.statistics:
                        lo[col.path_in_schema].append(col.statistics.min)
                        hi[col.path_in_schema].append(col.statistics.max)
            if lo["x"]:
                out.append(
                    (min(lo["x"]), max(hi["x"]), min(lo["y"]), max(hi["y"]))
                )
        return out

    def candidates(bxs, x0, x1, y0, y1):
        return sum(
            1 for (xl, xh, yl, yh) in bxs
            if xl <= x1 and xh >= x0 and yl <= y1 and yh >= y0
        )

    lex, zed = str(tmp_path / "lex"), str(tmp_path / "zed")
    mk(lex)
    mk(zed)
    compact_table(spark, lex, target_file_bytes=8 * 1024, cluster_by=("x", "y"))
    compact_table(
        spark, zed, target_file_bytes=8 * 1024, cluster_by=("x", "y"),
        zorder=True,
    )
    assert spark.read.parquet(zed).count() == 40_000
    lex_b, zed_b = boxes(lex), boxes(zed)
    assert len(lex_b) >= 8 and len(zed_b) >= 8

    # a ~1/4 × 1/4 box in the middle of both ranges
    q = (256, 511, 256, 511)
    lex_c, zed_c = candidates(lex_b, *q), candidates(zed_b, *q)
    # lexicographic: every file spans all of y -> candidates ≈ files/4;
    # z-order: boxes narrow in both dims -> well under half of that
    assert zed_c * 2 <= lex_c, (lex_c, zed_c, len(lex_b), len(zed_b))
    # and the z layout actually skips: most files are excluded
    assert zed_c * 3 <= len(zed_b), (zed_c, len(zed_b))


def test_drop_boilerplate_lines(spark):
    """Lines verbatim-repeated across ≥min_docs documents drop; unique
    lines, short shared separators, and line order survive; a doc that
    was ALL boilerplate still emits an (id, empty-text) row."""
    banner = "This website uses cookies to improve your experience today"
    footer = "Copyright 2024 Example Corporation All Rights Reserved Worldwide"
    sep = "---"  # short: never flagged however often it repeats
    docs = spark.createDataFrame(
        [
            (i, f"unique opener {i}\n{banner}\n{sep}\nreal content {i}\n{footer}")
            for i in range(5)
        ]
        + [(99, f"{banner}\n{footer}")],  # all-boilerplate doc
        ["doc_id", "text"],
    )
    out = {
        r.id: r.text
        for r in dedup.drop_boilerplate_lines(
            docs, "text", "doc_id", min_docs=5
        ).collect()
    }
    for i in range(5):
        assert out[i] == f"unique opener {i}\n{sep}\nreal content {i}"
    assert out[99] == ""
    # below the threshold nothing drops
    out4 = {
        r.id: r.text
        for r in dedup.drop_boilerplate_lines(
            docs, "text", "doc_id", min_docs=10
        ).collect()
    }
    assert out4[0].count("\n") == 4


def test_round5_ops_empty_and_boundary_edges(spark, tmp_path):
    """Boundary edges of the round-5 additions: no-overlap
    contamination report is empty; boilerplate removal on a single doc
    is identity; span cut with nothing flagged is tokenizer-normalized
    identity; deleting ids absent from an index is a no-op for
    serving."""
    from hadoop_2_10_0_src_mapreduce_spark.operators import dedup, similarity

    clean = spark.createDataFrame(
        [(1, "totally unique words in this document")], ["doc_id", "text"]
    )
    other = spark.createDataFrame(
        [(2, "no shared phrases appear here at all")], ["doc_id", "text"]
    )
    assert dedup.contamination_report(clean, other, "text", "doc_id", n=3).count() == 0

    alone = dedup.drop_boilerplate_lines(clean, "text", "doc_id", min_docs=2).collect()
    assert alone == [(1, "totally unique words in this document")] or (
        alone[0].id == 1 and alone[0].text == "totally unique words in this document"
    )

    uncut = dedup.cut_repeated_spans(
        clean.unionByName(other), "text", "doc_id", k=3, min_span_tokens=5
    ).collect()
    assert {r.id: r.text for r in uncut} == {
        1: "totally unique words in this document",
        2: "no shared phrases appear here at all",
    }

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    p = str(tmp_path / "ivf_noop_del")
    similarity.save_ivf_index(emb, p, n_centroids=4)
    queries = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    before = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim)
        for r in similarity.query_ivf_index(queries, p, k=3, n_probe=2).collect()
    )
    similarity.delete_from_index(spark, p, [987654321, 987654322])
    after = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim)
        for r in similarity.query_ivf_index(queries, p, k=3, n_probe=2).collect()
    )
    assert before == after


def test_compact_refuses_to_brick_a_fully_tombstoned_index(spark, tmp_path):
    """Regression (round-5 review): compacting an index whose every id
    is tombstoned must raise — a partitioned write of zero rows emits
    no part files, so swapping it in would leave an unreadable
    directory. The index must remain readable after the refusal."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(20)
    p = str(tmp_path / "ivf_all_del")
    similarity.save_ivf_index(emb, p, n_centroids=2)
    similarity.delete_from_index(
        spark, p, [r.vec_id for r in emb.select("vec_id").collect()]
    )
    with pytest.raises(ValueError, match="EMPTY"):
        similarity.compact_index(spark, p)
    # refusal left the live directory intact and readable
    assert spark.read.parquet(f"{p}/lists").count() == 20


def test_drop_boilerplate_paragraph_unit(spark):
    """line_sep='\\n\\n' switches the same machinery to PARAGRAPH
    granularity: a paragraph repeated across docs drops whole, and
    newlines WITHIN surviving paragraphs are untouched."""
    legal = "standard legal disclaimer paragraph\nsecond line of the disclaimer"
    docs = spark.createDataFrame(
        [
            (i, f"unique intro {i}\nwith its own second line\n\n{legal}")
            for i in range(4)
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: r.text
        for r in dedup.drop_boilerplate_lines(
            docs, "text", "doc_id", min_docs=4, line_sep="\n\n"
        ).collect()
    }
    for i in range(4):
        assert out[i] == f"unique intro {i}\nwith its own second line"


def test_chunk_documents_coverage_overlap_and_twin(spark, duck):
    """Token-budget chunking: every chunk is <= max_tokens, consecutive
    chunks of a doc share exactly `overlap` tokens, stitching the
    chunks back together (dropping each successor's overlap prefix)
    reconstructs the full token stream, the tail chunk is never
    degenerate (len > overlap for multi-chunk docs), and the DuckDB
    twin reproduces every chunk byte-for-byte."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import chunk_documents, chunk_sql

    texts = [
        (0, " ".join(f"t{i}" for i in range(100))),   # 4 chunks at 32/8
        (1, " ".join(f"t{i}" for i in range(32))),    # exactly max -> 1
        (2, " ".join(f"t{i}" for i in range(33))),    # max+1 -> 2
        (3, "one short doc"),                          # 1 chunk
        (4, ""),                                       # no tokens -> 0 rows
        (5, "   \t  "),                                # whitespace -> 0 rows
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    out = chunk_documents(docs, max_tokens=32, overlap=8).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 4 not in by_doc and 5 not in by_doc
    assert [len(by_doc[d]) for d in (0, 1, 2, 3)] == [4, 1, 2, 1]
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        orig = [t for i, t in texts if i == d][0].lower().split()
        stitched: list[str] = []
        for k, r in enumerate(rows):
            toks = r.chunk_text.split()
            assert r.n_tokens == len(toks) <= 32
            assert r.n_chunks == len(rows)
            assert r.start_token == k * 24
            if k > 0:
                prev = rows[k - 1].chunk_text.split()
                assert prev[-8:] == toks[:8]  # exact overlap
                toks = toks[8:]
            stitched.extend(toks)
        assert stitched == orig
        if len(rows) > 1:
            assert rows[-1].n_tokens > 8  # tail never degenerate

    duck.execute("CREATE OR REPLACE VIEW chunk_in AS SELECT * FROM (VALUES "
                 + ", ".join(f"({i}, '{t}')" for i, t in texts)
                 + ") v(doc_id, text)")
    twin = duck.execute(
        chunk_sql("chunk_in", "text", "doc_id", max_tokens=32, overlap=8)
    ).fetchall()
    spark_set = {(r.doc_id, r.chunk_idx, r.chunk_text) for r in out}
    assert spark_set == set(twin)


def test_chunk_documents_validation_and_keep_cols(spark):
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import chunk_documents

    docs = spark.createDataFrame(
        [(0, "a b c", "s1")], ["doc_id", "text", "source"]
    )
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=8, overlap=-1)
    row = chunk_documents(
        docs, max_tokens=8, keep_cols=("source",)
    ).collect()[0]
    assert row.source == "s1" and row.chunk_text == "a b c"


def test_split_corpus_group_key_is_leakage_safe(spark):
    """key_col=source: every row of a source lands in one split (no
    near-dup pair can straddle train/test), assignment is stable under
    corpus growth, and the weights steer group counts."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import split_corpus

    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.createDataFrame(
        [(i, f"doc {i}", f"src{i % 40}") for i in range(400)],
        ["doc_id", "text", "source"],
    )
    out = split_corpus(docs, weights, key_col="source").collect()
    per_src: dict[str, set] = {}
    for r in out:
        per_src.setdefault(r.source, set()).add(r.split)
    assert len(per_src) == 40
    assert all(len(s) == 1 for s in per_src.values())  # leakage-safe
    assert set().union(*per_src.values()) <= set(weights)
    # stability: dropping rows never moves a surviving source
    sub = split_corpus(
        docs.where(F.col("doc_id") % 3 == 0), weights, key_col="source"
    ).collect()
    assert all(per_src[r.source] == {r.split} for r in sub)


def test_index_stats_reports_health_and_maintenance_triggers(spark, tmp_path):
    """index_stats on a fresh IVF index is healthy (no
    recommendations); appends raise file counts, deletes raise the
    tombstone fraction past the threshold and trigger the compact
    recommendation; compaction restores health. LSH family detected
    from layout the same way."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    base = emb.where(F.col("vec_id") < 400)
    similarity.save_ivf_index(base, path, n_centroids=8)

    s0 = similarity.index_stats(spark, path)
    assert s0["family"] == "ivf" and not s0["quantized"]
    assert s0["rows_live"] == 400 and s0["n_tombstones"] == 0
    assert s0["n_partitions"] == 8
    assert s0["recommendations"] == []

    # append the rest, then tombstone 80 ids (20% > 10% threshold)
    similarity.append_to_ivf_index(
        emb.where(F.col("vec_id") >= 400), path
    )
    s1 = similarity.index_stats(spark, path)
    assert s1["rows_live"] == 500 and s1["n_files"] > s0["n_files"]

    similarity.delete_from_index(spark, path, list(range(80)))
    s2 = similarity.index_stats(spark, path)
    assert s2["rows_live"] == 500  # stored rows unchanged until compact
    assert s2["n_tombstones"] == 80
    assert s2["tombstone_frac"] > 0.1
    assert any(r.startswith("compact:") for r in s2["recommendations"])

    similarity.compact_index(spark, path)
    s3 = similarity.index_stats(spark, path)
    assert s3["rows_live"] == 420 and s3["n_tombstones"] == 0
    assert not any("tombston" in r for r in s3["recommendations"])

    lsh_path = str(tmp_path / "lsh")
    similarity.save_lsh_index(emb, lsh_path)
    sl = similarity.index_stats(spark, lsh_path)
    assert sl["family"] == "lsh" and sl["rows_live"] > 0
    assert sl["n_partitions"] > 8  # (table, bucket) grid

    # occupancy (growth) trigger: mean partition rows beyond the
    # adaptive-geometry target multiple flags the 'auto' rebuild —
    # fires when the threshold is tightened under this index's actual
    # occupancy, names the right action per family, and is absent at
    # the default threshold for these fixture-sized (floor-geometry,
    # occupancy ≈ target/2.5) indexes
    assert not any("outgrew" in r for r in s3["recommendations"])
    tight_ivf = similarity.index_stats(spark, path, occupancy_warn=0.01)
    assert any(
        "rebuild_index(n_centroids='auto')" in r
        for r in tight_ivf["recommendations"]
    )
    tight_lsh = similarity.index_stats(spark, lsh_path, occupancy_warn=0.01)
    assert any(
        "rebuild_index(n_planes='auto')" in r
        for r in tight_lsh["recommendations"]
    )


def test_split_corpus_by_components_moves_clusters_whole(spark):
    """Cluster-safe splits: every near-dup component lands in ONE
    split (hashed by its representative), and unpaired documents get
    exactly the assignment split_corpus would give them."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        split_corpus,
        split_corpus_by_components,
    )

    weights = {"train": 0.6, "val": 0.2, "test": 0.2}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(300)], ["doc_id", "text"]
    )
    # components: {0..9} chained, {100,101}, {200,201,202} via a cycle
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)]
        + [(100, 101), (200, 201), (201, 202), (202, 200)],
        ["id_a", "id_b"],
    )
    out = split_corpus_by_components(docs, pairs, weights).collect()
    labels = {r.doc_id: r.split for r in out}
    assert len(labels) == 300
    for cluster in ([*range(10)], [100, 101], [200, 201, 202]):
        assert len({labels[i] for i in cluster}) == 1, cluster
    # unpaired docs: identical to the per-doc split
    plain = {r.doc_id: r.split for r in split_corpus(docs, weights).collect()}
    clustered = {*range(10), 100, 101, 200, 201, 202}
    for i in range(300):
        if i not in clustered:
            assert labels[i] == plain[i]
    # each cluster's shared label is the REPRESENTATIVE's per-doc label
    assert labels[5] == plain[0] and labels[202] == plain[200]


def test_corpus_report_matches_pandas_recomputation(spark):
    """corpus_report's single-pass aggregation == an independent
    pandas aggregation of the same per-doc features (the per-doc
    primitives themselves are oracle-checked elsewhere): counts,
    dup_frac, exact interpolated percentiles, mean quality, and the
    deterministic top-language argmax."""
    import numpy as np

    from hadoop_2_10_0_src_mapreduce_spark.pipeline import corpus_report

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    # plant exact dups + a non-en doc to exercise dup_frac and the
    # lang tiebreak
    extra = spark.createDataFrame(
        [(9001, "the of and to a in is it", "x", "srcX", 1),
         (9002, "THE of and  to a in is it", "x", "srcX", 1),  # dup of 9001
         (9003, "der und die das ist ein nicht", "x", "srcX", 1)],
        docs.columns,
    )
    docs = docs.unionByName(extra)
    rep = {r.source: r for r in corpus_report(docs, source_col="source").collect()}

    per_doc = docs.select(
        "source",
        T.token_count("text").alias("nt"),
        T.quality_score("text").alias("q"),
        T.lang_id("text").alias("lang"),
        T.fingerprint("text").alias("fp"),
    ).toPandas()
    for src, g in per_doc.groupby("source"):
        r = rep[src]
        assert r.n_docs == len(g)
        assert r.n_distinct_fp == g.fp.nunique()
        assert abs(r.dup_frac - (1 - g.fp.nunique() / len(g))) < 1e-6
        assert r.total_tokens == int(g.nt.sum())
        assert abs(r.p50_tokens - np.percentile(g.nt, 50)) < 1e-6
        assert abs(r.p90_tokens - np.percentile(g.nt, 90)) < 1e-6
        assert abs(r.mean_quality - g.q.mean()) < 1e-5
        counts = g.lang.value_counts()
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.top_lang == best[0]
        assert abs(r.top_lang_frac - best[1] / len(g)) < 1e-6
    assert rep["srcX"].dup_frac > 0  # the planted dup registered


def test_corpus_report_approx_dup_counts_within_tolerance(spark):
    """exact_dup_counts=False swaps the fingerprint countDistinct (the
    report's one full-width shuffle) for HLL++ with rsd 0.01:
    n_distinct_fp and dup_frac must land within sketch tolerance of
    the exact twin, and every other column must be IDENTICAL (only the
    distinct aggregate changes)."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import corpus_report

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exact = {r.source: r for r in
             corpus_report(docs, source_col="source").collect()}
    approx = {r.source: r for r in
              corpus_report(docs, source_col="source",
                            exact_dup_counts=False).collect()}
    assert exact.keys() == approx.keys()
    for src, e in exact.items():
        a = approx[src]
        # HLL++ at rsd=0.01: give 5% headroom for small groups
        assert abs(a.n_distinct_fp - e.n_distinct_fp) <= max(
            2, 0.05 * e.n_distinct_fp
        ), src
        assert abs(a.dup_frac - e.dup_frac) <= 0.05, src
        for col in ("n_docs", "total_tokens", "p50_tokens", "p90_tokens",
                    "mean_quality", "top_lang", "top_lang_frac"):
            assert getattr(a, col) == getattr(e, col), (src, col)


def test_temperature_budgets_interpolates_natural_to_uniform(spark):
    """alpha=1 -> budgets proportional to natural token counts; alpha=0
    -> uniform across sources; intermediate alpha upweights the small
    source; budgets never exceed a source's own tokens; and the output
    feeds sample_by_token_budget directly."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        sample_by_token_budget,
        temperature_budgets,
    )

    rows = []
    for i in range(90):
        rows.append((i, "tok " * 50, "big"))
    for i in range(90, 100):
        rows.append((i, "tok " * 50, "small"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # natural: big 4500 tokens, small 500
    b1 = temperature_budgets(docs, 1000, alpha=1.0)
    assert abs(b1["big"] / b1["small"] - 9.0) < 0.1
    b0 = temperature_budgets(docs, 800, alpha=0.0)
    assert b0["big"] == b0["small"] == 400
    bt = temperature_budgets(docs, 1000, alpha=0.3)
    assert 1.0 < bt["big"] / bt["small"] < 9.0  # between uniform and natural
    # cap: a huge budget can't exceed the source's own token count
    bc = temperature_budgets(docs, 10**9, alpha=0.0)
    assert bc["big"] == 4500 and bc["small"] == 500
    sampled = sample_by_token_budget(docs, bt)
    assert 0 < sampled.count() <= 100


def test_bpe_train_matches_naive_reference_and_encode_roundtrips(spark):
    """train_bpe == a from-scratch naive BPE (recount pairs per round,
    count-desc/lex tie-break) on the same corpus; encoding applies
    merges by rank, concatenation of a word's pieces reconstructs the
    word exactly, and a repeated word compresses to one piece."""
    from hadoop_2_10_0_src_mapreduce_spark.functions import bpe

    texts = [
        (0, "low low low low low lower lower newest newest newest"),
        (1, "newest newest newest widest widest widest"),
        (2, "low lowest newest widest wide new"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    # naive reference: full recount every round, same tie-break
    from collections import Counter

    words = Counter(
        w for _, t in texts for w in t.lower().split()
    )
    vocab = {tuple(w): c for w, c in words.items()}
    expect = []
    for _ in range(12):
        pc = Counter()
        for syms, n in vocab.items():
            for p in zip(syms, syms[1:]):
                pc[p] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pc[best] < 2:
            break
        expect.append(best)
        vocab = {bpe._merge_word(s, best): n for s, n in vocab.items()}

    merges = bpe.train_bpe(docs, 12)
    assert merges == expect and len(merges) > 3

    enc = bpe.bpe_encode(docs, merges).collect()
    by_id = {r.doc_id: r for r in enc}
    for i, t in texts:
        toks = t.split()
        pieces = by_id[i].bpe_tokens
        assert by_id[i].n_bpe_tokens == len(pieces)
        # roundtrip: pieces concatenate back to the original words
        joined, k = [], []
        for p in pieces:
            k.append(p)
            if "".join(k) == toks[len(joined)]:
                joined.append("".join(k))
                k = []
        assert joined == toks and not k
    # the most frequent word became a single token
    assert "newest" in by_id[1].bpe_tokens

    # determinism across invocations
    assert bpe.train_bpe(docs, 12) == merges

    with pytest.raises(ValueError):
        bpe.train_bpe(docs, 0)


def test_bpe_encode_handles_null_text_and_string_ids(spark):
    """Review fixes pinned: NULL text encodes to an empty token list
    (not a task crash), and a string id column rides through the
    Arrow schema."""
    from hadoop_2_10_0_src_mapreduce_spark.functions import bpe

    docs = spark.createDataFrame(
        [("a#0", "low low lower"), ("b#1", None), ("c#2", "")],
        "doc_id string, text string",
    )
    merges = bpe.train_bpe(
        spark.createDataFrame([(1, "low low low lower")], ["i", "text"]), 4
    )
    rows = {r.doc_id: r for r in bpe.bpe_encode(docs, merges).collect()}
    assert rows["a#0"].n_bpe_tokens > 0
    assert rows["b#1"].bpe_tokens == [] and rows["b#1"].n_bpe_tokens == 0
    assert rows["c#2"].n_bpe_tokens == 0


def test_rebuild_preserves_nondefault_id_column(spark, tmp_path):
    """Review fix pinned: rebuilding an index built with a non-default
    id column must keep that column name (renaming would fork the
    schema for later appends/tombstones) — and likewise detect a
    non-default VECTOR column from the stored schema (the CLI's
    `index rebuild` passes neither name)."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf_named")
    similarity.save_ivf_index(
        emb, path, id_col="item_id", vec_col="vec", n_centroids=4
    )
    similarity.rebuild_index(spark, path)
    cols = spark.read.parquet(f"{path}/lists").columns
    assert "item_id" in cols and "vec_id" not in cols
    assert "vec" in cols and "embedding" not in cols
    # and the lifecycle keeps composing against the same directory
    similarity.delete_from_index(spark, path, [0], id_col="item_id")
    similarity.compact_index(spark, path)
    assert (
        spark.read.parquet(f"{path}/lists")
        .where(F.col("item_id") == 0)
        .count()
        == 0
    )


def test_split_by_components_rejects_colliding_columns(spark):
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        split_corpus_by_components,
    )

    docs = spark.createDataFrame([(1, "t", 5)], ["doc_id", "text", "rep"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="collide"):
        split_corpus_by_components(docs, pairs, {"train": 1.0})


def test_training_prep_last_mile_composes(spark, tmp_path):
    """The full last mile composes on real fixtures: clean corpus ->
    chunk to sequence length -> BPE-tokenize the chunks -> pack chunks
    into token-budget bins using the BPE counts -> publish JSONL.
    Every stage consumes exactly what the previous one emits, and the
    published shard set reloads to the packed sequences."""
    from hadoop_2_10_0_src_mapreduce_spark import pipeline as P
    from hadoop_2_10_0_src_mapreduce_spark.functions import bpe

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    clean = P.prepare_training_corpus(docs, min_quality=0.2, min_tokens=3)

    chunks = P.chunk_documents(
        clean, text_col="text", id_col="id", max_tokens=24, overlap=4
    ).select(
        F.concat_ws("#", "id", "chunk_idx").alias("cid"),
        F.col("chunk_text"),
    )
    assert chunks.count() > clean.count()  # long docs actually split

    merges = bpe.train_bpe(
        chunks.select(F.col("chunk_text").alias("text")), 32
    )
    toked = bpe.bpe_encode(
        chunks, merges, text_col="chunk_text", id_col="cid"
    )
    assert toked.where(F.col("n_bpe_tokens") <= 0).count() == 0

    # pack on the BPE counts (count_col) — the budget that matters
    # once a real tokenizer exists, not the whitespace estimate
    packable = chunks.join(toked.select("cid", "n_bpe_tokens"), "cid")
    bins = P.assign_packing_bins(
        packable.select(
            F.col("cid").alias("doc_id"),
            F.col("chunk_text").alias("text"),
            "n_bpe_tokens",
        ),
        target_tokens=256,
        auto_shards=4,
        count_col="n_bpe_tokens",
    )
    # the packing consumed the BPE counts: per-bin totals are sums of
    # n_bpe_tokens, not whitespace counts
    bpe_totals = {
        (r._shard, r.bin): r.bin_tokens
        for r in bins.groupBy("_shard", "bin")
        .agg(F.max("bin_tokens").alias("bin_tokens"))
        .collect()
    }
    check = {
        (r._shard, r.bin): r.s
        for r in bins.groupBy("_shard", "bin")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    assert bpe_totals == check
    seqs = P.pack_bins_to_sequences(
        packable.select(
            F.col("cid").alias("doc_id"), F.col("chunk_text").alias("text")
        ),
        bins,
        shard_col="_shard",
    )
    rows = seqs.collect()
    max_chunk = packable.agg(F.max("n_bpe_tokens")).collect()[0][0]
    # bin bound: target + the one boundary-crossing chunk's BPE count
    assert rows and all(r.n_tokens <= 256 + max_chunk for r in rows)

    out = str(tmp_path / "published")
    P.write_jsonl_shards(
        seqs.select(
            F.concat_ws("-", "_shard", "bin").alias("doc_id"),
            F.col("seq_text").alias("text"),
        ),
        out,
        rows_per_shard=50,
    )
    back = spark.read.json(out)
    assert back.count() == len(rows)


def test_recipe_reliable_mode_retires_components_step(spark, tmp_path):
    """r11 (r10 ADVICE): with ``checkpoint_dir`` set and at least one
    multi-reference boundary active, the recipe's first chain pin
    materializes everything downstream of the clustering — so the
    components' FINAL step (which used to live until the caller
    deleted the dir by hand) is retired the moment the pin lands, and
    the output is identical to the unpinned run."""
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        prepare_training_corpus,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and it is a fine "
        "day for running in the sun with a friend of the family"
    )
    rows = [
        (1, prose),
        (2, prose),
        (3, prose.replace("fine day", "good day")),
        (5, "a completely different long document about the weather in "
            "the mountains where it rains for days and the rivers rise"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    evals = spark.createDataFrame(
        [(900, "unrelated benchmark sentence that matches no corpus doc "
               "because every token here is about astronomy and comets")],
        ["doc_id", "text"],
    )
    kw = dict(near_dup_threshold=0.5, min_quality=0.2, min_tokens=5)
    want = {r.id for r in prepare_training_corpus(
        docs, eval_df=evals, **kw
    ).collect()}
    ckdir = tmp_path / "recipe_ck"
    out = prepare_training_corpus(
        docs, eval_df=evals, checkpoint_dir=str(ckdir), **kw
    )
    got = {r.id for r in out.collect()}
    assert got == want == {1, 5}
    # the decontam boundary pin landed -> components step retired
    assert not (ckdir / "components").exists()
    # the chain dir holds exactly the newest pin backing the result
    chain_steps = sorted(p.name for p in (ckdir / "chain").iterdir())
    assert len(chain_steps) == 1 and chain_steps[0].startswith("step-")
    assert out.count() == 2  # still readable from the surviving pin


def test_multiprobe_advisor_prices_tables_vs_flips(spark, tmp_path):
    """r11 (r10 verdict item 6): the advisor enumerates every split of
    a bit deficit between table doublings (store cost) and probe
    flips (read cost), anchored to the pinned r9 sweep grid; the
    recall_target pick is the min-reads measured option that reaches
    the target; deficit-free geometries return the identity."""
    adv = similarity.multiprobe_advisor(13, 16)
    assert adv["deficit"] == 3
    # the auto rule's own point is in the table and marked measured
    assert adv["current"]["flips"] == similarity.adaptive_multiprobe(13, 16)
    assert adv["current"]["measured"] and adv["current"]["recall"] == 0.542
    # extremes: all-flips (store x1, reads x16) .. all-tables (x8, x1)
    opts = {(o["n_tables"], o["flips"]) for o in adv["options"]}
    assert (16, 4) in opts and (128, 0) in opts
    for o in adv["options"]:
        assert o["probe_volume_multiplier"] == 1 << o["flips"]
    # no target -> min reads; with a target -> cheapest measured hit
    assert adv["pick"]["flips"] == 0
    pick = similarity.multiprobe_advisor(13, 16, recall_target=0.5)["pick"]
    assert (pick["n_tables"], pick["flips"]) == (32, 3)
    assert pick["recall"] >= 0.5 and pick["measured"]
    # deficit-free (every driver fixture geometry): nothing to advise
    clean = similarity.multiprobe_advisor(10, 16)
    assert clean["deficit"] == 0
    assert clean["pick"]["flips"] == 0
    assert clean["pick"]["store_multiplier"] == 1.0

    # index_stats surfaces the dial for a deficit LSH store and stays
    # quiet for a clean one
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    deficit_path = str(tmp_path / "lsh_deficit")
    similarity.save_lsh_index(emb, deficit_path, n_planes=12, n_tables=8)
    st = similarity.index_stats(spark, deficit_path)
    assert st["multiprobe"]["deficit"] > 0
    assert any("n_multiprobe=" in r for r in st["recommendations"])
    clean_path = str(tmp_path / "lsh_clean")
    similarity.save_lsh_index(emb, clean_path)
    st2 = similarity.index_stats(spark, clean_path)
    assert st2["multiprobe"]["deficit"] == 0
    assert not any("n_multiprobe=" in r for r in st2["recommendations"])


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids


def _destroy_rdd_blocks(spark, ids) -> None:
    """Simulate executor loss for the given RDDs: remove their blocks
    through the BlockManagerMaster — exactly what dies with a
    preempted executor. A localCheckpoint-backed frame has no lineage
    to recompute from and its next action fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; persisted frames and parquet-
    backed frames recompute."""
    bmm = spark.sparkContext._jsc.sc().env().blockManager().master()
    for i in ids:
        bmm.removeRdd(int(i), True)


def test_chaos_block_loss_kills_local_mode_spares_reliable(spark, tmp_path):
    """r11 (r10 verdict item 4): the reliable-checkpoint dial's core
    claim, turned from design argument into measurement. Destroying
    every RDD block created during propagation (the executor-loss
    event, injected mid-loop through a chaos Checkpointer subclass):
    with checkpoint_dir=None the loop DIES on the checkpoint-block
    error Spark raises for lost localCheckpoint blocks; with
    checkpoint_dir set the SAME injection completes with the
    identical label set — persisted intermediates recompute from the
    previous round's parquet step."""
    from hadoop_2_10_0_src_mapreduce_spark import checkpointing as ckpt_mod

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)]          # 61-node path: rounds > 1
        + [(200, 201), (201, 202), (202, 200)],
        ["id_a", "id_b"],
    )
    want = {(r.id, r.rep)
            for r in dedup.duplicate_components(pairs).collect()}

    pre = _persistent_rdd_ids(spark)

    class ChaosCheckpointer(ckpt_mod.RoundCheckpointer):
        kills_left = 1

        def __call__(self, df):
            out = super().__call__(df)
            # inject AFTER the second pin: round 1 is in flight and
            # the loop still has rounds to go on a 61-node path
            if self.n >= 2 or (self.dir is None and out is not None):
                ChaosCheckpointer.count = (
                    getattr(ChaosCheckpointer, "count", 0) + 1
                )
                if (
                    ChaosCheckpointer.count >= 2
                    and ChaosCheckpointer.kills_left > 0
                ):
                    ChaosCheckpointer.kills_left -= 1
                    _destroy_rdd_blocks(
                        self.spark, _persistent_rdd_ids(self.spark) - pre
                    )
            return out

    real = ckpt_mod.RoundCheckpointer
    ckpt_mod.RoundCheckpointer = ChaosCheckpointer
    try:
        # local mode: the destroyed localCheckpoint blocks are the
        # ONLY copy — the loop must die the way a preempted executor
        # kills it on a cluster
        ChaosCheckpointer.kills_left, ChaosCheckpointer.count = 1, 0
        with pytest.raises(Exception, match="[Cc]heckpoint block"):
            dedup.duplicate_components(pairs).collect()

        # reliable mode: the SAME injection — blocks lost, but every
        # pin is parquet and prop's lineage roots at the previous
        # step's files, so the loop completes bit-identically
        ChaosCheckpointer.kills_left, ChaosCheckpointer.count = 1, 0
        got = {(r.id, r.rep)
               for r in dedup.duplicate_components(
                   pairs, checkpoint_dir=str(tmp_path / "chaos_ck")
               ).collect()}
        assert got == want
    finally:
        ckpt_mod.RoundCheckpointer = real


def test_components_resume_after_driver_loss(spark, tmp_path):
    """r11 driver-loss recovery: a propagation killed mid-loop with NO
    cleanup (process death — simulated by a chaos checkpointer that
    raises after the 3rd pin and whose close() is a no-op) leaves its
    step files; a restarted run with resume=True continues from the
    newest _SUCCESS-complete step (torn steps are removed as debris)
    and converges to the identical label set in fewer rounds."""
    from hadoop_2_10_0_src_mapreduce_spark import checkpointing as ckpt_mod

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], ["id_a", "id_b"]  # 81-node path
    )
    s_full: dict = {}
    want = {(r.id, r.rep)
            for r in dedup.duplicate_components(pairs, stats=s_full).collect()}
    ckdir = tmp_path / "resume_ck"

    class DyingCheckpointer(ckpt_mod.RoundCheckpointer):
        def __call__(self, df):
            out = super().__call__(df)
            if self.n >= 3:
                raise RuntimeError("simulated driver death")
            return out

        def close(self):  # process death: no cleanup ever ran
            pass

    real = ckpt_mod.RoundCheckpointer
    ckpt_mod.RoundCheckpointer = DyingCheckpointer
    try:
        with pytest.raises(RuntimeError, match="simulated driver death"):
            dedup.duplicate_components(pairs, checkpoint_dir=str(ckdir))
    finally:
        ckpt_mod.RoundCheckpointer = real
    surviving = sorted(p.name for p in ckdir.iterdir())
    assert surviving, "crash left no steps to resume from"
    # plant a torn step (no _SUCCESS) NEWER than every complete one —
    # resume must treat it as debris, not as the latest state
    torn = ckdir / "step-00099"
    torn.mkdir()
    (torn / "part-junk.parquet").write_bytes(b"not parquet")

    s_res: dict = {}
    got = {(r.id, r.rep)
           for r in dedup.duplicate_components(
               pairs, checkpoint_dir=str(ckdir), stats=s_res, resume=True
           ).collect()}
    assert got == want
    assert not torn.exists()  # torn step removed as debris
    assert s_res["rounds"] < s_full["rounds"]  # it actually resumed

    # resume=True over an EMPTY dir is just a fresh run
    got2 = {(r.id, r.rep)
            for r in dedup.duplicate_components(
                pairs, checkpoint_dir=str(tmp_path / "fresh"), resume=True
            ).collect()}
    assert got2 == want


def test_checkpointer_resume_deletes_superseded_complete_steps(spark, tmp_path):
    """r12 (r11 ADVICE medium): a crash leaves up to TWO complete step
    dirs (eager cleanup keeps the previous until the next lands); the
    resume scan must delete the older one — previously it was neither
    tracked in _live nor removed, so it survived the resumed run and
    close()'s non-recursive dir delete silently failed forever after."""
    from hadoop_2_10_0_src_mapreduce_spark.checkpointing import (
        RoundCheckpointer,
    )

    d = tmp_path / "ck"
    ck = RoundCheckpointer(spark, str(d))
    ck(spark.range(5))
    ck(spark.range(5).withColumn("x", F.lit(1)))
    # process death: no close() ran; both complete steps remain
    assert sorted(p.name for p in d.iterdir()) == [
        "step-00000", "step-00001",
    ]

    ck2 = RoundCheckpointer(spark, str(d), resume=True)
    assert ck2.resumed is not None and ck2.n == 2
    # the older complete step is superseded debris — gone at resume
    assert sorted(p.name for p in d.iterdir()) == ["step-00001"]
    out = ck2(ck2.resumed.withColumn("y", F.lit(2)))
    assert out.count() == 5
    ck2.close()
    assert not d.exists()  # nothing leaked; the dir itself is removable


def test_recipe_chain_resume_at_each_boundary(spark, tmp_path):
    """r12 (r11 verdict item 2): driver-loss resume through the WHOLE
    recipe chain. Simulate a crash at each pinned boundary — inside
    the components loop (no chain pin yet), after the cut-spans input
    pin, and after the decontam input pin — then rerun with
    resume=True and the same arguments; the resumed corpus must equal
    the uninterrupted run's, chain storage must end at exactly one
    pin, and the superseded components steps must be gone."""
    from hadoop_2_10_0_src_mapreduce_spark import checkpointing as ckpt_mod
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        prepare_training_corpus,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and it is a fine "
        "day for running in the sun with a friend of the family"
    )
    rows = [
        (1, prose),
        (2, prose),
        (3, prose.replace("fine day", "good day")),
        (5, "a completely different long document about the weather in "
            "the mountains where it rains for days and the rivers rise"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    evals = spark.createDataFrame(
        [(900, "unrelated benchmark sentence that matches no corpus doc "
               "because every token here is about astronomy and comets")],
        ["doc_id", "text"],
    )
    kw = dict(near_dup_threshold=0.5, min_quality=0.2, min_tokens=5,
              cut_spans_min_tokens=60, eval_df=evals)
    want = {(r.id, r.text) for r in prepare_training_corpus(
        docs, **kw
    ).collect()}
    assert {i for i, _ in want} == {1, 5}

    real = ckpt_mod.RoundCheckpointer

    def crash_then_resume(ckdir, chaos_cls):
        ckpt_mod.RoundCheckpointer = chaos_cls
        try:
            with pytest.raises(RuntimeError, match="simulated driver death"):
                prepare_training_corpus(
                    docs, checkpoint_dir=str(ckdir), **kw
                ).collect()
        finally:
            ckpt_mod.RoundCheckpointer = real
        got = {(r.id, r.text) for r in prepare_training_corpus(
            docs, checkpoint_dir=str(ckdir), resume=True, **kw
        ).collect()}
        assert got == want
        # superseded components steps retired; one chain pin backs out
        assert not (ckdir / "components").exists()
        assert len(list((ckdir / "chain").iterdir())) == 1

    class DieInComponents(real):
        """Crash inside the clustering loop — before ANY chain pin."""
        def __call__(self, df):
            out = super().__call__(df)
            if self.dir and self.dir.endswith("/components") and self.n >= 2:
                raise RuntimeError("simulated driver death")
            return out

        def close(self):  # process death: no cleanup ever ran
            pass

    class DieAfterPin0(real):
        """Crash the moment the cut-spans input pin commits."""
        def __call__(self, df):
            out = super().__call__(df)
            if self.dir and self.dir.endswith("/chain") and self.n >= 1:
                raise RuntimeError("simulated driver death")
            return out

        def close(self):
            pass

    class DieAfterPin1(real):
        """Crash the moment the decontam input pin commits."""
        def __call__(self, df):
            out = super().__call__(df)
            if self.dir and self.dir.endswith("/chain") and self.n >= 2:
                raise RuntimeError("simulated driver death")
            return out

        def close(self):
            pass

    crash_then_resume(tmp_path / "ck_components", DieInComponents)
    crash_then_resume(tmp_path / "ck_pin0", DieAfterPin0)
    crash_then_resume(tmp_path / "ck_pin1", DieAfterPin1)

    # argument mismatch: the crashed run landed 2 chain pins; resuming
    # with the cut stage disabled must refuse, not silently misalign
    ckdir = tmp_path / "ck_mismatch"
    ckpt_mod.RoundCheckpointer = DieAfterPin1
    try:
        with pytest.raises(RuntimeError, match="simulated driver death"):
            prepare_training_corpus(
                docs, checkpoint_dir=str(ckdir), **kw
            ).collect()
    finally:
        ckpt_mod.RoundCheckpointer = real
    bad = dict(kw)
    bad["cut_spans_min_tokens"] = None
    with pytest.raises(ValueError, match="same arguments"):
        prepare_training_corpus(
            docs, checkpoint_dir=str(ckdir), resume=True, **bad
        )


def test_recall_target_wires_advisor_pick_into_maintenance(spark, tmp_path):
    """r12 (r11 verdict item 5): a deficit LSH store measured with a
    recall target yields a NAMED, priced rebuild recommendation (the
    advisor's pick with its store/read multipliers and the anchor
    geometry), maintain_index surfaces it without auto-applying, and
    APPLYING the named rebuild matches the advisor's predictions —
    store grows by the pick's store multiplier and the serve dial
    lands on the pick's flip count."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "lsh_recall")
    similarity.save_lsh_index(emb, path, n_planes=13, n_tables=16)

    st = similarity.index_stats(spark, path, recall_target=0.5)
    pick = st["multiprobe"]["pick"]
    assert (pick["n_tables"], pick["flips"]) == (32, 3) and pick["measured"]
    recs = [r for r in st["recommendations"]
            if r.startswith("recall-rebuild:")]
    assert len(recs) == 1
    assert f"rebuild_index(n_tables={pick['n_tables']})" in recs[0]
    assert f"n_multiprobe={pick['flips']}" in recs[0]
    assert f"store ×{pick['store_multiplier']}" in recs[0]
    assert f"reads ×{pick['probe_volume_multiplier']}" in recs[0]
    # the anchor geometry is named in the advisor's return (r11
    # What's-wrong #2) and cited in the recommendation text
    anchor = st["multiprobe"]["anchor_geometry"]
    assert anchor["n_planes"] == 13 and "200k" in anchor["corpus"]
    assert anchor["sweep"] in recs[0]
    rows_before = st["rows_live"]

    # maintain_index carries the named action through its report but
    # never auto-applies a rebuild (rebuilds change served results)
    mt = similarity.maintain_index(spark, path, recall_target=0.5)
    assert any(r.startswith("recall-rebuild:")
               for r in mt["before"]["recommendations"])
    assert all(a.startswith("compact") for a in mt["actions"])

    # applying the named rebuild matches the predicted multipliers
    similarity.rebuild_index(spark, path, n_tables=pick["n_tables"])
    st2 = similarity.index_stats(spark, path, recall_target=0.5)
    assert st2["multiprobe"]["current"]["n_tables"] == pick["n_tables"]
    ratio = st2["rows_live"] / rows_before
    assert abs(ratio - pick["store_multiplier"]) < 0.2 * pick["store_multiplier"]
    assert similarity.adaptive_multiprobe(13, pick["n_tables"]) == pick["flips"]
    # the rebuilt store's own pick IS its current geometry: the dial
    # converged
    p2 = st2["multiprobe"]["pick"]
    assert (p2["n_tables"], p2["flips"]) == (pick["n_tables"], pick["flips"])
