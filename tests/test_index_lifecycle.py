"""The ANN index lifecycle, one suite for every family: save, serve,
append, delete, compact, maintain and rebuild through the index store
(``operators.index_store``), parametrized over IVF, LSH and IVF-PQ on
the 500-vector fixture corpus."""

from __future__ import annotations

import io
import os
import shutil
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.operators import pq, similarity
from hadoop_2_10_0_src_mapreduce_spark.operators.index_store import (
    _read_conf,
    _stored_dirs,
    index_codec,
)
from hadoop_2_10_0_src_mapreduce_spark.sources.readers import read_metadata
from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
    enable_pointer_swaps,
)
from tests.conftest import SF_SMALL

FAMILIES = ("ivf", "lsh", "ivfpq")
# small geometry per family; the LSH cap of 12 overfills on append
GEOMETRY = {
    "ivf": {"n_centroids": 8},
    "lsh": {"n_planes": 4, "n_tables": 4, "max_bucket": 12},
    "ivfpq": {"n_centroids": 8, "n_subspaces": 8, "n_codes": 16,
              "residual": True},
}
DIRS_KW = {"ivf": "list_dirs", "lsh": "bucket_dirs", "ivfpq": "list_dirs"}


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).persist()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )


def _save(family, df, path, **kw):
    kw = {**GEOMETRY[family], **kw}
    if family == "lsh":
        kw.pop("train_df", None)  # LSH planes come from the conf alone
        similarity.save_lsh_index(df, path, **kw)
    elif family == "ivf":
        similarity.save_ivf_index(df, path, **kw)
    else:
        pq.save_ivfpq_index(df, path, **kw)


def _serve(family, queries, path, **kw):
    if family == "lsh":
        return similarity.query_lsh_index(queries, path, k=5, **kw)
    if family == "ivf":
        return similarity.query_ivf_index(queries, path, k=5, n_probe=3, **kw)
    return pq.query_ivfpq_index(queries, path, k=5, n_probe=3, **kw)


def _served(df):
    return sorted(tuple(r) for r in df.collect())


def _rows(spark, path):
    """The stored rows, arrays as tuples, for equality checks."""
    df = spark.read.parquet(f"{path}/{index_codec(path).rows}")
    return sorted(
        tuple(tuple(v) if isinstance(v, (list, bytearray)) else v for v in r)
        for r in df.select(*sorted(df.columns)).collect()
    )


def _rebuild(spark, family, path, corpus, **kw):
    """``rebuild_index`` at the saved geometry unless ``kw`` overrides
    it. IVF-PQ codes cannot give the vectors back, so it gets the
    corpus, and its list count (re-sized by default) is pinned."""
    if family == "ivfpq":
        kw = {"corpus": corpus, "n_centroids": 8, **kw}
    similarity.rebuild_index(spark, path, **kw)


@pytest.mark.parametrize("family", FAMILIES)
def test_saved_index_serves_like_in_session_and_prunes(
    spark, emb, queries, tmp_path, family
):
    """A saved index serves what the in-session operator computes on
    the same corpus, bit for bit, and its scan prunes on the outer
    layout column."""
    path = str(tmp_path / family)
    if family == "ivf":
        similarity.save_ivf_index(emb, path, n_centroids=8)
        served = similarity.query_ivf_index(queries, path, k=5, n_probe=2)
        in_session = similarity.ann_ivf_topk(
            emb, queries=queries, k=5, n_centroids=8, n_probe=2
        )
    elif family == "lsh":
        # the corpus as the query batch: self-ANN, no bucket capped
        similarity.save_lsh_index(emb, path, n_planes=6, n_tables=8)
        served = similarity.query_lsh_index(emb, path, k=5)
        in_session = similarity.ann_lsh_topk(emb, k=5, n_planes=6, n_tables=8)
    else:
        # every list probed: IVF routing only prunes, so the served
        # ranking is flat ADC over the same codes
        pq.save_ivfpq_index(emb, path, n_centroids=8, n_codes=64)
        served = pq.query_ivfpq_index(queries, path, k=5, n_probe=8)
        codes = spark.read.parquet(f"{path}/lists").select(
            "vec_id", "pq_codes"
        )
        in_session = pq.pq_topk(
            codes, queries, pq._load_pq_codebooks(path), k=5
        )
    got = _served(served)
    assert got and got == _served(in_session)
    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain("formatted")
    outer = index_codec(path).layout[0]
    assert any(
        "PartitionFilters" in line and outer in line
        for line in buf.getvalue().splitlines()
    ), buf.getvalue()[:2000]


@pytest.mark.parametrize("family", FAMILIES)
def test_append_then_compact_equals_build_once(
    spark, emb, queries, tmp_path, family
):
    """append == a build whose training is pinned to the original
    corpus; compaction keeps that (IVF, IVF-PQ: a pure rewrite) or
    restores it (LSH: batch-local caps overfill, the global re-cap
    brings back exactly the build-once memberships)."""
    original = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    incr, once = str(tmp_path / "incr"), str(tmp_path / "once")
    _save(family, original, incr)
    similarity.append_to_index(batch, incr)
    _save(family, emb, once, train_df=original)
    if family != "lsh":
        assert _rows(spark, incr) == _rows(spark, once)
    similarity.compact_index(spark, incr)
    assert _rows(spark, incr) == _rows(spark, once)
    got = _served(_serve(family, queries, incr))
    assert got and got == _served(_serve(family, queries, once))


@pytest.mark.parametrize("family", FAMILIES)
def test_tombstoned_ids_vanish_then_compact_removes_them(
    spark, emb, queries, tmp_path, family
):
    path = str(tmp_path / family)
    _save(family, emb, path)
    victims = sorted({r[2] for r in _served(_serve(family, queries, path))})[:3]
    similarity.delete_from_index(spark, path, victims)
    after = _served(_serve(family, queries, path))
    assert after and not {r[2] for r in after} & set(victims)

    similarity.compact_index(spark, path)
    assert not os.path.exists(f"{path}/tombstones")
    assert _served(_serve(family, queries, path)) == after
    stored_ids = {r.vec_id for r in spark.read.parquet(
        f"{path}/{index_codec(path).rows}").select("vec_id").collect()}
    assert stored_ids and not stored_ids & set(victims)


@pytest.mark.parametrize("family", FAMILIES)
def test_append_keeps_the_stored_encoding(
    spark, emb, tmp_path, family
):
    """Appends follow the stored payload (int8 for a quantized IVF or
    LSH store, smallint codes for IVF-PQ) without caller flags, and
    the appended vectors serve: each is its own nearest neighbor."""
    path = str(tmp_path / family)
    # LSH uncapped: every appended vector keeps its memberships
    kw = {"ivf": {"quantize": True}, "ivfpq": {},
          "lsh": {"quantize": True, "max_bucket": 1024}}[family]
    _save(family, emb.where(F.col("vec_id") < 400), path, **kw)
    rows = f"{path}/{index_codec(path).rows}"
    before = spark.read.parquet(rows).dtypes
    similarity.append_to_index(emb.where(F.col("vec_id") >= 400), path)
    stored = spark.read.parquet(rows)
    assert sorted(stored.dtypes) == sorted(before)
    assert stored.select("vec_id").distinct().count() == emb.count()

    probe = emb.where(F.col("vec_id") >= 480).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    serve_kw = {"rescore": emb} if family == "ivfpq" else {}
    got = [r for r in _serve(family, probe, path, **serve_kw).collect()
           if r.rnk == 1]
    assert got and all(r.sim <= 1.000001 for r in got)
    selfs = sum(r.neighbor_id + 100000 == r.query_id for r in got)
    assert selfs >= 0.8 * 20, got


@pytest.mark.parametrize("family", FAMILIES)
def test_layouts_serve_identically_and_maintenance_keeps_them(
    spark, emb, tmp_path, family
):
    """The directory and flat row-store layouts serve the same rows;
    append, delete, compact and rebuild read the layout from the
    directory shape and keep it."""
    queries = emb.where(F.col("vec_id") < 10)
    base = emb.where(F.col("vec_id") < 450)
    paths = {dirs: str(tmp_path / str(dirs)) for dirs in (True, False)}
    for dirs, p in paths.items():
        _save(family, base, p, **{DIRS_KW[family]: dirs})
    got = _served(_serve(family, queries, paths[False]))
    assert got and got == _served(_serve(family, queries, paths[True]))

    codec = index_codec(paths[True])
    for dirs, p in paths.items():
        similarity.append_to_index(emb.where(F.col("vec_id") >= 450), p)
        similarity.delete_from_index(spark, p, [3])
        similarity.compact_index(spark, p)
        assert _stored_dirs(f"{p}/{codec.rows}", codec.layout) is dirs
    got = _served(_serve(family, queries, paths[False]))
    assert got and got == _served(_serve(family, queries, paths[True]))
    assert 3 not in {r[2] for r in got}

    for dirs, p in paths.items():
        _rebuild(spark, family, p, emb)
        assert _stored_dirs(f"{p}/{codec.rows}", codec.layout) is dirs
    assert _served(_serve(family, queries, paths[False])), "rebuild stopped serving"


@pytest.mark.parametrize("family", FAMILIES)
def test_maintain_compacts_and_only_reports_retrain(
    spark, emb, tmp_path, family
):
    """maintain_index is the idempotent cron one-shot: a healthy index
    is a no-op, compact-class debt runs ``compact_index``, and
    retrain-class recommendations are reported, never applied."""
    path = str(tmp_path / family)
    _save(family, emb.where(F.col("vec_id") < 400), path)
    healthy = similarity.maintain_index(spark, path)
    assert healthy["family"] == family and healthy["actions"] == []
    assert healthy["before"] == healthy["after"]

    similarity.append_to_index(emb.where(F.col("vec_id") >= 400), path)
    similarity.delete_from_index(spark, path, list(range(80)))
    # LSH tombstone_frac counts ids against MEMBERSHIP rows (one id in
    # up to n_tables partitions), hence the low threshold
    ran = similarity.maintain_index(spark, path, tombstone_warn=0.01)
    assert ran["actions"] == ["compact_index"]
    assert ran["before"]["n_tombstones"] == 80
    assert ran["after"]["n_tombstones"] == 0
    assert not any(
        r.startswith("compact:") for r in ran["after"]["recommendations"]
    )

    tight = similarity.maintain_index(spark, path, occupancy_warn=0.01)
    assert tight["actions"] == []
    hint = "rebuild_index(n_planes='auto')" if family == "lsh" else (
        "rebuild_index(corpus=" if family == "ivfpq"
        else "rebuild_index(n_centroids='auto')"
    )
    assert any(
        "outgrew" in r and hint in r for r in tight["before"]["recommendations"]
    )


# rebuild geometry per family and the build that must equal it
RETUNE = {
    "ivf": {"n_centroids": 6},
    "lsh": {"n_planes": 3, "n_tables": 6, "max_bucket": 24},
    "ivfpq": {"n_centroids": 5},
}


@pytest.mark.parametrize("family", FAMILIES)
def test_rebuild_equals_fresh_build_over_the_live_set(
    spark, emb, queries, tmp_path, family
):
    """rebuild == save over the live set with the new geometry: the
    appended batch is filed, tombstoned ids are gone with their dir,
    the stored conf carries over and the new geometry lands in it. A
    drifted batch that fixed-centroid appends piled into one list is
    re-spread. Rebuilding again with the stored geometry is a fixed
    point."""
    original = emb.where(F.col("vec_id") < 400)
    drift = emb.where(F.col("vec_id") >= 400).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x * F.lit(0.5) + F.lit(10.0)
        ).cast("array<float>").alias("embedding"),
    )
    live = original.where(~F.col("vec_id").isin(1, 2)).unionByName(drift)
    path, fresh = str(tmp_path / "live"), str(tmp_path / "fresh")
    # LSH uncapped, so the stored memberships carry every vector
    _save(family, original, path, **({"max_bucket": 1024}
                                     if family == "lsh" else {}))
    similarity.append_to_index(drift, path)
    similarity.delete_from_index(spark, path, [1, 2])
    skew = similarity.index_stats(spark, path)["skew"]

    _rebuild(spark, family, path, live, **RETUNE[family])
    assert not os.path.exists(f"{path}/tombstones")
    _save(family, live, fresh, **RETUNE[family])
    assert _rows(spark, path) == _rows(spark, fresh)
    got = _served(_serve(family, queries, path))
    assert got and got == _served(_serve(family, queries, fresh))
    for sub in index_codec(path).meta:
        assert read_metadata(f"{path}/{sub}").equals(
            read_metadata(f"{fresh}/{sub}")
        ), sub
    stats = similarity.index_stats(spark, path)
    assert stats["n_tombstones"] == 0 and stats["files_per_part"] <= 1.0
    assert stats["skew"] < skew

    before = _rows(spark, path)
    _rebuild(spark, family, path, live,
             **(RETUNE[family] if family == "ivfpq" else {}))
    assert _rows(spark, path) == before


@pytest.mark.parametrize("family", FAMILIES)
def test_auto_geometry_builds_and_rebuilds(spark, emb, tmp_path, family):
    """'auto' geometry at build resolves through the adaptive rule
    (bit-identical to an explicit build at the resolved value, which
    the LSH conf stores), and a rebuild with 'auto' re-sizes a pinned
    index to its live corpus."""
    n = emb.count()
    key = "n_planes" if family == "lsh" else "n_centroids"
    rule = similarity.adaptive_planes if family == "lsh" else (
        similarity.adaptive_centroids
    )
    kw = {"max_bucket": 1024} if family == "lsh" else {}
    auto, explicit, pinned = (str(tmp_path / s) for s in ("a", "e", "p"))
    _save(family, emb, auto, **{key: "auto"}, **kw)
    _save(family, emb, explicit, **{key: rule(n)}, **kw)
    assert _rows(spark, auto) == _rows(spark, explicit)
    if family == "lsh":
        assert _read_conf(f"{auto}/conf")["n_planes"] == rule(n) == 6
    else:
        assert read_metadata(f"{auto}/centroids").num_rows == rule(n) == 16

    _save(family, emb, pinned, **kw)
    _rebuild(spark, family, pinned, emb, **{key: "auto"})
    assert _rows(spark, pinned) == _rows(spark, auto)


@pytest.mark.parametrize("family", FAMILIES)
def test_rebuild_keeps_conf_and_column_names(spark, emb, tmp_path, family):
    """A rebuild keeps the stored conf and the id and vector column
    names of an index saved with non-default ones (the CLI passes
    neither), so later deletes and compactions keep composing."""
    named = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("vec")
    )
    path = str(tmp_path / family)
    _save(family, named, path, id_col="item_id", vec_col="vec")
    codec = index_codec(path)
    meta = {s: read_metadata(f"{path}/{s}") for s in codec.meta}
    _rebuild(spark, family, path, named, id_col="item_id", vec_col="vec")
    rows = f"{path}/{codec.rows}"
    cols = spark.read.parquet(rows).columns
    assert "item_id" in cols and "vec_id" not in cols
    if family != "ivfpq":
        assert "vec" in cols and "embedding" not in cols
    for sub, table in meta.items():
        assert read_metadata(f"{path}/{sub}").equals(table), sub

    similarity.delete_from_index(spark, path, [0], id_col="item_id")
    similarity.compact_index(spark, path)
    assert spark.read.parquet(rows).where(F.col("item_id") == 0).count() == 0


@pytest.mark.parametrize("family", FAMILIES)
def test_rebuild_keeps_pointer_mode_and_heals_a_crash(
    spark, emb, queries, tmp_path, family
):
    """Every subdir converted to pointer mode stays a pointer through a
    rebuild and the index keeps serving. A rebuild re-run after a
    crash — a subdir caught inside its swap's rename window, a
    half-written staged copy — heals: detection and reads fall back to
    the ``.__old__`` copies (an append refuses to start a partial
    store meanwhile), and every leftover is gone after."""
    served = str(tmp_path / "served")
    _save(family, emb, served)
    codec = index_codec(served)
    for sub in codec.subdirs:
        enable_pointer_swaps(f"{served}/{sub}")
    _rebuild(spark, family, served, emb)
    assert all(os.path.islink(f"{served}/{s}") for s in codec.subdirs)
    assert _serve(family, queries, served).count() > 0

    path = str(tmp_path / "crashed")
    _save(family, emb, path)
    conf = {s: read_metadata(f"{path}/{s}") for s in codec.meta}
    for sub in (codec.rows, codec.meta[-1]):
        shutil.move(f"{path}/{sub}", f"{path}/{sub}.__old__")
    os.makedirs(f"{path}.__staged__/{codec.rows}")
    assert index_codec(path) is codec
    with pytest.raises(FileNotFoundError, match="interrupted swap"):
        similarity.append_to_index(emb.where(F.col("vec_id") < 3), path)
    _rebuild(spark, family, path, emb)
    assert sorted(os.listdir(path)) == sorted(codec.subdirs)
    assert not os.path.exists(f"{path}.__staged__")
    for sub, table in conf.items():
        assert read_metadata(f"{path}/{sub}").equals(table), sub
    assert _served(_serve(family, queries, path)) == _served(
        _serve(family, queries, served)
    )


def test_rebuild_rejects_what_it_cannot_build(spark, emb, tmp_path):
    """Geometry of another family, an IVF-PQ rebuild without its
    corpus, a missing index, and a live set that is empty: each raises
    and leaves the index as it was."""
    path = str(tmp_path / "ivf")
    _save("ivf", emb, path)
    with pytest.raises(ValueError, match="n_tables"):
        similarity.rebuild_index(spark, path, n_tables=8)
    pq_path = str(tmp_path / "ivfpq")
    _save("ivfpq", emb, pq_path)
    with pytest.raises(ValueError, match="corpus"):
        similarity.rebuild_index(spark, pq_path)
    with pytest.raises(ValueError, match="no IVF, LSH or IVF-PQ index"):
        similarity.compact_index(spark, str(tmp_path / "missing"))
    lsh = str(tmp_path / "lsh")
    _save("lsh", emb.where(F.col("vec_id") < 20), lsh)
    similarity.delete_from_index(spark, lsh, list(range(20)))
    with pytest.raises(ValueError, match="EMPTY"):
        similarity.rebuild_index(spark, lsh)
    assert spark.read.parquet(f"{lsh}/buckets").count() > 0
    assert not os.path.exists(f"{lsh}.__staged__")
