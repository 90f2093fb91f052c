"""The ANN index store: every lifecycle step that does not depend on
the index family — pinning, family detection, the stored layout, the
row writer, tombstones, append, delete, compact and rebuild. Each
family plugs in one ``Codec`` (IVF and LSH in ``similarity``, IVF-PQ
in ``pq``). The store/codec split and the rebuild commit protocol are
described in the index-store section of ``similarity``'s module
docstring."""

from __future__ import annotations

import numbers
import os
import pathlib
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.sources.readers import (
    footer_schema,
    read_metadata,
)
from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
    _swap_in,
    atomic_swap_write,
    pin_generation,
    pin_generations,
    write_metadata,
)


@dataclass(frozen=True)
class Codec:
    """What one index family tells the store.

    - ``rows``: the row-store subdir; ``layout``: its layout columns,
      outermost first; ``meta``: the metadata subdirs, the LAST of
      which identifies the family (see ``index_codec``).
    - ``file(vecs, pins, stored_schema, id_col, vec_col)``: new
      (id, vector) rows assigned and encoded in the stored form.
    - ``save``: the family's ``save_*_index``; ``stored_conf(pins)``:
      the build settings a rebuild keeps, read from the metadata;
      ``geometry``: the settings a rebuild may override; ``dirs_kw``:
      the ``save`` keyword that picks the stored layout.
    - ``recap(rows, pins, id_col)``: an extra compaction step.
    - ``copies``: the store holds an id once per table.
    - ``needs_corpus``: the rows cannot give the vectors back, so a
      rebuild needs the source embeddings."""

    family: str
    rows: str
    layout: tuple[str, ...]
    meta: tuple[str, ...]
    geometry: frozenset[str]
    dirs_kw: str
    file: Callable
    save: Callable
    stored_conf: Callable
    recap: Callable | None = None
    copies: bool = False
    needs_corpus: bool = False

    @property
    def subdirs(self) -> tuple[str, ...]:
        return (self.rows, *self.meta)


def _present(path: str) -> bool:
    return os.path.lexists(path) or os.path.lexists(f"{path}.__old__")


def index_codec(path: str) -> Codec:
    """The codec of the index at ``path``, from its directory shape.
    IVF-PQ is checked first because it shares IVF's centroids and
    LSH's conf; a subdir caught inside a swap's rename window counts
    through its ``.__old__`` copy."""
    from hadoop_2_10_0_src_mapreduce_spark.operators import pq, similarity

    for codec in (pq.IVFPQ_CODEC, similarity.IVF_CODEC, similarity.LSH_CODEC):
        if _present(f"{path}/{codec.meta[-1]}"):
            return codec
    raise ValueError(f"no IVF, LSH or IVF-PQ index found at {path}")


def _pin_index(path: str, names: tuple[str, ...]) -> dict[str, str]:
    """Pin the subdirs one query reads as ONE consistent generation
    set (``sources.writers.pin_generations``): pinned one at a time, a
    rebuild's swaps landing between the pins would serve metadata of
    one generation over rows of another — wrong neighbors, not an
    error. A subdir caught inside a swap's rename window reads through
    its ``.__old__`` copy."""
    live = {
        n: f"{n}.__old__"
        if not os.path.lexists(f"{path}/{n}")
        and os.path.lexists(f"{path}/{n}.__old__")
        else n
        for n in names
    }
    pins = pin_generations(path, tuple(live.values()))
    return {n: pins[m] for n, m in live.items()}


def _meta_table(cols: dict[str, pa.Array]) -> pa.Table:
    """Metadata columns as a table with NON-NULL top-level fields —
    the parquet schema the index's metadata files have always had."""
    return pa.Table.from_arrays(
        list(cols.values()),
        schema=pa.schema(
            [pa.field(n, a.type, nullable=False) for n, a in cols.items()]
        ),
    )


def _conf_table(**conf) -> pa.Table:
    """One conf row: flags are ``boolean``, every other value ``int``."""
    return _meta_table({
        k: pa.array([v], pa.bool_() if isinstance(v, bool) else pa.int32())
        for k, v in conf.items()
    })


def _read_conf(conf_dir: str) -> dict:
    """The single conf row of a (pinned) conf dir; ``{}`` for an index
    written before it had one."""
    if not os.path.exists(conf_dir):
        return {}
    return read_metadata(conf_dir).to_pylist()[0]


def _index_id_col(df: DataFrame, layout_cols: tuple[str, ...]) -> str:
    """The id column of a stored index frame: the first SCALAR column
    that is not part of the layout (vector payloads are arrays, so
    excluding array types makes this independent of column order)."""
    return next(
        f.name
        for f in df.schema.fields
        if f.name not in layout_cols
        and not f.name.startswith("_")
        and not f.dataType.simpleString().startswith("array")
    )


def _index_vec_col(df: DataFrame, layout_cols: tuple[str, ...]) -> str:
    """The stored float-vector column of an index frame: the
    array-typed field outside the layout, excluding the quantized
    payload (``qvec``), so maintenance works on indexes saved with a
    custom ``vec_col`` (the CLI passes none)."""
    return next(
        f.name
        for f in df.schema.fields
        if f.name not in layout_cols
        and f.name != "qvec"
        and f.dataType.simpleString().startswith("array")
    )


def _dequantized(
    stored: DataFrame, id_col: str, vec_col: str, keep: tuple[str, ...]
) -> DataFrame:
    """An int8 row store's vectors as ``array<double>`` (qvec·scale,
    ``dequantize_embeddings``' expression) with the ``keep`` columns;
    a float store passes through unchanged."""
    if "qvec" not in stored.columns:
        return stored
    return stored.select(
        F.col(id_col),
        F.transform(
            "qvec", lambda q: q.cast("double") * F.col("scale")
        ).alias(vec_col),
        *keep,
    )


# --- the stored layout and the one row writer ---------------------------
# Two shapes per family: "dirs" partitions the row store by every layout
# column (a directory per list, or per (table, bucket)); "flat"
# partitions by all but the last and sorts the last inside each file, so
# the probed-value filter skips row groups instead of directories.


def _stored_dirs(rows_dir: str, layout: tuple[str, ...]) -> bool:
    """The one stored-layout rule: "dirs" when the row store has a
    directory for its LAST layout column, "flat" otherwise. Read from
    the directory shape, so every maintenance step keeps the layout the
    index was saved with."""
    d = pathlib.Path(rows_dir)
    for col in layout:
        d = next(
            (c for c in d.iterdir()
             if c.is_dir() and c.name.startswith(f"{col}=")),
            None,
        )
        if d is None:
            return False
    return True


def _clustered(
    df: DataFrame, layout: tuple[str, ...], dirs: bool
) -> tuple[DataFrame, tuple[str, ...]]:
    """Rows clustered for a write in the given layout, and the
    partition columns of that write. One task owns each partition, so
    every directory gets ONE file set (the small-files debt
    ``index_stats`` flags). The flat layout sorts by every layout
    column: the file writer wants rows ordered by its partition
    columns and would otherwise add its own sort, leaving the last
    column's order — which the row-group skip needs — to chance."""
    part = layout if dirs else layout[:-1]
    df = df.repartition(*(part or layout[:1]))
    return (df if dirs else df.sortWithinPartitions(*layout)), part


def _write_rows(
    df: DataFrame, dst: str, layout: tuple[str, ...], dirs: bool, *,
    mode: str,
) -> None:
    df, part = _clustered(df, layout, dirs)
    w = df.write.mode(mode)
    (w.partitionBy(*part) if part else w).parquet(dst)


# --- tombstones ---------------------------------------------------------


def _tombstone_df(spark: SparkSession, path: str):
    """The tombstoned-id frame, or None when no deletes exist. The scan
    takes its schema from a file footer, so it runs no inference job."""
    tomb = f"{path}/tombstones"
    if not os.path.exists(tomb):
        return None
    tomb = pin_generation(tomb)
    schema = footer_schema(tomb)
    if schema is None:
        return None
    return spark.read.schema(schema).parquet(tomb).select("id").distinct()


def _apply_tombstones(stored: DataFrame, path: str, id_col: str) -> DataFrame:
    tomb = _tombstone_df(stored.sparkSession, path)
    if tomb is None:
        return stored
    return stored.join(
        tomb.withColumnRenamed("id", id_col), id_col, "left_anti"
    )


def _drop_tombstones(path: str) -> None:
    """Compact and rebuild have applied every tombstone."""
    tomb = f"{path}/tombstones"
    if os.path.exists(tomb):
        shutil.rmtree(tomb)


def delete_from_index(
    spark: SparkSession,
    path: str,
    ids,
    *,
    id_col: str = "vec_id",
) -> None:
    """TOMBSTONE ids out of an index of any family: append them to
    ``<path>/tombstones``. Every serve anti-joins the stored rows
    against it, so deleted vectors stop appearing IMMEDIATELY, without
    locating or rewriting their list/bucket files (an id lives in one
    IVF list but up to n_tables LSH buckets — one mechanism covers
    both). ``compact_index`` and ``rebuild_index`` remove them
    physically.

    ``ids`` is a DataFrame carrying ``id_col`` (corpus-scale deletes
    stay distributed) or a plain Python iterable for the small case,
    which the driver appends as one file without a Spark job: integer
    ids (Python or numpy, not bool) are stored as ``bigint``, anything
    else as ``string``."""
    tomb = f"{path}/tombstones"
    if isinstance(ids, DataFrame):
        ids.select(F.col(id_col).alias("id")).distinct().write.mode(
            "append"
        ).parquet(tomb)
        return
    ids = list(ids)
    if not ids:  # empty delete: no tombstone file, no-op
        return
    if isinstance(ids[0], numbers.Integral) and not isinstance(ids[0], bool):
        col = pa.array([int(i) for i in ids], pa.int64())
    else:
        col = pa.array(ids, pa.string())
    write_metadata(tomb, _meta_table({"id": col}), append=True)


# --- append / compact / rebuild -----------------------------------------


def append_to_index(
    new_emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a NEW vector batch into an existing index WITHOUT
    retraining or rewriting it: the codec files each vector under the
    stored metadata (IVF: home list under the fixed centroids; LSH:
    md5-plane buckets from the stored conf, capped within the batch;
    IVF-PQ: home list plus codes under the fixed codebooks), encodes it
    like the stored rows (int8 when quantized, packed codes when
    packed, else the stored vector type — a second physical type in
    one partition fails every later read) and appends it in the stored
    layout. Only the batch is read; the stored corpus is not.

    The filing function never moves: appending equals a build whose
    training is pinned to the original corpus
    (``save_*_index(union, train_df=original)``); an LSH bucket hot
    across appends can exceed ``max_bucket`` until ``compact_index``
    re-applies the global cap. Under real drift, ``rebuild_index``.
    Small appends accumulate small files — ``compact_index`` folds
    them. Append assumes NOVEL ids; to update a vector,
    ``delete_from_index`` it first."""
    codec = index_codec(path)
    live = f"{path}/{codec.rows}"
    if not os.path.lexists(live):
        # appending would start a partial store the next swap discards
        raise FileNotFoundError(
            f"{live} is inside an interrupted swap; re-run the compaction "
            "or rebuild first"
        )
    pins = _pin_index(path, codec.subdirs)
    schema = new_emb.sparkSession.read.parquet(pins[codec.rows]).schema
    vecs = new_emb.select(id_col, vec_col)
    rows = codec.file(vecs, pins, schema, id_col, vec_col)
    dirs = _stored_dirs(pins[codec.rows], codec.layout)
    _write_rows(rows, live, codec.layout, dirs, mode="append")


def compact_index(spark: SparkSession, path: str) -> None:
    """Rewrite the row store of an index of any family without its
    tombstoned ids, as one file set per partition (the small-files
    pass for append-heavy indexes), then drop the tombstone dir. LSH
    also re-applies the GLOBAL bucket cap (its codec's ``recap``), so
    appends followed by compaction equal the build-once index. The
    rewrite goes through ``atomic_swap_write``: readers see the old
    file set or the new one, and a rewrite that would leave the store
    EMPTY is refused."""
    codec = index_codec(path)
    pins = _pin_index(path, codec.subdirs)
    df = spark.read.parquet(pins[codec.rows])
    id_col = _index_id_col(df, codec.layout + ("qvec", "scale"))
    df = _apply_tombstones(df, path, id_col)
    if codec.recap is not None:
        df = codec.recap(df, pins, id_col)
    df, part = _clustered(
        df, codec.layout, _stored_dirs(pins[codec.rows], codec.layout)
    )
    atomic_swap_write(df, f"{path}/{codec.rows}", part)
    _drop_tombstones(path)


def rebuild_index(
    spark: SparkSession,
    path: str,
    *,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **geometry,
) -> None:
    """RETRAIN an index of any family on its live vectors — the action
    ``index_stats``' retrain, occupancy and recall recommendations
    name. Also a compaction: tombstoned ids are left out and the
    tombstone dir is dropped.

    Vectors come from ``corpus`` (id_col, vec_col) when given, else
    from the row store (LSH copies collapsed to one per id; an int8
    store is dequantized, error ≤ scale/2 per component; the stored
    id and vector column names are kept). IVF-PQ stores codes, which
    cannot retrain, so it requires ``corpus``. A vector an LSH cap
    dropped at write time is gone from the store; only ``corpus``
    brings it back.

    ``geometry`` overrides the stored build settings: ``n_centroids``,
    ``n_iters``, ``max_train`` (IVF, IVF-PQ) or ``n_planes``,
    ``n_tables``, ``max_bucket`` (LSH); "auto" re-sizes to the live
    corpus, and None keeps the stored value. A key of another family
    raises ValueError. Everything else carries over: quantization, the
    stored layout, the LSH dim, the IVF-PQ code geometry and residual
    flag. IVF keeps its list count by default; IVF-PQ re-sizes it.

    The commit: the family's ``save_*_index`` builds the new index in
    the sibling ``<path>.__staged__``, and each subdir moves into the
    live path through the directory swap — the row store first, then
    the metadata — so a pointer-mode subdir stays pointer-mode. A
    crash anywhere heals by re-running the rebuild: the staged copy is
    rebuilt, a swap caught in its rename window is finished, and the
    row store always holds the full live vector set."""
    codec = index_codec(path)
    geometry = {k: v for k, v in geometry.items() if v is not None}
    if set(geometry) - codec.geometry:
        raise ValueError(
            f"rebuild_index: {sorted(set(geometry) - codec.geometry)} do "
            f"not apply to a {codec.family} index (it takes "
            f"{sorted(codec.geometry)})"
        )
    pins = _pin_index(path, codec.subdirs)
    stored = spark.read.parquet(pins[codec.rows])
    quantized = "qvec" in stored.columns
    if corpus is not None:
        corpus = _apply_tombstones(corpus.select(id_col, vec_col), path, id_col)
    elif codec.needs_corpus:
        raise ValueError(
            f"rebuild_index: a {codec.family} index stores codes, which "
            "cannot retrain; pass the source embeddings as corpus="
        )
    else:
        id_col = _index_id_col(stored, codec.layout + ("qvec", "scale"))
        live = _apply_tombstones(stored, path, id_col)
        if codec.copies:
            live = live.dropDuplicates([id_col])
        if not quantized:
            vec_col = _index_vec_col(stored, codec.layout)
        corpus = _dequantized(live, id_col, vec_col, ()).select(id_col, vec_col)
    kw = {
        **codec.stored_conf(pins),
        **geometry,
        codec.dirs_kw: _stored_dirs(pins[codec.rows], codec.layout),
    }
    if quantized:
        kw["quantize"] = True
    staged = f"{path}.__staged__"
    shutil.rmtree(staged, ignore_errors=True)
    corpus = corpus.persist()
    try:
        codec.save(corpus, staged, id_col=id_col, vec_col=vec_col, **kw)
    finally:
        corpus.unpersist()
    if not any(pathlib.Path(staged, codec.rows).rglob("*.parquet")):
        shutil.rmtree(staged)
        raise ValueError(
            f"rebuild_index: the rebuilt {path} would be EMPTY "
            "(everything deleted/tombstoned); remove the directory "
            "explicitly instead"
        )
    for sub in codec.subdirs:  # a pointer flip, or crash-healing renames
        _swap_in(
            f"{path}/{sub}",
            lambda dst, src=f"{staged}/{sub}": shutil.move(src, dst),
        )
    shutil.rmtree(staged)
    _drop_tombstones(path)
