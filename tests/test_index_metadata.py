"""Index-store metadata on the driver: conf, centroids, codebooks and
list-of-ids tombstones are written and read with pyarrow, in the same
on-disk format Spark wrote them in before — same directories, part
files, column names and Spark types — so Spark and DuckDB read the
new files and Spark-written indexes keep serving."""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.operators import pq, similarity
from hadoop_2_10_0_src_mapreduce_spark.sources.readers import (
    local_values_df,
    read_metadata,
)
from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
    enable_pointer_swaps,
    write_metadata,
)
from tests.conftest import SF_SMALL

# the schema Spark reads from each metadata directory (every field
# nullable, as Spark reads any parquet file)
SCHEMAS = {
    "lsh/conf": "n_planes int, n_tables int, dim int, max_bucket int, "
    "bucket_dirs boolean",
    "ivf/centroids": "list_id int, centroid array<double>",
    "ivfpq/conf": "n_subspaces int, n_codes int, n_codes_trained int, "
    "residual boolean",
    "ivfpq/centroids": "list_id int, centroid array<double>",
    "ivfpq/codebooks": "subspace int, code int, codeword array<double>",
    "lsh/tombstones": "id bigint",
    "ivf/tombstones": "id string",
}


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _save(family, emb, path):
    if family == "lsh":
        similarity.save_lsh_index(emb, path, n_planes=4, n_tables=4)
    elif family == "ivf":
        similarity.save_ivf_index(emb, path, n_centroids=4)
    else:
        pq.save_ivfpq_index(
            emb, path, n_centroids=4, n_subspaces=8, n_codes=16,
            residual=True,
        )


def _jobs_in(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"metadata-jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, "metadata job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_dirs_keep_spark_schema_and_layout(spark, emb, tmp_path):
    for family in ("lsh", "ivf", "ivfpq"):
        _save(family, emb, str(tmp_path / family))
    similarity.delete_from_index(spark, str(tmp_path / "lsh"), [1, 2, 3])
    similarity.delete_from_index(spark, str(tmp_path / "ivf"), ["a", "b"])
    for sub, ddl in SCHEMAS.items():
        d = str(tmp_path / sub)
        expected = spark.createDataFrame([], ddl).schema
        assert spark.read.parquet(d).schema == expected, sub
        names = sorted(os.listdir(d))
        assert "_SUCCESS" in names
        parts = [n for n in names if n != "_SUCCESS"]
        assert parts and all(
            n.startswith("part-") and n.endswith(".snappy.parquet")
            for n in parts
        ), names
        # DuckDB reads the driver-written files with the same columns
        cols = duckdb.sql(
            f"SELECT * FROM read_parquet('{d}/*.parquet') LIMIT 1"
        ).columns
        assert cols == expected.fieldNames(), sub
    # values survive bit for bit: the same numbers Spark reads back
    books = pq._load_pq_codebooks(str(tmp_path / "ivfpq"))
    rows = spark.read.parquet(str(tmp_path / "ivfpq/codebooks")).collect()
    assert all(
        list(books[r.subspace, r.code]) == list(r.codeword) for r in rows
    )


def _write_as_spark(spark, path: str, family: str) -> None:
    """Rewrite an index's metadata dirs the way Spark wrote them before
    (one VALUES relation per dir, one task, overwrite)."""
    for sub, ddl in SCHEMAS.items():
        fam, name = sub.split("/")
        if fam != family or name == "tombstones":
            continue
        d = f"{path}/{name}"
        rows = [tuple(r.values()) for r in read_metadata(d).to_pylist()]
        shutil.rmtree(d)
        local_values_df(spark, rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)


@pytest.mark.parametrize("family", ["lsh", "ivfpq"])
def test_spark_written_metadata_still_serves(spark, emb, tmp_path, family):
    """An index whose metadata Spark wrote serves, appends, deletes and
    compacts exactly like one written on the driver, including a
    tombstone dir that mixes Spark-written and driver-written files."""
    query, append, compact = {
        "lsh": (
            lambda q, p: similarity.query_lsh_index(q, p, k=5),
            similarity.append_to_lsh_index,
            similarity.compact_index,
        ),
        "ivfpq": (
            lambda q, p: pq.query_ivfpq_index(q, p, k=5, n_probe=2),
            pq.append_to_ivfpq_index,
            similarity.compact_index,
        ),
    }[family]
    base, extra = emb.where("vec_id < 400"), emb.where("vec_id >= 400")
    queries = emb.where("vec_id < 12").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    _save(family, base, new)
    _save(family, base, old)
    _write_as_spark(spark, old, family)
    # the first tombstone batch: Spark-written in the old index
    first = [0, 5, 9]
    similarity.delete_from_index(spark, new, first)
    local_values_df(spark, [(i,) for i in first], "id bigint").write.mode(
        "append"
    ).parquet(f"{old}/tombstones")

    as_rows = lambda df: sorted(tuple(r) for r in df.collect())
    for p in (new, old):
        append(extra, p)
        similarity.delete_from_index(spark, p, [7, 401, 450])
    served = as_rows(query(queries, new))
    assert served and served == as_rows(query(queries, old))
    assert not {0, 5, 7, 9, 401, 450} & {r[2] for r in served}
    stats = [similarity.index_stats(spark, p) for p in (new, old)]
    assert stats[0] == stats[1] and stats[0]["n_tombstones"] == 6
    for p in (new, old):
        compact(spark, p)
        assert not os.path.exists(f"{p}/tombstones")
    assert as_rows(query(queries, new)) == as_rows(query(queries, old))


def test_list_delete_runs_no_spark_job_and_leaves_no_temp_file(
    spark, emb, tmp_path
):
    path = str(tmp_path / "lsh")
    _save("lsh", emb, path)
    assert _jobs_in(
        spark, lambda: similarity.delete_from_index(spark, path, [1, 2, 3])
    ) == 0
    assert _jobs_in(
        spark, lambda: similarity.delete_from_index(spark, path, [4])
    ) == 0
    # the tombstone scan takes its schema from a footer: no inference job
    assert _jobs_in(
        spark, lambda: similarity._tombstone_df(spark, path)
    ) == 0
    names = os.listdir(f"{path}/tombstones")
    assert not [n for n in names if n.startswith(".")], names
    assert sorted(
        r.id for r in similarity._tombstone_df(spark, path).collect()
    ) == [1, 2, 3, 4]
    # control: the same job group does see a Spark-side delete
    ids = emb.where("vec_id < 3").select("vec_id")
    assert _jobs_in(
        spark, lambda: similarity.delete_from_index(spark, path, ids)
    ) > 0


def test_list_delete_takes_numpy_ids_as_bigint(spark, emb, tmp_path):
    """numpy integers are integer ids: stored as bigint, applied by the
    serve path, and still written without a Spark job."""
    import numpy as np
    import pyarrow as pa

    path = str(tmp_path / "lsh")
    _save("lsh", emb, path)
    ids = np.array([3, 5])
    assert _jobs_in(
        spark, lambda: similarity.delete_from_index(spark, path, list(ids))
    ) == 0
    assert _jobs_in(
        spark,
        lambda: similarity.delete_from_index(
            spark, path, np.array([7], dtype=np.int32)
        ),
    ) == 0
    assert read_metadata(f"{path}/tombstones").schema.field("id").type == (
        pa.int64()
    )
    assert sorted(
        r.id for r in similarity._tombstone_df(spark, path).collect()
    ) == [3, 5, 7]
    served = similarity.query_lsh_index(
        emb.where("vec_id < 12"), path, k=5
    ).collect()
    assert served and not {3, 5, 7} & {r.neighbor_id for r in served}


def test_write_metadata_failure_leaves_no_partial_file(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = str(tmp_path / "tombstones")
    table = pa.table({"id": pa.array([1], pa.int64())})
    write_metadata(d, table, append=True)

    def torn(tbl, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(papq, "write_table", torn)
    with pytest.raises(OSError, match="disk full"):
        write_metadata(d, table, append=True)
    monkeypatch.undo()
    assert [n for n in os.listdir(d) if not n.startswith("part-")] == [
        "_SUCCESS"
    ]
    assert read_metadata(d).column("id").to_pylist() == [1]


def test_write_metadata_replaces_pointer_mode_dir_by_generation(tmp_path):
    import pyarrow as pa

    d = str(tmp_path / "conf")
    write_metadata(d, pa.table({"n": pa.array([1], pa.int32())}))
    enable_pointer_swaps(d)
    write_metadata(d, pa.table({"n": pa.array([2], pa.int32())}))
    assert os.path.islink(d)
    assert os.readlink(d).endswith(".__gen_1__")
    assert read_metadata(d).column("n").to_pylist() == [2]
    # the replaced generation stays as the grace copy
    assert read_metadata(f"{d}.__gen_0__").column("n").to_pylist() == [1]
