"""Writers — OutputFormat/committer parity (SURVEY.md §2.2).

Reference contract: ``OutputFormat + RecordWriter + OutputCommitter``
(CORE/mapreduce/OutputFormat.java, lib/output/* [H]). Spark file sinks
run the same two-phase FileOutputCommitter protocol (literally the same
class on Hadoop-backed filesystems), so sinks here are declarative
wrappers choosing format/layout:

- TextOutputFormat        → write_text_kv (key<TAB>value lines)
- SequenceFileOutputFormat→ parquet (write_table) — self-describing,
  compressed, splittable: the role SequenceFile played.
- MapFileOutputFormat     → write_sorted_bucketed (sorted + bucketed:
  point lookups become bucket-pruned joins)
- MultipleOutputs         → write_partitioned (content-derived dirs via
  partitionBy); exact per-record *filename* control closed in r8 by
  hadoop_style_filenames (post-commit rename pass — no custom
  FileCommitProtocol needed; SURVEY §4.3 item 4).
- LazyOutputFormat        → Spark file sinks already skip empty
  partitions; nothing to do.
- NullOutputFormat        → write_null (the 'noop' sink).
- DBOutputFormat          → write_jdbc (batched JDBC insert).
- BloomMapFile            → write_table(bloom_filter_cols=...) (parquet
  bloom filters play BloomMapFile's membership-test role, SURVEY §1.3).
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    *,
    mode: str = "error",
    compression: str = "zstd",
    bloom_filter_cols: tuple[str, ...] = (),
    bloom_ndv: int | None = None,
) -> None:
    """The engine's default sink: compressed parquet. ``mode='error'``
    mirrors OutputFormat.checkOutputSpecs failing on existing output.

    ``bloom_filter_cols`` is BloomMapFile parity (COMMON/io/
    BloomMapFile.java [H]): per-column parquet bloom filters let later
    point lookups skip row groups whose filter rejects the key — the
    same negative-membership shortcut BloomMapFile.get() used before
    touching the sorted index. ``bloom_ndv`` sizes the filter (expected
    distinct values per row group); leave None for parquet-mr's default
    (1M NDV → ~1.2 MB per column chunk — set it when keys per row group
    are far fewer, or the filters dominate small files)."""
    writer = df.write.mode(mode).option("compression", compression)
    for col in bloom_filter_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
        if bloom_ndv is not None:
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{col}", str(bloom_ndv)
            )
    writer.parquet(path)


def write_text_kv(
    df: DataFrame,
    path: str,
    key: str,
    value: str,
    *,
    sep: str = "\t",
    mode: str = "error",
    compression: str | None = None,
) -> None:
    """TextOutputFormat parity: ``key<TAB>value`` lines, optional codec."""
    out = df.select(F.concat_ws(sep, F.col(key).cast("string"), F.col(value).cast("string")).alias("value"))
    writer = out.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    *partition_cols: str,
    mode: str = "error",
) -> None:
    """MultipleOutputs parity: output directory derived from record
    content (generateFileNameForKeyValue → partitionBy dirs). At scale,
    prefer low-cardinality partition columns; high-cardinality here is
    the classic small-files regression."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_sorted_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    *,
    buckets: int = 32,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """MapFileOutputFormat parity: sorted, indexed KV file for point
    lookups. Bucketed+sorted table ≈ MapFile: a later equi-join on
    ``key`` against another table bucketed the same way skips the
    shuffle entirely (CompositeInputFormat's precondition, made durable).
    ``path`` makes it an external table (outside the warehouse dir)."""
    writer = df.write.mode(mode).bucketBy(buckets, key).sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def lookup_sorted_bucketed(
    spark: SparkSession,
    table_name: str,
    key: str,
    key_value,
) -> DataFrame:
    """MapFile point-lookup parity (MapFileOutputFormat#getEntry /
    MapFile.Reader.get, CORE/mapreduce/lib/output/MapFileOutputFormat.java
    [H]): fetch the rows for one key from a table written by
    ``write_sorted_bucketed``.

    Scale shape: an equality filter on the bucket column prunes the scan
    to ONE bucket's files (the plan shows ``SelectedBucketsCount: 1 out
    of N`` — asserted in tests/test_sources.py), so the lookup touches
    1/N of the data no matter how large the table is — the same index
    skip MapFile's in-memory key index bought the reference. Combine
    with ``write_table(bloom_filter_cols=...)`` for row-group-level
    negative lookups inside the bucket.

    Planning detail: Spark's DisableUnnecessaryBucketedScan rule strips
    bucket info from filter-only plans (it only values bucketing for
    exchange avoidance, not pruning), which would silently scan all N
    buckets. The lookup therefore plans inside an ISOLATED session
    (shared SparkContext + catalog, private SQL conf) with that rule
    off: the caller's session conf is never touched (no race with
    concurrently planning queries), and every DataFrame DERIVED from
    the returned one re-plans in the isolated session, so the bucket
    pruning holds for downstream filters/projections too — not just
    the first action. ONE isolated session is memoized per
    SparkContext (not one per call): a long-lived process doing many
    point lookups reuses it instead of accumulating sessions, at the
    documented cost that all lookups share that session's conf."""
    iso = _lookup_session(spark)
    return iso.table(table_name).where(F.col(key) == F.lit(key_value))


def _lookup_session(spark: SparkSession) -> SparkSession:
    """The memoized bucket-pruning session for ``lookup_sorted_bucketed``
    — created once per SparkContext, keyed weakly off the context so a
    stop/restart cycle gets a fresh session instead of a stale one."""
    ctx = spark.sparkContext
    iso = _LOOKUP_SESSIONS.get(ctx)
    if iso is None:
        iso = spark.newSession()
        iso.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        _LOOKUP_SESSIONS[ctx] = iso
    return iso


_LOOKUP_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def jdbc_write_options(
    url: str,
    table: str,
    *,
    batch_size: int = 1000,
    isolation_level: str = "READ_UNCOMMITTED",
    truncate: bool = False,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Option bag for ``write_jdbc``, split out so the plumbing is unit-
    testable without a database. Defaults mirror DBOutputFormat's
    posture: inserts batched per task (DBRecordWriter batched
    PreparedStatement.executeBatch; ``batchsize`` is Spark's knob) and
    no cross-task transaction (the reference committed per task;
    READ_UNCOMMITTED keeps partition writes independent)."""
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
        "truncate": str(truncate).lower(),
    }
    opts.update(properties or {})
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batch_size: int = 1000,
    isolation_level: str = "READ_UNCOMMITTED",
    truncate: bool = False,
    properties: dict[str, str] | None = None,
) -> None:
    """DBOutputFormat parity (CORE/mapreduce/lib/db/DBOutputFormat.java
    [H]): batched INSERTs into a JDBC table, one connection per
    partition — exactly Spark's JDBC sink. Writes are NOT atomic across
    partitions (neither were the reference's per-task commits); use
    ``truncate=True`` + ``mode='overwrite'`` to reload in place without
    dropping indexes. Tested end to end against embedded Derby (ships
    in Spark's jars): unit roundtrip + the driver-gate 'jdbc' branch of
    scan_fixed_multi both write through this sink."""
    writer = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_write_options(
        url,
        table,
        batch_size=batch_size,
        isolation_level=isolation_level,
        truncate=truncate,
        properties=properties,
    ).items():
        writer = writer.option(k, v)
    writer.save()


def write_sequence_file(df: DataFrame, path: str, key: str, value: str) -> None:
    """SequenceFileOutputFormat parity (CORE/mapreduce/lib/output/
    SequenceFileOutputFormat.java [H]): write (key, value) columns as a
    Hadoop SequenceFile, Writable classes inferred from the Python
    values. Interop escape hatch for legacy consumers — new data should
    go through ``write_table`` (parquet plays SequenceFile's role)."""
    df.select(key, value).rdd.map(tuple).saveAsSequenceFile(path)


def write_null(df: DataFrame) -> None:
    """NullOutputFormat parity: run the plan, discard the output
    (side-effect/metrics-only jobs). Spark ships a 'noop' sink."""
    df.write.format("noop").mode("overwrite").save()


def write_side_outputs(
    df: DataFrame,
    base_path: str,
    splits: dict[str, Column],
    *,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """MultipleOutputs NAMED side-outputs parity (beyond partitionBy's
    content-derived dirs): route rows to named outputs by predicate,
    one filtered write per name — `<base_path>/<name>/`.

    Predicates may overlap or under-cover (a row can go to several
    outputs or none), matching MultipleOutputs.write(name, ...)
    semantics where the mapper chooses destinations explicitly. Each
    write re-reads the source plan; persist ``df`` first if it is
    expensive and the split count is large."""
    for name, cond in splits.items():
        (
            df.where(cond)
            .write.mode(mode)
            .format(format)
            .save(f"{base_path}/{name}")
        )


_DATA_FILE_SUFFIXES = (".parquet", ".orc", ".txt", ".csv", ".json",
                       ".avro", ".gz", ".snappy", ".zstd", ".lz4")


def hadoop_style_filenames(
    path: str, *, name: str = "part", flatten: bool = False
) -> dict[str, list[str]]:
    """EXACT MultipleOutputs/FileOutputFormat FILENAME parity — the
    SURVEY §4.3 item 4 delta, closed as a pure-filesystem post-commit
    pass instead of a custom FileCommitProtocol (no JVM plugin needed,
    and the rename happens AFTER Spark's commit protocol has already
    made the write atomic, so crash-safety is unchanged: a crash
    mid-rename leaves a readable mix of old/new file NAMES, never
    partial data files).

    Spark's committed files are ``part-00000-<uuid>…``; Hadoop MR
    consumers expect ``part-r-00000`` / ``<derived>-r-00000``
    (FileOutputFormat#getUniqueFile, MultipleOutputs#write with a
    baseOutputPath derived from the record [H]). This pass renames the
    data files in every directory under ``path`` to
    ``{name}-r-{NNNNN}{ext}``, numbering deterministically in sorted
    current-name order (Spark's part numbers are already
    task-ordered, so ordering is stable across reruns of the same
    write).

    ``flatten=True`` additionally converts LEAF ``col=value``
    partition dirs into files named ``{value}-r-{NNNNN}{ext}`` in the
    parent directory — the precise generateFileNameForKeyValue layout
    (record-derived name as the file's base name). Ancestor partition
    levels keep their dirs but drop the ``col=`` prefix, matching a
    derived name containing '/'. The trade, stated: the flattened
    layout is for MR-style consumers; Spark readers of the flattened
    tree must recover the partition value from the file name
    (recursiveFileLookup) since the dir encoding is gone.

    Returns {directory: [new file names]} (directories as they exist
    AFTER the pass, i.e. post-ancestor-rename in flatten mode) for
    logging/tests. Skips ``_SUCCESS``/metadata files (kept in place,
    MR wrote one too) and files already carrying the ``-r-NNNNN``
    finalized form (so the pass is idempotent); a rename whose target
    name already exists raises instead of silently overwriting
    committed data (re-run after an append: new task files would
    otherwise land on the previously finalized numbers). The ``path``
    ROOT itself is never value-derived even when its name looks like
    ``col=value`` (pointing finalize at one partition subdir must not
    move files outside it); a flatten whose derived file name would
    start with '_' or '.' (e.g. the null partition
    ``__HIVE_DEFAULT_PARTITION__``) raises — both MR and Spark
    readers silently HIDE such files, which would be silent data
    loss, not parity."""
    import os
    import re as _re

    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"hadoop_style_filenames: no directory {path}"
        )
    root = os.path.realpath(path)
    renamed: dict[str, list[str]] = {}
    _finalized = _re.compile(r".+-r-\d{5}(\.[A-Za-z0-9.]+)?$")

    def is_data(f: str) -> bool:
        return (
            f.startswith("part-")
            and f.endswith(_DATA_FILE_SUFFIXES)
            and not _finalized.fullmatch(f)
        )

    def safe_replace(src: str, dst: str) -> None:
        if os.path.exists(dst):
            raise FileExistsError(
                f"refusing to overwrite {dst} — the directory holds "
                "previously finalized files; renumber or clean before "
                "re-finalizing"
            )
        os.replace(src, dst)

    def ext_of(f: str) -> str:
        # ".c000.snappy.parquet" -> ".snappy.parquet": keep the
        # codec/format extension, drop Spark's column-batch counter
        m = _re.search(r"((?:\.[a-z0-9]+)+)$", f)
        if not m:
            return ""
        segs = [s for s in m.group(1).split(".") if s]
        return "".join(
            f".{s}" for s in segs if not _re.fullmatch(r"c\d+", s)
        )

    def derived_name(dirpath: str) -> str | None:
        # value-derive STRICT subdirs only, never the root itself
        if os.path.realpath(dirpath) == root:
            return None
        m = _re.fullmatch(r"[^=]+=(.+)", os.path.basename(dirpath))
        if not m:
            return None
        val = m.group(1)
        if val.startswith(("_", ".")):
            raise ValueError(
                f"hadoop_style_filenames: flattening {dirpath} would "
                f"produce hidden file/dir name {val!r} (MR and Spark "
                "readers skip names starting with '_' or '.' — the "
                "null partition __HIVE_DEFAULT_PARTITION__ is the "
                "usual culprit); drop or rename that partition first"
            )
        return val

    def preflight() -> None:
        """Compute EVERY target name this pass would create and raise
        on any collision BEFORE the first rename (ADVICE r9): the pass
        has no rollback, so sibling partitions deriving the same name
        (k1=x/ and k2=x/ under one parent), or a target landing on a
        previously finalized file, must abort while the tree is still
        pristine rather than via safe_replace/os.replace mid-pass.
        Also hoists the hidden-derived-name refusal to pre-rename.
        Pure simulation — reads the tree, touches nothing."""
        for parent, dirnames_, filenames_ in os.walk(path):
            fname_p = derived_name(parent) if flatten else None
            planned: dict[str, str] = {}
            # entries this pass leaves under their current names
            surviving = set(filenames_) - {
                f for f in filenames_ if is_data(f)
            }
            if flatten:
                surviving |= {
                    d for d in dirnames_
                    if derived_name(os.path.join(parent, d)) is None
                }
            else:
                surviving |= set(dirnames_)

            def claim(target: str, source: str) -> None:
                prev = planned.get(target)
                if prev is not None:
                    raise FileExistsError(
                        f"hadoop_style_filenames: {source} and {prev} "
                        f"both resolve to "
                        f"{os.path.join(parent, target)} — refusing "
                        "before any rename (the pass has no rollback); "
                        "disambiguate the partition values or finalize "
                        "the subtrees separately"
                    )
                if target in surviving:
                    raise FileExistsError(
                        f"refusing to overwrite "
                        f"{os.path.join(parent, target)} (target of "
                        f"{source}) — the directory holds previously "
                        "finalized files; renumber or clean before "
                        "re-finalizing"
                    )
                planned[target] = source

            own = sorted(f for f in filenames_ if is_data(f))
            # a flatten-leaf's own files move to the PARENT namespace —
            # claimed below from the parent's iteration, not here
            if not (flatten and fname_p is not None and not dirnames_):
                for i, f in enumerate(own):
                    claim(
                        f"{name}-r-{i:05d}{ext_of(f)}",
                        os.path.join(parent, f),
                    )
            if not flatten:
                continue
            for d in sorted(dirnames_):
                sub = os.path.join(parent, d)
                val = derived_name(sub)
                if val is None:
                    continue
                entries = os.listdir(sub)
                has_subdir = any(
                    os.path.isdir(os.path.join(sub, e)) for e in entries
                )
                data = sorted(
                    e for e in entries
                    if not os.path.isdir(os.path.join(sub, e))
                    and is_data(e)
                )
                if not has_subdir and data:
                    for i, f in enumerate(data):
                        claim(
                            f"{val}-r-{i:05d}{ext_of(f)}",
                            os.path.join(sub, f),
                        )
                    leftover = [
                        e for e in entries
                        if not os.path.isdir(os.path.join(sub, e))
                        and not e.startswith((".", "_"))
                        and e not in set(data)
                    ]
                    if leftover:  # dir stays, ancestor pass renames it
                        claim(val, sub)
                else:
                    claim(val, sub)

    preflight()

    for dirpath, dirnames, filenames in sorted(os.walk(path, topdown=False)):
        files = sorted(f for f in filenames if is_data(f))
        if not files:
            continue
        fname = derived_name(dirpath) if flatten else None
        if flatten and fname is not None and not dirnames:
            # leaf partition dir -> files named after the VALUE in the
            # parent; the dir itself goes away
            dest_dir = os.path.dirname(dirpath)
            for i, f in enumerate(files):
                new = f"{fname}-r-{i:05d}{ext_of(f)}"
                safe_replace(
                    os.path.join(dirpath, f), os.path.join(dest_dir, new)
                )
                renamed.setdefault(dest_dir, []).append(new)
            leftover = [
                f for f in os.listdir(dirpath)
                if not f.startswith((".", "_"))
            ]
            if not leftover:
                for f in os.listdir(dirpath):  # committer crumbs
                    os.remove(os.path.join(dirpath, f))
                os.rmdir(dirpath)
        else:
            for i, f in enumerate(files):
                new = f"{name}-r-{i:05d}{ext_of(f)}"
                safe_replace(
                    os.path.join(dirpath, f), os.path.join(dirpath, new)
                )
                renamed.setdefault(dirpath, []).append(new)
    if flatten:
        # ancestor partition levels drop the "col=" prefix (a derived
        # name containing '/'); deepest-first so renames don't collide,
        # and the returned dict keys are translated to the FINAL paths
        dirs = sorted(
            (d for d, _, _ in os.walk(path)), key=len, reverse=True
        )
        for d in dirs:
            val = derived_name(d)
            if val is not None and os.path.isdir(d):
                newd = os.path.join(os.path.dirname(d), val)
                os.replace(d, newd)
                renamed = {
                    (newd + k[len(d):] if k == d or k.startswith(d + os.sep)
                     else k): v
                    for k, v in renamed.items()
                }
    return renamed


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: tuple[str, ...] = (),
    cluster_by: tuple[str, ...] = (),
    zorder: bool = False,
) -> int:
    """Compact a small-files parquet table in place — the maintenance
    pass every append-heavy table needs (streaming foreachBatch sinks
    and the incremental dedup index append one file set per
    micro-batch; a year of that is millions of kilobyte files whose
    OPEN cost dwarfs their scan cost). Rewrites the table into files
    of ~``target_file_bytes`` UNCOMPRESSED bytes, at least one per
    partition directory — the count comes from row counts times the
    Arrow width of a sample row, so it does not depend on how
    fragmented the input is (on-disk bytes do: every small file
    repeats its own dictionaries and footer) — preserving
    ``partition_cols`` layout, then
    atomically swaps directories (write to `<path>.__compact__`,
    rename old → `.__old__`, new → path, delete old) — readers either
    see the old file set or the new one, never a mix. Returns the
    planned output file count (the rewrite's task count).

    ``cluster_by`` SORT-CLUSTERS the rewrite: rows range-partition and
    sort on those columns, so every output file (and row group) covers
    a narrow, near-disjoint value range — parquet min/max statistics
    then let any engine SKIP files/row-groups for selective predicates
    on the clustered columns (the compaction-time half of Z-ordering;
    for one sort key it IS the optimal layout). Point lookups and
    range scans on an append-heavy table go from full-scan to
    touching O(result) files; pinned by a footer-statistics test.

    ``zorder=True`` with ≥2 ``cluster_by`` columns clusters on the
    interleaved ``morton_code`` instead of the lexicographic sort: a
    lexicographic (a, b) sort gives PERFECT skipping on a but leaves
    every file spanning b's whole range, while the Z-order key keeps
    each file's min/max box narrow in EVERY clustered dimension, so
    conjunctive predicates (a BETWEEN … AND b BETWEEN …) skip
    multiplicatively (pinned by test against the lexicographic
    layout). Column ranges come from one min/max aggregate.

    Scale shape: one distributed read + repartition + write; nothing
    driver-side but directory renames. Run it from the maintenance
    schedule, not the ingest path — the ingest keeps appending small
    files cheaply, and compaction amortizes them off-line. The swap
    uses POSIX renames (pathlib/shutil), i.e. this utility manages
    LOCAL/NFS table dirs; on an object store the same read→rewrite
    plan applies but the swap must go through the store's rename or a
    table format's atomic commit."""
    if zorder and len(cluster_by) < 2:
        raise ValueError(
            "zorder=True needs >= 2 cluster_by columns (one column's "
            "optimal layout is the plain sort — drop zorder)"
        )
    df = spark.read.parquet(path)
    # one row per partition directory (one row when unpartitioned):
    # every directory gets at least one file of its own
    width = _sample_row_bytes(path)
    n_files = sum(
        max(1, int(-(-r["count"] * width // target_file_bytes)))
        for r in df.groupBy(*partition_cols).count().collect()
    ) or 1
    if zorder:
        mm = df.agg(
            *[F.min(c).alias(f"_mn_{c}") for c in cluster_by],
            *[F.max(c).alias(f"_mx_{c}") for c in cluster_by],
        ).collect()[0]
        ranges = [(mm[f"_mn_{c}"], mm[f"_mx_{c}"]) for c in cluster_by]
        zkeys = (*partition_cols, "_z")
        writer = (
            df.withColumn(
                "_z", morton_code(list(cluster_by), ranges)
            )
            .repartitionByRange(n_files, *zkeys)
            .sortWithinPartitions(*zkeys)
            .drop("_z")
        )
    elif cluster_by:
        # partition_cols lead the range key so each task holds few
        # directory values — ranging on cluster_by alone would make
        # every task span all partitions and the partitionBy write
        # splinter into ~n_files × n_partitions small files
        keys = (*partition_cols, *cluster_by)
        writer = df.repartitionByRange(n_files, *keys).sortWithinPartitions(
            *keys
        )
    elif partition_cols:
        writer = df.repartition(n_files, *partition_cols)
    else:
        writer = df.repartition(n_files)
    atomic_swap_write(writer, path, partition_cols)
    return n_files


def _sample_row_bytes(path: str, n: int = 4096) -> float:
    """Arrow in-memory bytes per row over the first ``n`` rows of one
    data file of a parquet table — partition columns live in directory
    names, not in the files, so they are not counted."""
    import pathlib

    import pyarrow.parquet as pq

    for f in sorted(pathlib.Path(path).rglob("*.parquet")):
        if f.name.startswith((".", "_")):
            continue
        for batch in pq.ParquetFile(str(f)).iter_batches(batch_size=n):
            if batch.num_rows:
                return batch.nbytes / batch.num_rows
    return 1.0


def atomic_swap_write(
    df: "DataFrame", path: str, partition_cols: tuple[str, ...] | list[str]
) -> None:
    """Rewrite a LIVE parquet directory atomically: write to
    `<path>.__compact__`, rename old → `.__old__`, new → path, delete
    old — a reader never sees a MIX of old and new files. Shared by
    ``compact_table`` and the ANN index compactors.

    Atomicity caveat (local/posix rename path): between the two
    renames there is a window where `path` does not exist, so a
    CONCURRENT reader opening the directory in that instant gets
    ENOENT — old-or-new is guaranteed, old-or-new-or-briefly-absent
    is the precise contract. Queries already planned from the
    previous file listing are unaffected.

    SERVING MODE — ``enable_pointer_swaps(path)`` closes the blink:
    it converts `path` into a relative SYMLINK to a sibling
    generation directory (one final blink during the conversion
    itself). Every later ``atomic_swap_write`` detects the link and
    swaps by writing a fresh generation dir and atomically renaming a
    new symlink over the old one (``os.replace`` of a link over a
    link) — a concurrent reader resolving `path` always reaches a
    complete generation, never ENOENT. The REPLACED generation is
    kept on disk until the NEXT swap (deferred deletion); steady-state
    cost is one extra generation of disk. This is the local-filesystem
    twin of the catalog-pointer flip a cluster serving stack would
    use; on object stores (no symlinks) resolve through a real
    catalog.

    READER CONTRACT — the grace copy only protects scans that PIN the
    generation: a reader must resolve the link once at plan time
    (``pin_generation``) and scan the returned ``.__gen_N__`` path, so
    the file paths its plan records survive one swap. A reader that
    scans THROUGH the symlink records link-relative file paths; when
    the link flips mid-query, the later file open re-traverses the
    link into the NEW generation, where the old part files do not
    exist → FileNotFoundException even though the grace copy is still
    on disk. All index readers in this repo pin.

    Crash recovery distinguishes the rename window instead of
    assuming leftovers are garbage: if the live `path` exists, any
    `.__old__`/`.__compact__` is debris from a crash outside the
    window and is removed (moving onto an existing `.__old__` would
    otherwise NEST the live dir inside it). If `path` is MISSING and
    `.__old__` exists, a prior run died inside the window and
    `.__old__`/`.__compact__` hold the only copies: roll FORWARD when
    the fully-written `.__compact__` is present (it is complete —
    the first rename only happens after the write returns), else
    restore `.__old__` as the live dir. Refuses to swap in an EMPTY
    result: a partitioned write of zero rows emits no part files, so
    the swapped-in directory would be unreadable (no schema) and the
    table bricked — an empty rewrite means the caller is deleting the
    table, which deserves an explicit rm, not a compaction."""
    def write(dst: str) -> None:
        if not df.take(1):
            raise ValueError(
                f"atomic_swap_write: rewrite of {path} would be EMPTY "
                "(everything deleted/tombstoned); remove the directory "
                "explicitly instead of compacting it away"
            )
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(dst)

    _swap_in(path, write)


def _swap_in(path: str, write) -> None:
    """The directory swap behind ``atomic_swap_write``: ``write(dst)``
    fills a fresh directory, which then replaces `path` (pointer flip
    in pointer mode, two renames otherwise) with the crash healing
    described there. With nothing to replace, it fills `path`
    itself."""
    import os
    import pathlib
    import shutil

    if os.path.islink(path):
        _pointer_swap_write(path, write)
        return

    tmp, old = f"{path}.__compact__", f"{path}.__old__"
    if pathlib.Path(path).exists():
        for leftover in (tmp, old):
            if pathlib.Path(leftover).exists():
                shutil.rmtree(leftover)
    elif pathlib.Path(old).exists():
        # crashed mid-swap: .__old__ (and maybe .__compact__) are the
        # ONLY copies — heal instead of deleting them
        if pathlib.Path(tmp).exists():
            shutil.move(tmp, path)  # finish the interrupted swap
            shutil.rmtree(old)
        else:
            shutil.move(old, path)  # compact result lost; restore prior live
    else:
        write(path)
        return
    write(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)


def _gen_paths(path: str) -> list[str]:
    import glob as _glob

    # glob.escape the index path itself: '[', '?', '*' in a directory
    # name would otherwise match nothing and a valid pointer-mode dir
    # reads as "no generations" (the generation suffix is glob-safe)
    return sorted(
        _glob.glob(f"{_glob.escape(path)}.__gen_*__"),
        key=_gen_num,
    )


def _gen_num(gen_path: str) -> int:
    return int(gen_path.rsplit(".__gen_", 1)[1].rstrip("_"))


def _next_gen(path: str, gens: list[str]) -> str:
    return f"{path}.__gen_{_gen_num(gens[-1]) + 1 if gens else 0}__"


def _point(path: str, gen: str) -> None:
    """Point the symlink `path` at the sibling generation `gen` — a
    link renamed over a link, so `path` never goes missing — and stamp
    `gen` as served."""
    import os

    tmp_link = f"{path}.__ptr_tmp__"
    if os.path.lexists(tmp_link):
        os.unlink(tmp_link)
    os.symlink(os.path.basename(gen), tmp_link)
    os.replace(tmp_link, path)
    _mark_served(gen)


def pin_generation(path: str) -> str:
    """Resolve a pointer-mode (symlink-generation) directory to the
    CONCRETE ``.__gen_N__`` path currently being served; a plain
    directory returns unchanged. Every reader of a possibly
    pointer-mode table must call this ONCE per query, at plan time,
    and scan the returned path — Spark's file listing then records
    generation-pinned file paths that the one-generation grace window
    (``_pointer_swap_write`` keeps the replaced generation until the
    NEXT swap) actually protects, so a swap landing between plan and
    collect cannot re-resolve an in-flight scan into the new
    generation (an ENOENT mid-scan).
    ``os.path.realpath`` rather than one ``readlink``: the pointed-to
    generation is a sibling basename, but the PARENT chain may itself
    contain links (tmpdirs on macOS, /var → /private/var)."""
    import os

    return os.path.realpath(path) if os.path.islink(path) else path


def pin_generations(
    path: str, names: tuple[str, ...], *, _mid_hook=None
) -> dict[str, str]:
    """Pin SEVERAL subdirectories of ONE logical index to a mutually
    consistent generation set: pinning
    each subdir independently lets a multi-directory rebuild swap land
    BETWEEN the pins — e.g. ``rebuild_index`` swaps lists then
    centroids, so a query that pinned centroids first could scan new
    lists against old centroids: silently wrong neighbors rather than
    an ENOENT. Resolve-all twice and retry until a full double pass is
    stable: a swap completing anywhere between a subdir's first
    resolve and its re-resolve changes the second pass and forces a
    retry, so the returned set can only be a state that was
    simultaneously on disk. (A single-subdir swap that leaves the
    others untouched passes — that IS the current consistent state;
    and the documented crash-between-swaps window resolves to the
    actual on-disk mix, which rebuild-on-heal fixes, same as before.)
    Resolves are microseconds and swaps are seconds apart, so the loop
    converges immediately in practice. ``_mid_hook`` is a test-only
    seam: called once between the first and second resolve pass to
    inject a concurrent swap deterministically."""
    while True:
        first = {n: pin_generation(f"{path}/{n}") for n in names}
        if _mid_hook is not None:
            hook, _mid_hook = _mid_hook, None
            hook()
        second = {n: pin_generation(f"{path}/{n}") for n in names}
        if first == second:
            return first


def write_metadata(path: str, table, *, append: bool = False) -> None:
    """Write a BOUNDED pyarrow table (an index's conf, centroids,
    codebooks, a tombstone batch) as one parquet file of the directory
    `path`, from the driver — no Spark job. The file looks like a
    Spark-written one (``part-*.snappy.parquet`` beside a ``_SUCCESS``;
    column types as the table declares them), so Spark, DuckDB and
    ``sources.readers.read_metadata`` all read it. It is written under
    a dot-prefixed name, which every parquet reader skips, and renamed
    into place, so no reader sees a partial file.

    ``append`` adds the file beside the existing ones (tombstones);
    otherwise the table replaces the directory through the same swap
    as ``atomic_swap_write`` (pointer mode included).
    Local/NFS paths only, like every swap in this module."""
    import os
    import uuid

    import pyarrow.parquet as pq

    def write(dst: str) -> None:
        os.makedirs(dst, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        tmp = os.path.join(dst, f".{name}.tmp")
        try:
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, os.path.join(dst, name))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        open(os.path.join(dst, "_SUCCESS"), "w").close()

    if append:
        write(path)
    else:
        _swap_in(path, write)


def _mark_served(gen_path: str) -> None:
    """Stamp a generation as having actually been SERVED (the symlink
    pointed at it) — written right after every link flip. Rollback
    trusts this marker, not Spark's _SUCCESS: a swap that committed
    its parquet (_SUCCESS present) but crashed before the link replace
    leaves a never-served generation that must not be a rollback
    target, and _SUCCESS can't tell it apart from a genuine
    flip-flop candidate. Dot-prefixed so parquet readers ignore it."""
    import os

    try:
        with open(os.path.join(gen_path, ".__served__"), "w") as f:
            f.write("")
    except OSError as e:
        # serving already switched, so don't fail the swap — but the
        # marker is load-bearing for FORWARD rollback eligibility
        # (rollback_pointer_swap trusts it), so surface the miss
        import warnings

        warnings.warn(
            f"could not stamp {gen_path}/.__served__ ({e}); this "
            "generation will not be a forward-rollback (flip-flop) "
            "target until re-served",
            RuntimeWarning,
            stacklevel=2,
        )


def enable_pointer_swaps(path: str) -> None:
    """One-time conversion of a live parquet directory to POINTER
    (symlink-generation) layout, after which every
    ``atomic_swap_write`` on it is blink-free (see its docstring).
    The conversion itself has the one final ENOENT window (a real
    directory cannot be atomically replaced by a symlink on posix);
    run it before serving starts. The symlink target is RELATIVE (a
    sibling basename), so moving/renaming the parent keeps it valid.
    Idempotent on an already-converted path; a crash between its move
    and link steps heals on re-run (the newest generation is the moved
    directory, complete by rename atomicity — re-running just links
    it)."""
    import os
    import shutil

    if os.path.islink(path):
        return
    gens = _gen_paths(path)
    if os.path.isdir(path):
        gen = _next_gen(path, gens)
        shutil.move(path, gen)  # the single conversion blink
    elif gens:
        gen = gens[-1]  # crashed mid-conversion: finish the link
    else:
        raise FileNotFoundError(f"enable_pointer_swaps: no directory {path}")
    _point(path, gen)


def rollback_pointer_swap(path: str) -> str:
    """Instantly undo the LAST pointer swap: re-point the symlink at
    the grace generation (the one ``_pointer_swap_write`` deliberately
    keeps until the next swap). The operational story this closes: a
    compaction/maintenance swap goes out, serving quality regresses,
    and the operator flips back in milliseconds instead of rebuilding
    — the same move a catalog-pointer serving stack makes. Atomic
    (link-over-link rename, same as the swap); the rolled-back-FROM
    generation stays on disk and becomes the new grace copy, so a
    rollback is itself rollback-able (flip-flop). Returns the
    generation path now being served. Fails clearly when `path` is not
    pointer-mode or no other generation survives (two swaps have
    already happened since — the grace window is one swap deep)."""
    import os

    if not os.path.islink(path):
        raise ValueError(
            f"rollback_pointer_swap: {path} is not a pointer-mode "
            "directory (enable_pointer_swaps first)"
        )
    cur = os.path.normpath(
        os.path.join(os.path.dirname(path) or ".", os.readlink(path))
    )
    others = [g for g in _gen_paths(path) if os.path.normpath(g) != cur]
    # a swap that crashed after (or during) its parquet write but
    # before the link replace leaves a never-served stray that
    # OUTRANKS the true grace copy; rolling back to it could serve a
    # partial write — or, when the crash came AFTER the commit
    # (_SUCCESS written) but before the link flip, data nobody ever
    # served (the review-confirmed hole in a _SUCCESS-based check).
    # Valid rollback targets are generations OLDER than the served
    # one (served once, complete by construction — covers dirs
    # converted before markers existed) or newer ones carrying the
    # .__served__ marker every link flip stamps (the flip-flop case:
    # a rolled-back-FROM generation is newer than current but was
    # genuinely live).
    cur_num = _gen_num(cur) if ".__gen_" in cur else -1
    # pre-marker trees (converted before .__served__ existed) have NO
    # markers anywhere, including on the served generation — for those,
    # fall back to the _SUCCESS rule so a legitimate pre-upgrade
    # flip-flop target stays reachable; the moment any marker exists
    # the tree is post-upgrade and only markers are trusted
    any_marked = os.path.exists(os.path.join(cur, ".__served__")) or any(
        os.path.exists(os.path.join(g, ".__served__")) for g in others
    )
    newer_ok = ".__served__" if any_marked else "_SUCCESS"
    others = [
        g
        for g in others
        if _gen_num(g) < cur_num
        or os.path.exists(os.path.join(g, newer_ok))
    ]
    if not others:
        raise ValueError(
            f"rollback_pointer_swap: no previous COMPLETE generation of "
            f"{path} survives (the grace window is ONE swap deep — a "
            "later swap already reaped it — and newer generations "
            "without a .__served__ marker are crashed-write or "
            "committed-but-never-served strays, not rollback targets)"
        )
    prev = others[-1]
    _point(path, prev)
    return prev


def _pointer_swap_write(path: str, write) -> None:
    """The blink-free swap for pointer-mode directories: write the new
    generation beside the current one, atomically rename a fresh
    symlink over `path`, then delete every generation EXCEPT the one
    just replaced (deferred one-generation grace — in-flight scans
    planned against the old listing keep their files; the generation
    before THAT is gone, so steady state holds two). Crash anywhere
    leaves `path` resolving to a complete generation; stray unlinked
    generations are debris the next swap removes."""
    import os
    import shutil

    cur_target = os.path.join(
        os.path.dirname(path) or ".", os.readlink(path)
    )
    gens = _gen_paths(path)
    if not gens:
        # a symlink the CALLER manages (their own indirection) is not
        # ours to swap — renaming over it would silently detach their
        # pointer; fail with the two sanctioned paths forward
        raise ValueError(
            f"atomic_swap_write: {path} is a symlink but has no "
            ".__gen_N__ generation siblings; either convert it with "
            "enable_pointer_swaps() or point the write at the real "
            "directory"
        )
    gen = _next_gen(path, gens)
    write(gen)
    _point(path, gen)
    # normalize BOTH sides of the keep-set comparison: glob returns
    # './'-prefixed paths for './'-spelled inputs while normpath(
    # cur_target) strips the prefix, and a raw-vs-normalized mismatch
    # here would rmtree the grace generation the contract promises to
    # keep (in-flight readers ENOENT mid-scan; rollback impossible)
    keep = {os.path.normpath(gen), os.path.normpath(cur_target)}
    for g in _gen_paths(path):
        if os.path.normpath(g) not in keep:
            shutil.rmtree(g, ignore_errors=True)


def morton_code(cols, ranges, *, bits: int = 16) -> "Column":
    """Z-ORDER (Morton) key as a pure JVM expression: each column
    scales to a ``bits``-bit integer over its ``(min, max)`` range and
    the bits INTERLEAVE, so rows close in the code are close in EVERY
    clustered dimension at once — the multi-column generalization of
    a sort key. ``ranges`` pairs each column with its (min, max)
    (one agg computes them; ``compact_table(zorder=True)`` does).

    Min/max linear scaling keeps the key a pure expression — no
    sampling job, no window; heavily skewed columns trade some bit
    utilization for that (outliers compress the live range), which for
    a LAYOUT key costs only file-skipping selectivity, never
    correctness. ``bits · len(cols)`` must fit a signed long (≤ 63);
    a constant column contributes nothing and is skipped."""
    from pyspark.sql import Column  # noqa: F401 (annotation)

    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"morton_code: bits({bits})·cols({n}) exceeds 63")
    for c, (mn, mx) in zip(cols, ranges):
        for v in (mn, mx):
            if v is not None and not isinstance(v, (int, float)):
                raise ValueError(
                    f"morton_code: column {c!r} has a non-numeric range "
                    f"bound {v!r} ({type(v).__name__}) — Z-order needs "
                    "numeric columns (cast timestamps to epoch, or use "
                    "plain lexicographic cluster_by for strings)"
                )
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, (c, (mn, mx)) in enumerate(zip(cols, ranges)):
        if mn is None or mx is None:  # all-null column: nothing to interleave
            continue
        col = F.col(c) if isinstance(c, str) else c
        span = float(mx) - float(mn)
        if span <= 0:  # constant column: no information to interleave
            continue
        scaled = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor(
                    (col.cast("double") - F.lit(float(mn))) / F.lit(span)
                    * F.lit(float(top))
                ).cast("long"),
            ),
        )
        for j in range(bits):
            bit = F.shiftright(scaled, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + (n - 1 - ci)))
    return z
