"""Readers — InputFormat parity (SURVEY.md §2.1).

Reference contract: ``InputFormat.getSplits + createRecordReader``
(CORE/mapreduce/InputFormat.java, FileInputFormat.java [H]). Spark's
file sources implement the same split/locality model internally
(``spark.sql.files.maxPartitionBytes`` ≈ split size,
``spark.sql.files.openCostInBytes`` ≈ CombineFileInputFormat's
small-file packing), so each reader here is a thin declarative wrapper
that keeps the plan Catalyst-optimizable: filters and projections
pushed to the scan, no Python in the row path.

Parity map (reference class → function here):
- TextInputFormat/LineRecordReader      → read_text_lines
- KeyValueTextInputFormat               → read_kv_text
- NLineInputFormat                      → read_text_lines(lines_per_split=)
- FixedLengthInputFormat                → read_fixed_length
- CombineFileInputFormat                → conf (see session.SCALE_DEFAULTS)
- MultipleInputs/DelegatingInputFormat  → read_multiple_inputs
- DBInputFormat/DataDrivenDBInputFormat → read_jdbc_partitioned
- SequenceFileInputFormat               → parquet is this engine's
  self-describing container; see ``load_table``. (Reading legacy
  SequenceFiles: ``spark.sparkContext.sequenceFile`` still exists.)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → columnar, vectorized,
    pushdown-capable (the strict upgrade over SequenceFile, SURVEY §1.3).

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) (older fixture
    generations — Spark's vectorized reader rejects it) and plain
    TIMESTAMP(MICROS). Normalize either to a microsecond TIMESTAMP_NTZ
    column: nanos are read as longs (``nanosAsLong``) and floor-divided
    (the same truncation DuckDB applies); micros pass through with just
    the NTZ cast, so downstream code always sees one stable type.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes)["ts"] == "bigint":  # nanos-generation fixture
            # integer `div`, NOT `/`: float division loses precision on
            # ~1.7e18 nanosecond values and shifts timestamps by ±1µs
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


#: (applicationId, memo_key) → measured pre-repartition partition count.
#: A PLAN property of a fixed input file set — never query results — so
#: memoizing it is safe: same session + same files ⇒ same split count.
_SPLIT_COUNT_MEMO: dict[tuple[str, str], int] = {}


def parallelize_scan(
    df: DataFrame,
    key: str | None = None,
    target: int | None = None,
    *,
    memo_key: str | None = None,
) -> DataFrame:
    """Raise the map-side parallelism of an UNDER-SPLIT scan.

    A parquet file is splittable only at row-group boundaries, so a
    single-row-group file scans as ONE task no matter how many cores
    the session has — and every per-row expression above it (tokenize
    regexes, md5, shingle hashing) serializes onto one core (the
    optimization guide's input-skew case: "one huge unsplittable
    file … repartition immediately after the read"). This helper is a
    NO-OP whenever the scan already splits to at least ``target``
    partitions — the 100 TB case, where inputs have thousands of row
    groups and an extra exchange would be a pure full-corpus shuffle
    tax — so the repartition only exists where it pays.

    ``target`` defaults to the session's default parallelism; pass a
    smaller value (e.g. defaultParallelism // 4) for frames consumed
    by MANY small downstream stages, where every cached partition
    multiplies into a task in every consumer — the measured sweep at
    sf0.1/32 cores over the dedup corpus put 8 ahead of both 16 and
    32 (dedup_exact steady 1.65 s vs 2.5 plain vs 3.0 at 32;
    dedup_simhash 1.3 vs 2.3 plain vs 2.2 at 32).

    ``key``: hash-partition on a deterministic id column (no
    sort-before-repartition pass, deterministic under task retry —
    guide §2.5's SPARK-38388 note); round-robin otherwise. Results are
    partitioning-independent either way; every registered query's
    output is aggregate- or orderBy-stable.

    ``memo_key``: cache key for the split-count probe. The no-op guard
    reads ``df.rdd.getNumPartitions()``, which forces a full physical
    planning pass of ``df`` — plan-time only, but callers build their
    frames fresh on every execution, so the probe cost recurs inside
    every timed query. The count is a static property of the input
    FILE SET and the session's split sizing, so callers whose input is
    fixed (the fixture tables) pass a key naming that file set (e.g.
    ``f"{sf_dir}:documents"``) and pay the probe once per session; the
    memo is keyed by applicationId so a new session re-measures, and it
    never stores data — only an integer plan property. Precondition
    (either way): ``df`` must be shuffle-free above the scan — a
    shuffle upstream would make the count describe the exchange, not
    the scan splits; all current callers are scan→project→filter→union
    shapes."""
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    target = max(2, target)
    if memo_key is not None:
        mk = (sc.applicationId, memo_key)
        n = _SPLIT_COUNT_MEMO.get(mk)
        if n is None:
            n = df.rdd.getNumPartitions()
            _SPLIT_COUNT_MEMO[mk] = n
    else:
        n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


def _sql_literal(v) -> str:
    """One VALUES-clause literal. Doubles use repr() — the shortest
    decimal that round-trips, which a correctly-rounded parser (Java's
    Double.parseDouble) maps back to the identical bits — so float
    payloads survive the SQL text exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if isinstance(v, (list, tuple)):
        return "ARRAY(" + ", ".join(_sql_literal(x) for x in v) + ")"
    raise TypeError(f"local_values_df: unsupported literal {type(v).__name__}")


def _split_ddl_fields(schema_ddl: str) -> list[tuple[str, str]]:
    """'a int, b array<double>' → [('a','int'), ('b','array<double>')]
    (commas inside <> belong to the type, not the field list)."""
    fields, depth, cur = [], 0, ""
    for ch in schema_ddl:
        if ch == "," and depth == 0:
            fields.append(cur)
            cur = ""
            continue
        depth += ch == "<"
        depth -= ch == ">"
        cur += ch
    fields.append(cur)
    return [tuple(f.strip().split(None, 1)) for f in fields]


def local_values_df(spark: SparkSession, rows: Sequence, schema_ddl: str) -> DataFrame:
    """Driver-side rows → a pure-JVM VALUES LocalRelation.

    ``spark.createDataFrame(list)`` builds a PICKLED Python RDD spread
    over defaultParallelism slices: every one of its ~cores near-empty
    tasks pays a Python-worker round trip (guide §4 — measured on the
    join_asof bands table: ~270 ms run / ~3 ms cpu per task, a pure
    Python-boundary tax). A VALUES relation parses, plans and executes
    entirely in the JVM (LocalTableScan), and an empty row list becomes
    a zero-row JVM range — same schema, no RDD.

    For BOUNDED driver rows that a query joins against (probed-bucket
    pairs, empty results): the SQL text grows with the data, so
    corpus-scale frames should stay DataFrames end to end. Rows that
    only need to reach disk go through ``sources.writers.write_metadata``
    instead, which runs no job at all."""
    names_types = _split_ddl_fields(schema_ddl)
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in names_types]
        )
    cols = ", ".join(
        f"CAST(c{i} AS {t}) AS {n}" for i, (n, t) in enumerate(names_types)
    )
    aliases = ", ".join(f"c{i}" for i in range(len(names_types)))
    body = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    return spark.sql(
        f"SELECT {cols} FROM (VALUES {body}) AS t({aliases})"
    )


def read_metadata(path: str):
    """A BOUNDED parquet directory (an index's conf, centroids or
    codebooks) read on the driver with pyarrow — no Spark job, no
    schema-inference job. The pair of ``sources.writers.write_metadata``;
    reads Spark-written directories too. Files whose names start with
    ``_`` or ``.`` are skipped, as Spark skips them, so a file being
    written under its dot-prefixed name is never read half-done."""
    import pyarrow.parquet as pq

    return pq.read_table(path, ignore_prefixes=[".", "_"])


def footer_schema(path: str) -> StructType | None:
    """The Spark schema of a parquet directory, from one data file's
    footer on the driver (``None`` when it holds no data file). Pass it
    to ``spark.read.schema(...)`` and the scan skips the job Spark runs
    to infer it. Fields are nullable, as Spark reads every file."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    files = sorted(
        f for f in os.listdir(path) if not f.startswith((".", "_"))
    )
    if not files:
        return None
    return StructType([
        StructField(f.name, from_arrow_type(f.type), True)
        for f in pq.read_schema(os.path.join(path, files[0]))
    ])


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan output-size estimate, in bytes.

    Plan-time only (analysis + optimization of ``df``'s plan, NO job):
    file-scan statistics (total file bytes) flow up through projections
    and filters exactly the way the planner itself estimates join build
    sides. Used to gate scale-dependent physical choices (join-strategy
    hints, cogroup bucket counts) on data size instead of constants —
    the estimates are coarse (post-filter selectivity is guessed), so
    gate on order-of-magnitude thresholds only."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def read_text_lines(
    spark: SparkSession,
    path: str,
    *,
    with_offset: bool = False,
    num_partitions: int | None = None,
    lines_per_split: int | None = None,
    glob_filter: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """TextInputFormat parity: one row per line, column ``value``.

    ``glob_filter``/``recursive`` are FileInputFormat's PathFilter +
    recursive-listing knobs (``setInputPathFilter`` /
    ``mapreduce.input.fileinputformat.input.dir.recursive`` [H]):
    ``glob_filter="*.txt"`` keeps only matching files from the listing,
    ``recursive=True`` descends into subdirectories.

    ``with_offset`` adds a ``key`` column standing in for the byte
    offset LongWritable key (monotonic per-partition id — offsets were
    only ever used as a unique-ish key, not arithmetic).
    ``num_partitions`` gives coarse task-granularity control (Spark
    normally decides from file size).

    ``lines_per_split=N`` is exact NLineInputFormat parity
    (CORE/mapreduce/lib/input/NLineInputFormat.java [H]): EVERY
    partition holds exactly N consecutive lines (the last one ≤ N), in
    file order — and the within-partition ORDER is structural, not an
    artifact: the shuffle is a ``repartitionAndSortWithinPartitions``
    sorted by the carried global line number, so multi-file /
    multi-partition sources keep file order inside every split.
    Implementation is the distributed analog of the reference's
    client-side split scan: one per-partition count job fixes global
    contiguous line numbers (its sum is the total — no separate
    ``count()`` pass), then an identity int partitioner routes
    ``floor(idx / N)`` → its own partition — hash partitioning can't
    guarantee one split per partition (collisions merge splits),
    identity can. RDD API on purpose: this is per-partition
    *placement* control, which DataFrames deliberately don't expose.

    Scale note: the source is scanned exactly TWICE — the count job
    and the real read (inherent to the contract; the reference's
    NLineInputFormat also pre-scanned client-side). When the input is
    an expensive upstream transform rather than a raw file, cache it
    first so the second pass hits memory.
    """
    reader = spark.read
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if lines_per_split:
        n = lines_per_split
        lines = reader.text(path).rdd.map(lambda r: r.value)
        # pass 1 (the only extra scan): per-partition line counts →
        # global offsets, total = their sum (what zipWithIndex does
        # internally, but reusing the counts saves its third scan)
        counts = lines.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        offsets = [0]
        for c in counts[:-1]:
            offsets.append(offsets[-1] + c)
        total = sum(counts)
        n_splits = max(1, -(-total // n))
        bco = spark.sparkContext.broadcast(offsets)

        def index_part(pi, it):
            base = bco.value[pi]
            for i, v in enumerate(it):
                idx = base + i
                yield ((idx // n, idx), v)

        parted = lines.mapPartitionsWithIndex(
            index_part
        ).repartitionAndSortWithinPartitions(
            numPartitions=n_splits,
            partitionFunc=lambda k: k[0],  # identity on the split id
            keyfunc=lambda k: k[1],  # file order within the split
        )
        if with_offset:
            # the global line number IS the key here — closer to
            # LineRecordReader's offset key than the monotonic id below
            # (global, contiguous, file-ordered)
            return spark.createDataFrame(
                parted.map(lambda kv: (kv[0][1], kv[1])), "key long, value string"
            )
        return spark.createDataFrame(
            parted.map(lambda kv: (kv[1],)), "value string"
        )
    df = reader.text(path)
    if num_partitions:
        df = df.repartition(num_partitions)
    if with_offset:
        df = df.select(F.monotonically_increasing_id().alias("key"), "value")
    return df


def read_kv_text(
    spark: SparkSession,
    path: str,
    *,
    sep: str = "\t",
) -> DataFrame:
    """KeyValueTextInputFormat parity: split each line on the FIRST
    separator → (key, value); no separator → whole line is the key,
    value is empty (the reference's documented behavior)."""
    line = spark.read.text(path)
    # split(.., limit=2) keeps any further separators inside the value;
    # F.get is null-safe for separator-less lines (getItem throws under ANSI).
    parts = F.split(F.col("value"), sep, 2)
    return line.select(
        F.get(parts, 0).alias("key"),
        F.coalesce(F.get(parts, 1), F.lit("")).alias("value"),
    )


def read_fixed_length(
    spark: SparkSession,
    path: str,
    record_length: int,
    fields: Sequence[tuple[str, int, int]] | None = None,
) -> DataFrame:
    """FixedLengthInputFormat parity: fixed-width binary records.

    ``fields``: optional (name, start_1_based, length) specs sliced out
    of the record as strings; without it you get one ``record`` binary
    column. Uses ``binaryRecords`` (the one reader that genuinely needs
    the RDD API — there is no DataFrame fixed-width source).
    """
    rdd = spark.sparkContext.binaryRecords(path, record_length)
    df = spark.createDataFrame(rdd.map(lambda b: (b,)), "record binary")
    if fields:
        cols = [
            F.substring(F.col("record").cast("string"), start, length).alias(name)
            for name, start, length in fields
        ]
        df = df.select(*cols)
    return df


def read_multiple_inputs(
    sources: Sequence[tuple[DataFrame, Callable[[DataFrame], DataFrame] | None]],
) -> DataFrame:
    """MultipleInputs parity: per-source mapper, results unioned.

    Each element is (df, per_source_transform). Transforms must emit
    union-compatible schemas; union is by name so column order per
    source doesn't matter (DelegatingMapper never guaranteed order
    either)."""
    mapped = [(fn(df) if fn else df) for df, fn in sources]
    out = mapped[0]
    for df in mapped[1:]:
        out = out.unionByName(df)
    return out


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    split_column: str | None = None,
    lower: int | None = None,
    upper: int | None = None,
    num_partitions: int = 8,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """DataDrivenDBInputFormat parity: JDBC scan split into WHERE-range
    chunks over a numeric column — Spark's JDBC partitioning IS the
    descendant of this (SURVEY §2.1). Tested end to end against
    embedded Derby (ships in Spark's jars): unit roundtrip asserts the
    split count, and the 'jdbc' branch of scan_fixed_multi hash-checks
    a write→partitioned-read roundtrip in the driver gate."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if split_column is not None:
        reader = (
            reader.option("partitionColumn", split_column)
            .option("lowerBound", str(lower))
            .option("upperBound", str(upper))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def lines_from_column(df: DataFrame, col: str | Column = "text") -> DataFrame:
    """Adapter used across tests/queries: treat a string column as the
    'input file' of line-oriented reference jobs (FIXTURES.md maps the
    reference's text-line inputs onto ``documents.text``)."""
    c = F.col(col) if isinstance(col, str) else col
    return df.select(c.alias("value"))


def read_sequence_file(
    spark: SparkSession,
    path: str,
    *,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """SequenceFileInputFormat parity (CORE/mapreduce/lib/input/
    SequenceFileInputFormat.java [H]): read a Hadoop SequenceFile of
    Writable KV pairs into a two-column DataFrame (Writables auto-
    convert to Python types). Legacy interop only — the native container
    is parquet (``load_table``): SequenceFile has no column pruning or
    predicate pushdown, so convert once and query the parquet."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, [key_name, value_name])


def convert_sequence_file_to_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    key_name: str = "key",
    value_name: str = "value",
    mode: str = "error",
) -> None:
    """The convert-once step ``read_sequence_file`` prescribes, as one
    call: SequenceFile → parquet, after which every query runs against
    a columnar, pruning/pushdown-capable, splittable container and the
    row-oriented legacy path is never paid again. The conversion
    itself necessarily crosses the Writable→Python boundary once per
    record (SequenceFile deserialization is JVM-object-based; there is
    no columnar fast path to skip to) — which is exactly why it should
    run ONCE at ingest, distributed over the input splits, not per
    query. A 100 TB SequenceFile estate converts as a one-shot batch
    job and amortizes forever."""
    read_sequence_file(
        spark, src, key_name=key_name, value_name=value_name
    ).write.mode(mode).parquet(dst)


def read_csv_skip_bad_records(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    sep: str = ",",
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """SkipBadRecords parity (CORE/mapred/SkipBadRecords.java [H],
    SURVEY §4.2): the reference skipped unparseable records after
    retry-and-blacklist; Spark's PERMISSIVE mode does it declaratively —
    malformed rows land in ``corrupt_col`` instead of failing the task.

    Returns (good, bad): good rows with the declared schema, bad rows
    as (raw_line,) for quarantine/inspection — the 'skipped records'
    side-channel the reference wrote to counters."""
    full_schema = f"{schema}, {corrupt_col} string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("sep", sep)
        .csv(path)
        .cache()  # one scan serves both branches; PERMISSIVE requires
        # caching before filtering on the corrupt column (Spark docs)
    )
    good = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad
