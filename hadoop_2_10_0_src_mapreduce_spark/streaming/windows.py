"""Structured Streaming extension (SURVEY.md §2.9).

The reference has NO streaming runtime — Hadoop MR 2.10.0 is strictly
batch; its closest idioms were re-running jobs on new input dirs and
hand-written sessionization reducers. These operators are therefore an
extension, anchored to the ``events`` fixture:

- tumbling/sliding/session windows work identically in batch and
  streaming (``window``/``session_window`` are plain expressions), so
  the batch catalog queries below double as the oracle-checkable face
  of the streaming path.
- ``stream_events_windowed`` wires the same aggregation into an actual
  readStream → watermark → writeStream pipeline (file source, memory
  sink, availableNow trigger) — exercised in tests.

Scale notes: watermark bounds state (late events beyond it are
dropped); window aggs shuffle on (window, keys) — at 100 TB size the
watermark to the real disorder of the source, not "1 day to be safe",
or state explodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def tumbling_window_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    duration: str = "1 day",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Fixed windows: (window_start, *group, n_events, sum-ish stats)."""
    w = F.window(F.col(ts_col), duration)
    return (
        events.groupBy(w.alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events")
    )


def sliding_window_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    duration: str = "2 days",
    slide: str = "1 day",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    w = F.window(F.col(ts_col), duration, slide)
    return (
        events.groupBy(w.alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events")
    )


def session_window_agg(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "12 hours",
    group_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Gap-based sessions via the built-in session_window — the
    declarative twin of udf.sessionize's applyInPandas reducer (same
    semantics, state handled by Spark; works in batch AND streaming)."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(w.alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(*group_cols, F.col("w.start").alias("session_start"), "n_events")
    )


def stream_events_windowed(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    sink_table: str = "windowed_counts",
    *,
    ts_col: str = "ts",
    duration: str = "1 day",
    watermark: str = "1 day",
) -> StreamingQuery:
    """Actual streaming pipeline over a file source: readStream →
    withWatermark → tumbling-window count → memory sink, availableNow
    (process-everything-then-stop — the deterministic test trigger).

    The same ``tumbling_window_counts`` expression runs in the batch
    catalog, which is how correctness stays oracle-checkable while the
    streaming runtime (state store, watermark) is exercised here.
    """
    src = spark.readStream.schema(schema).json(source_dir)
    agg = tumbling_window_counts(src.withWatermark(ts_col, watermark),
                                 ts_col=ts_col, duration=duration)
    return (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_within_watermark(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    sink_table: str = "deduped_events",
    *,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
) -> StreamingQuery:
    """Streaming exact-dedup: dropDuplicatesWithinWatermark keeps state
    only for the watermark horizon — the streaming face of
    dedup.exact_dedup (bounded state instead of a full-corpus shuffle).

    ``checkpoint_dir`` + ``out_dir`` make the query RESTARTABLE: the
    memory sink refuses checkpoint recovery by design (it is not
    fault-tolerant), so durable runs emit through ``_durable_sink``
    (foreachBatch → parquet append) instead. A later run with the same
    checkpoint then resumes from the committed source offsets with the
    dedup state intact, so a key first seen before the restart is
    still dropped after it (pinned by the replay test)."""
    src = spark.readStream.schema(schema).json(source_dir)
    deduped = src.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    return _start_sink(deduped, "append", sink_table, checkpoint_dir, out_dir)


def _start_sink(
    df: DataFrame,
    mode: str,
    sink_table: str,
    checkpoint_dir: str | None,
    out_dir: str | None,
) -> StreamingQuery:
    """Memory sink for interactive/test reads, or — when ``out_dir`` is
    given — the durable twin: foreachBatch appending each micro-batch's
    emissions to parquet. foreachBatch checkpoints offsets/commits, so
    it RECOVERS across restarts (memory cannot); the parquet append is
    at-least-once on failure replay, the standard foreachBatch
    contract — make the downstream read idempotent (or MERGE) if a
    retried batch matters."""
    if out_dir:

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        writer = df.writeStream.foreachBatch(sink).outputMode(mode).trigger(
            availableNow=True
        )
    else:
        writer = (
            df.writeStream.format("memory")
            .queryName(sink_table)
            .outputMode(mode)
            .trigger(availableNow=True)
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_partitioned_sink(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_dir: str,
    *,
    partition_col: str = "event_type",
) -> StreamingQuery:
    """foreachBatch sink: the streaming face of MultipleOutputs
    (SURVEY §2.2) — every micro-batch lands as parquet partitioned by a
    record-content column, via the SAME batch writer the catalog uses
    (``writers.write_partitioned``), so batch and streaming sinks can't
    drift. foreachBatch is the escape hatch for sinks Structured
    Streaming lacks natively (JDBC, MERGE upserts, multi-sink fan-out);
    partitionBy-on-parquet is the demo because the driver can re-read
    and count it deterministically."""
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import write_partitioned

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned(batch_df, out_dir, partition_col, mode="append")

    src = spark.readStream.schema(schema).json(source_dir)
    return (
        src.writeStream.foreachBatch(sink_batch)
        .trigger(availableNow=True)
        .start()
    )


def stream_running_user_totals(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    sink_table: str = "user_totals",
    *,
    user_col: str = "user_id",
    value_col: str = "value",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
) -> StreamingQuery:
    """Custom stateful streaming operator (applyInPandasWithState): a
    running (count, sum) per user, emitted on every update — the shape
    of state the built-in window aggregations can't express (arbitrary
    user-defined state transitions; swap the body for decayed averages,
    ML feature state, etc.).

    State is one (long, double) per user — bounded by the user
    universe, not the stream length. In update mode each micro-batch
    emits the new running totals for users it touched, so the LAST
    emission per user equals the batch-mode groupBy aggregate — which
    is exactly what the test asserts. ``checkpoint_dir`` + ``out_dir``
    make the query restartable (durable foreachBatch sink — see
    ``_start_sink``): a later run with the same checkpoint resumes the
    per-user state, so totals keep accumulating across restarts
    (pinned by the replay test).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {user_col: [key[0]], "n_events": [n], "sum_value": [s]}
        )

    src = spark.readStream.schema(schema).json(source_dir)
    running = src.groupBy(user_col).applyInPandasWithState(
        update_totals,
        outputStructType=f"{user_col} long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start_sink(running, "update", sink_table, checkpoint_dir, out_dir)


def stream_stream_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    schema: str,
    sink_table: str = "joined_stream",
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 day",
    max_gap: str = "1 hour",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
) -> StreamingQuery:
    """Stream–stream INNER join with a time bound — the canonical
    two-stream correlation (impressions ⋈ clicks, requests ⋈
    responses): rows join when keys match AND the right event lands in
    [left ts, left ts + ``max_gap``]. Both sides carry a watermark, and
    the time-interval predicate is what lets Spark EXPIRE join state:
    a buffered left row can only ever match right rows inside its gap
    window, so state for rows older than watermark + gap is dropped —
    without the bound, both sides buffer forever (Spark rejects
    unbounded state in append mode for exactly that reason).

    Output columns: key, left ``l_<ts>``/``l_value``, right
    ``r_<ts>``/``r_value``. At 100 TB-day scale the join shuffles both
    streams by the key; the state store holds only the watermark+gap
    horizon per partition.
    """
    left = (
        spark.readStream.schema(schema)
        .json(left_dir)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col),
            F.col(ts_col).alias("l_ts"),
            F.col("value").alias("l_value"),
        )
    )
    right = (
        spark.readStream.schema(schema)
        .json(right_dir)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col).alias("_rk"),
            F.col(ts_col).alias("r_ts"),
            F.col("value").alias("r_value"),
        )
    )
    joined = left.join(
        right,
        F.expr(
            f"{key_col} = _rk AND r_ts >= l_ts AND "
            f"r_ts <= l_ts + interval {max_gap}"
        ),
        "inner",
    ).drop("_rk")
    return _start_sink(joined, "append", sink_table, checkpoint_dir, out_dir)


def stream_incremental_corpus_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index_dir: str,
    out_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    pin_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming face of ``dedup.incremental_exact_dedup`` — the
    continuous-ingestion pipeline end to end: every micro-batch of
    documents is deduped in-batch, anti-joined against the PERSISTENT
    fingerprint index (parquet at ``index_dir``), and only novel
    documents append to ``out_dir`` while their fingerprints append to
    the index. Unlike ``dropDuplicatesWithinWatermark`` (state bounded
    by a time horizon, held in the state store), corpus membership here
    is FOREVER and lives in table files — so a document first seen in
    batch 1 is still dropped in batch 900, and across restarts, with
    zero state-store growth; the dedup state is just the index table,
    shared with the batch pipeline (``novel_docs`` reads the same
    layout).

    At scale: the per-batch membership test is
    ``dedup.filter_novel_fps`` — the index side NEVER enters an
    exchange (semi-join against a broadcast of the batch's
    fingerprints, then anti-join against the broadcast hits; plan test
    asserts the whole filter is shuffle-free). The index is written
    fp-SORTED with a parquet bloom filter on fp, so that scan skips
    row groups whose min/max+bloom exclude every batch fingerprint —
    per-batch cost is index metadata plus touched row groups, not a
    corpus-wide shuffle. Run sources/writers.compact_table on the
    index from the maintenance schedule (each batch appends one small
    file set; compaction also merges the per-append sort runs into
    wide disjoint fp ranges, which tightens the skipping).
    foreachBatch batches run sequentially, so read-index → append-index
    has no write race. On failure replay the batch re-runs
    (at-least-once): if the index append committed, the replayed batch
    finds nothing novel (idempotent); if out_dir committed but the
    index did not, re-emitted rows are possible — the standard
    foreachBatch contract (_start_sink docstring); order the two
    appends index-first to shrink that window... out_dir is written
    AFTER the index here for exactly that reason.

    ``max_files_per_trigger`` bounds each micro-batch to N source
    files (availableNow still drains everything, in N-file batches) —
    the production rate-limit knob, and what the decade check uses to
    measure per-batch cost as the index grows (flat per-batch wall is
    THE scale claim of the shuffle-free novel filter).

    ``pin_dir`` (r10 cluster-resilience dial): the per-batch novel-set
    pin is a ``localCheckpoint`` by default — executor-local blocks,
    not fault-tolerant; on a preemptible cluster an executor lost
    between the pin and the second append kills the batch. Set
    ``pin_dir`` (HDFS/object-store path in production) to pin each
    batch through a reliable parquet round-trip instead
    (``checkpointing.RoundCheckpointer``); pin files are deleted as
    soon as the batch's two appends land, and a crashed batch's
    leftover pin is overwritten-then-deleted by its replay."""
    from pyspark.errors import AnalysisException

    from hadoop_2_10_0_src_mapreduce_spark.checkpointing import (
        RoundCheckpointer,
    )
    from hadoop_2_10_0_src_mapreduce_spark.functions.text import fingerprint

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = (
            batch_df.select(
                fingerprint(text_col).alias("fp"),
                F.col(id_col),
                F.col(text_col),
            )
            .groupBy("fp")
            .agg(
                F.min_by(
                    F.struct(F.col(id_col), F.col(text_col)), F.col(id_col)
                ).alias("_r")
            )
            .select("fp", "_r.*")
        )
        from hadoop_2_10_0_src_mapreduce_spark.operators.dedup import (
            filter_novel_fps,
        )

        from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
            pin_generation,
        )

        try:
            seen = s.read.parquet(pin_generation(index_dir)).select("fp")
            fresh = filter_novel_fps(batch, seen)
        except AnalysisException:  # first batch: no index yet
            fresh = batch
        # eager checkpoint (NOT persist): the plan READS the index
        # that the first write below APPENDS to — lazy re-evaluation of
        # `fresh` at the second write would re-run the anti-join against
        # the just-updated index and emit nothing. Checkpointing pins
        # the rows and severs the lineage before either write runs.
        # local blocks by default; reliable files when pin_dir is set.
        pin = RoundCheckpointer(
            s, f"{pin_dir}/batch-{_batch_id}" if pin_dir else None
        )
        fresh = pin(fresh)
        # fp-sorted append + parquet bloom on fp: row-group min/max
        # stay narrow and the bloom catches the in-range misses, so
        # the next batch's membership scan skips most of the index
        (
            fresh.select("fp")
            .sortWithinPartitions("fp")
            .write.mode("append")
            .option("parquet.bloom.filter.enabled#fp", "true")
            .parquet(index_dir)
        )
        fresh.select(id_col, text_col).write.mode("append").parquet(out_dir)
        pin.close()  # both appends landed — the pin is spent

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.json(source_dir)
    writer = src.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_sessionize_stateful(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_dir: str,
    *,
    user_col: str = "user_id",
    ts_ms_col: str = "ts_ms",
    gap_minutes: int = 30,
    watermark: str = "1 minute",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """CUSTOM stateful streaming operator on Spark 4's
    ``transformWithStateInPandas`` — the arbitrary-state API with
    TIMERS, one step past ``applyInPandasWithState``'s single
    state-and-timeout: a streaming sessionizer that emits one row per
    CLOSED session (user, session_start, session_end, n_events; epoch
    ms). A session closes two ways, and the operator exercises both:

    - IN-BATCH GAP: a user's new events arriving ``gap_minutes`` past
      their session's last event close it inside ``handleInputRows``
      (the batch sessionize split applied against state);
    - TIMER: a user who goes quiet has an event-time timer registered
      at ``last + gap``; when the WATERMARK (driven by other users'
      events) passes it, ``handleExpiredTimer`` emits the session and
      clears the state — no new event for that user needed, which is
      exactly what session_window/applyInPandasWithState cannot
      express per-key this directly.

    Stale timers are ignored by re-deriving the expiry from state
    (an extended session deletes its old timer AND survives a missed
    delete). State per user is one (start, last, n) triple — bounded,
    keyed, store-managed; emission is append-mode so downstream sinks
    see each closed session exactly once per the foreachBatch
    contract. ``ts_ms_col`` is epoch milliseconds (a long), the
    watermark clock derives from it.

    ENVIRONMENT GATE: transformWithStateInPandas's driver worker
    speaks protobuf to the JVM; on hosts without a working
    ``google.protobuf`` this raises ImportError up front (the same
    explicit-boundary convention as the multimodal codec stub) — the
    applyInPandasWithState operator (``stream_running_user_totals``)
    covers custom state without that dependency, minus per-key
    timers."""
    import pandas as pd

    # derive the key column's type from the INPUT schema (the bpe_encode
    # convention): hardcoding `long` + int(key) would crash inside the
    # stateful processor at runtime for, say, string user ids. Argument
    # validation runs BEFORE the environment gate so a bad schema fails
    # the same way on every host.
    from pyspark.sql.types import StructType

    in_fields = {f.name: f.dataType.simpleString()
                 for f in StructType.fromDDL(schema).fields}
    if user_col not in in_fields:
        raise ValueError(
            f"stream_sessionize_stateful: {user_col!r} not in schema {schema!r}"
        )
    user_type = in_fields[user_col]
    _coerce_key = {
        "tinyint": int, "smallint": int, "int": int, "bigint": int,
        "string": str,
    }.get(user_type)
    if _coerce_key is None:
        raise ValueError(
            f"stream_sessionize_stateful: unsupported {user_col} type "
            f"{user_type!r} (integral or string keys supported)"
        )
    out_schema = (
        f"{user_col} {user_type}, session_start long, session_end long, "
        "n_events long"
    )

    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "stream_sessionize_stateful needs google.protobuf (the "
            "transformWithStateInPandas driver-worker wire format); "
            "install protobuf or use stream_running_user_totals"
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_minutes * 60_000

    class _Sessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.state = handle.getValueState(
                "sess", "start long, last long, n long"
            )

        def _row(self, key, start, last, n):
            return pd.DataFrame(
                {
                    user_col: [_coerce_key(key[0])],
                    "session_start": [int(start)],
                    "session_end": [int(last)],
                    "n_events": [int(n)],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            ts: list[int] = []
            for pdf in rows:
                ts.extend(int(v) for v in pdf[ts_ms_col])
            ts.sort()
            cur = self.state.get()
            start, last, n = cur if cur is not None else (None, None, 0)
            closed = []
            for t in ts:
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_ms:
                    closed.append(self._row(key, start, last, n))
                    start, last, n = t, t, 1
                else:  # extension; late-but-in-watermark events fold in
                    last, n = max(last, t), n + 1
            # delete the old timer iff the session's last-event time
            # moved (its expiry was old_last + gap)
            if cur is not None and cur[1] != last:
                self.handle.deleteTimer(cur[1] + gap_ms)
            self.state.update((start, last, n))
            self.handle.registerTimer(last + gap_ms)
            return iter(closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self.state.get()
            # stale timer (session was extended; delete raced): ignore
            if cur is None or expiredTimerInfo.getExpiryTimeInMs() < cur[1] + gap_ms:
                return iter([])
            start, last, n = cur
            self.state.clear()
            return iter([self._row(key, start, last, n)])

        def close(self) -> None:
            pass

    src = (
        spark.readStream.schema(schema)
        .json(source_dir)
        .withColumn(
            "_event_time",
            (F.col(ts_ms_col) / 1000).cast("timestamp"),
        )
        .withWatermark("_event_time", watermark)
    )
    sessions = src.groupBy(user_col).transformWithStateInPandas(
        statefulProcessor=_Sessionizer(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="EventTime",
    )
    return _start_sink(sessions, "append", None, checkpoint_dir, out_dir)


def stream_index_vectors(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    pin_dir: str | None = None,
    compact_every: int | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """CONTINUOUS ANN INDEXING — the streaming face of
    ``index_store.append_to_index``, completing the serving story:
    build the index offline once (``save_ivf_index``,
    ``save_lsh_index`` or ``save_ivfpq_index`` — its metadata define
    the filing function, so the index MUST already exist at
    ``index_path``; the family is detected from it), then let this
    stream fold every new embedding batch in while the family's
    ``query_*_index`` keeps serving reads against the same directory.

    Per micro-batch: in-batch id dedup, then the same shuffle-free
    membership test as the streaming corpus dedup
    (``dedup.filter_novel_fps`` keyed on the id — the row store is
    scanned column-pruned to ids only and NEVER enters an exchange),
    then ``append_to_index`` files only the novel vectors under the
    fixed metadata. The novel set is eagerly checkpointed
    (``localCheckpoint`` by default; reliable parquet pin when
    ``pin_dir`` is set — same cleanup contract as the corpus-dedup
    stream) before the append for the same read-before-append lineage
    race the corpus dedup documents. Ids are the identity: a vector id
    seen in any earlier batch (or the offline build) is dropped, which
    makes replays idempotent — at-least-once foreachBatch re-runs find
    nothing novel. To UPDATE a vector, tombstone it out of band
    (``delete_from_index``) and let the next batch re-add it.

    ``compact_every=N`` runs ``compact_index`` after every Nth batch
    (foreachBatch is sequential, so the atomic swap cannot race a
    concurrent append from this stream): append debt and tombstones
    are folded in on a cadence instead of by a separate scheduler.
    Monitor with ``index_stats`` either way. Appends inherit the
    stored-vector-type cast, so a double-typed JSON stream lands
    correctly in a float-built index."""
    from hadoop_2_10_0_src_mapreduce_spark.checkpointing import (
        RoundCheckpointer,
    )
    from hadoop_2_10_0_src_mapreduce_spark.operators.dedup import (
        filter_novel_fps,
    )
    from hadoop_2_10_0_src_mapreduce_spark.operators.index_store import (
        _index_id_col,
        append_to_index,
        compact_index,
        index_codec,
    )
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
        pin_generation,
    )

    codec = index_codec(index_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.select(id_col, vec_col).dropDuplicates([id_col])
        stored = s.read.parquet(pin_generation(f"{index_path}/{codec.rows}"))
        sid = _index_id_col(stored, codec.layout + ("qvec", "scale"))
        seen = stored.select(F.col(sid).alias(id_col))
        pin = RoundCheckpointer(
            s, f"{pin_dir}/batch-{batch_id}" if pin_dir else None
        )
        novel = pin(filter_novel_fps(batch, seen, fp_col=id_col))
        if novel.take(1):
            append_to_index(novel, index_path, id_col=id_col, vec_col=vec_col)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_index(s, index_path)
        pin.close()  # append landed (or nothing was novel)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.json(source_dir)
    writer = src.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
