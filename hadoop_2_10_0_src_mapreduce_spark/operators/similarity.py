"""Similarity search over embedding columns (array<float>).

Extension beyond the reference (no vector ops existed in Hadoop MR);
the LLM-pipeline ANN pattern:

- brute-force cosine top-k — the correctness anchor. Cross join is
  O(n·q) but embarrassingly parallel; broadcast the (small) query set
  so only the corpus scans.
- LSH-bucketed ANN — random-hyperplane signs → bucket; only same-
  bucket candidates are scored. Sub-linear probes at the cost of
  recall; fixed-seed hyperplanes keep it reproducible. (cf. PAPERS.md
  top-k similarity literature.)

Nothing on any query path collects the corpus to the driver: IVF
k-means trains on a bounded deterministic sample, and scoring happens
where the candidates live. Two scoring paths, chosen by what the
caller needs:

- exact-sequential (``_score_pairs``): JVM zip_with/aggregate dot in
  DOUBLE with left-to-right accumulation — bit-identical to the DuckDB
  oracle's list_inner_product over DOUBLE[] (both sequential), so
  near-dup/brute-force values hash-match exactly. Casts and norms are
  computed ONCE per vector in the pre-join projections (identical
  values to per-pair evaluation, a fraction of the work — interpreted
  higher-order functions are the cost center, measured ~25 µs per
  extra array pass per pair).
- grouped block scoring (``_pairs_topk`` under applyInPandas): for
  the IVF top-k path the (list, block) shard IS a co-partition, so
  each group's similarity block is one vectorized numpy pass over
  Arrow batches — no per-pair expression evaluation at all, and each
  group emits only its per-query top-k, so the global re-rank sees
  ≤ groups·k rows per query instead of every candidate pair. The
  block dot accumulates with one vectorized multiply-add PER
  DIMENSION, left to right (``_seq_matdot``) — same ops, same order,
  same binary64 rounding as the JVM/DuckDB sequential paths, so the
  whole IVF query (training included, see ``_kmeans_spherical``) is
  bit-replayable by an external oracle. vs a single BLAS matmul this
  is d strided passes over the block instead of one — same
  asymptotics, and the block caps (``_shard_blocks``) bound the
  constant. ``_shard_blocks`` caps every group at ~2·block_size
  rows, so a hot list costs extra shuffle rows, never executor
  memory. The LSH top-k path instead generates DISTINCT candidate id
  pairs (hot buckets capped deterministically) and rescored through
  the exact-sequential join-back — slightly more shuffle than block
  scoring, in exchange for bit-exact oracle verifiability of the
  whole query.

Index store: an index is a directory of parquet subdirectories — one
ROW STORE (``lists`` or ``buckets``, corpus-scale, written and scanned
by Spark), BOUNDED metadata (conf, centroids, PQ codebooks: read and
written on the driver with Arrow through ``read_metadata`` /
``write_metadata`` in ``sources``, no Spark job) and, once ids are
deleted, ``tombstones``. Every lifecycle step that does not depend on
the family lives in ``operators.index_store``: family detection, set
pinning, the stored layout, the row writer, tombstones,
``append_to_index``, ``delete_from_index``, ``compact_index`` and
``rebuild_index``. Each family — IVF and LSH here, IVF-PQ in ``pq`` —
keeps its ``save_*_index`` and ``query_*_index`` and supplies a small
``Codec``: how to file and encode new rows, which metadata dirs it
stores, and which build settings a rebuild carries over. Rebuild has
ONE commit protocol: the family's ``save_*_index`` writes the new
index to a sibling directory, then each subdir moves into the live
path through the directory swap (``sources.writers._swap_in``), the
row store first, then the metadata, so a pointer-mode subdir stays
pointer-mode and a crash anywhere heals by re-running the rebuild.
Paths are local/NFS only: swaps and metadata files rely on POSIX
renames.

Caching contract: the ANN paths ``persist()`` their multiply-read
intermediates (capped bucket memberships, probe assignments) and do
NOT unpersist them — the returned DataFrame is lazy and still reads
those frames, and repeated calls in one session reuse the warm blocks.
They are evictable MEMORY_AND_DISK blocks, so they degrade rather
than leak; call ``spark.catalog.clearCache()`` at a batch boundary to
release them deliberately.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# the lifecycle API (append/delete/compact/rebuild) is re-exported here
from hadoop_2_10_0_src_mapreduce_spark.operators.index_store import (  # noqa: F401
    Codec,
    _apply_tombstones,
    _conf_table,
    _dequantized,
    _meta_table,
    _pin_index,
    _read_conf,
    _tombstone_df,
    _write_rows,
    append_to_index,
    compact_index,
    delete_from_index,
    index_codec,
    rebuild_index,
)
from hadoop_2_10_0_src_mapreduce_spark.sources.readers import (
    local_values_df,
    read_metadata,
)
from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
    pin_generation,
    write_metadata,
)


# --- adaptive geometry (the sf1 scaling-gate fix) ---------------------
# Fixed bucket/cell counts are quadratic time bombs: occupancy grows
# with the corpus and within-bucket pair work grows with occupancy².
# These rules scale the geometry with corpus size so occupancy — and
# therefore per-row candidate work — stays bounded. Both rules are
# integer arithmetic with an exact SQL twin (``*_sql``), so a DuckDB
# oracle derives the IDENTICAL geometry from the same corpus and the
# result stays hash-checkable at every scale. Constants are chosen so
# the sf0.01/sf0.1 fixture corpora resolve to the historical fixed
# geometry (16 cells, 6 planes) — pre-r6 results are bit-identical.

LSH_MIN_PLANES = 6
# 20-bit ceiling keeps the rule linear to 2^19·32 ≈ 16.7M vectors per
# table; the only structural cost is the oracle's plane CTE (16·20·64
# md5 rows — trivial). Past the ceiling, raise it or add tables.
LSH_MAX_PLANES = 20
LSH_TARGET_BUCKET = 32
CELL_TARGET = 132
CELL_FLOOR = 16
# adaptive_centroids never asks for more cells than the k-means
# trainer can seed: init takes the first k vectors of the bounded
# training sample, so k beyond it would starve. CELL_CAP is the cap
# at the DEFAULT max_train (4096); paths that raise max_train pass
# cap=max_train so the rule keeps target occupancy past
# n ≈ 4096·CELL_TARGET (~540k vectors) instead of silently
# re-growing cells (and index_stats recommending a rebuild that
# could never satisfy it).
CELL_CAP = 4096


def adaptive_centroids(
    n: int, *, target_cell: int = CELL_TARGET, floor: int = CELL_FLOOR,
    cap: int = CELL_CAP,
) -> int:
    """SemDeDup/IVF cell-count rule: cells = ⌈n / target_cell⌉ (with a
    floor), so E[cell size] ≈ target_cell regardless of corpus size and
    the within-cell pair volume Σ|cell|² stays LINEAR in n (SemDeDup at
    web scale runs c ~ √n or larger for the same reason). Capped at
    ``cap`` — the trainer's sample bound (pass cap=max_train when the
    sample bound was raised; see constant note)."""
    return max(floor, min(cap, (n + target_cell - 1) // target_cell))


def adaptive_centroids_sql(
    corpus: str = "e",
    *,
    target_cell: int = CELL_TARGET,
    floor: int = CELL_FLOOR,
    cap: int = CELL_CAP,
) -> str:
    """Scalar-subquery twin of ``adaptive_centroids`` over CTE/table
    ``corpus`` — pure integer arithmetic (ceil = (n+t-1)//t), so both
    engines agree exactly at every corpus size."""
    return (
        f"(SELECT GREATEST({floor}, LEAST({cap}, "
        f"(COUNT(*) + {target_cell - 1}) // {target_cell})) FROM {corpus})"
    )


def adaptive_planes(
    n: int,
    *,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_planes: int = LSH_MIN_PLANES,
    max_planes: int = LSH_MAX_PLANES,
) -> int:
    """LSH bit-count rule: the smallest p in [min, max] with
    2^p · target_bucket ≥ n, i.e. just enough buckets per table to hold
    E[occupancy] ≈ target_bucket. Candidate pairs per table ≈
    buckets · occupancy²/2 ≈ n · target_bucket / 2 — LINEAR in n (the
    fixed-p form is n²/buckets). More bits per table lowers per-table
    recall for a fixed neighbor similarity (p_agree^bits); buy recall
    back with more tables if needed — the standard LSH dial."""
    p = min_planes
    while p < max_planes and (1 << p) * target_bucket < n:
        p += 1
    return p


def adaptive_planes_sql(
    corpus: str = "e",
    *,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_planes: int = LSH_MIN_PLANES,
    max_planes: int = LSH_MAX_PLANES,
) -> str:
    """Scalar-subquery twin of ``adaptive_planes``: a CASE over integer
    thresholds (no float log2 — boundary counts can never straddle a
    rounding difference between engines)."""
    whens = "".join(
        f" WHEN COUNT(*) <= {(1 << p) * target_bucket} THEN {p}"
        for p in range(min_planes, max_planes)
    )
    return f"(SELECT CASE{whens} ELSE {max_planes} END FROM {corpus})"


PROBE_FLOOR = 4
PROBE_FRACTION = 16


def adaptive_probes(
    n_lists: int, *, fraction: int = PROBE_FRACTION, floor: int = PROBE_FLOOR
) -> int:
    """IVF probe-count rule for ``n_probe="auto"``: ceil(n_lists /
    fraction), floored at the historical default (4) and capped at the
    list count. The scale story: ``adaptive_centroids`` grows the list
    count linearly with the corpus to keep occupancy bounded, but a
    FIXED probe count then covers a vanishing fraction of lists —
    measured at the 200k-vector/1516-list corpus, n_probe=4 probes
    0.26% of lists and recall@10 collapses to 0.10 (SURVEY §8). With
    this rule the probed-row volume stays ≈ corpus/fraction (a
    constant ~6% scan at CELL_TARGET occupancy) — serve time stays
    linear while recall stops degrading with growth. Fraction chosen
    by a measured probe sweep on that corpus (r7): 48 probes → 0.392,
    95 (this rule) → 0.557, 152 → 0.657, 256 → 0.771 recall@10, with
    serve walls flat (5-8 s) across the sweep — 16 is the smallest
    fraction clearing a 0.5 floor on the near-random worst case. Integer
    arithmetic with an exact SQL twin (``adaptive_probes_sql``), same
    contract as the other adaptive rules; at the historical 16-list
    geometry it resolves to exactly 4, so every pre-r7 result is
    bit-identical. May exceed n_lists at tiny list counts (floor
    wins); every probe path already clamps to the lists that exist —
    the historical n_probe=4 default relied on the same clamp."""
    return max(floor, (n_lists + fraction - 1) // fraction)


def adaptive_probes_sql(
    n_lists_sql: str,
    *,
    fraction: int = PROBE_FRACTION,
    floor: int = PROBE_FLOOR,
) -> str:
    """Scalar twin of ``adaptive_probes`` over a list-count expression
    (typically ``adaptive_centroids_sql(corpus)``), so an oracle can
    derive the identical probe fan from its own corpus CTE."""
    return (
        f"GREATEST({floor}, "
        f"(({n_lists_sql}) + {fraction - 1}) // {fraction})"
    )


LSH_TABLE_BASE = 16
LSH_BASE_PLANES = 10
LSH_MAX_TABLES = 128
# probed-pair count above which query_lsh_index prunes via a broadcast
# semi-join instead of a literal OR-of-ANDs predicate — measured at the
# 200k/13-bit table sweep: ~3.2k literals (32 tables) still served in
# 7 s, ~6.4k took 77 s and ~12.8k took 246 s (planning/filter
# compilation, not I/O), while the semi-join serves the same rows at
# scan speed at every size.
LSH_LITERAL_PRED_MAX = 4096


def adaptive_tables(
    n: int,
    *,
    base: int = LSH_TABLE_BASE,
    base_planes: int = LSH_BASE_PLANES,
    max_tables: int = LSH_MAX_TABLES,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_planes: int = LSH_MIN_PLANES,
    max_planes: int = LSH_MAX_PLANES,
) -> int:
    """LSH table-count rule for ``n_tables="auto"`` — the last
    unadaptive geometry dial (the n_probe failure class, one knob
    over): ``adaptive_planes`` grows the bit count with the corpus to
    keep per-table candidate work linear, but every added bit cuts
    per-table recall by the pair's bit-agreement probability, so a
    FIXED table count collapses recall exactly the way fixed n_probe
    did — measured at the 200k-vector corpus (13 bits): 16 tables →
    recall@10 0.07 (SURVEY §8 r7). Rule: tables = base · 2^(bits −
    base_planes), i.e. DOUBLE the tables for every bit past the
    historical 10-bit geometry — the standard recall-compensation
    dial (recall = 1−(1−p^b)^L: multiplying L by 1/p per added bit
    holds the product; 2 ≥ 1/p for any p ≥ 0.5, the regime every
    qualifying neighbor is in). Measured on the 200k/13-bit corpus
    (tools/lsh_table_sweep.py, one 128-table build, first-T-of-128
    serves — bit-identical to T-table builds since planes are
    md5-per-(t,p,d)): recall@10 16 → 0.070, 32 → 0.137, 64 → 0.244,
    128 (this rule) → 0.435, serve walls FLAT 5-12 s across the sweep
    once probed-pair pruning switches to the broadcast semi-join (see
    LSH_LITERAL_PRED_MAX — the literal predicate alone cost 246 s at
    128 tables), float store 0.84 → 6.7 GB (linear; quantize=True
    cuts it ~3.5×, recall unchanged — r7 int8 pin). Recall stops
    collapsing with growth at linear store cost, though the r7
    conclusion stands: at weak-margin corpora IVF(+PQ) reaches 0.557
    at 1/30 the store, so LSH's lane remains fast-drifting corpora
    where oblivious hashes never retrain. Capped at ``max_tables``
    (the sweep's measured point; past it, prefer IVF/IVF-PQ). At
    bits ≤ 10 — every driver fixture through sf1 — resolves to
    exactly 16, so all pre-r8 hashes carry. Integer arithmetic with
    an exact SQL twin (``adaptive_tables_sql``).

    This count-keyed form is the SQL-twin-parity surface; the engine
    resolves tables from the RESOLVED plane count
    (``adaptive_tables_for_planes``) so an explicitly passed
    ``n_planes`` keys the table rule too — the two agree exactly when
    planes are themselves "auto"."""
    bits = adaptive_planes(
        n, target_bucket=target_bucket, min_planes=min_planes,
        max_planes=max_planes,
    )
    return adaptive_tables_for_planes(
        bits, base=base, base_planes=base_planes, max_tables=max_tables
    )


def adaptive_tables_for_planes(
    bits: int,
    *,
    base: int = LSH_TABLE_BASE,
    base_planes: int = LSH_BASE_PLANES,
    max_tables: int = LSH_MAX_TABLES,
) -> int:
    """The table rule keyed off the plane count it actually
    compensates for: tables = base · 2^(bits − base_planes), capped.
    ``_resolve_tables`` uses this with the RESOLVED plane count, so
    a caller pinning n_planes=6 on a 200k corpus gets 16 tables (the
    6-bit recall regime needs no compensation), not the 128 the
    corpus-size rule would blindly order — and "auto" planes give
    bit-identical results to the count-keyed ``adaptive_tables``."""
    return min(max_tables, base << max(0, bits - base_planes))


def adaptive_tables_sql(
    corpus: str = "e",
    *,
    base: int = LSH_TABLE_BASE,
    base_planes: int = LSH_BASE_PLANES,
    max_tables: int = LSH_MAX_TABLES,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_planes: int = LSH_MIN_PLANES,
    max_planes: int = LSH_MAX_PLANES,
) -> str:
    """Scalar-subquery twin of ``adaptive_tables``: the same integer
    count thresholds as ``adaptive_planes_sql`` (so both rules always
    agree on the bit count they key off), mapping each bit count to
    its table count — no float math anywhere."""

    def tables_at(p: int) -> int:
        return min(max_tables, base << max(0, p - base_planes))

    whens = "".join(
        f" WHEN COUNT(*) <= {(1 << p) * target_bucket} THEN {tables_at(p)}"
        for p in range(min_planes, max_planes)
    )
    return f"(SELECT CASE{whens} ELSE {tables_at(max_planes)} END FROM {corpus})"


LSH_MULTIPROBE_CAP = 4


def adaptive_multiprobe(
    n_planes: int,
    n_tables: int,
    *,
    base: int = LSH_TABLE_BASE,
    base_planes: int = LSH_BASE_PLANES,
    cap: int = LSH_MULTIPROBE_CAP,
) -> int:
    """Multi-probe flip-count rule for ``n_multiprobe="auto"`` — the
    third adaptive recall dial, covering the bit deficit the TABLE
    rule didn't: ``adaptive_tables_for_planes`` orders one table
    doubling per bit past the 10-bit geometry, but the table count is
    capped (store is linear in tables) and a user may pin a smaller
    count to bound store. Rule: flips = the number of bits past
    base_planes NOT covered by a table doubling, plus one when any
    deficit exists,

        covered = floor(log2(n_tables / base))   (0 if below base)
        deficit = max(0, (bits − base_planes) − covered)
        flips   = min(cap, deficit + 1 if deficit else 0)

    Each flip level probes the 2^q lowest-|margin|
    perturbations, the multi-probe result that one perturbed probe is
    worth nearly one extra table for near neighbors (Lv et al. 2007).
    Measured on the 200k-vector/13-bit corpus
    (tools/lsh_table_sweep.py --multiprobe, r9): at 16 tables
    recall@10 q=0 → 0.070, q=1 → 0.136, q=2 → 0.238, q=3 → 0.386,
    q=4 → 0.542; at 32 tables q=0 → 0.137, q=1 → 0.242, q=2 → 0.400,
    q=3 → 0.597, q=4 → 0.776 — each flip tracks the table doubling it
    substitutes for within ~11% ((16, q) vs (16·2^q, 0): 0.136/0.137,
    0.238/0.244, 0.386/0.435), and serve walls stay FLAT across the
    grid (2.7–9.3 s; perturbed buckets prune through the same
    broadcast semi-join, so probes cost reads, not planning). The +1
    covers the compounding ~11% per-flip shortfall: at volume parity
    (flips = deficit exactly) a pinned 16-table store serves 0.386 <
    the 0.435 the uncapped table rule would have bought, while one
    extra flip lands 0.542 at 1/8 the store (and a 2×-store pin
    lands 0.597) — strictly better than the table rule's point at a
    fraction of its bytes. At every auto-resolved geometry the
    deficit is 0 by construction until the table cap binds
    (bits > 13), and at the ≤10-bit driver fixtures it is 0 outright
    — every existing hash carries. Integer arithmetic with an exact
    SQL twin (``adaptive_multiprobe_sql``)."""
    covered = 0
    while n_tables >= (base << (covered + 1)):
        covered += 1
    deficit = max(0, (n_planes - base_planes) - covered)
    return min(cap, deficit + 1 if deficit else 0)


def adaptive_multiprobe_sql(
    corpus: str = "e",
    *,
    n_tables: int | None = None,
    base: int = LSH_TABLE_BASE,
    base_planes: int = LSH_BASE_PLANES,
    cap: int = LSH_MULTIPROBE_CAP,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_planes: int = LSH_MIN_PLANES,
    max_planes: int = LSH_MAX_PLANES,
    max_tables: int = LSH_MAX_TABLES,
) -> str:
    """Scalar-subquery twin of ``adaptive_multiprobe``: the same
    integer count thresholds as ``adaptive_planes_sql`` (both rules
    key off the identical bit count), each mapped to its flip count.
    ``n_tables=None`` replays the auto table rule (deficit is the cap
    overflow only); an explicit count replays a user-pinned store."""

    def flips_at(p: int) -> int:
        t = (
            min(max_tables, base << max(0, p - base_planes))
            if n_tables is None
            else n_tables
        )
        covered = 0
        while t >= (base << (covered + 1)):
            covered += 1
        deficit = max(0, (p - base_planes) - covered)
        return min(cap, deficit + 1 if deficit else 0)

    whens = "".join(
        f" WHEN COUNT(*) <= {(1 << p) * target_bucket} THEN {flips_at(p)}"
        for p in range(min_planes, max_planes)
    )
    return f"(SELECT CASE{whens} ELSE {flips_at(max_planes)} END FROM {corpus})"


# The pinned r9 sweep grid (tools/lsh_table_sweep.py, 200k vectors /
# 13 bits, serve-side recall@10) — the measurement the advisor's
# flip-vs-table equivalence model comes from. Keys: (n_tables, flips).
_MULTIPROBE_SWEEP_RECALL = {
    (16, 0): 0.070, (16, 1): 0.136, (16, 2): 0.238,
    (16, 3): 0.386, (16, 4): 0.542,
    (32, 0): 0.137, (32, 1): 0.242, (32, 2): 0.400,
    (32, 3): 0.597, (32, 4): 0.776,
    (64, 0): 0.244, (128, 0): 0.435,
}


def multiprobe_advisor(
    n_planes: int,
    n_tables: int,
    *,
    recall_target: float | None = None,
    base: int = LSH_TABLE_BASE,
    base_planes: int = LSH_BASE_PLANES,
    max_tables: int = LSH_MAX_TABLES,
    cap: int = LSH_MULTIPROBE_CAP,
) -> dict:
    """The tables-vs-flips COST dial for a bit-deficit LSH geometry
    (r11, the r10 verdict's item 6): ``adaptive_multiprobe`` picks a
    flip count, but flips and table doublings buy ~the same recall in
    different currencies — flips multiply candidate READS by ~2^q
    (measured build-side: q=4 cost 17× the q=0 wall at 50k/13-bit/16
    tables, 22→379 s; serve-side walls stay flat because probes prune
    through the same semi-join but the rescore volume still grows),
    while table doublings multiply the STORE (bytes linear in tables;
    serve walls measured flat 5–12 s across the 16→128 sweep). This
    helper enumerates every split of the bit deficit between the two
    and reports each option's cost multipliers plus the r9 sweep's
    measured recall where the grid has the point (200k/13-bit;
    extrapolated points are marked), so a caller with a store budget
    or a latency budget can pick the cheaper path to a recall target
    instead of eating the auto rule's default.

    Returns {deficit, current: {...}, options: [{n_tables, flips,
    store_multiplier, probe_volume_multiplier, recall, measured},
    ...], pick, anchor_geometry} — ``pick`` is the option meeting
    ``recall_target`` (when given, from measured points only) with the
    smallest probe-volume multiplier, ties broken toward smaller
    store; without a target it is the min-reads option (all-tables),
    with the auto rule's flip count present in the list for
    comparison. ``anchor_geometry`` names where every number comes
    from (r12, from the r11 verdict): the measured recalls AND the
    0.96^q per-flip shortfall used for ``measured: false`` rows are
    anchored solely at the r9 sweep's 200k-vector / 13-bit grid — a
    corpus with very different density or dimensionality can sit off
    that curve, so treat estimated rows as pricing guidance, not a
    recall promise (the target pick uses measured points only for
    exactly this reason)."""
    covered = 0
    while n_tables >= (base << (covered + 1)):
        covered += 1
    deficit = max(0, (n_planes - base_planes) - covered)
    options: list[dict] = []
    for t in range(deficit + 1):
        tables_t = base << (covered + t)
        if tables_t > max_tables:
            break
        remaining = deficit - t
        q = min(cap, remaining + 1 if remaining else 0)
        meas = _MULTIPROBE_SWEEP_RECALL.get((tables_t, q))
        if meas is None:
            # sweep model: one flip ≈ one table doubling with a ~4%/
            # flip compounding shortfall (the measured (16,q) vs
            # (16·2^q,0) ratios: 0.99, 0.975, 0.887)
            eq_tables = min(max_tables * 16, tables_t << q)
            anchor = _MULTIPROBE_SWEEP_RECALL.get((min(eq_tables, 128), 0))
            est = (
                round(anchor * (0.96 ** q), 3) if anchor is not None else None
            )
        recall = meas if meas is not None else est
        options.append({
            "n_tables": tables_t,
            "flips": q,
            "store_multiplier": round(tables_t / n_tables, 2),
            "probe_volume_multiplier": 1 << q,
            "recall": recall,
            "measured": meas is not None,
        })
    current_q = adaptive_multiprobe(
        n_planes, n_tables, base=base, base_planes=base_planes, cap=cap
    )
    current = next(
        (o for o in options if o["n_tables"] == n_tables
         and o["flips"] == current_q),
        {"n_tables": n_tables, "flips": current_q},
    )
    pick = None
    if recall_target is not None:
        hits = [
            o for o in options
            if o["measured"] and o["recall"] is not None
            and o["recall"] >= recall_target
        ]
        pick = min(
            hits,
            key=lambda o: (o["probe_volume_multiplier"],
                           o["store_multiplier"]),
            default=None,
        )
    if pick is None:
        # no target (or nothing measured reaches it): min-reads path
        pick = min(
            options,
            key=lambda o: (o["probe_volume_multiplier"],
                           -o["store_multiplier"]),
        ) if options else current
    return {
        "n_planes": n_planes,
        "deficit": deficit,
        "current": current,
        "options": options,
        "pick": pick,
        "anchor_geometry": {
            "corpus": "200k synthetic vectors (tools/gen_vectors.py)",
            "n_planes": 13,
            "sweep": "r9 tools/lsh_table_sweep.py grid",
            "extrapolation": "0.96^q per-flip shortfall vs the "
                             "equivalent-tables measured point",
        },
    }


def _resolve_tables(n_planes_resolved: int, n_tables, **kw) -> int:
    """Resolve ``n_tables`` AFTER planes: "auto" keys off the resolved
    plane count (no extra count() job — the planes resolution already
    paid it when both knobs are auto, and an explicit n_planes should
    drive the compensation rule, not the corpus size)."""
    if n_tables == "auto":
        return adaptive_tables_for_planes(n_planes_resolved, **kw)
    return n_tables


def _resolve_probes(n_lists: int, n_probe) -> int:
    if n_probe == "auto":
        return adaptive_probes(n_lists)
    return n_probe


def _resolve_planes(emb: DataFrame, n_planes, n: int | None = None, **kw) -> int:
    """``n``: pre-counted corpus size — callers that already paid (or
    share) a count() pass it down so "auto" resolution costs zero extra
    jobs; the value fed to the rule is identical either way."""
    if n_planes == "auto":
        return adaptive_planes(emb.count() if n is None else n, **kw)
    return n_planes


def _resolve_centroids(
    emb: DataFrame, n_centroids, n: int | None = None, **kw
) -> int:
    if n_centroids == "auto":
        return adaptive_centroids(emb.count() if n is None else n, **kw)
    return n_centroids


def _seq_sq_norms(mat: np.ndarray) -> np.ndarray:
    """Per-row Σxᵈ² with one vectorized multiply-add per dimension,
    left to right — bit-identical to JVM ``aggregate(zip_with(v,v))``
    and DuckDB ``list_inner_product(v, v)`` (same sequential binary64
    rounding), unlike ``np.linalg.norm``'s pairwise reduction."""
    acc = np.zeros(len(mat))
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return acc


def _seq_matdot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs dot block (len(a) × len(b)) accumulated sequentially
    per dimension — the matmul-shaped twin of ``_seq_sq_norms``; every
    (i, j) cell is bit-identical to ``list_inner_product(a_i, b_j)``.
    d strided passes instead of one BLAS call: same asymptotics, and
    callers bound the block size (k-means sample / _shard_blocks)."""
    acc = np.zeros((len(a), len(b)))
    for d in range(a.shape[1]):
        acc += a[:, d : d + 1] * b[:, d][None, :]
    return acc


def _md5_key(x) -> tuple[str, object]:
    """Deterministic engine-independent ordering key: (md5 hex of the
    decimal id string, id) — the same (md5(CAST(id AS VARCHAR)), id)
    any SQL engine computes, used for seeding and caps."""
    return (hashlib.md5(str(x).encode()).hexdigest(), x)


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot_pre(a: Column | str, b: Column | str) -> Column:
    """Sequential dot over arrays ALREADY cast to double — the caller
    pays the cast once per vector, not once per pair."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential double-precision dot product (JVM, codegen)."""
    return _dot_pre(_as_double(a), _as_double(b))


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, rnk, neighbor_id, sim). Ranking key is
    (rounded sim desc, neighbor_id asc) so ties are deterministic.
    The query side is broadcast — corpus never shuffles. Casts and
    norms are projected below the cross join (once per vector, values
    identical to per-pair evaluation), so each of the O(n·q) pairs
    pays only the single sequential dot.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    ).withColumn("_qn", F.sqrt(_dot_pre("_qv", "_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_cv")
    ).withColumn("_cn", F.sqrt(_dot_pre("_cv", "_cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_pre("_qv", "_cv") / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "sim")
    )


def _score_pairs(
    emb: DataFrame,
    cands: DataFrame,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Score (query_id, neighbor_id) candidate pairs by joining them
    back to the DISTRIBUTED vector table — two hash joins on id, then
    the JVM zip_with/aggregate cosine (sequential double accumulation,
    bit-identical to the DuckDB oracle). Nothing is collected to the
    driver: the corpus stays partitioned, candidate ids shuffle, and a
    vector copy rides along only for the surviving candidate rows.
    Locally Spark broadcast-joins the (small) vector side; at cluster
    scale both joins degrade gracefully to shuffle hash joins.

    The double cast and the norm are projected BELOW the join — once
    per vector instead of once per pair. The values are identical to
    per-pair evaluation (same sequential ops on the same inputs), but
    the per-pair work drops from six interpreted array passes to one
    zip_with/aggregate — the difference between seconds and minutes at
    ~10⁶ candidate pairs."""
    qv = emb.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    ).withColumn("_qn", F.sqrt(_dot_pre("_qv", "_qv")))
    nv = emb.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_nv")
    ).withColumn("_nn", F.sqrt(_dot_pre("_nv", "_nv")))
    return (
        cands.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_pre("_qv", "_nv") / (F.col("_qn") * F.col("_nn")),
                round_digits,
            ).alias("sim"),
        )
    )


def _score_pairs_arrow(
    emb: DataFrame,
    cands: DataFrame,
    id_col: str,
    vec_col: str,
    round_digits: int,
    *,
    mirror: bool = False,
    emb_right: DataFrame | None = None,
) -> DataFrame:
    """High-volume twin of ``_score_pairs``: same join-back topology
    (ids shuffle, vectors join where they live), but the cosine runs in
    numpy over Arrow batches instead of interpreted JVM zip_with —
    ~10× per-pair. BIT-IDENTICAL to the sequential path and therefore
    to the DuckDB oracle: the dot and both norms accumulate with one
    vectorized multiply-add PER DIMENSION, left to right
    (``acc += q_d·c_d`` rounds each elementwise step exactly like
    ``aggregate(zip_with(...))``'s scalar loop — same ops, same order,
    same binary64 rounding), and the final round is half-away-from-zero
    like F.round/DuckDB round. Zero-norm NaNs pass through like the SQL
    path (0/0 → NaN in both engines). Use for candidate streams big
    enough that interpreted higher-order functions dominate (ANN);
    ``_score_pairs`` stays for modest volumes where an extra pandas
    exchange isn't worth it.

    ``mirror=True`` emits BOTH directions of every pair from the same
    batch — sim(a,b) = sim(b,a), so mirroring inside the scorer is free
    row duplication, where a DataFrame-level
    ``scored.union(scored.select(swapped))`` would re-evaluate the
    whole join+scoring subtree once per branch (mapInArrow is not an
    exchange, so ReuseExchange cannot dedupe it)."""
    # ship vectors in their SOURCE width (float32 for the fixtures) and
    # upcast inside numpy: float32→float64 is exact, so the sequential
    # accumulation sees the same doubles as a JVM-side cast would
    # produce, and the Arrow transfer + join payload halve
    # emb_right lets the two pair sides come from DIFFERENT tables
    # (e.g. a query batch vs a stored index); default is the self-join
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    nv = (emb if emb_right is None else emb_right).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    paired = cands.join(qv, "query_id").join(nv, "neighbor_id")
    id_type = {f.name: f.dataType.simpleString() for f in emb.schema.fields}[id_col]
    scale = 10.0**round_digits

    def batches(it):
        import pyarrow as pa

        for rb in it:
            n = rb.num_rows
            if not n:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            # ListArray.flatten() hands back the contiguous values
            # buffer (offset-aware) — an O(1) view, no per-row objects
            q = np.asarray(cols["_qv"].flatten()).astype(np.float64).reshape(n, -1)
            c = np.asarray(cols["_nv"].flatten()).astype(np.float64).reshape(n, -1)
            dot = np.zeros(n)
            qn = np.zeros(n)
            nn = np.zeros(n)
            for d in range(q.shape[1]):
                dot += q[:, d] * c[:, d]
                qn += q[:, d] * q[:, d]
                nn += c[:, d] * c[:, d]
            # 0/0 → NaN pass-through is intentional (same as the SQL
            # path); errstate just silences the expected warning spam
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = dot / (np.sqrt(qn) * np.sqrt(nn))
            sims = np.copysign(np.floor(np.abs(sims) * scale + 0.5), sims) / scale
            qa, na = cols["query_id"], cols["neighbor_id"]
            sa = pa.array(sims)
            if mirror:
                qa, na, sa = (
                    pa.concat_arrays([qa, na]),
                    pa.concat_arrays([na, qa]),
                    pa.concat_arrays([sa, sa]),
                )
            yield pa.RecordBatch.from_arrays(
                [qa, na, sa], ["query_id", "neighbor_id", "sim"]
            )

    return paired.mapInArrow(
        batches, f"query_id {id_type}, neighbor_id {id_type}, sim double"
    )


def _bucket_candidates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    n_flip: int = 0,
) -> DataFrame:
    """Distinct candidate id pairs (query_id < neighbor_id) colliding
    in ≥1 LSH table — the near-dup candidate generator. Only (table,
    bucket, id) triples shuffle; vectors never enter the self-join, so
    the exact sequential rescore downstream stays oracle-identical.

    ``n_flip`` > 0 adds multi-probe on the PROBE side of the
    self-join (each vector also probes its 2^q−1 lowest-|margin|
    perturbed buckets; the other side stays exact) — one extra
    signature pass, candidate volume ×≤2^q. With probes on one side
    only, pairs are canonicalized to (min, max) AFTER the join so
    probe hits where the prober has the larger id survive; at
    n_flip=0 the sides are symmetric and the historical `<` filter
    yields the same canonical set at HALF the pre-distinct volume,
    so that path keeps it."""
    # persist: the self-join otherwise evaluates the signature
    # mapInPandas subtree once PER SIDE — twice the Python-worker work
    buckets = lsh_signatures(
        emb.select(id_col, vec_col),
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
    ).persist()
    if n_flip > 0:
        a = lsh_signatures(
            emb.select(id_col, vec_col),
            vec_col=vec_col,
            n_planes=n_planes,
            n_tables=n_tables,
            n_flip=n_flip,
        ).select(F.col(id_col).alias("query_id"), "table_idx", "bucket")
    else:
        a = buckets.select(
            F.col(id_col).alias("query_id"), "table_idx", "bucket"
        )
    b = buckets.select(F.col(id_col).alias("neighbor_id"), "table_idx", "bucket")
    joined = a.join(b, ["table_idx", "bucket"])
    if n_flip > 0:
        return (
            joined.where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                F.least("query_id", "neighbor_id").alias("query_id"),
                F.greatest("query_id", "neighbor_id").alias("neighbor_id"),
            )
            .distinct()
        )
    return (
        joined.where(F.col("query_id") < F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def near_dup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    round_digits: int = 6,
    n_planes: int | str = 12,
    n_tables: int = 16,
    n_multiprobe: int | str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ τ).

    LSH-bucketed, fully distributed: random-hyperplane buckets generate
    candidate pairs (ids only), which are exactly rescored JVM-side via
    the join-back in _score_pairs — no driver-side corpus collect
    anywhere on the path. Identical vectors share every sign bit, so
    true duplicates collide in ALL tables (recall exactly 1 for them);
    for near-dups at τ=0.99 a pair agrees per bit w.p.
    1-arccos(0.99)/π ≈ 0.955, so missing all 16 12-bit tables has
    probability (1-0.955¹²)¹⁶ ≈ 1.1e-6 — negligible, and the exact
    rescore means any surviving pair's sim is exact. 12 bits (not the
    ANN paths' 6) because a 0.99 threshold tolerates the narrower
    per-table recall in exchange for 2⁶× smaller buckets — on
    uncorrelated vectors expected candidates drop from n²·L/2⁷ to
    n²·L/2¹³, which is what keeps the bucket self-join sub-quadratic
    as the corpus grows. For lower thresholds drop n_planes / raise
    n_tables (recall = 1-(1-p^b)^L). ``n_planes="auto"`` keeps
    E[bucket] ≈ 8 as the corpus grows (≥ the fixed 12-bit floor), the
    scale-safe setting past ~30k vectors.

    ``n_multiprobe`` (r10): the recall-ceiling escape for exactly
    that auto-grown regime — at a fixed 16-table store, bits grown
    past 12 cut per-table recall (0.955^bits at τ=0.99: miss prob
    (1−0.955²⁰)¹⁶ ≈ 3e-4 at 20 bits, ~1% at 30), and a store-pinned
    user previously had no dial back. "auto" =
    ``adaptive_multiprobe(..., base_planes=12)`` — 12 is THIS path's
    base geometry (not the ANN paths' 10), so flips resolve to 0 at
    every ≤12-bit corpus (all driver fixtures: gates bit-identical)
    and grow only with the bit deficit the fixed store leaves."""
    if n_planes == "auto":
        n_planes = adaptive_planes(
            emb.count(), target_bucket=8, min_planes=12, max_planes=30
        )
    n_flip = (
        adaptive_multiprobe(n_planes, n_tables, base_planes=12)
        if n_multiprobe == "auto"
        else int(n_multiprobe)
    )
    cands = _bucket_candidates(
        emb, id_col, vec_col, n_planes, n_tables, n_flip=n_flip
    )
    scored = _score_pairs(emb, cands, id_col, vec_col, round_digits)
    return scored.where(F.col("sim") >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "sim",
    )


def md5_planes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """Engine-independent pseudo-random hyperplanes: component
    (table t, plane p, dim d) = 2·u − 1 where u = the first 8 hex
    digits of md5("t:p:d") read as a uint32, scaled by 2⁻³². Every
    step (÷2³², ×2, −1) is exact in binary64, so ANY engine that can
    compute md5 reproduces the planes bit-for-bit — the same trick
    dedup_simhash uses for its signature bits (catalog/dedupops.py),
    here giving DuckDB a way to recompute LSH buckets exactly.
    Uniform (not Gaussian) components: sign-LSH only needs a
    symmetric continuous direction distribution, and uniform is the
    distribution a few lines of portable SQL can reproduce."""
    planes = np.empty((n_tables * n_planes, dim))
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
                planes[t * n_planes + p, d] = 2.0 * (int(h[:8], 16) / 2**32) - 1.0
    return planes


def lsh_signatures(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 16,
    seed: int = 42,
    keep_vec: bool = False,
    planes: np.ndarray | None = None,
    n_flip: int = 0,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: ``n_tables`` independent
    sign-bit buckets of ``n_planes`` bits each. One output row per
    (vector, table): (…, table_idx, bucket). A single table's recall
    on weakly-correlated vectors is a few percent (p_agree^bits); L
    independent tables lift it to 1-(1-p)^L — the standard
    speed/recall dial. Vectorized numpy inside Arrow batches.

    ``planes`` (shape [n_tables·n_planes, dim], e.g. ``md5_planes``)
    switches to EXACT mode: vectors are upcast to float64 and the sign
    dots accumulate sequentially over dims (one vectorized multiply-add
    per dim, left-to-right) — bit-identical to DuckDB's
    list_inner_product / Spark's aggregate(zip_with(...)), so an
    external oracle can recompute every bucket. Default (None) keeps
    fixed-seed Gaussian planes and a single BLAS matmul — same
    semantics, fastest path, engine-reproducible only via the seed.

    ``keep_vec`` carries the vector through to the output so a
    downstream groupBy(table, bucket) co-locates each bucket's vectors
    for block scoring — the vector fans out L× (an LSH index stores L
    copies by construction); leave False when only ids should shuffle.

    ``n_flip`` is the MULTI-PROBE dial (query-side only — an index is
    always built at n_flip=0): for each (vector, table), ALSO emit the
    buckets reached by flipping every non-empty subset of the
    ``n_flip`` sign bits with the smallest |margin| (margin = the
    vector·plane dot the sign came from) — 2^n_flip rows per (vector,
    table) in place of 1. A near neighbor that disagrees with the
    query on one hyperplane almost always disagrees on a plane the
    QUERY itself barely cleared, so probing the low-margin
    perturbations recovers most of the recall extra tables would buy,
    at ZERO extra store (multi-probe LSH, Lv et al., VLDB 2007). Ties
    in |margin| break by plane index (stable argsort), so the probe
    set is deterministic and engine-replayable in exact mode. Flipped
    subsets of distinct bits XOR to distinct buckets, so the 2^n_flip
    buckets per (vector, table) never collide."""
    exact = planes is not None
    if planes is None:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables * n_planes, dim))
    shifts = np.arange(n_planes, dtype=np.uint64)
    n_flip = min(n_flip, n_planes)

    def batches(it):
        for pdf in it:
            mat = np.stack(pdf[vec_col].map(np.asarray))
            if mat.shape[1] != planes.shape[1]:
                # fail fast: silently truncating/ignoring dimensions
                # would quietly diverge buckets from the oracle
                raise ValueError(
                    f"lsh_signatures: vectors have dim {mat.shape[1]} but "
                    f"planes were built for dim {planes.shape[1]}; pass "
                    f"dim= (or planes=) matching the embedding width"
                )
            if exact:
                mat = mat.astype(np.float64)
                prod = np.zeros((len(mat), planes.shape[0]))
                for d in range(planes.shape[1]):
                    prod += mat[:, d : d + 1] * planes[:, d][None, :]
            else:
                prod = mat @ planes.T  # (rows, tables*planes)
            signs = (prod > 0).reshape(len(mat), n_tables, n_planes)
            buckets = (signs.astype(np.uint64) << shifts).sum(axis=2).astype(np.int64)
            variants = [buckets]
            if n_flip > 0:
                # q lowest-|margin| plane indices per (row, table);
                # stable argsort breaks |margin| ties by plane index
                margins = np.abs(prod).reshape(len(mat), n_tables, n_planes)
                low = np.argsort(margins, axis=2, kind="stable")[:, :, :n_flip]
                bitvals = (np.int64(1) << low.astype(np.int64))
                for s in range(1, 1 << n_flip):
                    mask = np.zeros_like(buckets)
                    for j in range(n_flip):
                        if s >> j & 1:
                            mask ^= bitvals[:, :, j]
                    variants.append(buckets ^ mask)
            base = pdf if keep_vec else pdf.drop(columns=[vec_col])
            for t in range(n_tables):
                for var in variants:
                    out = base.copy()
                    out["table_idx"] = t
                    out["bucket"] = var[:, t]
                    yield out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in emb.schema.fields
        if keep_vec or f.name != vec_col
    )
    return emb.mapInPandas(batches, f"{out_schema}, table_idx int, bucket long")


def _pairs_topk(
    qids: np.ndarray,
    qmat: np.ndarray,
    cids: np.ndarray,
    cmat: np.ndarray,
    k: int,
    round_digits: int,
) -> pd.DataFrame:
    """One group's similarity block as one vectorized pass per
    dimension (``_seq_matdot`` — bit-identical to the JVM/DuckDB
    sequential cosine, so the IVF query hashes against its oracle),
    then the per-query top-k with the engine's deterministic tie order
    (rounded sim desc, neighbor_id asc). Self-pairs (same id on both
    sides) are excluded. Runs inside applyInPandas — cost is bounded
    by the group (list/bucket) size, never the corpus."""
    order = np.argsort(cids, kind="stable")  # id-asc columns → stable ties
    cids, cmat = cids[order], cmat[order]
    qn = np.sqrt(_seq_sq_norms(qmat))
    cn = np.sqrt(_seq_sq_norms(cmat))
    # zero-norm vectors make 0/0 = NaN sims BY DESIGN (masked just
    # below); errstate keeps the expected invalid-divide quiet
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = _seq_matdot(qmat, cmat) / np.outer(qn, cn)
    # F.desc would rank NaN FIRST, so mask every non-finite like
    # self-pairs — ranked last, same as the JVM path's NULL. Round
    # half-AWAY-from-zero to match F.round / DuckDB round (np.round is
    # half-to-even).
    sims[~np.isfinite(sims)] = -np.inf
    scale = 10.0**round_digits
    sims = np.copysign(np.floor(np.abs(sims) * scale + 0.5), sims) / scale
    sims[qids[:, None] == cids[None, :]] = -np.inf
    kk = min(k, sims.shape[1])
    out_q, out_n, out_s = [], [], []
    for i in range(len(qids)):
        top = np.lexsort((cids, -sims[i]))[:kk]
        top = top[sims[i, top] != -np.inf]
        out_q.extend([qids[i]] * len(top))
        out_n.extend(cids[top])
        out_s.extend(sims[i, top])
    return pd.DataFrame(
        {
            "query_id": np.asarray(out_q, dtype=qids.dtype),
            "neighbor_id": np.asarray(out_n, dtype=cids.dtype),
            "sim": np.asarray(out_s, dtype=np.float64),
        }
    )


def _vec_matrix(pdf: pd.DataFrame, vec_col: str) -> np.ndarray:
    return np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))


def _global_topk(per_group: DataFrame, k: int) -> DataFrame:
    """Final per-query rank over the union of per-group top-k rows —
    ≤ groups·k rows per query, so the window input is tiny. Any global
    top-k neighbor must be top-k within some group it shares with the
    query (≥k better group-mates would otherwise beat it globally), so
    pruning to per-group top-k loses nothing."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        per_group.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "sim")
    )


def capped_lsh_buckets(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 16,
    dim: int = 64,
    max_bucket: int = 1024,
    cap_salts: int = 16,
) -> DataFrame:
    """(id, table_idx, bucket) membership rows for the deterministic
    md5-plane LSH, with the hot-bucket guard applied: membership in any
    (table, bucket) is capped at ``max_bucket`` rows, keeping the rows
    with the smallest (md5(id), id) — deterministic AND engine-
    independent, so an external oracle replays the identical cap. A
    degenerate bucket (all-same vector region) otherwise generates
    O(m²) candidate pairs — this is the same stop-key philosophy as
    dedup's shingle df-cap, and like there, an over-full bucket carries
    ~no discriminating power, so dropping its tail costs recall only
    where LSH had stopped helping anyway. Only ids shuffle; vectors
    never enter the signature or cap exchanges.

    The cap itself is TWO-LEVEL so it is not a skew funnel: a naive
    ``row_number() OVER (PARTITION BY table, bucket)`` would pull a
    degenerate bucket's entire membership through one window task just
    to keep 1024 rows. Instead each row salts into one of
    ``cap_salts`` sub-groups (pmod(xxhash64(id), s) — salt choice
    never affects the result, so engine-independence is not needed
    here), each sub-group is capped at ``max_bucket``, and the
    ≤ s·max_bucket survivors take the final cap. Output is IDENTICAL
    to the one-level cap: any row among the bucket's global smallest
    ``max_bucket`` by (md5(id), id) is necessarily among its own
    salt's smallest ``max_bucket``, so level 1 never drops a final
    survivor. No window partition ever exceeds max(bucket/s,
    s·max_bucket) rows."""
    sigs = lsh_signatures(
        emb.select(id_col, vec_col),
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        planes=md5_planes(n_tables, n_planes, dim),
    ).withColumn("_capkey", F.md5(F.col(id_col).cast("string")))
    w1 = Window.partitionBy("table_idx", "bucket", "_salt").orderBy(
        "_capkey", id_col
    )
    w2 = Window.partitionBy("table_idx", "bucket").orderBy("_capkey", id_col)
    return (
        sigs.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(cap_salts)).cast("int")
        )
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= max_bucket)
        .withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= max_bucket)
        .drop("_rn1", "_rn", "_salt", "_capkey")
    )


def ann_lsh_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int | str = 6,
    n_tables: int | str = "auto",
    n_multiprobe: int | str = "auto",
    dim: int = 64,
    max_bucket: int = 1024,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing ≥1 LSH bucket.
    ``n_planes="auto"`` derives the bit count from a corpus count via
    ``adaptive_planes`` — the scale-safe default for growing corpora
    (fixed bits ⇒ occupancy ∝ n ⇒ quadratic candidate work; measured
    15.9× wall for 10× data at the sf1 gate before this rule).
    ``n_tables="auto"`` (default) doubles the table count per bit past
    the 10-bit geometry via ``adaptive_tables`` so recall stops
    collapsing as the bit rule grows — exactly 16 tables at every
    ≤ 10-bit corpus (all driver fixtures through sf1), so the default
    changes nothing below ~33k vectors.
    With 16 tables × 6 bits each vector probes ~L/2^b ≈ 1/4 of the
    corpus here (recall ≈ 0.5 on these weakly-correlated fixtures —
    measured in tests); on real embedding corpora with tight clusters
    the same config probes far less.

    Fully oracle-checkable and deterministic end to end: md5-derived
    hyperplanes + sequential sign dots make every bucket reproducible
    outside Spark (see ``md5_planes``), the md5-ordered bucket cap
    bounds any hot bucket's candidate blow-up, and scoring goes
    through the exact sequential ``_score_pairs`` join-back — each
    DISTINCT colliding pair is scored ONCE (not once per shared
    table, and not in both directions), then mirrored and re-ranked.
    Compared to per-bucket block scoring this shuffles candidate id
    PAIRS instead of L vector copies: pair volume is capped by
    max_bucket² per bucket, the vector table is read once and joined
    where it lives, and no applyInPandas group ever materializes an
    unbounded bucket.

    ``n_multiprobe`` (r10) extends the serve-path recall dial to the
    BUILD-side self-ANN: "auto" = ``adaptive_multiprobe`` on the
    resolved geometry — 0 until the table cap binds (bits > 13, i.e.
    past every driver fixture: gate results are bit-identical), then
    each flip level probes the 2^q lowest-|margin| perturbations on
    the QUERY side of the self-join while the index side stays the
    exact capped membership (queries probe capped stored buckets —
    the same asymmetry the serve path uses, and the reason the cap
    costs index storage but never probe coverage). Candidate volume
    is bounded by 2^q·L·max_bucket per vector — reads, not
    planning."""
    n_planes = _resolve_planes(emb, n_planes)
    n_tables = _resolve_tables(n_planes, n_tables)
    n_flip = (
        adaptive_multiprobe(n_planes, n_tables)
        if n_multiprobe == "auto"
        else int(n_multiprobe)
    )
    # persist: both sides of the candidate self-join read the capped
    # memberships; without it the signature mapInPandas + cap window
    # subtree executes twice (measured ~0.5 s of the query at sf0.1)
    capped = capped_lsh_buckets(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        max_bucket=max_bucket,
    ).persist()
    if n_flip > 0:
        # probe side: every vector's exact bucket PLUS its 2^q−1
        # low-margin perturbations, against the capped exact index
        # side. Probing is deliberately uncapped — the cap bounds
        # stored membership (the join's fan-out), never coverage.
        a = lsh_signatures(
            emb.select(id_col, vec_col),
            vec_col=vec_col,
            n_planes=n_planes,
            n_tables=n_tables,
            planes=md5_planes(n_tables, n_planes, dim),
            n_flip=n_flip,
        ).select(F.col(id_col).alias("query_id"), "table_idx", "bucket")
    else:
        a = capped.select(
            F.col(id_col).alias("query_id"), "table_idx", "bucket"
        )
    b = capped.select(F.col(id_col).alias("neighbor_id"), "table_idx", "bucket")
    joined = a.join(b, ["table_idx", "bucket"])
    if n_flip > 0:
        # probes live only on side a, so canonicalize to (min, max):
        # x's perturbation reaching y's bucket does not imply y's
        # reaching x's — the historical `<` filter would drop pairs
        # whose PROBER has the larger id and halve the probe recall
        cands = (
            joined.where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                F.least("query_id", "neighbor_id").alias("query_id"),
                F.greatest("query_id", "neighbor_id").alias("neighbor_id"),
            )
            .distinct()
        )
    else:
        # symmetric sides: `<` yields the same canonical set with
        # HALF the pre-distinct volume (each unordered pair survives
        # the filter once, not in both orientations)
        cands = (
            joined.where(F.col("query_id") < F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
    sym = _score_pairs_arrow(
        emb, cands, id_col, vec_col, round_digits, mirror=True
    )
    return _global_topk(sym, k)


def quantize_embeddings(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|v| / 127,
    qvec[i] = round(v[i] / scale) ∈ [-127, 127]. The vector payload
    shrinks 4–8× (float32/64 → int8), which at corpus scale is the
    difference in every ANN shuffle, index store, and Arrow transfer;
    the standard recipe is: generate candidates on qvec, rescore the
    few survivors against the float vectors (``_score_pairs``-style
    join-back). Entirely JVM (aggregate/transform — no Python, no
    UDF). Zero vectors quantize to zeros (scale floor avoids 0/0).

    Returns (id, qvec array<tinyint>, scale double, *keep_cols);
    ``dequantize_embeddings`` inverts to within scale/2 per component.
    ``keep_cols`` ride along in the same projection (one pass — no
    join-back against the possibly-expensive source).
    """
    v = _as_double(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.greatest(amax / F.lit(127.0), F.lit(1e-30))
    return emb.select(
        F.col(id_col),
        F.transform(
            v, lambda x: F.round(x / scale).cast("tinyint")
        ).alias("qvec"),
        scale.alias("scale"),
        *[F.col(c) for c in keep_cols],
    )


def dequantize_embeddings(
    qemb: DataFrame,
    *,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    scale_col: str = "scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: v̂[i] = qvec[i]·scale, max
    per-component error scale/2 (half a quantization step)."""
    return qemb.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
        ).alias(out_col),
    )


def train_ivf_centroids(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 5,
    max_train: int = 4096,
    n: int | None = None,
) -> np.ndarray:
    """Spherical k-means centroids, trained driver-side on a BOUNDED
    sample — never the full corpus. ``n``: pre-counted corpus size
    (skips this function's count() job when the caller already paid
    one for adaptive-parameter resolution — same value, same stride). When the corpus exceeds
    ``max_train`` rows, a deterministic hash stride keeps ~max_train
    vectors regardless of partitioning: id survives iff
    uint32(md5(id)[:8]) % ceil(n/max_train) == 0 — md5 rather than
    xxhash64 so ANY engine (the DuckDB oracle included) reproduces the
    exact sample. The driver holds at most max_train·dim doubles (a
    few MB) however large the corpus grows; centroids converge from a
    few hundred vectors per list, so the cap does not hurt quality,
    and only the [n_centroids, dim] matrix — kilobytes — is broadcast
    for assignment.

    Scale note: the ``count()`` here is a second pass over the input —
    inherent to the stride contract (the reference's samplers scanned
    client-side the same way; cf. ``JC-TEST/mapred/SortValidator.java``
    [H] conventions per SURVEY §0). Callers training over an expensive
    upstream plan should ``.cache()`` it first; ``ann_ivf_topk`` reads
    a parquet scan where the second pass is a cheap metadata count.

    Training is deterministic end to end (md5-seeded init, sequential
    float accumulation — see ``_kmeans_spherical``), so the returned
    centroids are a pure function of the data that an external SQL
    oracle replays bit-for-bit."""
    sample = emb.select(id_col, vec_col)
    if n is None:
        n = sample.count()
    if n > max_train:
        stride = -(-n // max_train)  # ceil
        from hadoop_2_10_0_src_mapreduce_spark.functions.hashing import md5_u32

        sample = sample.where(
            md5_u32(F.col(id_col).cast("string")) % F.lit(stride) == 0
        )
    pdf = sample.orderBy(id_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    return _kmeans_spherical(ids, mat, n_centroids, n_iters)


def _kmeans_spherical(
    ids: np.ndarray, mat: np.ndarray, n_centroids: int, n_iters: int
) -> np.ndarray:
    """Deterministic, engine-replayable spherical k-means.

    Every float reduction is SEQUENTIAL (``_seq_sq_norms`` /
    ``_seq_matdot`` / member-ordered mean accumulation), every source
    of randomness is md5-derived (init = the first ``n_centroids``
    sample vectors ordered by (md5(id), id) — the ``md5_planes``
    trick applied to seeding), and ties in the argmax assignment break
    toward the lowest centroid index — so a SQL engine can unroll the
    same ``n_iters`` iterations as CTE stages and reproduce the
    centroids bit-for-bit (see ``_ann_ivf_oracle`` in
    plans/catalog/simops.py). ``mat`` rows must arrive in id order
    (train_ivf_centroids orders the sample); the mean accumulates over
    members in that order, matching the oracle's
    ``list(x ORDER BY id)`` sequential sum."""
    mat = mat / np.sqrt(_seq_sq_norms(mat))[:, None]
    init = sorted(range(len(ids)), key=lambda i: _md5_key(ids[i]))
    cents = mat[init[:n_centroids]].copy()
    for _ in range(n_iters):
        # first-max argmax == ROW_NUMBER() ... ORDER BY dot DESC, c ASC
        assign = _seq_matdot(mat, cents).argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                acc = np.zeros(mat.shape[1])
                for v in members:  # id-ordered sequential accumulation
                    acc = acc + v
                cents[c] = acc / len(members)
        # renormalize ALL centroids (kept-old ones included) — the
        # oracle replays the same blanket renormalization
        cents = cents / np.sqrt(_seq_sq_norms(cents))[:, None]
    return cents


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
    n_probe: int = 1,
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid lists
    (cosine). n_probe=1 partitions the corpus into inverted lists;
    n_probe>1 is the query-side probe fan-out. One row per (vector,
    probed list); by default vectors are dropped — only ids shuffle.
    ``probe_rank`` orders the probed lists by centroid proximity, so
    rank 0 is the vector's home list — one pass serves both the
    corpus-side filing (probe_rank = 0) and the query-side fan-out.
    ``keep_vec`` carries the vector along (n_probe copies) so a
    downstream groupBy(list_id) co-locates each list's vectors — the
    physical layout of a sharded IVF index.

    Assignment math is sequential-exact (``_seq_sq_norms`` /
    ``_seq_matdot``) with a STABLE probe sort (ties by centroid index
    asc), so the probed lists are bit-reproducible by the SQL oracle's
    ``ORDER BY dot DESC, c`` ranking."""
    bc = emb.sparkSession.sparkContext.broadcast(centroids)

    def batches(it):
        cents = bc.value
        for pdf in it:
            mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            mat = mat / np.sqrt(_seq_sq_norms(mat))[:, None]
            order = np.argsort(-_seq_matdot(mat, cents), axis=1, kind="stable")[
                :, :n_probe
            ]
            base = pdf if keep_vec else pdf.drop(columns=[vec_col])
            # clamp to the lists that exist: n_probe may exceed the
            # centroid count (adaptive floor on a tiny corpus, or an
            # explicit over-ask) — probing every list is the correct
            # degenerate limit, not an IndexError
            for p in range(order.shape[1]):
                out = base.copy()
                out["list_id"] = order[:, p].astype(np.int32)
                out["probe_rank"] = np.int32(p)
                yield out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in emb.schema.fields
        if keep_vec or f.name != vec_col
    )
    return emb.mapInPandas(batches, f"{out_schema}, list_id int, probe_rank int")


def _shard_blocks(
    assigned: DataFrame, id_col: str, block_size: int, *,
    self_query: bool = True,
) -> DataFrame:
    """Bound the per-group block of the IVF scorer: decompose each
    list into a 2-D grid of (corpus block ``cb``, query block ``qb``),
    every block ≤ ~``block_size`` rows per side, so no applyInPandas
    group can exceed ~2·block_size rows no matter how hot a list gets
    (the round-2 100×-scale OOM seam). Each row hashes to one home
    block (pmod(xxhash64(id), n_blocks)) and is emitted once per grid
    coordinate it participates in: as corpus (probe_rank 0, its home
    list filing) into (cb=own, every qb), and as query probe into
    (every cb, qb=own). A (query, neighbor) pair therefore meets in
    EXACTLY one group — (own(neighbor), own(query)) of the neighbor's
    home list — so per-block top-k + the global re-rank stays exact
    within the probed set. Replication cost is rows²/block_size per
    list — the same order as the scoring work itself, paid as shuffle
    rows instead of one executor's memory."""
    counts = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("_n"))
    sharded = (
        assigned.join(F.broadcast(counts), "list_id")
        .withColumn("_nb", F.ceil(F.col("_n") / F.lit(block_size)).cast("int"))
        .withColumn(
            "_own", F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int")
        )
    )
    grid = F.explode(F.sequence(F.lit(0), F.col("_nb") - 1))
    corpus_side = (
        sharded.where(F.col("probe_rank") == 0)
        .withColumn("cb", F.col("_own"))
        .withColumn("qb", grid)
        .withColumn("is_corpus", F.lit(True))
    )
    # self-ANN: every row (corpus included) probes; external queries:
    # only the probe_rank ≥ 1 rows (the query table's fan-out) do
    probes = sharded if self_query else sharded.where(F.col("probe_rank") > 0)
    query_side = (
        probes.withColumn("cb", grid)
        .withColumn("qb", F.col("_own"))
        .withColumn("is_corpus", F.lit(False))
    )
    return corpus_side.unionByName(query_side).drop("_n", "_nb", "_own")


def ann_ivf_topk(
    emb: DataFrame,
    *,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | str = 16,
    n_probe: int | str = "auto",
    block_size: int = 4096,
    round_digits: int = 6,
    corpus_count: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning: spherical
    k-means lists, queries probe their ``n_probe`` nearest lists and
    score only the vectors filed there — the complement of the LSH
    variant (data-learned partitions vs oblivious hashes). The default
    ``n_probe="auto"`` scales the probe fan with the list count
    (``adaptive_probes``: ceil(lists/16), floor 4 — exactly 4 at the
    historical 16-list geometry), so recall no longer collapses when
    ``n_centroids="auto"`` grows the list count with the corpus;
    recall is pinned against brute force in tests.

    One assignment pass serves both sides: probe_rank 0 rows are the
    corpus filing (a vector lives in exactly one home list) and ALL
    rows are query probes. Lists are then sharded into blocks of
    ≤ ~``block_size`` rows per side (``_shard_blocks``), each block
    scores as one vectorized numpy pass and emits per-query top-k,
    and the global re-rank merges ≤ blocks·k rows per query — exact
    within the probed set. Vectors shuffle once, partitioned by
    (list, block) — a sharded IVF index's layout — and every pandas
    group is memory-bounded however large or skewed the corpus.

    Deterministic and ORACLE-EXACT end to end: md5-seeded sequential
    k-means training, stable sequential probe assignment, and
    sequential block cosine mean an external SQL engine can replay the
    entire query — approximation and all — by unrolling the k-means
    iterations as CTE stages (``_ann_ivf_oracle`` in
    plans/catalog/simops.py does exactly that; the driver hash-checks
    it). Block-shard membership need not be replayed: the final top-k
    is block-invariant (test_ivf_sharded_blocks_match_single_block).

    ``queries`` switches to EXTERNAL-query mode — the serving shape of
    an IVF index: centroids train on the CORPUS only, corpus vectors
    file into their home lists (one row each), and only the query
    table fans out ``n_probe`` probes. Query ids should be disjoint
    from corpus ids (a query row whose id equals a corpus id is
    treated as the same vector and excluded from its own neighbors,
    exactly like self-ANN). Everything else — sharding, bounded
    groups, per-block top-k, global re-rank — is identical."""
    if corpus_count is None and n_centroids == "auto":
        corpus_count = emb.count()  # shared: rule + trainer stride
    n_centroids = _resolve_centroids(emb, n_centroids, n=corpus_count)
    n_probe = _resolve_probes(n_centroids, n_probe)
    vecs = emb.select(id_col, vec_col)
    cents = train_ivf_centroids(
        vecs, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
        n=corpus_count,
    )
    # persist: the vector-carrying assignment feeds THREE consumers
    # (the list-size counts and both grid sides of _shard_blocks);
    # without it the assign mapInPandas subtree — including its parquet
    # scan — evaluates once per consumer (plan showed 4 scans)
    if queries is None:
        assigned = ivf_assign(
            vecs, cents, vec_col=vec_col, n_probe=n_probe, keep_vec=True
        ).persist()
    else:
        home = ivf_assign(
            vecs, cents, vec_col=vec_col, n_probe=1, keep_vec=True
        )
        fan = ivf_assign(
            queries.select(id_col, vec_col),
            cents,
            vec_col=vec_col,
            n_probe=n_probe,
            keep_vec=True,
        ).withColumn("probe_rank", F.col("probe_rank") + 1)
        # probe_rank 0 rows = corpus filing; ranks ≥ 1 = query probes
        assigned = home.unionByName(fan).persist()
    return _score_assigned(
        assigned,
        id_col,
        vec_col,
        k=k,
        block_size=block_size,
        round_digits=round_digits,
        self_query=queries is None,
        id_type={f.name: f.dataType.simpleString() for f in emb.schema.fields}[
            id_col
        ],
    )


def _score_assigned(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    block_size: int,
    round_digits: int,
    self_query: bool,
    id_type: str,
) -> DataFrame:
    """The IVF scoring tail shared by self-ANN, external-query mode,
    and the persisted-index server: grid-shard the (vector, probed
    list) rows into bounded blocks, per-block vectorized top-k, global
    re-rank. ``assigned`` carries (id, vec, list_id, probe_rank) with
    probe_rank 0 = corpus filing, ≥ 1 = query probes."""
    blocks = _shard_blocks(assigned, id_col, block_size, self_query=self_query)

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        corpus = pdf[pdf["is_corpus"]]
        queries = pdf[~pdf["is_corpus"]]
        if corpus.empty or queries.empty:  # block holds probes only
            dtype = pdf[id_col].to_numpy().dtype
            return pd.DataFrame(
                {
                    "query_id": np.asarray([], dtype=dtype),
                    "neighbor_id": np.asarray([], dtype=dtype),
                    "sim": np.asarray([], dtype=np.float64),
                }
            )
        return _pairs_topk(
            queries[id_col].to_numpy(),
            _vec_matrix(queries, vec_col),
            corpus[id_col].to_numpy(),
            _vec_matrix(corpus, vec_col),
            k,
            round_digits,
        )

    per_block = blocks.groupBy("list_id", "cb", "qb").applyInPandas(
        block_topk, f"query_id {id_type}, neighbor_id {id_type}, sim double"
    )
    # a neighbor's home (list, block) is unique → each (query, neighbor)
    # pair surfaces from exactly one group; no dedup needed
    return _global_topk(per_block, k)


def semantic_dedup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | str = 16,
    round_digits: int = 6,
    corpus_count: int | None = None,
) -> DataFrame:
    """SemDeDup-style SEMANTIC duplicate pairs: spherical-k-means
    cluster the corpus (the oracle-exact IVF trainer — md5-seeded,
    sequential float reductions), generate candidate pairs only WITHIN
    each home list, rescore them exactly, and keep pairs with cosine ≥
    ``threshold``. The within-cluster restriction IS the published
    recipe's approximation: semantically-duplicate points land in the
    same k-means cell, so cross-cell pairs — the quadratic bulk — are
    never generated. Identical vectors always share a home list (same
    dots, same stable argmax), so exact copies are found with
    recall 1.

    Deterministic and engine-replayable end to end (training,
    assignment, and the sequential cosine all match the DuckDB twin
    the catalog registers), so an external oracle can recompute the
    entire pair set — approximation included.

    Scale shape: candidate volume is Σ(list size)² — quadratic per
    CELL, by construction of the algorithm; ``n_centroids="auto"``
    (``adaptive_centroids`` over a corpus count) holds E[list] ≈
    constant so total pair volume stays LINEAR in n — the scale-safe
    setting (a fixed cell count measured 18× wall for 10× data at the
    sf1 gate; SemDeDup at web scale runs c ~ √n or larger for the
    same reason). Only (id, list_id) rows enter the self-join;
    vectors join back where they live via the Arrow scorer, so a hot
    cell costs shuffle rows, never executor memory.

    Caching: the home-list assignment is ``persist()``-ed and stays
    referenced by the returned lazy frame (module caching contract) —
    long-lived sessions done with the results should
    ``spark.catalog.clearCache()`` at their batch boundary."""
    # one count() serves the adaptive-centroid rule AND the trainer's
    # stride (two identical jobs before; ``corpus_count`` lets the
    # caller share an already-paid count too)
    if corpus_count is None and n_centroids == "auto":
        corpus_count = emb.count()
    n_centroids = _resolve_centroids(emb, n_centroids, n=corpus_count)
    vecs = emb.select(id_col, vec_col)
    cents = train_ivf_centroids(
        vecs, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
        n=corpus_count,
    )
    # persist: both sides of the within-list self-join read the
    # assignment; without it the mapInPandas subtree runs twice
    home = (
        ivf_assign(vecs, cents, vec_col=vec_col, n_probe=1)
        .where(F.col("probe_rank") == 0)
        .persist()
    )
    a = home.select(F.col(id_col).alias("query_id"), "list_id")
    b = home.select(F.col(id_col).alias("neighbor_id"), "list_id")
    cands = (
        a.join(b, "list_id")
        .where(F.col("query_id") < F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    scored = _score_pairs_arrow(emb, cands, id_col, vec_col, round_digits)
    return scored.where(F.col("sim") >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "sim",
    )


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | str = 16,
    corpus_count: int | None = None,
) -> DataFrame:
    """Cluster membership view of ``semantic_dedup_pairs``: connected
    components over the pair graph → (id, rep) with rep = the smallest
    id reachable — keep rep, drop the rest, exactly like the text-side
    duplicate clustering. Only ids participating in some pair appear;
    everything else is implicitly its own keeper."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.dedup import (
        duplicate_components,
    )

    pairs = semantic_dedup_pairs(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_centroids=n_centroids,
        corpus_count=corpus_count,
    )
    return duplicate_components(pairs)


# layout crossover, measured (SURVEY §8): directory-per-list pruning
# beats row-group skipping at small list counts, but past a few
# hundred lists directory listing + per-dir file overhead dominate
# serves (ann_bench at 1516 lists: flat = 2.3× serve, and the same
# lesson at 16×1024 LSH buckets: 13×). 256 sits safely below where
# the dir layout was measured losing and above every fixture geometry.
FLAT_LISTS_THRESHOLD = 256
IVF_LAYOUT = ("list_id",)
LSH_LAYOUT = ("table_idx", "bucket")


def _resolve_list_dirs(list_dirs, n_lists: int) -> bool:
    """Resolve the ``list_dirs`` dial: "auto" (the save-time default)
    picks directory-per-list below ``FLAT_LISTS_THRESHOLD`` lists and
    the flat list_id-sorted layout at or above it. Explicit True/False
    always win — the override for individually-huge lists (dirs) or
    benchmarking (flat). Maintenance FOLLOWS the stored layout
    (``index_store._stored_dirs``) rather than re-resolving, so it
    never silently rewrites a layout the operator chose; re-save to
    change it."""
    if list_dirs == "auto":
        return n_lists < FLAT_LISTS_THRESHOLD
    return list_dirs


def _home_lists(vecs: DataFrame, cents: np.ndarray, vec_col: str) -> DataFrame:
    """Each vector filed into its nearest list, vector kept — the
    stable argmax every IVF and IVF-PQ build and append shares."""
    return (
        ivf_assign(vecs, cents, vec_col=vec_col, n_probe=1, keep_vec=True)
        .where(F.col("probe_rank") == 0)
        .drop("probe_rank")
    )


def _like_stored(
    rows: DataFrame, schema, id_col: str, vec_col: str,
    keep_cols: tuple[str, ...],
) -> DataFrame:
    """New rows in a float family's stored payload form: int8 when the
    store is quantized, else cast to the stored vector type (an
    array<double> file in an array<float> store would fork the parquet
    schema and fail every later read of the partition)."""
    if "qvec" in schema.fieldNames():
        return quantize_embeddings(
            rows, id_col=id_col, vec_col=vec_col, keep_cols=keep_cols
        )
    return rows.withColumn(
        vec_col, F.col(vec_col).cast(schema[vec_col].dataType)
    )


def save_ivf_index(
    emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | str = 16,
    n_iters: int = 5,
    max_train: int = 4096,
    quantize: bool = False,
    train_df: DataFrame | None = None,
    list_dirs: bool | str = "auto",
) -> None:
    """Build and PERSIST an IVF index — the offline half of the
    serving lifecycle (build once on the 100 TB corpus, answer query
    batches forever after without touching unprobed data):

    - ``<path>/centroids`` — (list_id, centroid array<double>), one
      row per list; kilobytes.
    - ``<path>/lists`` — the corpus filed into home lists, parquet
      PARTITIONED BY list_id, so a query batch that probes p of c
      lists reads p/c of the data via partition pruning (directory-
      level skip, visible as PartitionFilters in the scan).

    Training and filing are the same deterministic paths as
    ``ann_ivf_topk`` (md5-seeded sequential k-means, stable probe
    sort), so serve-from-disk results equal the in-session
    external-query mode bit for bit (pinned by test).

    ``quantize=True`` stores each list vector as int8 + per-vector
    scale (``quantize_embeddings``) — a 4–8× smaller index, which at
    100 TB is the difference in what the probed-partition scan reads;
    the server dequantizes transparently and scores the approximation
    (per-component error ≤ scale/2; recall floor pinned by test).
    Centroids always stay float — they are kilobytes.

    ``train_df`` trains the centroids on a DIFFERENT frame than the
    one being filed — centroids fixed to the original training corpus,
    the grown corpus filed under them. ``append_to_index`` is the
    incremental equivalent (same result, no full rewrite); this
    parameter makes that equivalence testable.

    ``n_centroids="auto"`` sizes the list count to the FILED corpus
    (``adaptive_centroids``) so list occupancy — and with it both the
    probed-scan fraction and any downstream within-list pair work —
    stays bounded as the corpus grows.

    ``list_dirs`` picks the on-disk lists layout: directory-per-list
    (True — the partition-pruning shape) vs FLAT (False — one
    list_id-sorted file set where the probed-list IN filter skips via
    sorted parquet row-group stats; the trade the LSH flat layout
    measured at 13×, SURVEY §8). The default "auto" resolves from the
    list count at save time (``_resolve_list_dirs``: dirs below
    {FLAT_LISTS_THRESHOLD}=256 lists, flat at or above — the measured
    crossover), so an adaptive-geometry build at scale gets the fast
    layout WITHOUT the operator knowing the dial exists."""
    n_centroids = _resolve_centroids(emb, n_centroids, cap=max_train)
    list_dirs = _resolve_list_dirs(list_dirs, n_centroids)
    vecs = emb.select(id_col, vec_col)
    cents = train_ivf_centroids(
        train_df.select(id_col, vec_col) if train_df is not None else vecs,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        n_iters=n_iters,
        max_train=max_train,
    )
    write_metadata(f"{path}/centroids", _centroid_table(cents))
    home = _home_lists(vecs, cents, vec_col)
    if quantize:
        home = quantize_embeddings(
            home, id_col=id_col, vec_col=vec_col, keep_cols=IVF_LAYOUT
        )
    _write_rows(home, f"{path}/lists", IVF_LAYOUT, list_dirs, mode="overwrite")


def query_ivf_index(
    queries: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int | str = "auto",
    block_size: int = 4096,
    round_digits: int = 6,
) -> DataFrame:
    """Serve a query batch from a ``save_ivf_index`` directory — the
    online half. Loads the kilobyte centroid table to the driver, fans
    each query out to its ``n_probe`` nearest lists (default "auto" =
    ``adaptive_probes`` over the STORED list count, so an index built
    with adaptive geometry serves at matching recall), and reads ONLY
    the probed list partitions: the probed list-id set (bounded by
    n_centroids — ints, never vectors) becomes a literal IN filter on
    the partition column, so the scan prunes unprobed directories
    outright rather than filtering rows after reading them. Scoring is
    the same bounded-block grid as ``ann_ivf_topk``; results equal
    external-query mode on the same corpus bit for bit.

    Caching: the probe fan-out and the union of stored+query rows are
    ``persist()``-ed (each is read by the probed-list collect and/or
    both grid sides) and stay referenced by the returned lazy frame
    (module caching contract); a serving loop should
    ``spark.catalog.clearCache()`` between batches it is done with."""
    spark = queries.sparkSession
    pins = _pin_index(path, IVF_CODEC.subdirs)
    cents = _centroid_matrix(read_metadata(pins["centroids"]))
    n_probe = _resolve_probes(len(cents), n_probe)
    fan = ivf_assign(
        queries.select(id_col, vec_col),
        cents,
        vec_col=vec_col,
        n_probe=n_probe,
        keep_vec=True,
    ).withColumn("probe_rank", F.col("probe_rank") + 1)
    fan = fan.persist()
    # bounded driver collect: ≤ n_centroids ints, the partition-pruning
    # predicate (a dynamic-pruning join would also work but makes the
    # skip dependent on the planner choosing DPP; the literal IN is
    # unconditional)
    probed = sorted(
        r.list_id for r in fan.select("list_id").distinct().collect()
    )
    stored = _apply_tombstones(
        spark.read.parquet(pins["lists"]).where(
            F.col("list_id").isin(probed)
        ),
        path,
        id_col,
    )
    quantized = "qvec" in stored.columns
    lists = (
        _dequantized(stored, id_col, vec_col, IVF_LAYOUT)
        .withColumn("probe_rank", F.lit(0))
        .select(id_col, vec_col, "list_id", "probe_rank")
    )
    fan_sel = fan.select(id_col, vec_col, "list_id", "probe_rank")
    if quantized:
        # dequantized lists are array<double>; widen the query side to
        # match explicitly rather than relying on union coercion
        fan_sel = fan_sel.withColumn(vec_col, _as_double(vec_col))
    assigned = lists.unionByName(fan_sel).persist()
    return _score_assigned(
        assigned,
        id_col,
        vec_col,
        k=k,
        block_size=block_size,
        round_digits=round_digits,
        self_query=False,
        id_type=dict(queries.dtypes)[id_col],
    )


def save_lsh_index(
    emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | str = 6,
    n_tables: int | str = "auto",
    dim: int = 64,
    max_bucket: int = 1024,
    quantize: bool = False,
    bucket_dirs: bool = False,
) -> None:
    """Build and PERSIST the LSH half of the ANN dial (the offline
    mirror of ``save_ivf_index``):

    - ``<path>/conf`` — one row of (n_planes, n_tables, dim,
      max_bucket, bucket_dirs): the hyperplanes themselves need NO
      storage — they are md5-derived (``md5_planes``), so the server
      recomputes them bit-identically from the conf alone.
    - ``<path>/buckets`` — the capped bucket memberships WITH a vector
      copy per membership row. DEFAULT layout (``bucket_dirs=False``):
      parquet PARTITIONED BY table_idx only, rows SORTED by bucket
      within each table's file — the probed-bucket predicate pushes to
      parquet and sorted row-group min/max stats skip unprobed buckets
      WITHOUT paying a directory per bucket. The per-(table, bucket)
      directory layout (``bucket_dirs=True``) is kept for workloads
      whose buckets are individually huge, but it was MEASURED
      read-bound at adaptive geometry: 16·2¹⁰ = 16k tiny directories
      made a bare count() of a 20k-vector index take 37 s and serving
      35 s; the flat layout reads the same probe set in ~1 s (numbers
      in SURVEY §8). Maintenance reads the layout from the directory
      shape; the conf column records it.

    ``quantize=True`` stores int8 qvec + per-vector scale instead of
    the float vector — offsets the L-fold copy cost 4–8×; the server
    dequantizes in the scan projection. The hot-bucket cap applies to
    the STORED side only (a capped member still probes as a query) —
    the correct serving semantics: storage is bounded, recall loss is
    confined to buckets past the point where LSH discriminates.

    ``n_planes="auto"`` sizes the bit count to the corpus
    (``adaptive_planes``) so bucket occupancy stays bounded as the
    corpus grows, and ``n_tables="auto"`` (default) grows the table
    count with the bit count (``adaptive_tables`` — 16 at every
    ≤ 10-bit geometry) so serving recall doesn't collapse as bits
    rise; the RESOLVED counts are what the conf row stores, so
    serving and appends replay them exactly."""
    n_planes = _resolve_planes(emb, n_planes)
    n_tables = _resolve_tables(n_planes, n_tables)
    write_metadata(
        f"{path}/conf",
        _conf_table(
            n_planes=n_planes, n_tables=n_tables, dim=dim,
            max_bucket=max_bucket, bucket_dirs=bool(bucket_dirs),
        ),
    )
    capped = capped_lsh_buckets(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        max_bucket=max_bucket,
    )
    stored = capped.join(emb.select(id_col, vec_col), id_col)
    if quantize:
        stored = quantize_embeddings(
            stored, id_col=id_col, vec_col=vec_col, keep_cols=LSH_LAYOUT
        )
    _write_rows(
        stored, f"{path}/buckets", LSH_LAYOUT, bucket_dirs, mode="overwrite"
    )


def query_lsh_index(
    queries: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
    n_multiprobe: int | str = "auto",
) -> DataFrame:
    """Serve a query batch from a ``save_lsh_index`` directory: re-derive
    the md5 hyperplanes from the stored conf, bucket the queries, read
    ONLY the probed (table_idx, bucket) partitions (an OR-of-ANDs
    literal predicate per table — directory-level pruning, bounded by
    |batch|·n_tables·2^flips pairs of ints collected to the driver),
    generate distinct candidate id pairs, rescore through the two-table
    Arrow join-back, and re-rank globally. A query whose id equals a
    stored id is the same vector and is excluded from its own neighbors.

    ``n_multiprobe`` — flips, the multi-probe dial: each query probes,
    per table, the 2^flips buckets reached by flipping subsets of its
    lowest-|margin| sign bits (``lsh_signatures`` ``n_flip``), buying
    table-doubling recall at FIXED store. ``"auto"`` resolves
    ``adaptive_multiprobe(bits, tables)`` from the stored conf — the
    bit deficit the table rule left uncovered — which is 0 at every
    auto-built geometry until the table cap binds and 0 at all ≤10-bit
    fixtures, so existing results are bit-identical; it engages
    exactly when a store was pinned smaller than the table rule
    orders. A stored-side vector's own membership rows are never
    perturbed (an index is built at flips=0).

    Results match the in-session self-ANN (``ann_lsh_topk``) whenever
    no bucket hits the storage cap (pinned by test); for capped buckets
    the served results can only differ on the capped tail, where LSH
    had stopped discriminating.

    Caching: the query-signature frame is ``persist()``-ed (read by
    the probed-partition collect AND the returned candidate join) and
    stays referenced by the returned lazy frame (module caching
    contract); a serving loop should ``spark.catalog.clearCache()``
    between batches it is done with."""
    spark = queries.sparkSession
    pins = _pin_index(path, LSH_CODEC.subdirs)
    conf = _read_conf(pins["conf"])
    planes = md5_planes(conf["n_tables"], conf["n_planes"], conf["dim"])
    if n_multiprobe == "auto":
        n_multiprobe = adaptive_multiprobe(conf["n_planes"], conf["n_tables"])
    qsig = lsh_signatures(
        queries.select(id_col, vec_col),
        vec_col=vec_col,
        n_planes=conf["n_planes"],
        n_tables=conf["n_tables"],
        planes=planes,
        n_flip=int(n_multiprobe),
    ).persist()
    # bounded driver collect: ≤ |batch|·n_tables·2^n_flip distinct
    # (table, bucket) int pairs (multi-probe emits the perturbed
    # buckets too) — the partition-pruning predicate
    probed: dict[int, set[int]] = {}
    for r in qsig.select("table_idx", "bucket").distinct().collect():
        probed.setdefault(r.table_idx, set()).add(r.bucket)
    if not probed:  # empty query batch: empty result, like the IVF twin
        id_type = dict(queries.dtypes)[id_col]
        return local_values_df(
            spark,
            [],
            f"query_id {id_type}, rnk int, neighbor_id {id_type}, sim double",
        )
    n_terms = sum(len(b) for b in probed.values())
    raw = spark.read.parquet(pins["buckets"])
    if n_terms <= LSH_LITERAL_PRED_MAX:
        pred = None
        for t, buckets in sorted(probed.items()):
            term = (
                (F.col("table_idx") == t)
                & F.col("bucket").isin(sorted(buckets))
            )
            pred = term if pred is None else pred | term
        raw = raw.where(pred)
    else:
        # many probed pairs (big batches x auto-grown table counts): a
        # literal OR-of-ANDs this size is a Catalyst/parquet-pushdown
        # liability, not an optimization - measured at the 200k/13-bit
        # sweep: 100 queries x 128 tables (~12.8k literals) took the
        # serve from ~7 s to 246 s, dominated by planning/filter
        # compilation. A broadcast semi-join on the probed (table,
        # bucket) pairs reads the same rows at scan speed instead.
        pairs_df = local_values_df(
            spark,
            [
                (t, b)
                for t, buckets in sorted(probed.items())
                for b in sorted(buckets)
            ],
            "table_idx int, bucket long",
        )
        raw = raw.join(
            F.broadcast(pairs_df), ["table_idx", "bucket"], "left_semi"
        )
    stored = _dequantized(
        _apply_tombstones(raw, path, id_col), id_col, vec_col, LSH_LAYOUT
    )
    cands = (
        qsig.select(F.col(id_col).alias("query_id"), "table_idx", "bucket")
        .join(
            stored.select(
                F.col(id_col).alias("neighbor_id"), "table_idx", "bucket"
            ),
            ["table_idx", "bucket"],
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # an id appears once per stored (table, bucket) membership — dedupe
    # by the id key alone (copies are identical), not the vector array
    emb_right = stored.select(id_col, vec_col).dropDuplicates([id_col])
    scored = _score_pairs_arrow(
        queries.select(id_col, vec_col),
        cands,
        id_col,
        vec_col,
        round_digits,
        emb_right=emb_right,
    )
    return _global_topk(scored, k)


# --- index metadata: centroids ------------------------------------------


def _f64_lists(mat: np.ndarray) -> pa.Array:
    """The rows of a 2-D matrix as an ``array<double>`` column, bits
    unchanged."""
    mat = np.ascontiguousarray(mat, dtype=np.float64)
    n, d = mat.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))


def _f64_rows(col: pa.ChunkedArray) -> np.ndarray:
    """An ``array<double>`` column of equal-length rows as a matrix."""
    flat = col.combine_chunks().flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(col), -1)


def _centroid_table(cents: np.ndarray) -> pa.Table:
    return _meta_table({
        "list_id": pa.array(np.arange(len(cents), dtype=np.int32)),
        "centroid": _f64_lists(cents),
    })


def _centroid_matrix(table: pa.Table) -> np.ndarray:
    return _f64_rows(table.sort_by("list_id").column("centroid"))


def _load_ivf_centroids(path: str) -> np.ndarray:
    return _centroid_matrix(read_metadata(pin_generation(f"{path}/centroids")))


# --- the IVF and LSH codecs ---------------------------------------------


def _ivf_file(vecs, pins, schema, id_col, vec_col) -> DataFrame:
    cents = _centroid_matrix(read_metadata(pins["centroids"]))
    return _like_stored(
        _home_lists(vecs, cents, vec_col), schema, id_col, vec_col, IVF_LAYOUT
    )


def _lsh_file(vecs, pins, schema, id_col, vec_col) -> DataFrame:
    """Memberships under the stored conf, the cap applied to the BATCH
    alone: a batch's own top-``max_bucket`` by (md5(id), id) is a
    superset of what survives the global cap, so ``_lsh_recap`` at
    compaction restores exactly the build-once index."""
    conf = _read_conf(pins["conf"])
    capped = capped_lsh_buckets(
        vecs,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=conf["n_planes"],
        n_tables=conf["n_tables"],
        dim=conf["dim"],
        max_bucket=conf["max_bucket"],
    )
    return _like_stored(
        capped.join(vecs, id_col), schema, id_col, vec_col, LSH_LAYOUT
    )


def _lsh_recap(rows: DataFrame, pins, id_col: str) -> DataFrame:
    """The global cap: smallest (md5(id), id) per (table, bucket), the
    rule ``capped_lsh_buckets`` applies at build time (the input is at
    most appends·max_bucket rows per bucket — already capped per batch
    — so a one-level window is not a skew funnel)."""
    w = Window.partitionBy(*LSH_LAYOUT).orderBy("_capkey", id_col)
    return (
        rows.withColumn("_capkey", F.md5(F.col(id_col).cast("string")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _read_conf(pins["conf"])["max_bucket"])
        .drop("_rn", "_capkey")
    )


IVF_CODEC = Codec(
    family="ivf",
    rows="lists",
    layout=IVF_LAYOUT,
    meta=("centroids",),
    geometry=frozenset({"n_centroids", "n_iters", "max_train"}),
    dirs_kw="list_dirs",
    file=_ivf_file,
    save=save_ivf_index,
    stored_conf=lambda pins: {
        "n_centroids": read_metadata(pins["centroids"]).num_rows
    },
)
LSH_CODEC = Codec(
    family="lsh",
    rows="buckets",
    layout=LSH_LAYOUT,
    meta=("conf",),
    geometry=frozenset({"n_planes", "n_tables", "max_bucket"}),
    dirs_kw="bucket_dirs",
    file=_lsh_file,
    save=save_lsh_index,
    # the layout is read from the directories and passed as dirs_kw
    stored_conf=lambda pins: {
        k: v for k, v in _read_conf(pins["conf"]).items()
        if k != "bucket_dirs"
    },
    recap=_lsh_recap,
    copies=True,
)
append_to_ivf_index = append_to_lsh_index = append_to_index


def index_stats(
    spark: SparkSession,
    path: str,
    *,
    tombstone_warn: float = 0.1,
    files_per_part_warn: float = 4.0,
    skew_warn: float = 4.0,
    occupancy_warn: float = 4.0,
    recall_target: float | None = None,
) -> dict:
    """Health report for a stored ANN index of any family (detected
    from the directory shape) and the MAINTENANCE TRIGGER the serving
    lifecycle needs: appends accumulate file sets per touched
    partition, deletes accumulate tombstones the serve path must
    anti-join every query, and drifted data can pile into one list —
    each is invisible until someone measures it. Everything here is a
    distributed aggregate collapsed to ONE driver row (no per-bucket
    collect — LSH bucket cardinality is corpus-sized), so the check
    itself is safe to run on a 100 TB index.

    Returns a dict:
      family            'ivf' | 'lsh' | 'ivfpq'
      rows_live         stored rows still visible to queries
      n_tombstones      distinct tombstoned ids pending compaction
      tombstone_frac    n_tombstones / (rows_live + n_tombstones)*
      n_partitions      list/bucket directories with data
      rows_max, rows_mean, skew  hottest partition vs mean
      n_files, files_per_part    parquet fragments (append debt)
      quantized         int8 payload layout detected
      recommendations   [] when healthy; human-readable actions
                        otherwise ('compact: ...', 'retrain: ...')

    *approximation: tombstones count ids WRITTEN, which for LSH is one
    id across up to n_tables partitions and may include ids never in
    the index (delete-before-append is the documented update recipe) —
    the fraction is a maintenance signal, not an exact live ratio.

    The thresholds are advisory defaults: a tombstone fraction over
    ~10% makes every query pay a visible anti-join build; more than ~4
    file sets per partition means the probed-directory scan opens 4×
    the footers it needs; IVF skew beyond ~4× the mean list says the
    centroids no longer describe the data (retrain), while LSH bucket
    skew is capped at build time so it signals append-cap drift
    (compact re-applies the global cap). ``occupancy_warn`` flags
    GROWTH debt: a mean partition more than that multiple of the
    adaptive-geometry target (``CELL_TARGET`` / ``LSH_TARGET_BUCKET``)
    means the corpus outgrew the build-time cell/bit count — even a
    perfectly balanced index then pays occupancy² candidate work —
    and the recommendation names the rebuild with "auto" geometry
    that restores the target."""
    codec = index_codec(path)
    family = codec.family
    # one pinned set: a concurrent rebuild's swaps can't feed the
    # advisor a geometry that doesn't match the rows being measured
    pins = _pin_index(path, codec.subdirs)
    df = spark.read.parquet(pins[codec.rows])
    quantized = "qvec" in df.columns
    # project the file name BEFORE aggregating (Spark refuses the
    # non-deterministic expression inside an aggregate function)
    per = (
        df.select(*codec.layout, F.input_file_name().alias("_file"))
        .groupBy(*codec.layout)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("_file").alias("files"),
        )
    )
    row = per.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("rows").alias("rows_live"),
        F.max("rows").alias("rows_max"),
        F.avg("rows").alias("rows_mean"),
        F.sum("files").alias("n_files"),
        F.avg("files").alias("files_per_part"),
    ).collect()[0]
    tomb = _tombstone_df(spark, path)
    n_tomb = tomb.count() if tomb is not None else 0

    rows_live = int(row.rows_live or 0)
    tombstone_frac = (
        n_tomb / (rows_live + n_tomb) if (rows_live + n_tomb) else 0.0
    )
    skew = float(row.rows_max / row.rows_mean) if row.rows_mean else 0.0
    rec: list[str] = []
    if tombstone_frac >= tombstone_warn:
        rec.append(
            f"compact: {tombstone_frac:.1%} of ids are tombstoned — every "
            "query pays the anti-join; rewrite the live set "
            "(compact_index)"
        )
    if float(row.files_per_part or 0) >= files_per_part_warn:
        rec.append(
            f"compact: {float(row.files_per_part):.1f} file sets per "
            "partition (append debt) — probed scans open that many extra "
            "footers"
        )
    if skew >= skew_warn:
        rec.append(
            f"retrain: hottest partition holds {skew:.1f}x the mean — "
            "centroids no longer fit the data"
            if family != "lsh"
            else f"compact: hottest bucket holds {skew:.1f}x the mean — "
            "re-apply the global bucket cap"
        )
    target = CELL_TARGET if family != "lsh" else LSH_TARGET_BUCKET
    mean_rows = float(row.rows_mean or 0.0)
    if mean_rows >= occupancy_warn * target:
        rebuild_hint = {
            "ivf": "cell count; rebuild_index(n_centroids='auto')",
            "ivfpq": "cell count; rebuild_index(corpus=source_df) — "
            "codes cannot retrain, so the source embeddings are "
            "required",
            "lsh": "bit count; rebuild_index(n_planes='auto')",
        }[family]
        rec.append(
            f"retrain: mean partition holds {mean_rows:.0f} rows vs the "
            f"~{target} adaptive-geometry target — the corpus outgrew the "
            "build-time " + rebuild_hint
        )
    advisor = None
    if family == "lsh":
        conf = _read_conf(pins["conf"])
        advisor = multiprobe_advisor(
            int(conf["n_planes"]), int(conf["n_tables"]),
            recall_target=recall_target,
        )
        if advisor["deficit"] > 0:
            cur, pick = advisor["current"], advisor["pick"]
            if recall_target is not None and pick["measured"]:
                # the advisor's priced pick as a NAMED maintenance
                # action with its cost multipliers attached —
                # maintain_index surfaces it verbatim (rebuilds stay
                # operator-applied)
                rec.append(
                    f"recall-rebuild: rebuild_index(n_tables="
                    f"{pick['n_tables']}) then serve with n_multiprobe="
                    f"{pick['flips']} reaches measured recall"
                    f"≈{pick['recall']} at the {recall_target} target "
                    f"(store ×{pick['store_multiplier']}, candidate "
                    f"reads ×{pick['probe_volume_multiplier']}; anchor: "
                    f"{advisor['anchor_geometry']['sweep']})"
                )
            else:
                rec.append(
                    f"recall: stored geometry is {advisor['deficit']} "
                    "table-doubling(s) short of the "
                    f"{int(conf['n_planes'])}-bit rule — serve with "
                    f"n_multiprobe={cur.get('flips')} (candidate reads "
                    f"×{1 << int(cur.get('flips', 0))}, store ×1) or "
                    f"rebuild with n_tables={pick['n_tables']} (store "
                    f"×{pick['store_multiplier']}, reads ~flat); "
                    "multiprobe_advisor(recall_target=...) prices every "
                    "split"
                )
    return {
        **({"multiprobe": advisor} if advisor is not None else {}),
        "family": family,
        "rows_live": rows_live,
        "n_tombstones": n_tomb,
        "tombstone_frac": round(tombstone_frac, 6),
        "n_partitions": int(row.n_partitions),
        "rows_max": int(row.rows_max or 0),
        "rows_mean": round(float(row.rows_mean or 0.0), 3),
        "skew": round(skew, 3),
        "n_files": int(row.n_files or 0),
        "files_per_part": round(float(row.files_per_part or 0.0), 3),
        "quantized": quantized,
        "recommendations": rec,
    }


def maintain_index(
    spark: SparkSession,
    path: str,
    **stat_thresholds,
) -> dict:
    """The scheduled-maintenance one-shot: run ``index_stats`` and
    APPLY every compact-class recommendation (tombstone debt, append
    fragmentation, LSH cap drift) with ``compact_index``, then
    re-measure. Retrain-class recommendations are REPORTED but never
    auto-applied — retraining changes served results, so
    ``rebuild_index`` stays a deliberate operator action.

    Returns {"family", "before", "actions", "after"}: the stats rows
    either side and the action strings executed. A healthy index is a
    no-op ("actions": []), so this is safe to run on a cron cadence —
    the same idempotent-maintenance shape as compact_table.
    ``stat_thresholds`` pass through to ``index_stats``
    (tombstone_warn / files_per_part_warn / skew_warn /
    occupancy_warn / recall_target — the last turns a deficit LSH
    store's generic recall note into the advisor's priced
    ``recall-rebuild:`` action with its store/read multipliers,
    still operator-applied, never automatic)."""
    before = index_stats(spark, path, **stat_thresholds)
    actions: list[str] = []
    if any(r.startswith("compact:") for r in before["recommendations"]):
        compact_index(spark, path)
        actions.append("compact_index")
    after = index_stats(spark, path, **stat_thresholds) if actions else before
    return {
        "family": before["family"],
        "before": before,
        "actions": actions,
        "after": after,
    }
