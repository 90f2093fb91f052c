"""CLI — ToolRunner/GenericOptionsParser parity (SURVEY.md §2.8;
COMMON/util/ToolRunner.java, GenericOptionsParser [H]).

The reference's job drivers all follow one CLI convention:
``hadoop jar app.jar JobName -D key=value ... input output``. This is
that convention over the query catalog:

    python -m hadoop_2_10_0_src_mapreduce_spark list
    python -m hadoop_2_10_0_src_mapreduce_spark run wordcount_grep \
        --sf-dir /root/testdata/sf0.001 -D spark.sql.shuffle.partitions=8 \
        [--output /path/parquet] [--limit 20]

``-D`` passes any Spark conf straight through (ToolRunner's
Configuration overrides); without ``--output`` the result prints like
the reference's console jobs, with it the result lands in parquet.
"""

from __future__ import annotations

import argparse
import sys


def _conf_pairs(pairs: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"-D expects key=value, got: {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def _int_or_auto(v: str):
    """argparse type for geometry knobs: an int, or the literal
    'auto' (adaptive geometry sized to the live corpus)."""
    return v if v == "auto" else int(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hadoop_2_10_0_src_mapreduce_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    run = sub.add_parser("run", help="run one registered query")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    run.add_argument("-D", dest="conf", action="append", default=[],
                     metavar="key=value", help="Spark conf override")
    run.add_argument("--output", help="write result parquet here instead of printing")
    run.add_argument("--limit", type=int, default=20, help="rows to print")
    run.add_argument("--explain", action="store_true",
                     help="print the formatted physical plan instead of executing")
    run.add_argument("--lint", action="store_true",
                     help="print scale findings for the plan instead of executing")

    pl = sub.add_parser(
        "pipeline", help="run the corpus-cleaning recipe over documents"
    )
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pl.add_argument("--output", help="write the cleaned corpus as JSONL shards here")
    pl.add_argument("--languages", help="comma-separated allow-list (e.g. en,de)")
    pl.add_argument("--min-quality", type=float, default=0.3)
    pl.add_argument("--min-tokens", type=int, default=5)
    pl.add_argument("--near-dup-threshold", type=float, default=0.8)
    pl.add_argument("--max-dup-3gram-frac", type=float, default=0.5)
    pl.add_argument("--max-bucket", type=int, default=64,
                    help="near-dup step: cap in-bucket candidate "
                    "generation (oversized LSH buckets emit "
                    "connectivity-preserving linked edges — identical "
                    "clusters, no C(m,2) blowup on boilerplate "
                    "mega-clusters); 0 restores exact all-pairs")
    pl.add_argument("--checkpoint-dir",
                    help="near-dup clustering: reliable parquet "
                    "checkpoints under this path (HDFS/object store "
                    "on a cluster) instead of executor-local blocks — "
                    "survives executor preemption, identical results")
    pl.add_argument("--resume", action="store_true",
                    help="driver-loss recovery: with --checkpoint-dir "
                    "pointing at a crashed run's path (and the SAME "
                    "other flags), skip stages whose chain pin "
                    "committed and continue from the newest one "
                    "instead of restarting from scratch")
    pl.add_argument("--chunk", metavar="MAX[,OVERLAP]",
                    help="after cleaning, cut long documents into "
                         "training chunks of at most MAX tokens "
                         "(optional OVERLAP tokens of shared context); "
                         "rows become one-per-chunk with id 'docid#k'")
    pl.add_argument("--cut-spans", type=int, metavar="MIN_TOKENS",
                    help="remove maximal cross-document repeated runs "
                    "of at least MIN_TOKENS tokens (exact-substring "
                    "dedup's cut step)")
    pl.add_argument("--no-redact", action="store_true")
    pl.add_argument("--split", help="comma-separated name=weight list "
                    "(e.g. train=0.98,val=0.01,test=0.01) — attach the "
                    "deterministic split label")
    pl.add_argument("--shuffle", action="store_true",
                    help="publish shards in deterministic md5(id) order "
                    "instead of id order")
    pl.add_argument("--limit", type=int, default=20, help="rows to print")
    pl.add_argument("-D", dest="conf", action="append", default=[],
                    metavar="key=value", help="Spark conf override")

    ix = sub.add_parser(
        "index", help="build / query a persisted ANN index (IVF, LSH, or IVF-PQ)"
    )
    ix.add_argument(
        "action",
        choices=("build", "query", "append", "delete", "compact", "stats",
                 "rebuild", "maintain", "pointer", "rollback"),
    )
    ix.add_argument("--family", choices=("ivf", "lsh", "ivfpq"), default="ivf",
                    help="build: the index family (every other action "
                    "detects it from the index)")
    ix.add_argument("--path", required=True, help="index directory")
    ix.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ix.add_argument("--quantize", action="store_true",
                    help="store int8 vectors (4-8x smaller index)")
    ix.add_argument("--residual", action="store_true",
                    help="build --family ivfpq: encode residuals vs the "
                    "home centroid (classic IVF-PQ; tighter codes on "
                    "clustered corpora)")
    ix.add_argument("--k", type=int, default=5)
    ix.add_argument("--n-probe", type=_int_or_auto, default="auto",
                    help="query (ivf, ivfpq): lists to probe; "
                    "'auto' (default) scales with the stored list count "
                    "(ceil(lists/16), floor 4)")
    ix.add_argument("--n-queries", type=int, default=10,
                    help="query: serve the first N embedding rows")
    ix.add_argument("--n-multiprobe", type=_int_or_auto, default="auto",
                    help="query (lsh): multi-probe bit flips per "
                    "(query, table) — probes the 2^q lowest-|margin| "
                    "perturbed buckets; 'auto' (default) covers the bit "
                    "deficit the table rule left (0 at auto-built "
                    "geometries)")
    ix.add_argument("--where", help="append: SQL predicate selecting the "
                    "embedding rows to fold in (e.g. 'vec_id >= 500')")
    ix.add_argument("--ids", help="delete: comma-separated vec_ids to tombstone")
    ix.add_argument("--n-tables", type=_int_or_auto,
                    help="rebuild (lsh): new table count, or 'auto' "
                    "to re-size to the live corpus (16 doubled per bit "
                    "past the 10-bit geometry; omit to keep the stored "
                    "conf)")
    ix.add_argument("--n-planes", type=_int_or_auto,
                    help="rebuild (lsh): new planes per table, or "
                    "'auto' to re-size to the live corpus")
    ix.add_argument("--n-centroids", type=_int_or_auto,
                    help="rebuild (ivf, ivfpq): new list count, or 'auto' "
                    "to re-size to the live corpus")
    ix.add_argument("--max-bucket", type=int, help="rebuild (lsh): new "
                    "global bucket cap")
    ix.add_argument("--recall-target", type=float,
                    help="stats/maintain: turn a deficit LSH store's "
                    "recall note into the multiprobe advisor's priced "
                    "recall-rebuild action (store/read multipliers "
                    "shown; rebuilds stay operator-applied)")
    ix.add_argument("--limit", type=int, default=20, help="rows to print")
    ix.add_argument("-D", dest="conf", action="append", default=[],
                    metavar="key=value", help="Spark conf override")

    bp = sub.add_parser(
        "bpe", help="train a BPE vocabulary on the documents table and "
        "show the merges + an encoded sample"
    )
    bp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    bp.add_argument("--merges", type=int, default=64,
                    help="number of merge rules to learn")
    bp.add_argument("--limit", type=int, default=5,
                    help="sample documents to encode")
    bp.add_argument("-D", dest="conf", action="append", default=[],
                    metavar="key=value", help="Spark conf override")

    rp = sub.add_parser(
        "report", help="corpus report card: per-source volume/dup/length/"
        "quality/language profile in one aggregate pass"
    )
    rp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    rp.add_argument("--by", default="source",
                    help="grouping column ('' for one whole-corpus row)")
    rp.add_argument("--limit", type=int, default=50, help="rows to print")
    rp.add_argument("-D", dest="conf", action="append", default=[],
                    metavar="key=value", help="Spark conf override")

    fo = sub.add_parser(
        "finalize", help="rename a committed output tree to Hadoop MR "
        "file naming (part-r-NNNNN; --flatten for "
        "generateFileNameForKeyValue layout) — pure filesystem, no "
        "Spark session"
    )
    fo.add_argument("--path", required=True, help="committed output directory")
    fo.add_argument("--name", default="part", help="base file name")
    fo.add_argument("--flatten", action="store_true",
                    help="turn leaf col=value dirs into <value>-r-NNNNN "
                    "files in the parent (exact MultipleOutputs "
                    "record-derived naming)")

    mt = sub.add_parser(
        "maintain", help="compact a parquet table (optionally sort- or Z-order-clustered)"
    )
    mt.add_argument("--path", required=True, help="parquet table directory")
    mt.add_argument("--target-mb", type=int, default=128,
                    help="target output file size in MB")
    mt.add_argument("--partition-cols", help="comma-separated partition columns")
    mt.add_argument("--cluster-by", help="comma-separated clustering columns")
    mt.add_argument("--zorder", action="store_true",
                    help="interleave >=2 cluster-by columns (Morton key) "
                    "so conjunctive predicates skip multiplicatively")
    mt.add_argument("-D", dest="conf", action="append", default=[],
                    metavar="key=value", help="Spark conf override")

    args = ap.parse_args(argv)

    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import REGISTRY, all_queries

    qs = all_queries()
    if args.cmd == "list":
        for name in sorted(qs):
            print(f"{name}\t{REGISTRY[name].doc}")
        return 0

    if args.cmd == "pipeline":
        from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
            prepare_training_corpus,
            write_jsonl_shards,
        )
        from hadoop_2_10_0_src_mapreduce_spark.session import get_spark
        from hadoop_2_10_0_src_mapreduce_spark.sources.readers import load_table

        spark = get_spark("cli:pipeline", extra_conf=_conf_pairs(args.conf))
        spark.sparkContext.setLogLevel("ERROR")
        docs = load_table(spark, args.sf_dir, "documents")
        split_weights = None
        if args.split:
            split_weights = {
                kv.split("=")[0]: float(kv.split("=")[1])
                for kv in args.split.split(",")
            }
        out = prepare_training_corpus(
            docs,
            languages=tuple(args.languages.split(",")) if args.languages else None,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            near_dup_threshold=args.near_dup_threshold,
            max_dup_3gram_frac=args.max_dup_3gram_frac,
            max_bucket=args.max_bucket or None,
            redact=not args.no_redact,
            split_weights=split_weights,
            cut_spans_min_tokens=args.cut_spans,
            checkpoint_dir=args.checkpoint_dir,
            resume=args.resume,
        )
        if args.chunk:
            from pyspark.sql import functions as F

            from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
                chunk_documents,
            )

            parts = args.chunk.split(",")
            max_t = int(parts[0])
            over = int(parts[1]) if len(parts) > 1 else 0
            # doc-level n_tokens is superseded by the chunk-level count
            keep = tuple(
                c for c in out.columns if c not in ("id", "text", "n_tokens")
            )
            out = (
                chunk_documents(
                    out, text_col="text", id_col="id",
                    max_tokens=max_t, overlap=over, keep_cols=keep,
                )
                .select(
                    F.concat_ws("#", "id", "chunk_idx").alias("id"),
                    F.col("chunk_text").alias("text"),
                    F.col("n_tokens"),
                    *keep,
                )
            )
        if args.output:
            write_jsonl_shards(
                out, args.output, id_col="id", shuffle=args.shuffle
            )
        else:
            out.show(args.limit, truncate=60)
        return 0

    if args.cmd == "bpe":
        from hadoop_2_10_0_src_mapreduce_spark.functions import bpe
        from hadoop_2_10_0_src_mapreduce_spark.session import get_spark
        from hadoop_2_10_0_src_mapreduce_spark.sources.readers import load_table

        spark = get_spark("cli:bpe", extra_conf=_conf_pairs(args.conf))
        spark.sparkContext.setLogLevel("ERROR")
        docs = load_table(spark, args.sf_dir, "documents")
        merges = bpe.train_bpe(docs, args.merges)
        print(f"{len(merges)} merges; top 20: {bpe.bpe_vocab(merges)[:20]}")
        sample = docs.orderBy("doc_id").limit(args.limit)
        bpe.bpe_encode(sample, merges).orderBy("doc_id").show(
            args.limit, truncate=80
        )
        return 0

    if args.cmd == "report":
        from hadoop_2_10_0_src_mapreduce_spark.pipeline import corpus_report
        from hadoop_2_10_0_src_mapreduce_spark.session import get_spark
        from hadoop_2_10_0_src_mapreduce_spark.sources.readers import load_table

        spark = get_spark("cli:report", extra_conf=_conf_pairs(args.conf))
        spark.sparkContext.setLogLevel("ERROR")
        docs = load_table(spark, args.sf_dir, "documents")
        corpus_report(
            docs, source_col=args.by or None
        ).show(args.limit, truncate=False)
        return 0

    if args.cmd == "maintain":
        from hadoop_2_10_0_src_mapreduce_spark.session import get_spark
        from hadoop_2_10_0_src_mapreduce_spark.sources.writers import compact_table

        cluster = args.cluster_by.split(",") if args.cluster_by else []
        if args.zorder and len(cluster) < 2:
            raise SystemExit(
                "--zorder needs >= 2 --cluster-by columns (a single "
                "column's optimal layout is the plain sort)"
            )
        spark = get_spark("cli:maintain", extra_conf=_conf_pairs(args.conf))
        spark.sparkContext.setLogLevel("ERROR")
        n = compact_table(
            spark,
            args.path,
            target_file_bytes=args.target_mb * 1024 * 1024,
            partition_cols=tuple(args.partition_cols.split(","))
            if args.partition_cols else (),
            cluster_by=tuple(args.cluster_by.split(","))
            if args.cluster_by else (),
            zorder=args.zorder,
        )
        print(f"compacted {args.path} into ~{n} files per partition")
        return 0

    if args.cmd == "finalize":
        from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
            hadoop_style_filenames,
        )

        renamed = hadoop_style_filenames(
            args.path, name=args.name, flatten=args.flatten
        )
        n = sum(len(v) for v in renamed.values())
        print(f"renamed {n} files in {len(renamed)} directories")
        return 0

    if args.cmd == "index":
        # every action but build detects the family from the index
        from hadoop_2_10_0_src_mapreduce_spark.operators.index_store import (
            index_codec,
        )

        codec = None if args.action == "build" else index_codec(args.path)
        if args.action in ("pointer", "rollback"):
            # one-time conversion to blink-free (symlink-generation)
            # swaps on the row store, so compact/maintain can run while
            # the index serves (one final ENOENT blink happens NOW,
            # before serving starts — see enable_pointer_swaps).
            # Pure-filesystem action: no Spark session, no fixture
            # tables
            from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
                enable_pointer_swaps,
                rollback_pointer_swap,
            )

            store = f"{args.path}/{codec.rows}"
            if args.action == "pointer":
                enable_pointer_swaps(store)
                print(f"pointer swaps enabled on {store}")
            else:
                gen = rollback_pointer_swap(store)
                print(f"rolled {store} back to {gen}")
            return 0

        from pyspark.sql import functions as F

        from hadoop_2_10_0_src_mapreduce_spark.operators import pq as pqmod
        from hadoop_2_10_0_src_mapreduce_spark.operators import similarity
        from hadoop_2_10_0_src_mapreduce_spark.session import get_spark
        from hadoop_2_10_0_src_mapreduce_spark.sources.readers import load_table

        spark = get_spark("cli:index", extra_conf=_conf_pairs(args.conf))
        spark.sparkContext.setLogLevel("ERROR")
        emb = load_table(spark, args.sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        family = args.family if codec is None else codec.family

        if args.action == "build":
            if family == "ivf":
                similarity.save_ivf_index(emb, args.path, quantize=args.quantize)
            elif family == "ivfpq":
                pqmod.save_ivfpq_index(emb, args.path, residual=args.residual)
            else:
                similarity.save_lsh_index(emb, args.path, quantize=args.quantize)
            print(f"built {family} index at {args.path}")
        elif args.action == "append":
            batch = emb.where(args.where) if args.where else emb
            similarity.append_to_index(batch, args.path)
            print(f"appended to {family} index at {args.path}")
        elif args.action == "delete":
            if not args.ids:
                raise SystemExit("delete requires --ids")
            similarity.delete_from_index(
                spark, args.path, [int(i) for i in args.ids.split(",")]
            )
            print(f"tombstoned {args.ids} in {args.path}")
        elif args.action == "compact":
            similarity.compact_index(spark, args.path)
            print(f"compacted {family} index at {args.path}")
        elif args.action == "stats":
            import json as _json

            print(_json.dumps(similarity.index_stats(
                spark, args.path, recall_target=args.recall_target
            )))
        elif args.action == "maintain":
            import json as _json

            print(_json.dumps(similarity.maintain_index(
                spark, args.path, recall_target=args.recall_target
            )))
        elif args.action == "rebuild":
            # IVF-PQ codes cannot retrain: it re-saves from the source
            # embeddings; IVF and LSH retrain on their stored vectors
            similarity.rebuild_index(
                spark, args.path,
                corpus=emb if codec.needs_corpus else None,
                n_centroids=args.n_centroids,
                n_tables=args.n_tables,
                n_planes=args.n_planes,
                max_bucket=args.max_bucket,
            )
            print(f"rebuilt {family} index at {args.path}")
        else:
            queries = emb.where(F.col("vec_id") < args.n_queries)
            if family == "ivfpq":
                served = pqmod.query_ivfpq_index(
                    queries, args.path, k=args.k, n_probe=args.n_probe,
                    rescore=emb,
                )
            elif family == "ivf":
                served = similarity.query_ivf_index(
                    queries, args.path, k=args.k, n_probe=args.n_probe
                )
            else:
                served = similarity.query_lsh_index(
                    queries, args.path, k=args.k,
                    n_multiprobe=args.n_multiprobe,
                )
            served.orderBy("query_id", "rnk").show(args.limit, truncate=False)
        return 0

    if args.query not in qs:
        print(f"unknown query: {args.query} (try 'list')", file=sys.stderr)
        return 2

    from hadoop_2_10_0_src_mapreduce_spark.session import get_spark

    spark = get_spark(f"cli:{args.query}", extra_conf=_conf_pairs(args.conf))
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.query](spark, args.sf_dir)
    if args.lint:
        from hadoop_2_10_0_src_mapreduce_spark.plans.lint import lint_plan

        findings = lint_plan(df)
        for f in findings:
            print(f)
        if not findings:
            print("clean: no scale findings")
    elif args.explain:
        # the plan-inspection loop the engine is tuned with: check for
        # PushedFilters / ReadSchema pruning / broadcast vs shuffle
        # joins / WholeStageCodegen spans before running at scale
        df.explain("formatted")
    elif args.output:
        df.write.mode("error").parquet(args.output)
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
