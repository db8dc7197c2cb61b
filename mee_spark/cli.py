"""spark-submit entry points.

Cluster usage (the north-rule deployment shape):

    # package the engine for executors
    python -m mee_spark.cli package --out mee_spark.zip

    spark-submit --py-files mee_spark.zip build_index.py \\
        --pages s3://bucket/pages/ --index s3://bucket/index/

    spark-submit --py-files mee_spark.zip query_index.py \\
        --index s3://bucket/index/ --query "spark query engine" --k 10

Locally the same scripts run on local[N]. The SparkSession is taken
from the environment (spark-submit provides master/executors); only
app-level SQL confs are set here: ``session.recommended_conf`` for the
session's cores, AQE skew joins, and Arrow (so a query frame created
from pandas is a local relation).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile

from pyspark.sql import SparkSession

from mee_spark import manifest as mf
from mee_spark.config import IndexConfig
from mee_spark.session import recommended_conf


def make_session(app: str, shuffle_partitions: int | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if not os.environ.get("SPARK_ENV_LOADED") and "spark.master" not in os.environ:
        b = b.master(os.environ.get("MEE_SPARK_MASTER", "local[*]"))
    spark = b.getOrCreate()
    conf = recommended_conf(spark.sparkContext.defaultParallelism, shuffle_partitions) | {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true"}
    for k, v in conf.items():
        spark.conf.set(k, v)
    return spark


def cmd_build(args) -> None:
    from mee_spark.build import build_full_index, build_incremental
    from mee_spark.sources import read_pages

    spark = make_session("mee-build", args.partitions)
    pages = read_pages(spark, args.pages, snapshot_id=args.snapshot_id,
                       start_snapshot_id=args.start_snapshot_id)
    # the layout flags set a full build's layout only; an incremental
    # build takes it from the index
    cfg = IndexConfig(num_doc_partitions=args.partitions,
                      num_term_buckets=args.buckets,
                      doc_range_size=args.range_size, lang_filter=args.lang)
    # the one command that may start an index
    os.makedirs(args.index, exist_ok=True)
    with mf.writer_lock(args.index):
        # never the published generation: readers hold its files, and
        # its .done checkpoints would keep the old corpus's segments
        gen = args.gen if args.gen is not None else (
            mf.current_gen(args.index) or 0) + 1
        if args.incremental:
            # an append range is an upsert batch, not a snapshot: urls
            # missing from it are not deletions
            m = build_incremental(spark, pages, cfg, args.index, gen=gen,
                                  use_html=not args.text_only,
                                  lineage={"source": args.pages},
                                  partial=args.start_snapshot_id is not None)
        else:
            m = build_full_index(spark, pages, cfg, args.index, gen=gen,
                                 use_html=not args.text_only,
                                 lineage={"source": args.pages})
    print(json.dumps(m["metrics"] | {"generation": m["generation"]}))


def cmd_query(args) -> None:
    import pandas as pd

    from mee_spark.query_wand import bm25_topk_wand

    spark = make_session("mee-query", args.partitions)
    # a pandas frame (Arrow on) is a local relation, so the vocabulary
    # probe runs no job; the <= k result rows are ranked on the driver
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_text": [args.query], "k": [args.k]}),
        "query_id int, query_text string, k int")
    res = bm25_topk_wand(spark, args.index, queries, IndexConfig())
    for r in sorted(res.collect(), key=lambda r: r["rank"]):
        print(json.dumps({"rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"]}))


def cmd_compact(args) -> None:
    from mee_spark.merge import compact, compaction_due, maybe_compact

    if args.if_needed:
        # policy probe first: metadata-only, so the common "chain is
        # healthy" case never pays a SparkSession
        decision = compaction_due(
            args.index, max_chain_len=args.max_chain,
            max_tombstone_ratio=args.max_tombstone_ratio)
        if not decision["due"]:
            print(json.dumps({"compacted": False} | decision))
            return
        spark = make_session("mee-compact", args.partitions)
        with mf.writer_lock(args.index):
            m = maybe_compact(spark, args.index, IndexConfig(),
                              max_chain_len=args.max_chain,
                              max_tombstone_ratio=args.max_tombstone_ratio)
        if m is None:  # raced: another maintainer compacted between probes
            print(json.dumps({"compacted": False} | decision))
            return
        print(json.dumps({"compacted": True} | m["metrics"]
                         | {"generation": m["generation"]}))
        return
    spark = make_session("mee-compact", args.partitions)
    with mf.writer_lock(args.index):
        gen = (mf.current_gen(args.index) or 0) + 1
        m = compact(spark, args.index, IndexConfig(), new_gen=gen)
    print(json.dumps(m["metrics"] | {"generation": m["generation"]}))


def cmd_reset(args) -> None:
    with mf.writer_lock(args.index):
        mf.reset_incomplete(args.index, args.gen)
    print(json.dumps({"reset": args.gen}))


def cmd_clean(args) -> None:
    # under the lock: an unpublished generation may be a build in flight
    with mf.writer_lock(args.index):
        removed = mf.gc_orphans(args.index, ttl_sec=args.ttl)
    print(json.dumps({"removed": removed}))


def cmd_package(args) -> None:
    """Zip the package for spark-submit --py-files."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "mee_spark")
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    print(json.dumps({"wrote": args.out}))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mee_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def command(name, fn, partitions_help=None):
        sp = sub.add_parser(name)
        sp.add_argument("--index", required=True)
        if partitions_help:
            sp.add_argument("--partitions", type=int, default=128,
                            help=partitions_help)
        sp.set_defaults(fn=fn)
        return sp

    b = command("build", cmd_build, "shuffle partitions, and the "
                "partitions of the docID rank pass")
    b.add_argument("--buckets", type=int, default=32,
                   help="term buckets of a full build; --incremental "
                        "takes them from the index")
    b.add_argument("--range-size", type=int, default=1 << 20,
                   help="docID range size of a full build; --incremental "
                        "takes it from the index")
    b.add_argument("--pages", required=True,
                   help="Parquet path, or an Iceberg table name")
    b.add_argument("--snapshot-id", type=int, default=None,
                   help="Iceberg only: read this snapshot")
    b.add_argument("--start-snapshot-id", type=int, default=None,
                   help="Iceberg only: read the appends after this snapshot")
    b.add_argument("--gen", type=int, default=None,
                   help="generation to write (default: the published "
                        "generation + 1, or 1 on an empty index)")
    b.add_argument("--incremental", action="store_true",
                   help="diff --pages against the published index into a "
                        "new generation, in the index's layout")
    b.add_argument("--text-only", action="store_true",
                   help="corpus has no html column; index the text column")
    b.add_argument("--lang", default=None)

    q = command("query", cmd_query, "shuffle partitions")
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=10)

    c = command("compact", cmd_compact, "shuffle partitions")
    c.add_argument("--if-needed", action="store_true",
                   help="compact only when the manifest-driven policy "
                        "fires (chain length / tombstone ratio)")
    c.add_argument("--max-chain", type=int, default=8)
    c.add_argument("--max-tombstone-ratio", type=float, default=0.2)

    r = command("reset", cmd_reset)
    r.add_argument("--gen", type=int, required=True)

    g = command("clean", cmd_clean)
    g.add_argument("--ttl", type=float, default=0.0)

    z = sub.add_parser("package"); z.add_argument("--out", default="mee_spark.zip")
    z.set_defaults(fn=cmd_package)
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    try:
        args.fn(args)
    except (mf.LockHeld, mf.NoIndex) as e:
        sys.exit(str(e))


if __name__ == "__main__":
    main()
