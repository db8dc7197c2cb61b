"""Per-layer probes for the traced run.

Each probe calls one layer's public functions on the run's own data:
standalone Spark passes into the ``noop`` sink for ``textprep``, ``docmap``
and ``merge``; pure-numpy calls for ``codec`` and ``wand`` on segment rows
read with pyarrow, so those two numbers leave Spark out entirely.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from mee_spark import manifest as mf
from mee_spark.bm25 import idf_np
from mee_spark.codec import decode_postings, varbyte_encode_lens
from mee_spark.docmap import assign_doc_ids
from mee_spark.merge import decoded_postings
from mee_spark.textprep import extract_text, py_tokenize, tokenize_col
from mee_spark.wand import TermCursor, exhaustive_topk_vec, wand_topk

from workloads import SCORE_DIGITS, Run

REPEATS = 3


def capture_rows(run: Run) -> list[dict]:
    """Segment rows of the published generation-1 index for every term of
    the query pool, read with pyarrow (no Spark)."""
    terms = sorted({t for q in run.queries["query_text"] for t in py_tokenize(q)})
    dset = ds.dataset(mf.segments_dir(run.index_dir, 1), format="parquet",
                      partitioning="hive")
    return dset.to_table(filter=pc.field("term").isin(terms)).to_pylist()


def _repeat_median(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def codec_probe(rows: list[dict]) -> dict:
    n_post = sum(r["n_postings"] for r in rows)
    decoded = [decode_postings(r) for r in rows]
    dec_s = _repeat_median(lambda: [decode_postings(r) for r in rows])
    deltas = [np.diff(d, prepend=0).astype(np.uint64) for d, _, _ in decoded]
    cols = [np.concatenate(deltas), np.concatenate([t for _, t, _ in decoded]),
            np.concatenate([dl for _, _, dl in decoded])]
    enc_s = _repeat_median(lambda: [varbyte_encode_lens(c.astype(np.uint64)) for c in cols])
    return {"codec.decode_postings_per_s": n_post / dec_s,
            "codec.encode_values_per_s": 3 * n_post / enc_s}


def wand_probe(run: Run, rows: list[dict]) -> tuple[dict, bool]:
    """Scoring kernels on the captured rows, no Spark: per (query, range)
    the kernel the engine's hybrid rule picks, timed, with the merged top-k
    checked against the oracle of the set-up build; then the block-max WAND
    kernel on every (query, range) for its pruning counters. Returns
    (metrics, all_correct)."""
    cfg, oracle = run.cfg, run.gen1_oracle
    m = mf.manifest_chain(run.index_dir, 1)[-1]
    n_docs, avgdl = m["n_docs_live"], m["avgdl"]
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append((r, decode_postings(r)))
    df = {t: sum(r["df_local"] for r, _ in rs) for t, rs in by_term.items()}

    def cursors_per_range(text):
        # cursors carry traversal state: every kernel call gets fresh ones
        ranges: dict[int, list] = {}
        for t in sorted(set(py_tokenize(text))):
            idf = idf_np(float(df.get(t, 0)), n_docs)
            for r, (docs, tfs, dls) in by_term.get(t, []):
                ranges.setdefault(r["range_id"], []).append(TermCursor(
                    f"{t}\x001", docs, tfs, dls, idf, avgdl, np.asarray(r["block_last_doc"]),
                    np.asarray(r["block_max_tf"]), np.asarray(r["block_min_dl"]),
                    cfg.k1, cfg.b))
        return ranges.values()

    def hybrid_pass():
        busy, ok = 0.0, True
        for q in run.queries.itertuples():
            k, top = int(q.k), []
            for cursors in cursors_per_range(q.query_text):
                t0 = time.perf_counter()
                if sum(c.n for c in cursors) < cfg.wand_min_postings:
                    top += exhaustive_topk_vec(cursors, k, round_to=SCORE_DIGITS)
                else:
                    top += wand_topk(cursors, k, round_to=SCORE_DIGITS)
                busy += time.perf_counter() - t0
            top = sorted(top, key=lambda x: (-x[1], x[0]))[:k]
            ok = ok and [d for d, _ in top] == [d for d, _ in oracle.topk(q.query_text, k)]
        return busy, ok

    passes = [hybrid_pass() for _ in range(REPEATS)]
    stats: dict = {}
    for q in run.queries.itertuples():
        for cursors in cursors_per_range(q.query_text):
            wand_topk(cursors, int(q.k), stats=stats, round_to=SCORE_DIGITS)
    return {"wand.kernel_s": float(np.median([b for b, _ in passes])),
            "wand.postings": stats["total_postings"],
            "wand.docs_scored": stats["docs_scored"],
            "wand.scored_per_posting": stats["docs_scored"] / stats["total_postings"]
            }, all(ok for _, ok in passes)


def spark_probes(run: Run) -> None:
    """Standalone Spark passes; their spans feed the event-log summary."""
    spark, tr = run.spark, run.tracer
    pages = spark.read.parquet(run.corpus_path)
    for _ in range(REPEATS):
        with tr.span("textprep.pass") as sp:
            pages.select(tokenize_col(extract_text(F.col("html"))).alias("t")) \
                .write.format("noop").mode("overwrite").save()
        run.add("textprep.docs_per_s", run.n_corpus_docs / sp.wall)
        with tr.span("docmap.assign") as sp:
            assign_doc_ids(pages, run.cfg.num_doc_partitions) \
                .write.format("noop").mode("overwrite").save()
        run.add("docmap.assign_s", sp.wall)
    chain = mf.manifest_chain(run.index_dir)
    gens = [m["generation"] for m in chain]
    n_post = sum(p["n_postings"] for m in chain for p in m["metrics"]["partitions"])
    for _ in range(REPEATS):
        with tr.span("merge.decode") as sp:
            decoded_postings(spark, run.index_dir, gens, run.cfg.doc_range_size) \
                .write.format("noop").mode("overwrite").save()
        run.add("merge.decode_postings_per_s", n_post / sp.wall)
    for _ in range(50):
        t0 = time.perf_counter()
        mf.manifest_chain(run.index_dir)
        run.add("manifest.chain_s", time.perf_counter() - t0)


def segment_metrics(manifest: dict) -> dict:
    parts = manifest["metrics"]["partitions"]
    postings = sum(p["n_postings"] for p in parts)
    return {"segments.writer_s": sum(p["wall_sec"] for p in parts),
            "segments.groups": len(parts),
            "segments.postings": postings,
            "segments.bytes_per_posting": sum(p["bytes_written"] for p in parts) / postings}
