"""SPIMI segment build: posting runs → compressed per-(bucket, docID-range)
Parquet files with per-partition checkpoints and throughput metrics.

Spark does the partitioning/shuffle; numpy does the index-structure work
inside ``applyInPandas`` groups. Partitioning scheme (the scale story):

* ``range_id = doc_id // doc_range_size`` — explicit docID range
  partitioning. Every (term, range) posting run is ≤ doc_range_size
  postings, so head-term skew ("the" in 30%+ of docs) is CAPPED BY
  CONSTRUCTION: a 10^12-doc posting list becomes ~10^6 independent,
  bounded runs. This is the salting of the segment shuffle — the salt is
  the docID range, which (unlike a random salt) keeps every run sorted
  and directly concatenable at query time.
* ``bucket = xxhash64(term) % num_term_buckets`` — file layout key.
  Segment files live under ``bucket=<b>/`` so a query's term set prunes
  to the matching bucket directories (Spark partition-column pruning),
  and the ``term`` predicate prunes row groups within files (rows are
  written term-sorted).

Resumability (mee T1, `services/listenservice.py:160-182` reframed):
each (bucket, range) group writes its Parquet file, then a `.done`
checkpoint marker with its metrics. A rerun anti-joins the completed
(bucket, range) set *before the shuffle*, so recovered work skips both
the write and the shuffle of already-durable groups.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from mee_spark import manifest as mf
from mee_spark.codec import decode_postings_batch, varbyte_encode_lens
from mee_spark.config import IndexConfig

SEGMENT_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("range_id", pa.int64()),
        ("df_local", pa.int64()),
        ("n_postings", pa.int64()),
        ("doc_ids_blob", pa.binary()),
        ("tfs_blob", pa.binary()),
        ("dls_blob", pa.binary()),
        ("block_last_doc", pa.list_(pa.int64())),
        ("block_max_tf", pa.list_(pa.int64())),
        ("block_min_dl", pa.list_(pa.int64())),
    ]
)
# the same row format as Spark reads it
SEGMENT_READ_SCHEMA = from_arrow_schema(SEGMENT_SCHEMA)
# the rows as ``read_rows`` reads them, the ``bucket=<b>`` directory included
_ROWS_SCHEMA = SEGMENT_SCHEMA.append(pa.field("bucket", pa.int64()))

METRICS_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("range_id", LongType()),
        StructField("n_terms", LongType()),
        StructField("n_postings", LongType()),
        StructField("wall_sec", DoubleType()),
        StructField("bytes_written", LongType()),
    ]
)


def with_partition_keys(postings: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Attach (bucket, range_id) — the shuffle/layout keys."""
    return postings.withColumn(
        "range_id", (F.col("doc_id") / F.lit(cfg.doc_range_size)).cast("long")
    ).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("term")), F.lit(cfg.num_term_buckets)).cast("long")
    )


def term_buckets(tokens: str, num_term_buckets: int) -> Column:
    """The term bucket of each token of the array column ``tokens``, the
    expression ``with_partition_keys`` applies to one term. A SQL lambda,
    parsed in the JVM: a Python-built one costs py4j round trips."""
    return F.expr(f"transform({tokens}, t -> CAST(pmod(xxhash64(t), "
                  f"{int(num_term_buckets)}) AS BIGINT))")


def sorted_term_codes(terms: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """-> (per-row code, sorted distinct terms): ``terms[i] ==
    uniq[codes[i]]`` and code order is term order.

    Factorize (hash-based, no sort of the full column), then sort only
    the distinct terms and remap the codes — far cheaper than sorting
    every row's string."""
    codes_u, uniq_u = pd.factorize(terms, sort=False)
    uniq_u = np.asarray(uniq_u, dtype=object)
    order_u = np.argsort(uniq_u)
    rank = np.empty(len(order_u), dtype=np.int64)
    rank[order_u] = np.arange(len(order_u))
    return rank[codes_u], uniq_u[order_u]


def write_segment(seg_root: str, ckpt_root: str, block_size: int,
                  bucket: int, range_id: int, terms: np.ndarray,
                  codes: np.ndarray, doc: np.ndarray, tf: np.ndarray,
                  dl: np.ndarray, t0: float) -> pd.DataFrame:
    """Encode one (bucket, range) group's postings and write its file.

    The core every build shares — full, incremental and compaction.
    Postings arrive sorted by (code, doc); ``terms`` is sorted and every
    term in it has at least one posting (``codes`` indexes it densely).
    The file lands by atomic rename, then a ``.done`` checkpoint records
    the group's metrics; returns them as a one-row frame."""
    # term run boundaries (vectorized)
    n = len(doc)
    change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    ends = np.concatenate((change, [n])).astype(np.int64)
    lens = ends - starts
    # whole-group encode: ONE varbyte pass per column, sliced back
    # into per-run blobs by byte offset (zero-copy Arrow binary from
    # the shared stream — guide §4.2). Byte-identical per run to a
    # per-run delta + varbyte encode of the same postings.
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = doc[1:] - doc[:-1]
    deltas[starts] = doc[starts]  # absolute docID at each run start
    doc_stream, doc_nb = varbyte_encode_lens(deltas.astype(np.uint64))
    tf_stream, tf_nb = varbyte_encode_lens(tf.astype(np.uint64))
    dl_stream, dl_nb = varbyte_encode_lens(dl.astype(np.uint64))
    bnd = np.concatenate((starts, [n]))

    def _bin(stream: np.ndarray, nb: np.ndarray) -> pa.Array:
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nb, out=off[1:])
        off32 = np.ascontiguousarray(off[bnd], dtype=np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(bnd) - 1,
            [None, pa.py_buffer(off32), pa.py_buffer(stream)])

    # per-run block metadata, all runs in one reduceat pass: block
    # starts tile each run contiguously, so reduceat segments are
    # exactly the blocks
    nblocks = (lens + block_size - 1) // block_size
    blk_cum = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(nblocks, out=blk_cum[1:])
    intra = np.arange(int(blk_cum[-1]), dtype=np.int64) - np.repeat(
        blk_cum[:-1], nblocks)
    blk_starts = np.repeat(starts, nblocks) + intra * block_size
    blk_last_idx = np.minimum(blk_starts + block_size - 1,
                              np.repeat(ends, nblocks) - 1)
    blk_off32 = np.ascontiguousarray(blk_cum, dtype=np.int32)

    def _lst(vals: np.ndarray) -> pa.Array:
        return pa.ListArray.from_arrays(blk_off32, pa.array(
            vals, type=pa.int64()))

    table = pa.Table.from_arrays(
        [
            pa.array(terms, type=pa.string()),
            pa.array(np.full(len(lens), range_id, dtype=np.int64)),
            pa.array(lens),            # df_local == postings per run
            pa.array(lens),            # n_postings
            _bin(doc_stream, doc_nb),
            _bin(tf_stream, tf_nb),
            _bin(dl_stream, dl_nb),
            _lst(doc[blk_last_idx]),
            _lst(np.maximum.reduceat(tf, blk_starts)),
            _lst(np.minimum.reduceat(dl, blk_starts)),
        ],
        schema=SEGMENT_SCHEMA,
    )
    bucket_dir = os.path.join(seg_root, f"bucket={bucket}")
    os.makedirs(bucket_dir, exist_ok=True)
    final = os.path.join(bucket_dir, f"range_{range_id}.parquet")
    # hidden name: Spark's file index skips dot-files, so a torn temp
    # file left by a killed task never reaches a scan of this bucket
    tmp = os.path.join(bucket_dir, f".range_{range_id}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp, compression="zstd")  # rows already term-sorted
    os.replace(tmp, final)  # idempotent under task retry / speculation
    wall = time.monotonic() - t0
    metrics = dict(bucket=bucket, range_id=range_id, n_terms=len(terms),
                   n_postings=n, wall_sec=wall,
                   bytes_written=int(os.path.getsize(final)))
    os.makedirs(ckpt_root, exist_ok=True)
    ck_tmp = os.path.join(ckpt_root, f".{uuid.uuid4().hex}.tmp")
    with open(ck_tmp, "w") as f:
        json.dump(metrics, f)
    os.replace(ck_tmp, os.path.join(ckpt_root, mf.checkpoint_name(bucket, range_id)))
    return pd.DataFrame([metrics])[METRICS_SCHEMA.fieldNames()]


def _make_writer(seg_root: str, ckpt_root: str, block_size: int):
    """Group fn for applyInPandas: one (bucket, range) group → one file.

    Input rows are raw token instances (term, doc_id, dl — one row per
    token occurrence); tf is the run length of equal (term, doc_id)
    after the sort, computed vectorized. Letting the writer aggregate
    removes a whole posting-sized exchange from the build (explode →
    groupBy(term,doc_id).count → SECOND shuffle by (bucket,range)
    becomes explode → ONE shuffle by (bucket,range)); the group stays
    bounded because a (bucket, range) group holds at most
    doc_range_size · avgdl / num_term_buckets token instances."""

    def write_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket, range_id = int(key[0]), int(key[1])
        t0 = time.monotonic()
        doc = pdf["doc_id"].to_numpy(np.int64)
        dl = pdf["dl"].to_numpy(np.int64)
        codes, uniq_terms = sorted_term_codes(pdf["term"])
        order = np.lexsort((doc, codes))
        codes, doc, dl = codes[order], doc[order], dl[order]
        newrun = np.empty(len(doc), dtype=bool)
        newrun[0] = True
        newrun[1:] = (codes[1:] != codes[:-1]) | (doc[1:] != doc[:-1])
        rstarts = np.flatnonzero(newrun)
        tf = np.diff(np.concatenate((rstarts, [len(doc)])))
        codes, doc, dl = codes[rstarts], doc[rstarts], dl[rstarts]
        return write_segment(seg_root, ckpt_root, block_size, bucket, range_id,
                             uniq_terms, codes, doc, tf, dl, t0)

    return write_group


def write_groups(keyed: DataFrame | pd.DataFrame, index_dir: str, gen: int,
                 resume: bool, run) -> list[dict]:
    """The checkpointed group skeleton shared by every segment build.

    ``keyed`` carries (bucket, range_id): a DataFrame, or a pandas frame
    for a build on the driver; ``run(keyed, seg_root, ckpt_root)`` turns it
    into the METRICS_SCHEMA frame (of the same kind) of the groups it
    writes. Resume: already-checkpointed (bucket, range) groups are
    filtered out pre-shuffle, and their recorded metrics are appended, so
    the result is the full per-group picture either way."""
    seg_root = mf.segments_dir(index_dir, gen)
    ckpt_root = mf.checkpoints_dir(index_dir, gen)
    # a deletion-only delta has zero postings; the dir must still exist
    os.makedirs(seg_root, exist_ok=True)
    done = mf.completed_checkpoints(index_dir, gen) if resume else set()
    on_driver = isinstance(keyed, pd.DataFrame)
    if done and on_driver:
        keyed = keyed[~pd.MultiIndex.from_frame(
            keyed[["bucket", "range_id"]]).isin(sorted(done))]
    elif done:
        done_df = F.broadcast(keyed.sparkSession.createDataFrame(
            sorted(done), "bucket long, range_id long"))
        keyed = keyed.join(done_df, ["bucket", "range_id"], "left_anti")
    out = run(keyed, seg_root, ckpt_root)
    fresh = (out.to_dict("records") if on_driver
             else [r.asDict() for r in out.collect()])
    for b, r in sorted(done):
        with open(os.path.join(ckpt_root, mf.checkpoint_name(b, r))) as f:
            fresh.append(json.load(f))
    return fresh


def groups_on_driver(keyed: pd.DataFrame, write_group) -> pd.DataFrame:
    """``write_group(key, rows)`` over each (bucket, range) group of
    ``keyed`` on the driver, as ``applyInPandas`` calls a group fn, in key
    order; -> the METRICS_SCHEMA frame of the groups written. One stable
    sort by key, then each group is a slice: no per-group copy."""
    bucket = keyed["bucket"].to_numpy(np.int64)
    range_id = keyed["range_id"].to_numpy(np.int64)
    key = bucket * (int(range_id.max(initial=0)) + 1) + range_id
    if (key[1:] < key[:-1]).any():
        order = np.argsort(key, kind="stable")
        keyed, bucket, range_id, key = (keyed.take(order), bucket[order],
                                        range_id[order], key[order])
    starts = np.flatnonzero(np.diff(key, prepend=-1))
    out = [w for lo, hi in zip(starts, np.append(starts[1:], len(key)))
           if len(w := write_group((bucket[lo], range_id[lo]),
                                   keyed.iloc[lo:hi]))]
    return (pd.concat(out, ignore_index=True) if out
            else pd.DataFrame(columns=METRICS_SCHEMA.fieldNames()))


def build_segments(
    postings: DataFrame, cfg: IndexConfig, index_dir: str, gen: int,
    resume: bool = True,
) -> list[dict]:
    """Write compressed segments for gen; returns per-partition metrics.

    ``postings`` carries raw token instances (term, doc_id, dl); see
    ``_make_writer``.
    """
    def run(keyed: DataFrame, seg_root: str, ckpt_root: str) -> DataFrame:
        writer = _make_writer(seg_root, ckpt_root, cfg.block_size)
        return keyed.groupBy("bucket", "range_id").applyInPandas(
            writer, METRICS_SCHEMA)

    return write_groups(with_partition_keys(postings, cfg), index_dir, gen,
                        resume, run)


def read_segments(spark, index_dir: str, gens: list[int]) -> DataFrame:
    """Union of segment rows across generations with a ``gen`` column.

    Reads with explicit schema + bucket partition discovery; the caller
    filters (bucket, term) so Parquet gets partition + row-group pruning.
    """
    # StructType.add appends in place: build a new schema, or every call
    # would grow the module-level one by a field
    full_schema = StructType(SEGMENT_READ_SCHEMA.fields
                             + [StructField("bucket", LongType())])
    dfs = []
    for g in gens:
        root = mf.segments_dir(index_dir, g)
        # deletion-only generations have no segment files at all
        if not glob.glob(os.path.join(root, "bucket=*", "*.parquet")):
            continue
        df = (
            spark.read.option("basePath", root)
            .schema(full_schema)
            .parquet(root)
            .withColumn("gen", F.lit(g).cast("long"))
        )
        dfs.append(df)
    if not dfs:
        return spark.createDataFrame(
            [], StructType(full_schema.fields + [StructField("gen", LongType())]))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def live_mask(docs: np.ndarray, post_gens: np.ndarray,
              tomb_ids: np.ndarray, tomb_gens: np.ndarray) -> np.ndarray:
    """True for each posting that no tombstone at a gen LATER than the
    posting's own kills (a changed doc is tombstoned and re-added in the
    same gen, so its fresh postings stay live). Duplicate tombstones for
    one doc are fine: the newest decides."""
    if len(tomb_ids) == 0 or len(docs) == 0:
        return np.ones(len(docs), dtype=bool)
    order = np.lexsort((tomb_gens, tomb_ids))
    ids, gens = tomb_ids[order], tomb_gens[order]
    newest = np.append(ids[1:] != ids[:-1], True)
    ids, gens = ids[newest], gens[newest]
    idx = np.minimum(np.searchsorted(ids, docs), len(ids) - 1)
    return ~((ids[idx] == docs) & (gens[idx] > post_gens))


def decode_live(rows: pd.DataFrame, tomb_ids: np.ndarray, tomb_gens: np.ndarray,
                values: bool = True):
    """Batch-decode segment rows (with a ``gen`` column) and drop the
    postings the tombstones kill -> (docs, tfs, dls, live postings per
    row), rows back to back. ``values=False`` decodes doc ids only (tfs
    and dls come back None)."""
    docs, tfs, dls, counts = decode_postings_batch(
        rows["doc_ids_blob"], rows["tfs_blob"] if values else None,
        rows["dls_blob"] if values else None)
    keep = live_mask(docs, np.repeat(rows["gen"].to_numpy(np.int64), counts),
                     tomb_ids, tomb_gens)
    if keep.all():
        return docs, tfs, dls, counts
    kept = np.zeros(len(keep) + 1, dtype=np.int64)
    np.cumsum(keep, out=kept[1:])
    bounds = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    return (docs[keep], None if tfs is None else tfs[keep],
            None if dls is None else dls[keep], np.diff(kept[bounds]))


def read_rows(index_dir: str, gens: list[int], buckets: list[int],
              columns: list[str], where) -> pa.Table | None:
    """The ``columns`` of the gens' ``bucket=<b>`` segment rows that pass
    ``where`` (None: every row), plus a ``gen`` column, read on the driver
    with pyarrow — no Spark job. ``bucket`` is a column too, read from the
    directory name as Spark's partition discovery does. A ``term``
    predicate prunes row groups of the term-sorted files. None when no gen
    has a file in those buckets."""
    parts = []
    for g in gens:
        root = mf.segments_dir(index_dir, g)
        files = [f for b in buckets for f in sorted(glob.glob(os.path.join(
            root, f"bucket={b}", "*.parquet")))]
        if files:
            t = ds.dataset(files, schema=_ROWS_SCHEMA, format="parquet",
                           partitioning="hive", partition_base_dir=root
                           ).to_table(columns=columns, filter=where)
            parts.append(t.append_column("gen", pa.array(
                np.full(t.num_rows, g, dtype=np.int64))))
    return pa.concat_tables(parts) if parts else None


def term_df(index_dir: str, gens: list[int], terms: list[str],
            buckets: list[int],
            tombstones: tuple[np.ndarray, np.ndarray] | None = None,
            range_size: int = 0,
            max_decode: int | None = None) -> tuple[dict[str, int], int] | None:
    """({term: live document frequency}, postings) over the gens'
    ``bucket=<b>`` files, read on the driver with pyarrow — no Spark job.
    ``postings`` is the summed ``df_local`` of the term-filtered rows,
    dead postings included: what scoring them would decode.

    The driver form of ``query_wand.live_df`` for the given terms: the
    ``term IN`` filter prunes row groups of the term-sorted files, and
    without ``tombstones`` (a full or compacted chain) df is the sum of
    the rows' ``df_local``. ``tombstones`` are the chain's (doc ids,
    gens), with ``range_size`` the chain's ``doc_range_size``: a row whose
    docID range holds no tombstone still counts its ``df_local``; the
    doc-id blobs of the other rows are read in a second pass, decoded,
    and count their live postings. Doc ids are global, so one
    ``live_mask`` over all the tombstones is exact. When those rows hold
    more than ``max_decode`` postings, nothing is decoded and the result
    is None. A term whose postings are all dead maps to 0; terms with no
    row are absent."""
    if not terms:
        return {}, 0
    in_terms = pc.field("term").isin(terms)
    table = read_rows(index_dir, gens, buckets, ["term", "df_local"]
                      + (["range_id"] if tombstones is not None else []), in_terms)
    if table is None:
        return {}, 0
    postings = int(table["df_local"].to_numpy().sum())
    if tombstones is not None:
        tomb_ids, tomb_gens = tombstones
        range_ids = table["range_id"].to_numpy()
        hit = np.isin(range_ids, np.unique(tomb_ids // range_size))
        to_decode = table["df_local"].to_numpy()[hit].sum()
        if max_decode is not None and to_decode > max_decode:
            return None
        if hit.any():
            blobs = read_rows(index_dir, gens, buckets, ["term", "doc_ids_blob"],
                              in_terms & pc.field("range_id").isin(
                                  np.unique(range_ids[hit])))
            live = decode_live(blobs.select(["gen", "doc_ids_blob"]).to_pandas(),
                               tomb_ids, tomb_gens, values=False)[3]
            rest = table.filter(pa.array(~hit))
            table = pa.table({
                "term": pa.chunked_array(rest["term"].chunks + blobs["term"].chunks,
                                         rest["term"].type),
                "df_local": np.concatenate([rest["df_local"].to_numpy(), live])})
    sums = table.group_by("term").aggregate([("df_local", "sum")])
    return (dict(zip(sums["term"].to_pylist(), sums["df_local_sum"].to_pylist())),
            postings)
