"""Deterministic docID assignment.

docID contract (FIXTURES.md §4): ``doc_id`` = dense rank of ``url`` in
ascending lexicographic order within the indexed generation — stable,
reproducible, ascending (delta-encoding friendly). ``url`` is the doc
identity anchor, mirroring mee's anchor-field semantics
(`modules/handlers/handlerconfig.py:528-568`: a changed anchor is
delete+reinsert).

URL-ordered docIDs are also the classic document-reordering heuristic
(cf. "Document Reordering for Faster Intersection", VLDB 2019): pages of
the same site sort adjacently, their shared vocabulary clusters, posting
gaps shrink (better varbyte compression) and block-max bounds tighten
(better WAND skipping). We get the reordering win for free from the
identity contract.

Scale note: a naive ``dense_rank`` over a global ``Window.orderBy`` would
collapse to ONE partition — unusable at 10^12 docs. Instead we use the
classic scalable global-ordering pattern: range-repartition by url, sort
within partitions, count rows per partition, prefix-sum the counts into
per-partition offsets (a lazy window over O(num_partitions) rows — no
driver collect), and assign ``offset + local_rank``. Every step is fully
parallel and the whole assignment folds into its consumer's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_doc_ids(pages: DataFrame, num_partitions: int = 32,
                   start_id: int = 0) -> DataFrame:
    """Return (url, doc_id) with doc_id = start_id + dense rank of url.

    Fully distributed AND fully lazy: exactly ONE shuffle (the range
    repartition; equal urls colocate there and the sorted rank pass
    dedups them adjacent-wise, so no distinct() exchange), zero Spark
    actions of its own (per-partition offsets are a lazy prefix-sum
    window over the tiny counts, broadcast into the rank join — no
    driver collect), and the per-partition local rank is computed
    in-place with mapInPandas on the already-range-sorted data (a window
    over the partition id would add another shuffle). Evaluate-once
    semantics: consume the result in a single downstream action (the
    builders stage it to parquet immediately).
    """
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    # NO .distinct() before the range shuffle: range partitioning
    # colocates equal urls and the within-partition sort makes them
    # adjacent, so the rank pass dedups them for free (url != previous).
    # distinct() would cost a SECOND full shuffle of the url set — at
    # 10^12 docs that is the single largest avoidable exchange in the
    # build (and ~1 s of fixed stage time per build at bench scale).
    #
    # The range repartition is AQE-COALESCIBLE (no explicit partition
    # count; round 7, guide §2.2/§2.5): doc_id is the GLOBAL dense rank,
    # invariant to where partition boundaries fall, so the partition
    # count is purely a parallelism knob — and a fixed count is wrong at
    # both ends (128 partitions of a 300k-url build = 2x128 ~50ms Python
    # rank tasks over a 3.6MB shuffle, measured ~6 s of pure per-task
    # overhead per build at local[8]; a fixed count would likewise
    # under-partition a 10^12-doc build). Letting AQE size partitions by
    # bytes makes the rank pass scale-adaptive; ``num_partitions`` is
    # only the fallback when AQE is disabled.
    spark = pages.sparkSession
    if spark.conf.get("spark.sql.adaptive.enabled", "true") == "true":
        ranged_shuffle = pages.select("url").repartitionByRange("url")
    else:
        ranged_shuffle = pages.select("url").repartitionByRange(
            num_partitions, "url")
    ranged = ranged_shuffle.sortWithinPartitions("url")

    def attach_local_rank(batches):
        pid = TaskContext.get().partitionId()
        i = 0
        prev = None
        for pdf in batches:
            urls = pdf["url"].to_numpy()
            if len(urls) == 0:
                continue
            # adjacent-dedup: equal urls are contiguous post-sort; the
            # first row of each batch checks against the previous batch's
            # last url (runs can span Arrow batch boundaries)
            keep = np.empty(len(urls), dtype=bool)
            keep[0] = urls[0] != prev
            keep[1:] = urls[1:] != urls[:-1]
            urls = urls[keep]
            prev = pdf["url"].iloc[-1]
            out = pd.DataFrame({
                "url": urls,
                "_pid": pid,
                "_idx": range(i, i + len(urls)),
            })
            i += len(urls)
            yield out

    # PINNED (lazy localCheckpoint): the counts branch and the rank-join
    # branch below must observe the IDENTICAL partition layout — under
    # AQE's coalescing two independent evaluations of the exchange can
    # coalesce differently, mismatching ``_pid`` between offsets and
    # ranks (silently dropping rows at the inner join). The pin also
    # means the Python rank pass runs ONCE instead of twice (it used to
    # rely on ReusedExchange and still re-ran the post-shuffle pass per
    # branch). Lazy: still zero Spark actions of our own; blocks are
    # GC-released with the DataFrame (the repo's standard idiom).
    local = ranged.mapInPandas(
        attach_local_rank, "url string, _pid int, _idx long"
    ).localCheckpoint(eager=False)
    # per-partition offsets as a LAZY 128-row plan instead of a driver
    # collect: prefix-sum via a window over the (tiny) counts, broadcast
    # back into the rank join. The whole docID assignment then costs the
    # caller ZERO extra Spark actions — it evaluates inside whatever job
    # first consumes the map (the staging write), and the range-shuffle
    # exchange is reused between the counts branch and the join branch
    # (ReusedExchange; only the cheap post-shuffle rank pass runs twice).
    # Every removed action is serial driver time on the build's Amdahl
    # floor — the scaling gate's currency.
    from pyspark.sql import Window

    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        (F.coalesce(F.sum("_cnt").over(w), F.lit(0)) + F.lit(start_id))
        .cast("long").alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select("url", (F.col("_offset") + F.col("_idx")).cast("long").alias("doc_id"))
    )
