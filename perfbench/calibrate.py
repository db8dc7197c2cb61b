"""A fixed calibration job that tracks how fast the host runs this process
tree right now.

The same CPU work costs a different number of CPU seconds as the state of a
shared host changes (other tenants on the same cores and caches): the
median set-up of ten ``churn`` runs took 32.5 CPU seconds, and of ten more
40 minutes later 21.6, for the same work. The job here
has the mix of a query call — a Spark stage in the JVM, Arrow batches to
the Python workers, pandas and string work there, a collect — but does not
touch ``mee_spark`` and has no shuffle, so the package and its session
settings cannot change its cost. A timing divided by the median CPU
seconds of the job in the same run, and multiplied by ``QUIET_CPU_S``, is
in CPU seconds of a host on which the job costs ``QUIET_CPU_S``.
"""

from __future__ import annotations

ROWS = 20_000
# A fixed scale near the job's CPU seconds on a 4-core host (its run
# medians ranged 0.7-1.4 s as the host's state moved), so that a scaled
# timing stays near its raw CPU seconds. Every scaled metric moves with
# it, so it never changes.
QUIET_CPU_S = 1.4


def job(spark, partitions: int) -> bool:
    """Run the calibration job once; True when its result is right."""

    def batches(it):  # nested, so the workers get it by value
        import pandas as pd

        for pdf in it:
            h = pdf["h"]
            words = h.str.slice(0, 8) + " " + h.str.slice(8, 16)
            counts = words.str.split().str.len()
            yield pd.DataFrame({"n": [len(h)], "chars": [int(words.str.len().sum())],
                                "words": [int(counts.sum())]})

    df = (spark.range(0, ROWS, numPartitions=partitions)
          .selectExpr("sha2(cast(id as string), 256) as h")
          .mapInPandas(batches, "n long, chars long, words long"))
    rows = df.collect()
    return (sum(r["n"] for r in rows) == ROWS
            and sum(r["chars"] for r in rows) == 17 * ROWS
            and sum(r["words"] for r in rows) == 2 * ROWS)
