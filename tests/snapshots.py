"""Three page-table generations for the incremental-build tests.

Built from ``mee_spark.fixtures.gen_pages_pandas``, so every generation
is as reproducible as the base corpus.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

from mee_spark.fixtures import gen_pages_pandas


def gen_snapshots_pandas(base_rows: int, seed: int = 42) -> dict[int, pd.DataFrame]:
    """Three page-table generations emulating Iceberg snapshots
    (FIXTURES.md §1b): snap2 adds 5% new urls and changes text of 2% of
    existing urls (same url, bumped warc_ts, new token tail); snap3
    deletes 1% of urls. Used by the incremental-build ≡ full-build tests
    (mee's sync semantics, `services/syncservice.py:53-114`)."""
    snap1 = gen_pages_pandas(base_rows, 0, seed)
    n_new = max(1, base_rows // 20)
    new_rows = gen_pages_pandas(n_new, base_rows, seed)
    rng = np.random.default_rng(seed + 1)
    changed_idx = rng.choice(base_rows, size=max(1, base_rows // 50), replace=False)
    snap2 = snap1.copy()
    for i in changed_idx:
        extra = " w000000 w000001 changedtail"
        snap2.loc[i, "text"] = snap2.loc[i, "text"] + extra
        old_html = bytes(snap2.loc[i, "html"])
        snap2.loc[i, "html"] = old_html.replace(
            b"</p></body>", extra.encode() + b"</p></body>"
        )
        snap2.loc[i, "warc_ts"] = snap2.loc[i, "warc_ts"] + datetime.timedelta(days=1)
    snap2 = pd.concat([snap2, new_rows], ignore_index=True)
    del_idx = rng.choice(len(snap2), size=max(1, len(snap2) // 100), replace=False)
    snap3 = snap2.drop(index=del_idx).reset_index(drop=True)
    return {1: snap1, 2: snap2, 3: snap3}
