"""Job configuration and engine constants.

The reference drives everything from YAML handler configs
(`modules/handlers/handlerconfig.py:33-118`); our schema is fixed by
BASELINE.json's input_hint, so the config surface collapses to a small
dataclass of paths and tuning knobs.
"""

from __future__ import annotations

from dataclasses import dataclass

# BM25 parameters (north star: k1=1.2, b=0.75).
K1: float = 1.2
B: float = 0.75

# Postings per block-max block (per-block max-score metadata granularity).
BLOCK_SIZE: int = 128

# Tokenizer contract (FIXTURES.md §4): NFC → lowercase → split on
# non-alphanumeric → drop empties. The same regex is used by the Spark
# engine (JVM-side), the pure-Python oracle, and the DuckDB oracle SQL.
TOKEN_SPLIT_PATTERN: str = "[^0-9a-z]+"


@dataclass
class IndexConfig:
    """Settings shared by index builds, compaction and queries.

    Designed for the 10^12-doc scale point:
      * ``doc_range_size`` — docIDs are dense; postings are grouped by
        ``range_id = doc_id // doc_range_size``. This is the explicit
        docID range partitioning from the north rule: every
        (term, range_id) group holds at most ``doc_range_size`` postings,
        so even a stopword-class head term ("the" in >30% of docs) never
        produces an unbounded shuffle group — skew is capped by design.
        At 10^12 docs with range 2^20 that is ~10^6 ranges; each
        (term,range) group is <= 1M postings (~a few MB compressed).
      * ``num_term_buckets`` — segment files are laid out by
        ``bucket = xxhash64(term) % num_term_buckets`` so a query touching
        q terms reads only the matching buckets (partition pruning).
        Both are layout fields (``LAYOUT_FIELDS``), read by a full build
        only: later generations, compaction and queries take them from
        the chain's manifest (``manifest.open_chain``), so a caller's
        values there are ignored.
      * ``num_doc_partitions`` — range partitions of the docID rank pass.
      * ``k1`` / ``b`` — BM25 parameters; ``block_size`` — postings per
        block-max block, per generation (each segment row carries its
        own block metadata); ``wand_min_postings`` — a (query, range) with
        fewer postings is scored exhaustively instead of by WAND.
      * ``lang_filter`` — index only pages whose ``lang`` equals it.
    """

    k1: float = K1
    b: float = B
    block_size: int = BLOCK_SIZE
    doc_range_size: int = 1 << 20
    num_term_buckets: int = 32
    num_doc_partitions: int = 32
    wand_min_postings: int = 1 << 16
    lang_filter: str | None = None


# On-disk layout identity. ``doc_range_size`` defines which range a
# tombstoned docID masks; ``num_term_buckets`` defines which bucket
# directory a term's postings live in. A full build records them in its
# manifest, every later generation copies that record, and
# ``manifest.open_chain`` hands them back to each reader and writer.
LAYOUT_FIELDS = ("doc_range_size", "num_term_buckets")


def layout_record(cfg: IndexConfig) -> dict:
    """The layout-identity fields persisted into each gen's manifest."""
    return {f: getattr(cfg, f) for f in LAYOUT_FIELDS}
