"""Text-analysis operators for training-data pipelines over `documents`.

All pure JVM expressions (whole-stage codegen; no Python on the hot
path), each with an exactly-equivalent ANSI-SQL formulation used by the
DuckDB oracle (see __spark_entry__.oracle_sql). Shared building block:
``hash15`` — first 15 hex chars of md5 as int64 — identical in Spark
(`conv(substring(md5(x),1,15),16,10)`) and DuckDB
(`('0x'||substr(md5(x),1,15))::BIGINT`), so dedup/fingerprint results
are engine-independent and verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mee_spark.textprep import tokenize_col

# tiny fixed stopword sets — the lang-id heuristic signal
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
}
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def hash15(col: Column) -> Column:
    """Deterministic 60-bit hash shared bit-for-bit with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, mean_token_len) — token counting."""
    toks = tokenize_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )


def _hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*words))).cast("long")


def quality_scores(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep, n_tokens, n_chars, stopword_ppm, alnum_ppm,
    quality_ppm) — length/punctuation/stopword quality heuristics
    (training-data filtering staple). ``keep`` passes grouping columns
    (source, lang) through for rollups without a re-join.

    Ratios are parts-per-million computed with EXACT integer arithmetic
    (floor of bigint products): bit-identical across engines. Rounded
    floating ratios are a trap — weighting already-rounded 6dp values by
    0.25 lands exactly on decimal half-boundaries where Spark's and
    DuckDB's round() disagree on the underlying binary double.
    quality_ppm = (2·min(n_tokens,100)·10^4 + stopword_ppm + alnum_ppm)/4,
    i.e. weights (0.5, 0.25, 0.25), all in integers."""
    toks = tokenize_col(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    alnum = F.length(F.regexp_replace(F.col("text"), "[^0-9A-Za-z]", "")).cast("long")
    stop_hits = _hits(toks, ALL_STOPWORDS)
    stop_ppm = F.floor(stop_hits * 1_000_000 / F.greatest(n_tokens, F.lit(1))).cast("long")
    alnum_ppm = F.floor(alnum * 1_000_000 / F.greatest(n_chars, F.lit(1))).cast("long")
    lencap_ppm = F.least(n_tokens, F.lit(100)) * 10_000
    quality_ppm = F.floor((lencap_ppm * 2 + stop_ppm + alnum_ppm) / 4).cast("long")
    return docs.select(
        "doc_id", *keep, n_tokens.alias("n_tokens"), n_chars.alias("n_chars"),
        stop_ppm.alias("stopword_ppm"), alnum_ppm.alias("alnum_ppm"),
        quality_ppm.alias("quality_ppm"),
    )


def langid(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_conf) — stopword-hit-ratio language ID.

    argmax over per-language stopword hit counts; ties break by language
    code ascending; zero hits everywhere -> 'und'. (The n-gram-profile
    approach of real lang-ID collapses to this on a synthetic corpus;
    the structure — per-lang signal columns + deterministic argmax — is
    the same.)"""
    toks = tokenize_col(F.col("text"))
    hit_cols = [_hits(toks, ws).alias(f"h_{lang}") for lang, ws in sorted(STOPWORDS.items())]
    d = docs.select("doc_id", F.size(toks).cast("long").alias("n"), *hit_cols)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"h_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:  # ascending order => deterministic tie-break
        pred = pred.when(F.col(f"h_{lg}") == best, F.lit(lg))
    conf = F.round(best / F.greatest(F.col("n"), F.lit(1)).cast("double"), 6)
    return d.select("doc_id", pred.alias("lang_pred"), conf.alias("lang_conf"))


# BPE-ish unit pattern: letter runs, digit runs, punctuation runs — the
# pre-tokenization regex family GPT-2-style BPE uses, reduced to ASCII
# classes where Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte
# (ASCII \s is the same set in both). Passed as a literal Column via
# F.regexp_extract_all — never through a SQL string literal, whose escape
# handling would silently corrupt the backslash.
BPE_UNIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"
BPE_CHUNK = 4  # crude merge budget: one sub-word token per <=4 chars


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_units, n_subwords, mean_unit_len) — sub-word token
    counting: regex pre-tokenize into letter/digit/punct runs, then charge
    ceil(len/4) sub-word tokens per run (a deterministic stand-in for a
    BPE merge table — the COUNTING machinery, not a learned vocab). All
    integer arithmetic, engine-portable."""
    units = F.regexp_extract_all(F.col("text"), F.lit(BPE_UNIT_PATTERN), F.lit(0))
    n_units = F.size(units).cast("long")
    n_sub = F.aggregate(
        units, F.lit(0).cast("long"),
        lambda acc, u: acc + F.floor((F.length(u) + 3) / BPE_CHUNK).cast("long"))
    mean_len = F.round(
        F.aggregate(units, F.lit(0.0), lambda acc, u: acc + F.length(u))
        / F.greatest(n_units, F.lit(1)), 6)
    return docs.select(
        "doc_id", n_units.alias("n_units"), n_sub.alias("n_subwords"),
        mean_len.alias("mean_unit_len"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, dup_token_ppm, top_bigram_ppm) — Gopher/C4-style
    repetition signals for webtext curation: the duplicate-token fraction
    and the share of all token bigrams taken by the single most frequent
    bigram (boilerplate and degenerate generations score high on both).

    Integer ppm arithmetic (floor of bigint products) for engine-portable
    values. Scale shape: bigrams are counted via explode → two-level
    groupBy — linear in corpus size with ordinary map-side partial
    aggregation, never a per-doc O(n²) distinct-vs-scan loop; docs with
    fewer than 2 tokens rejoin with zero bigram mass (left join)."""
    toks = tokenize_col(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"))
    per_doc = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    bigrams = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(" ", F.element_at(F.col("toks"), i),
                                      F.element_at(F.col("toks"), i + 1)),
            )
        ).alias("bg"),
    )
    bg_agg = (
        bigrams.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_bg"),
             F.sum("c").cast("long").alias("n_bg"))
    )
    return per_doc.join(bg_agg, "doc_id", "left").select(
        "doc_id", "n_tokens",
        F.floor((F.col("n_tokens") - F.col("n_distinct")) * 1_000_000
                / F.greatest(F.col("n_tokens"), F.lit(1))).cast("long")
        .alias("dup_token_ppm"),
        F.floor(F.coalesce(F.col("top_bg"), F.lit(0)) * 1_000_000
                / F.greatest(F.coalesce(F.col("n_bg"), F.lit(0)), F.lit(1)))
        .cast("long").alias("top_bigram_ppm"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, window: int = 4) -> DataFrame:
    """(doc_id, fp) — winnowing document fingerprints (Schleimer et al.,
    SIGMOD 2003): rolling char k-gram hashes over the normalized token
    stream; each window of ``window`` consecutive hashes contributes its
    MINIMUM; distinct selected hashes are the doc's fingerprints.

    Guarantees: any shared substring of length >= k+window-1 between two
    docs yields a shared fingerprint (the winnowing theorem), at ~2/(w+1)
    the density of full k-gram hashing — the standard plagiarism/near-dup
    sketch.

    Plan shape (round 7: ZERO shuffles). The per-doc sliding min and
    per-doc dedup both happen in array land (slice / array_min /
    array_distinct), so the old plan's exchange + sort + window over
    one row per gram position disappears entirely — the operator is a
    map-side Project + Generate (no-Exchange plan-asserted in
    tests/test_plans.py).

    n² guard: the gram-hash array is referenced TWICE by the window
    expression (size() for the start count and slice() inside the
    lambda). The optimizer does inline the array's definition into the
    generator, but interpreted projections run with subexpression
    elimination (spark.sql.subexpressionElimination.enabled, default
    on): the duplicated subtree is detected and evaluated ONCE PER ROW,
    never once per window start. Verified by measurement — the full
    operator runs at the cost of hashing each gram once (~2.7 s for
    3.5M grams at sf0.1) plus the explode, not n² (which would be
    minutes); keep both references or re-measure if restructuring."""
    norm = F.array_join(tokenize_col(F.col("text")), " ")
    d = docs.select(F.col("doc_id").cast("long").alias("doc_id"), norm.alias("norm"))
    n_grams = F.greatest(F.length("norm") - k + 1, F.lit(1))
    h = d.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: hash15(F.col("norm").substr(i, F.lit(k))),
        ).alias("hs"),
    )
    # window start positions: 1..max(n_grams - window + 1, 1); slice()
    # self-clamps at the tail exactly like the old window frame did
    n_windows = F.greatest(F.size("hs") - (window - 1), F.lit(1))
    picks = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(F.slice(F.col("hs"), j, window))))
    return h.select("doc_id", F.explode(picks).alias("fp"))


def winnow_dup_pairs(docs: DataFrame, k: int = 8, window: int = 4,
                     min_shared: int = 2,
                     max_fp_df: int | None = None) -> DataFrame:
    """(doc_id_a, doc_id_b, n_shared) — near-dup pairs by SHARED winnowing
    fingerprints (the plagiarism-detection classic): docs only meet
    through a fingerprint equi-join (the blocking key is a uniform hash —
    skew-free shuffle), so all-pairs never materializes; ``min_shared``
    filters incidental single-gram collisions. Completes the dedup family
    next to minhash-LSH (token-set similarity) with positional-substring
    similarity.

    ``max_fp_df`` — hot-fingerprint cap (standard winnowing practice):
    the blocking key is a CONTENT hash, so web boilerplate (cookie
    banners, nav text) shared by M docs makes ONE fp group with M²
    candidate pairs — at Common-Crawl scale a single ubiquitous paragraph
    is a 10^12-pair skew bomb. Fingerprints with doc frequency above the
    cap carry no discriminative signal and are anti-joined out before the
    self-join (the hot set is tiny — AQE broadcasts it). None = uncapped
    exact kernel (oracle duty)."""
    fps = winnow_fingerprints(docs, k, window)
    if max_fp_df is not None:
        hot = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_fp_df).select("fp"))
        fps = fps.join(hot, "fp", "left_anti")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"),
                 F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, fp_hash) — canonical document fingerprint: md5 over
    the normalized token stream (whitespace/punct/case-insensitive), plus
    its int64 form. The dedup-exact key."""
    norm = F.array_join(tokenize_col(F.col("text")), " ")
    return docs.select(
        "doc_id", F.md5(norm).alias("fp"), hash15(norm).alias("fp_hash")
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_langs, sum_tokens, sum_chars, sum_quality_ppm)
    — per-source curation rollup: the domain-level filtering staple
    (decide inclusion / sampling rate per origin before touching
    individual docs). Quality columns ride through ``quality_scores``
    with the grouping key kept in-plan, so the rollup is one projection
    plus ONE shuffle keyed by source with map-side partial aggregation —
    at 10^12 docs source cardinality is ~10^7 domains (uniform hash key)
    and the combiners absorb any hot domain. Sums are exact integers:
    bit-identical across engines, no float-mean round drift."""
    q = quality_scores(docs, keep=("source", "lang"))
    return q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("quality_ppm").cast("long").alias("sum_quality_ppm"),
    )


def token_quantiles(docs: DataFrame, by: str = "lang") -> DataFrame:
    """(lang, n_docs, p25_tokens, p50_tokens, p75_tokens) — exact
    linear-interpolated quantiles of per-doc token counts per group
    (corpus length profiling: sequence-length budgeting, truncation-rate
    estimates). Spark's ``percentile`` and DuckDB's ``quantile_cont``
    implement the same type-7 interpolated quantile, so values are
    comparable to 6 dp.

    Scale note (deliberate): exact percentile buffers each group's
    values on its reducer — correct for LOW-cardinality group keys
    (languages: dozens). For high-cardinality keys swap in
    ``approx_percentile`` (t-digest, mergeable partial agg) behind the
    same column contract; the exact form is kept here because it is
    oracle-checkable to equality."""
    n_tokens = F.size(tokenize_col(F.col("text"))).cast("long")
    base = docs.select(F.col(by), n_tokens.alias("n_tokens"))
    return base.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.expr("percentile(n_tokens, 0.25)"), 6).alias("p25_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.75)"), 6).alias("p75_tokens"),
    )


# Knuth multiplicative-hash constant (2^32 / golden ratio, public
# domain). Chosen over xxhash/md5 for the SAMPLING and PACKING bucket
# hashes below because it is pure integer arithmetic — expressible
# identically in Spark SQL and ANSI SQL (DuckDB oracle), so the
# pseudo-random keep/bucket decisions are engine-independent and
# value-checkable, unlike engine-native hash() functions.
KNUTH_HASH = 2654435761
_U32 = 1 << 32


def _knuth_u32(col: Column) -> Column:
    """((id mod 2^32) * 2654435761 mod 2^32) — a uniform deterministic
    u32 draw per id, identical in any engine with 64-bit integer
    arithmetic. The multiply is split into 16-bit halves so every
    intermediate stays below ~2^48: a naive ``id * K`` overflows int64
    once id exceeds ~3.46e9, where Spark (non-ANSI) wraps silently while
    an ANSI engine raises — at 10^12-doc scale that silently diverges
    the keep/bucket decisions between engines. For ids < 2^32 the split
    form is value-identical to the naive product mod 2^32."""
    u = F.pmod(col.cast("long"), F.lit(_U32))
    hi = F.shiftrightunsigned(u, 16)  # <= 2^16-1
    lo = F.pmod(u, F.lit(1 << 16))
    # K*(hi*2^16 + lo) mod 2^32 == ((K*hi mod 2^16)*2^16 + K*lo) mod 2^32;
    # max intermediate: (2^16-1)*K + (2^16-1)*2^16 < 2^48
    return F.pmod(
        F.pmod(hi * F.lit(KNUTH_HASH), F.lit(1 << 16)) * F.lit(1 << 16)
        + lo * F.lit(KNUTH_HASH),
        F.lit(_U32))


def sample_hash_stratified(docs: DataFrame, rates: dict[str, float],
                           by: str = "lang",
                           default_rate: float = 0.0) -> DataFrame:
    """(doc_id, <by>, source, n_chars) — deterministic stratified
    sampling: keep a doc iff its Knuth-hash u32 draw falls below
    rate[group] * 2^32. The training-data mixing staple (per-language /
    per-domain sampling rates to hit a target corpus mixture) without
    RNG state: re-running on the same corpus reproduces the exact same
    sample, and adding docs never flips the keep decision of an
    existing doc (hash depends only on doc_id).

    Scale shape: a single narrow filter over the scan — no shuffle, no
    RNG seeds to coordinate across 1000 executors, trivially
    partition-parallel. Rate thresholds fold to integer literals in the
    plan (no per-row float math)."""
    u = _knuth_u32(F.col("doc_id"))
    thr = F.lit(int(default_rate * _U32))
    for key in sorted(rates):  # deterministic plan regardless of dict order
        thr = F.when(F.col(by) == key, F.lit(int(rates[key] * _U32))).otherwise(thr)
    return (docs.filter(u < thr)
            .select(F.col("doc_id").cast("long").alias("doc_id"), by,
                    "source", F.col("n_chars").cast("long").alias("n_chars")))


def pack_sequences(docs: DataFrame, budget: int = 256,
                   n_buckets: int = 8) -> DataFrame:
    """(doc_id, bucket, seq, n_tokens, seq_offset) — concat-and-chunk
    sequence packing: docs are sharded into ``n_buckets`` by the Knuth
    hash of doc_id, concatenated in doc_id order within each shard, and
    the resulting token stream is chunked every ``budget`` tokens; each
    doc is assigned to the chunk where its first token lands
    (``seq``), with ``seq_offset`` its token position inside that
    chunk. This is the standard LLM pretraining packing layout (fixed-
    length sequences, minimal padding) in its deterministic
    stream-chunking form — no greedy bin state, so it is a pure window
    aggregate.

    Scale shape: one shuffle on the bucket key + an in-partition sort
    by doc_id (the window never crosses buckets). ``n_buckets`` is the
    parallelism knob — at 100 TB set it to a few × total cores so each
    shard's sort fits an executor; the chunk ids only need to be unique
    within (bucket, seq), which they are by construction."""
    n_tokens = F.size(tokenize_col(F.col("text"))).cast("long")
    # multiplicative hashing buckets by the HIGH bits (floor(u*m / 2^32)):
    # u mod 2^k would keep only doc_id's low bits (K is odd), degenerating
    # to round-robin — balanced but correlated with id layout
    bucket = F.floor(_knuth_u32(F.col("doc_id")) * F.lit(n_buckets)
                     / F.lit(_U32)).cast("long")
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       bucket.alias("bucket"), n_tokens.alias("n_tokens"))
    from pyspark.sql import Window
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (base
            .withColumn("seq", F.floor(cum_before / F.lit(budget)).cast("long"))
            .withColumn("seq_offset",
                        (cum_before - F.col("seq") * F.lit(budget)).cast("long"))
            .select("doc_id", "bucket", "seq", "n_tokens", "seq_offset"))


def vocab_topk(docs: DataFrame, k: int = 20, by: str = "lang") -> DataFrame:
    """(<by>, token, cnt, rank) — the k most frequent tokens per group,
    rank 1-based, ties broken by token text (deterministic). The
    vocabulary-building / stopword-list step of a tokenizer pipeline.

    Scale shape: explode -> ONE shuffle keyed by (group, token) with
    map-side partial aggregation (the combiners absorb hot tokens:
    every mapper emits at most one row per distinct (group, token));
    the window top-k then runs over the counts table — |vocab| x
    |groups| rows, corpus-size-independent — so the per-group sort is
    never the bottleneck."""
    from pyspark.sql import Window
    toks = docs.select(F.col(by),
                       F.explode(tokenize_col(F.col("text"))).alias("token"))
    counts = toks.groupBy(by, "token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy(by).orderBy(F.col("cnt").desc(), F.col("token"))
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(by, "token", "cnt", "rank"))


# PII patterns shared by detection and redaction. Kept to syntax that
# means the same thing in Java regex (Spark) and RE2 (DuckDB): character
# classes, bounded quantifiers, no backrefs/lookaround.
PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_IPV4_RE = (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}")
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> per-doc PII signal counts.

    The standard webtext-curation step (C4/Dolma-style): count email
    addresses, IPv4 literals, and +CC-XXX-XXX-XXXX phone numbers, plus a
    combined ``has_pii`` flag for filter pipelines. Pure JVM regexes —
    one pass per pattern inside whole-stage codegen, no Python, no
    shuffle (per-row map over the scan).
    """
    n_email = F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all("text", F.lit(PII_IPV4_RE), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all("text", F.lit(PII_PHONE_RE), F.lit(0)))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_email.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phone.cast("long").alias("n_phones"),
        ((n_email + n_ipv4 + n_phone) > 0).alias("has_pii"),
    )


def pii_redact(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, text_redacted): mask every PII span
    with a typed placeholder, longest-pattern first so an email is
    masked whole rather than leaving its domain for the IP pass.
    Same single-pass JVM shape as ``pii_stats``.
    """
    red = F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        red.alias("text_redacted"),
    )
