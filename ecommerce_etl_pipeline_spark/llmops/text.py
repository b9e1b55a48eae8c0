"""Text analysis over document tables: tokenization, quality scoring,
language-ID, token counting, fingerprinting.

Everything is built from JVM-side expression primitives (split/filter/
aggregate/regexp) — no Python UDFs — so the same per-document pass runs
inside whole-stage codegen and scales linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny fixed stopword lists for the n-gram language heuristic. Deterministic
# and oracle-portable; a production list would be larger but identical in shape.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus)."""
    return F.split(text, " ")


def let1(bound: Column, body) -> Column:
    """Bind a computed value ONCE for use inside an HOF lambda — the
    single-element-transform let-binding: ``transform(array(x), v ->
    body(v))[0]``. Lambda ARGUMENTS are evaluated once per row; FREE
    variables inside interpreted HOF lambdas re-evaluate per element (the
    winnow_fingerprints pitfall), so passing e.g. a split() token array
    into a transform via closure costs O(elements x split). Wrapping the
    expensive expression as the lambda's argument makes it per-row.
    NULL-safe: array(NULL) is [NULL], so body sees NULL exactly as it
    would have."""
    return F.transform(F.array(bound), body)[0]


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def token_length_sum(text: Column) -> Column:
    """Exact integer sum of token lengths (order-independent)."""
    return F.aggregate(
        F.transform(tokens(text), F.length), F.lit(0), lambda acc, x: acc + x
    )


#: Fixed "deployed model" coefficients for the logistic quality filter —
#: stand-in for a trained classifier (FineWeb/DCLM-style) applied at scale.
QUALITY_LOGIT_WEIGHTS = {
    "bias": -1.2,
    "log_tokens": 0.35,
    "punct": -4.0,
    "stopword": 2.5,
}


def quality_logit_score(text: Column, weights: dict[str, float] | None = None) -> Column:
    """Unrounded sigmoid(w·x) quality score over the heuristic features
    (log token count, punctuation ratio, stopword ratio). Shared by the
    batch query (txt_quality_logit) and the streaming ingest gate so the
    two faces can never drift. Pure narrow expression — no shuffle, legal
    in a stateless stream."""
    w = weights or QUALITY_LOGIT_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["log_tokens"]) * F.log(token_count(text).cast("double"))
        + F.lit(w["punct"]) * punct_ratio(text)
        + F.lit(w["stopword"]) * (stopword_hits(text, "en").cast("double") / token_count(text))
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def chunk_structs(text: Column, size: int = 32, overlap: int = 8) -> Column:
    """Fixed-size token chunks with overlap — the RAG/context-window
    chunking every retrieval and pretraining pipeline needs. Chunk ``i``
    covers tokens ``[i*stride, i*stride + size)`` with
    ``stride = size - overlap``; the final chunk may be short, and a
    document shorter than ``size`` yields exactly one chunk. Returns
    ``array<struct<chunk_index int, chunk_text string,
    n_chunk_tokens int>>`` — a narrow per-row transform (explode
    downstream; no shuffle anywhere), so chunking 100 TB is scan-side
    work whose output is ~``n/stride`` rows per document.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got size={size} overlap={overlap}")
    stride = size - overlap

    # let1-bind the token array: as a free variable it would re-split the
    # text once per CHUNK (see let1 / the winnow_fingerprints pitfall)
    def body(t: Column) -> Column:
        n = F.size(t)
        n_chunks = F.greatest(
            F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_index"),
                F.concat_ws(" ", F.slice(t, i * stride + 1, size)).alias("chunk_text"),
                F.least(F.lit(size), n - i * stride).cast("int").alias("n_chunk_tokens"),
            ),
        )

    return let1(tokens(text), body)


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens in the ``lang`` stopword list."""
    stops = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda x: x.isin(*stops)))


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under a BPE-ish regex (letter runs / digit runs /
    single other-symbols) — the standard pre-tokenizer shape."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters outside [a-z0-9 ] (quality signal)."""
    return F.length(F.regexp_replace(text, r"[a-z0-9 ]", "")) / F.length(text)


#: Winnowing (MOSS-style) rolling-hash fingerprint parameters: char k-grams,
#: window of w consecutive k-gram hashes, polynomial hash base/modulus. The
#: modulus keeps the accumulator < 2^30, so acc*B + c < 2^35 — exact in a
#: long under ANSI, and reproducible in any SQL engine (no engine hash fn).
WINNOW_K = 8
WINNOW_W = 4
WINNOW_B = 31
WINNOW_P = 1_000_000_007


def kgram_rolling_hashes(text: Column, k: int = WINNOW_K) -> Column:
    """Polynomial rolling hash of every character k-gram:
    h(g) = Σ ascii(g_j)·B^(k-1-j) mod P, one value per window position.
    Requires length(text) >= k. O(n·k) evaluation; k is a small constant so
    this is a linear scan-side pass (the classic O(n) rolling update needs
    carried state across positions, which expression HOFs can't hold — at
    k=8 the difference is a constant factor, not a complexity class)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(text) - (k - 1)),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: F.pmod(
                acc * WINNOW_B + F.ascii(F.substring(text, i + j, F.lit(1))),
                F.lit(WINNOW_P),
            ),
        ),
    )


def winnow_fingerprints(kgram_hashes_col: Column, w: int = WINNOW_W) -> Column:
    """Winnowed fingerprint set: the distinct minima of every window of w
    consecutive k-gram hashes (MOSS winnowing). Guarantees a shared
    fingerprint for any common substring of length >= k + w - 1 while
    keeping ~2/(w+1) density.

    MUST be called on a MATERIALIZED column from a prior select, not on the
    :func:`kgram_rolling_hashes` expression inline: free variables in
    interpreted HOF lambdas are re-evaluated per element, so an inline
    hash-array expression would be recomputed once per window — O(n²·k).
    The two-select shape protects a SINGLE downstream consumer; it does NOT
    survive multiple consumers of the result. In particular
    ``select(size(fps), explode(fps))`` splits into Project + Generate,
    each referencing the alias once, and Catalyst inlines this expression
    into both — re-triggering the O(n²·k) blowup. Consumers that fan out
    (pair joins, size+explode) must ``.cache()`` the fingerprint column
    first (see dedup.winnow_overlap_pairs)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(kgram_hashes_col) - (w - 1)),
            lambda s: F.array_min(F.slice(kgram_hashes_col, s, w)),
        )
    )


def fingerprint(text: Column) -> Column:
    """Exact document fingerprint: md5 of the lowercased,
    whitespace-collapsed text."""
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


def content_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — stable under shuffled word order (near-dup precursor)."""
    return F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(tokens(text)))))


#: PII / blocklist scrub patterns, ordered (applied first to last). Each is
#: valid in BOTH Java regex (Spark) and RE2 (DuckDB): no lookaround, no
#: backrefs. The corpus is synthetic so the PII classes match zero rows —
#: the dictionary term provides real positives for the same machinery.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("longnum", r"\b\d{13,19}\b", "<NUM>"),
    ("blockterm", r"\bcustomer\b", "<TERM>"),
)


def redacted_text(text: Column) -> Column:
    """Apply every scrub pattern in order (global replace). Pure scan-side
    regexp work — at 100 TB this composes into ONE codegen stage with the
    other quality signals; no shuffle, no Python."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


#: Sequence-level dedup granularity: non-overlapping token windows.
SEGMENT_TOKENS = 16


def segment_hashes(text: Column, seg: int = SEGMENT_TOKENS) -> Column:
    """md5 of each complete non-overlapping ``seg``-token window — the unit
    for sequence-level (sub-document) dedup. Docs shorter than one segment
    yield an empty array. The trailing partial window is dropped so every
    hash covers exactly ``seg`` tokens."""
    # let1-bind the token array: as a free variable it would re-split the
    # text once per SEGMENT (see let1)
    def body(toks: Column) -> Column:
        n_segs = F.floor(F.size(toks) / seg).cast("int")
        return F.when(
            n_segs >= 1,
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * seg + 1, seg))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let1(tokens(text), body)


def bigram_pairs(text: Column) -> Column:
    """Adjacent token bigrams as (a, b) structs (empty array below 2
    tokens). zip_with over two slices, NOT transform+element_at: HOF lambdas
    run interpreted (outside codegen), so per-element cost dominates —
    zip_with iterates both arrays directly and the struct avoids building a
    concatenated string per bigram. Measured ~4x over the naive form."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def distinct_bigram_count(text: Column) -> Column:
    """Number of distinct adjacent-token bigrams."""
    return F.size(F.array_distinct(bigram_pairs(text)))


def max_run_count(sorted_arr: Column) -> Column:
    """Largest multiplicity of any element in a SORTED array, via one fold
    — the zero-shuffle per-row form of ``MAX(count) GROUP BY value``.
    The accumulator seeds ``prev`` with the first element, so the first
    merge step counts it as a run of 1; empty arrays return 0. Works for
    any element type (strings, bigram/trigram structs)."""
    init = F.struct(
        F.element_at(sorted_arr, 1).alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, merge, lambda acc: acc["best"])


def singleton_count(sorted_arr: Column) -> Column:
    """Number of DISTINCT elements occurring exactly once in a SORTED
    array, via one fold (run-length transitions). The complement
    ``size - singletons`` is the duplicated-position count the Gopher
    repeated-n-gram coverage measures need — again zero-shuffle."""
    init = F.struct(
        F.element_at(sorted_arr, 1).alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("uniq"),
    )

    def merge(acc: Column, x: Column) -> Column:
        is_same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(is_same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(is_same, acc["uniq"])
            .otherwise(acc["uniq"] + (acc["run"] == 1).cast("int"))
            .alias("uniq"),
        )

    return F.aggregate(
        sorted_arr, init, merge, lambda acc: acc["uniq"] + (acc["run"] == 1).cast("int")
    )


def trigram_structs(text: Column) -> Column:
    """Positional adjacent-token trigrams as (a, b, c) structs (empty
    below 3 tokens) — the zip_with-of-slices construction
    :func:`bigram_pairs` measured 4x over transform+element_at."""
    toks = tokens(text)
    n = F.size(toks)
    ab = F.zip_with(
        F.slice(toks, 1, n - 2),
        F.slice(toks, 2, n - 2),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return F.when(
        n >= 3,
        F.zip_with(
            ab,
            F.slice(toks, 3, n - 2),
            lambda p, c: F.struct(p["a"].alias("a"), p["b"].alias("b"), c.alias("c")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string,c:string>>"))


def compression_ratio(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document zlib-deflate compression ratio (compressed / raw bytes)
    — the Gopher/RefinedWeb quality heuristic: highly repetitive or
    templated text compresses far below natural prose, near-random noise
    barely compresses at all, so both tails flag removal candidates.

    Not expressible in the DataFrame expression language, so this rides the
    sanctioned Arrow boundary (mapInPandas, level-6 deflate, deterministic):
    scan-side only, no shuffle, parallelism = input partitions. Returns
    (id, n_bytes, n_compressed, ratio).
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL text emits NULL stats (matching JVM-path semantics, where
            # builtin functions propagate NULL) instead of crashing the batch.
            raw = pdf[text_col].map(
                lambda t: None if t is None else t.encode("utf-8")
            )
            nb = pd.array(
                [None if b is None else len(b) for b in raw], dtype="Int64"
            )
            nc = pd.array(
                [None if b is None else len(zlib.compress(b, 6)) for b in raw],
                dtype="Int64",
            )
            ratio = pd.array(
                [
                    None if b is None else c / max(n, 1)
                    for b, n, c in zip(raw, nb, nc)
                ],
                dtype="Float64",
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "ratio": ratio,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(batches, schema)
