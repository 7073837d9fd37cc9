"""Text-analysis column builders (extension surface, SURVEY.md §7.3).

Everything is built-in Catalyst expressions (split / transform /
aggregate / regexp) — no Python UDFs — so the whole pipeline stays
inside whole-stage codegen and scales linearly over a 100 TB documents
table. Each builder has an exact DuckDB twin documented for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker vocabularies for the language-ID heuristic. Deterministic toy
# sets over the fixture vocabulary — the operator pattern (per-language
# token-hit scoring + fixed precedence argmax) is what matters; swap in
# real stopword lists for production.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "data", "fast"),
    "de": ("table", "join", "slow"),
    "es": ("row", "key", "group"),
    "fr": ("query", "filter", "merge"),
    "zh": ("vector", "stream", "batch"),
}
# precedence for score ties (checked in this order)
LANG_ORDER = ("en", "de", "es", "fr", "zh")

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column) -> Column:
    """Whitespace tokens. DuckDB twin: string_split(text, ' ')."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Regex token count approximating a BPE pre-tokenizer.
    DuckDB twin: len(regexp_extract_all(lower(text), pattern))."""
    return F.regexp_count(F.lower(text), F.lit(BPE_PATTERN))


def sum_token_chars(text: Column) -> Column:
    """Σ length(token) via aggregate HOF.
    DuckDB twin: CAST(list_sum(list_transform(.., length)) AS BIGINT)."""
    return F.aggregate(
        F.transform(tokens(text), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def marker_hits_from_tokens(toks: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens (with duplicates) found in a marker set, over a
    PRE-PROJECTED token-array column — the shingles_from_tokens lesson
    (r17): an inline ``split`` expression is re-parsed at every
    reference, so a query scoring one text against several marker sets
    should materialize the token array once and filter it k times
    instead of re-splitting k times. Same integer as ``marker_hits``.
    DuckDB twin: len(list_filter(toks, w -> w IN (...)))."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens (with duplicates) found in a marker set.
    DuckDB twin: len(list_filter(string_split(..), w -> w IN (...)))."""
    return marker_hits_from_tokens(tokens(text), markers)


def language_scores(text: Column) -> dict[str, Column]:
    return {lang: marker_hits(text, LANG_MARKERS[lang]) for lang in LANG_ORDER}


def language_scores_from_tokens(toks: Column) -> dict[str, Column]:
    """``language_scores`` over a pre-projected token array: one split
    feeds all five marker filters (r17 — the five inline splits each
    re-parsed the text; projecting the array once measured ~8% off the
    registered query and generalizes: k marker sets cost one tokenize
    at any k)."""
    return {
        lang: marker_hits_from_tokens(toks, LANG_MARKERS[lang])
        for lang in LANG_ORDER
    }


def predicted_language(scores: dict[str, Column]) -> Column:
    """Fixed-precedence argmax: first language (in LANG_ORDER) whose
    score is >= every other score. Engine-independent tiebreaks."""
    expr = None
    for lang in reversed(LANG_ORDER):
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)) if expr is None else F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint_md5(text: Column) -> Column:
    """Whole-document fingerprint over normalized text."""
    return F.md5(F.trim(F.lower(text)))


# winnowing parameters (MOSS-style: k-gram size, window of consecutive
# k-gram hashes from which the minimum is selected, polynomial base)
WINNOW_K = 8
WINNOW_W = 5
WINNOW_BASE = 1_000_003  # odd base; hash = Σ cp·B^j  (mod 2^64)


def winnowing_fingerprints(df, text_col: str, id_col: str,
                           k: int = WINNOW_K, w: int = WINNOW_W):
    """Winnowed k-gram fingerprints (the rolling-hash document
    fingerprinting scheme): slide a k-char window over the text, hash
    each k-gram, then keep the minimum hash of every w consecutive
    k-gram hashes — a guaranteed-coverage sample of the document robust
    to insertions/reordering.

    Shaped as a NARROW Arrow boundary (mapInPandas, sanctioned per
    SURVEY.md §2.10), not the explode → windowed-MIN built-in
    formulation it replaced: that shape shuffled one row per character
    position — (doc, pos, hash) ≈ 30× the text bytes — through the
    window's sort exchange, a scale killer on a 100 TB corpus. The
    rolling min is inherently per-document sequential, so it runs
    where the text already is: one vectorized numpy pass per doc
    inside an Arrow batch, zero shuffle, parallelism = input splits.
    (Measured at sf0.1: 0.93 s vs 3.04 s for the window shape — the
    shuffle+sort never pays for itself at any scale.)

    CONTRACT (r5 semantics change vs the window formulation): rows are
    winnowed independently, so fingerprints are distinct per input ROW,
    not per id value — the old global (doc, fingerprint) DISTINCT is
    gone with the shuffle that implemented it. Callers must pass a
    unique-id input (every registered caller reads the unique-keyed
    documents table); for non-unique inputs, append
    ``.dropDuplicates()`` (reintroducing one fingerprint-sized
    shuffle) or pre-dedup the ids.

    Small-scan guard: a tiny corpus arrives as one file split, which
    would serialize the hashing; fan_out rebalances the RAW text
    (1× text bytes — nothing is amplified) only when the scan has
    fewer splits than cores. At production scale the scan has more
    splits than cores and the guard never shuffles.

    The k-gram hash is a polynomial over CODEPOINTS mod 2^64
    (h = Σ_j cp(text[i+j])·B^(k-1-j), B = WINNOW_BASE): numpy uint64
    wraparound IS mod-2^64 arithmetic, so the whole gram-hash pass is
    k vectorized Horner steps per block — measured 19 MB/s/core on
    MB-scale docs vs 0.9 MB/s/core for the per-position interpreted
    hashlib.md5 it replaced (r5 ADVICE: after the shuffle was
    eliminated, Python md5 became the dominant cost of a 100 TB
    winnowing scan; on KB-scale docs Arrow/per-doc overheads dominate
    either hash and the two tie). The
    DuckDB twin is exact integer arithmetic, not an approximation:
    ord(substr(text,i+j,1)) matches Python codepoints, HUGEINT sums
    match the wraparound after one % 2^64, and MIN compares the same
    uint64 values; fingerprints are emitted as decimal strings in both
    engines."""
    from ..sources.parquet_io import fan_out

    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    # id type passes through (the explode/window predecessor preserved
    # it too); only the fingerprint column's type is this operator's.
    id_type = src.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            docs_out: list = []
            fps_out: list[str] = []
            for doc, text in zip(pdf[id_col].values, pdf[text_col].values):
                sel = winnow_doc(text, k, w)
                docs_out.extend([doc] * len(sel))
                fps_out.extend(str(h) for h in sel)
            yield pd.DataFrame(
                {"doc": pd.Series(docs_out, dtype=pdf[id_col].dtype),
                 "fingerprint": fps_out})

    return src.mapInPandas(gen, f"doc {id_type}, fingerprint string")


def winnow_doc(text: str | None, k: int = WINNOW_K, w: int = WINNOW_W,
               block: int = 1 << 18) -> set[int]:
    """Single-document winnowing core (the algorithm inside
    winnowing_fingerprints' Arrow batches, factored out so it is
    property-testable against the brute-force definition without a
    SparkSession — tests/test_winnowing.py). Returns the set of uint64
    gram-hash values selected as window mins.

    Vectorized in position BLOCKS of bounded size: per block, gram
    hashes by k-step vectorized Horner over the codepoint array
    (h = h·B + cp, uint64 wraparound = mod 2^64 — measured 6.6× over
    a (block × k) multiply-sum, which materialized the window matrix),
    full-window minima a strided sliding-window min; a (w-1)-hash
    carry stitches windows across block boundaries and supplies the
    partial tail windows. Memory is O(block + w + k) — the r5
    O(w)-not-O(m) guarantee survives up to the block constant (2 MiB
    of hashes): a pathological 50 MB concatenation-junk document
    streams through in 256K-position slices, never a 400 MB hash
    array."""
    import numpy as np

    if text is None or len(text) < k:
        return set()
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    m = len(codes) - k + 1
    base = np.uint64(WINNOW_BASE)
    swv = np.lib.stride_tricks.sliding_window_view
    sel: set[int] = set()
    carry = np.empty(0, dtype=np.uint64)  # last w-1 hashes seen so far
    for s in range(0, m, block):
        e = min(s + block, m)
        n = e - s
        h = codes[s:s + n].astype(np.uint64)
        for j in range(1, k):
            h = h * base + codes[s + j:s + j + n]
        ext = np.concatenate([carry, h])
        if len(ext) >= w:
            sel.update(np.unique(swv(ext, w).min(axis=1)).tolist())
        carry = ext[-(w - 1):] if w > 1 else ext[:0]
    # partial tail windows (starts m-w+1..m-1; ALL windows when m < w):
    # suffix minima over the last min(w-1, m) hashes
    sel.update(np.minimum.accumulate(carry[::-1]).tolist())
    return sel


# content-defined-chunking parameters (LBFS/rsync-style: gram size the
# cut predicate reads, divisor setting the expected chunk length —
# E[chunk] ~ CDC_DIV chars at one cut per CDC_DIV gram hashes)
CDC_K = WINNOW_K
CDC_DIV = 32


def cdc_chunks(text: str | None, k: int = CDC_K,
               divisor: int = CDC_DIV) -> list[str]:
    """Content-defined chunking core (Muthitacharoen et al. SOSP'01,
    LBFS — the variable-size chunker underneath rsync-style dedup):
    the text is cut AFTER every k-gram whose rolling hash is 0 mod
    `divisor`, so chunk boundaries depend only on LOCAL content — an
    insertion near the start re-aligns within ~one chunk instead of
    shifting every boundary the way fixed-size chunking does. Reuses
    winnow_doc's codepoint-polynomial mod-2^64 gram hash (numpy uint64
    Horner; the DuckDB twin reproduces it exactly with HUGEINT + one
    final %), so cut positions are cross-engine identical. This is the
    UNBOUNDED original form (no min/max chunk clamps): the clamped
    production variant is a sequential fold over cut candidates (each
    accepted cut suppresses candidates inside the next min-window) and
    is deliberately not offered here — a clamp would make the oracle a
    recursive fold, and the fixture chunk-length distribution at
    divisor 32 never degenerates. Documents shorter than k chars (no
    grams) are one whole-text chunk. Texts here are KB-scale; a
    production MB-scale variant streams position blocks exactly like
    winnow_doc."""
    import numpy as np

    if text is None:
        return []
    n = len(text)
    if n < k:
        return [text]
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    m = n - k + 1
    h = codes[:m].astype(np.uint64)
    base = np.uint64(WINNOW_BASE)
    for j in range(1, k):
        h = h * base + codes[j:j + m]
    # 0-based gram start p cuts so the NEXT chunk starts at p + k;
    # a cut at the very end (p + k == n) would emit an empty chunk —
    # excluded on both engines (the oracle's i + K <= length(text))
    starts = np.flatnonzero(h % np.uint64(divisor) == 0) + k
    starts = starts[starts <= n - 1]
    bounds = [0, *starts.tolist(), n]
    return [text[a:b] for a, b in zip(bounds, bounds[1:])]


def cdc_chunk_frame(df, text_col: str, id_col: str,
                    k: int = CDC_K, divisor: int = CDC_DIV):
    """(id, chunk) frame of content-defined chunks — the
    winnowing_fingerprints plumbing applied to cdc_chunks: Arrow
    mapInPandas over a fan_out-rebalanced raw-text scan, zero shuffles
    (chunk strings are born in the map stage; consumers hash them to
    int64 before any exchange)."""
    from pyspark.sql import functions as F

    from ..sources.parquet_io import fan_out

    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    id_type = src.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids_out: list = []
            chunks_out: list[str] = []
            for doc, text in zip(pdf[id_col].values, pdf[text_col].values):
                cs = cdc_chunks(text, k, divisor)
                ids_out.extend([doc] * len(cs))
                chunks_out.extend(cs)
            yield pd.DataFrame(
                {"doc": pd.Series(ids_out, dtype=pdf[id_col].dtype),
                 "chunk": chunks_out})

    return src.mapInPandas(gen, f"doc {id_type}, chunk string")
