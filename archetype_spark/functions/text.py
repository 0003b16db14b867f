"""Text-analysis column expressions (north-star [N] operators).

Everything here is a native Column expression (split/transform/
sequence/regexp) — JVM-side, codegen'd, shuffle-free per row. The
corpus `documents.text` is single-space-separated tokens, so the
canonical tokenizer is `split(text, ' ')`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def tokens(text: Column | str, sep: str = " ") -> Column:
    """Whitespace tokens (corpus canonical form)."""
    return F.split(F.col(text) if isinstance(text, str) else text, sep)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-gram word shingles, each joined by a single space.
    Docs shorter than n tokens yield an empty array (the
    greatest(.., 0) slice-length guard — no F.sequence, so its
    negative-range count-DOWN trap never applies).

    r16 shape: arrays_zip of n shifted slices, with the transform
    lambda reduced to one concat_ws over the zipped struct. The old
    lambda indexed the OUTER token array per element
    (element_at(w, i+j) n times per position), which evaluated
    interpreted against the enclosing row — measured 3.23 s for a
    corpus shingle pass at sf0.1 where this form runs 0.38 s,
    arrays byte-identical."""
    w = tokens(text)
    ln = F.greatest(F.size(w) - n + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(w, i + 1, ln) for i in range(n)])
    return F.coalesce(
        F.array_distinct(
            F.transform(
                zipped, lambda x: F.concat_ws(" ", *[x[str(i)] for i in range(n)])
            )
        ),
        # NULL text: slice/arrays_zip propagate NULL where the pre-r16
        # form returned [] — identical under explode(), but SIZE
        # consumers (minhash set size, ann n_sh) must keep seeing 0
        # (ADVICE r16 low).
        F.array().cast("array<string>"),
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation."""
    t = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(F.regexp_replace(t, r"[^.!?,;:]", ""))
    return F.when(F.length(t) > 0, n_punct.cast("double") / F.length(t)).otherwise(
        F.lit(0.0)
    )


def uniq_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct tokens / total tokens."""
    w = tokens(text)
    return F.when(
        F.size(w) > 0, F.size(F.array_distinct(w)).cast("double") / F.size(w)
    ).otherwise(F.lit(0.0))


def avg_token_len(text: Column | str) -> Column:
    """Mean token length = non-space chars / token count."""
    t = F.col(text) if isinstance(text, str) else text
    w = tokens(t)
    return F.when(
        F.size(w) > 0,
        F.length(F.regexp_replace(t, " ", "")).cast("double") / F.size(w),
    ).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite heuristic quality score in [0,1]: rewards mid-length
    docs, lexical diversity, low punctuation density. Deterministic and
    SQL-expressible (mirrored in the oracle corpus)."""
    t = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(t).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    return F.round(
        0.5 * len_score + 0.4 * uniq_token_ratio(t) + 0.1 * (1.0 - punct_ratio(t)), 6
    )


def fingerprint64(text: Column | str) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    token-normalized text (collapse runs of whitespace, lowercase).
    The fast path — xxhash64 is a few ns/doc JVM-side, the right
    choice for ingest-time identity at 100 TB. Not portable to the
    DuckDB oracle (different hash family)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(F.lower(F.regexp_replace(t, r"\s+", " ")))


def fingerprint60_portable(text: Column | str) -> Column:
    """Engine-portable 60-bit fingerprint: the first 15 hex chars of
    sha256 over the same normalization, as a BIGINT. Any engine with
    sha256 computes the identical value (DuckDB:
    ('0x'||substr(sha256(norm),1,15))::UBIGINT) — this is the variant
    the oracle-gated corpus query uses; prefer fingerprint64 when
    cross-engine identity isn't required."""
    t = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(t, r"\s+", " "))
    return F.conv(F.substring(F.sha2(norm, 256), 1, 15), 16, 10).cast("long")
