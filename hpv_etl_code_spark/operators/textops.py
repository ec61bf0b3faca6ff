"""Text-analysis operators over the ``documents`` table — all native
Column expressions (zero Python UDFs): the entire battery runs inside
whole-stage codegen and scales as a narrow, shuffle-free projection.

These are the LLM-training-pipeline operators mandated by the north star
(BASELINE.json): token statistics, quality scoring, language ID, and
document fingerprinting. The reference has no text operators beyond
trim/title-case (``/root/reference/src/main.py:36-37``); this extends
that surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword-overlap
#: language heuristic. Deliberately minimal and deterministic — real
#: deployments would swap in fuller lists; the operator shape (set
#: intersection over token arrays) is what scales.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "es": ("el", "la", "los", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "les", "et", "des", "du", "une", "est"),
}
#: Priority order for deterministic argmax tie-breaking.
LANG_ORDER = ("en", "de", "es", "fr")


def tokens(col: Column | str, pattern: str = " ") -> Column:
    """Whitespace tokenization (the corpus is single-space separated)."""
    return F.split(col, pattern)


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def shingles(col: Column | str, w: int = 3) -> Column:
    """Distinct w-token shingles (Broder's w-shingling — the canonical
    near-dup unit: token ORDER matters inside a shingle, so reordered
    or partially-overlapping documents stop colliding the way bags of
    unigrams do). Documents shorter than w tokens have no shingle.
    Built entirely from codegen'd array expressions (split / slice /
    concat_ws / transform) — no UDF; the DuckDB twin is a list
    comprehension over the same split (see text_queries)."""
    tk = tokens(col)
    n = F.size(tk)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(w - 1)),
        lambda i: F.concat_ws(" ", F.slice(tk, i, w)),
    )
    # guard: Spark's sequence(1, m) DESCENDS for m < 1 — short docs
    # must yield the empty set, not phantom reversed indices
    return F.array_distinct(
        F.when(n >= w, grams).otherwise(F.array().cast("array<string>"))
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def alpha_token_count(col: Column | str) -> Column:
    """Letter-run token count (runs of letters, subword-style units)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[a-z]+"), 0))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-pretokenizer-style count: alphanumeric runs PLUS each
    punctuation mark as its own token (the GPT-2 pretokenizer shape,
    simplified to a portable character-class regex). This is the
    pre-merge unit count — an upper bound on BPE tokens — useful as a
    fast, library-free per-doc cost estimate at corpus scale."""
    return F.regexp_count(F.lower(col), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"))


def avg_token_length(col: Column | str) -> Column:
    """Mean token length — array aggregate, no explode, no shuffle."""
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.round(total * 1.0 / F.greatest(F.size(toks), F.lit(1)), 6)


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """|distinct tokens ∩ stopwords| / |distinct tokens| (set semantics)."""
    toks = distinct_tokens(col)
    hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]]))
    )
    return hits * 1.0 / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality ∈ [0,1]:
    0.5·stopword-ratio + 0.3·min(n_tokens/50, 1) + 0.2·lexical-diversity.

    All terms derive from integer counts, so the double arithmetic is
    deterministic across engines.
    """
    toks = tokens(col)
    n = F.greatest(F.size(toks), F.lit(1))
    diversity = F.size(F.array_distinct(toks)) * 1.0 / n
    length_term = F.least(F.size(toks) / F.lit(50.0), F.lit(1.0))
    return F.round(
        0.5 * stopword_ratio(col) + 0.3 * length_term + 0.2 * diversity, 6
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-overlap scores."""
    toks = distinct_tokens(col)
    n = F.greatest(F.size(toks), F.lit(1))
    return {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        * 1.0
        / n
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Deterministic argmax over language scores, priority-ordered
    tie-break (LANG_ORDER): the first language whose score equals the
    max wins. A score of 0 across the board → 'und' (undetermined)."""
    scores = lang_scores(col)
    mx = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when(scores[lang] == mx, F.lit(lang)).otherwise(expr)
    return F.when(mx == 0, F.lit("und")).otherwise(expr)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact-dedup: lowercase, collapse whitespace,
    trim. The whitespace class is EXPLICIT ``[ \\t\\n\\r\\f\\x0B]`` —
    Java's ``\\s`` includes vertical tab but RE2's (DuckDB) does not,
    so the shorthand silently breaks cross-engine fingerprint parity on
    control characters (found by the adversarial-unicode tests).
    Remaining known engine boundary, documented rather than papered
    over: locale-tailored case folding (Turkish dotted İ, titlecase
    ligatures) differs between Java's and DuckDB's ``lower`` — both
    agree on ASCII and common accented Latin, which is the portability
    contract the fingerprint family promises."""
    return F.trim(
        F.regexp_replace(F.lower(col), r"[ \t\n\r\f\x0B]+", " ")
    )


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text — the exact-dedup
    join key (md5 is identical across engines, unlike xxhash64)."""
    return F.md5(normalize_text(col))


def word_ngrams(col: Column | str, n: int) -> Column:
    """Word-level n-gram shingles ('_'-joined), empty array when the doc
    has fewer than n tokens (no partial/padded grams — the guard keeps
    decontamination and repetition counts honest for short docs)."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(
            "_", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_bigrams(col: Column | str) -> Column:
    """Word-level 2-gram shingles (for n-gram Jaccard / MinHash input)."""
    toks = tokens(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: F.concat_ws("_", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )


def winnowing_kgram_hashes(col: Column | str, k: int = 3) -> Column:
    """Stage 1 of winnowing: the array of portable k-gram hashes (first
    60 bits of md5 per word k-gram). Callers should BIND this to a real
    column in its own projection before applying
    :func:`winnowing_window_minima` — referencing the expression inline
    inside the window lambda re-evaluates the whole O(n)-md5 array per
    window element (O(n²) md5s per document; measured 228 s → 9 s at
    sf0.1 on the text_winnowing entry)."""
    toks = tokens(col)
    n = F.size(toks)
    ng = n - F.lit(k - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        "_", *[F.element_at(toks, i + off) for off in range(k)]
    )
    return F.when(
        ng >= 1,
        F.transform(
            F.sequence(F.lit(1), ng),
            lambda i: F.conv(
                F.substring(F.md5(gram(i)), 1, 15), 16, 10
            ).cast("bigint"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnowing_window_minima(hs: Column | str, w: int = 4) -> Column:
    """Stage 2 of winnowing: distinct minima of every length-``w``
    window over a BOUND k-gram-hash array column. Documents with fewer
    than ``w`` hashes yield the single global minimum (the standard
    degenerate-window rule); empty arrays stay empty."""
    hs = F.col(hs) if isinstance(hs, str) else hs
    nh = F.size(hs)
    wins = (
        F.when(
            nh >= w,
            F.transform(
                F.sequence(F.lit(1), nh - F.lit(w - 1)),
                lambda i: F.array_min(F.slice(hs, i, w)),
            ),
        )
        .when(nh >= 1, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return F.array_distinct(wins)


def winnowing_fingerprints(
    col: Column | str, k: int = 3, w: int = 4
) -> Column:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    word k-gram with a PORTABLE rolling-window hash (first 60 bits of
    md5), then keep the minimum hash of each length-``w`` window of
    consecutive k-gram hashes — a compact, position-robust fingerprint
    set whose overlap estimates document similarity. Pure array
    expressions: no explode until the caller wants rows.

    Documents with fewer than ``k`` tokens yield an empty set; documents
    with fewer than ``w`` k-grams yield the single global minimum (the
    standard degenerate-window rule).

    PERFORMANCE NOTE: this one-Column convenience splices the k-gram
    hash array INLINE into every window lambda, which re-evaluates the
    O(n)-md5 array per window element — O(n²) md5 calls per document.
    Fine for tests and small frames; production plans should stage
    :func:`winnowing_kgram_hashes` as a bound column and apply
    :func:`winnowing_window_minima` on top (what the text_winnowing
    entry does — 25× at sf0.1).
    """
    hs = winnowing_kgram_hashes(col, k)
    nh = F.size(hs)
    wins = (
        F.when(
            nh >= w,
            F.transform(
                F.sequence(F.lit(1), nh - F.lit(w - 1)),
                lambda i: F.array_min(F.slice(hs, i, w)),
            ),
        )
        .when(nh >= 1, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return F.array_distinct(wins)


# -------------------------------------------------- PII / chunk hygiene

# conservative, RE2-compatible patterns (portable: Java regex ⊇ RE2 here)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_PHONE_RE = r"\b\d{3}[- ]\d{4}\b"


def scrub_pii(col: Column | str) -> Column:
    """Redact emails, IPv4 addresses and simple phone numbers with typed
    placeholders — the standard pre-training privacy pass. Pure chained
    ``regexp_replace`` (global, JVM-side); order matters: emails first
    (an address contains dot-runs an IP pattern could nibble), then IPs,
    then phones."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PII_PHONE_RE, "<PHONE>")
    return c


def token_chunks(col: Column | str, size: int = 16) -> Column:
    """Split a document into consecutive ``size``-token chunk strings —
    the 'paragraph' unit for chunk-level dedup on corpora without
    structural newlines. The tail chunk may be shorter."""
    ts = tokens(col)
    n = F.greatest(F.ceil(F.size(ts) / size).cast("int"), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(ts, i * size + 1, size), " "),
    )
