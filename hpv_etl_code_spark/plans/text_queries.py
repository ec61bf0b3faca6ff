"""M4 catalog entries: text analysis + dedup on ``documents``.

Every family is oracle-checked: token stats, quality, lang-ID, md5 and
winnowing fingerprints, exact dedup, n-gram Jaccard directly; MinHash
and SimHash through their PORTABLE md5-hash twins
(``dedup_minhash_portable`` / ``dedup_simhash_portable`` — bit-identical
in DuckDB). The xxhash64 variants remain the production scale path
(cheaper inner loop, hot-bucket splitting) with invariant/recall pytest
coverage (tests/test_dedup.py) and rows-only driver checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textops
from ..operators.dedup import (
    dedup_exact,
    dedup_incremental_survivors,
    exact_dedup_keepers,
    jaccard,
    minhash_lsh_pairs,
    minhash_lsh_pairs_grouped,
    minhash_lsh_pairs_portable,
    scaled_lsh_params,
    simhash_near_pairs,
    simhash_near_pairs_portable,
)
from ..sources.registry import load_table

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in textops.LANG_STOPWORDS.items()
}


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.token_count("text").alias("n_tokens"),
        textops.alpha_token_count("text").alias("n_alpha_tokens"),
        F.size(textops.distinct_tokens("text")).alias("n_distinct_tokens"),
        textops.avg_token_length("text").alias("avg_token_len"),
    )


TEXT_TOKEN_STATS_SQL = """
SELECT doc_id,
  len(string_split(text, ' '))::INT AS n_tokens,
  len(regexp_extract_all(text, '[a-z]+'))::INT AS n_alpha_tokens,
  len(list_distinct(string_split(text, ' ')))::INT AS n_distinct_tokens,
  ROUND(list_sum(list_transform(string_split(text, ' '), t -> length(t))) * 1.0
        / greatest(len(string_split(text, ' ')), 1), 6) AS avg_token_len
FROM documents
"""


def unigram_ce_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering, the unigram exact form: train a
    unigram LM on the corpus itself (token counts / total), score each
    document's per-token cross-entropy H_d = ln N − (1/n_d)·Σ ln c(t_i),
    and cut the corpus into three equal-population bands (head/middle/
    tail — the band a mixture policy keeps, downsamples, or drops).

    Determinism: ln c(t) is QUANTIZED to an exact integer
    (⌊ln(c)·10⁶ + 0.5⌋ — half-up, written identically in the oracle),
    so the per-doc sum is exact integer arithmetic — ORDER-FREE, no
    ordered fold needed — and H_d is one double division. Band cuts use
    the integer rank rule ((rank−1)·3) DIV n over ``global_row_index``
    (ties → doc_id), the decile_lift playbook, so no ntile ambiguity.

    Scale: one explode→(token) count aggregation (the vocabulary pass
    every tokenizer-adjacent job already pays), one join back on token,
    one per-doc aggregation, and the two-phase global rank — no
    single-partition sort, no vocabulary broadcast requirement (the
    token join shuffles by token; at 100 TB both sides are
    token-partitioned and the vocab side is tiny after aggregation).
    """
    from ..operators.layout import global_row_index

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(textops.tokens("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    total = counts.agg(F.sum("ct").cast("bigint").alias("N"))
    lnq = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    per_doc = (
        toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(lnq(F.col("ct"))).cast("bigint").alias("slnq"),
        )
    )
    scored = per_doc.join(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        (
            (F.col("n_tokens") * lnq(F.col("N")) - F.col("slnq")).cast("double")
            / (F.lit(1000000.0) * F.col("n_tokens").cast("double"))
        ).alias("ce"),
    )
    ranked = global_row_index(
        scored, key="ce", tiebreak=("doc_id",), index_col="rk"
    )
    n_docs = scored.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    return (
        ranked.join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "n_tokens",
            F.round("ce", 6).alias("cross_entropy"),
            F.expr("((rk - 1) * 3) DIV nd").cast("int").alias("band"),
        )
    )


UNIGRAM_CE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, COUNT(*)::BIGINT AS ct FROM toks GROUP BY tok
), total AS (SELECT SUM(ct)::BIGINT AS N FROM counts),
per_doc AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
    SUM(CAST(FLOOR(ln(ct::DOUBLE) * 1000000.0 + 0.5) AS BIGINT))::BIGINT
      AS slnq
  FROM toks JOIN counts USING (tok)
  GROUP BY doc_id
), scored AS (
  SELECT doc_id, n_tokens,
    (n_tokens * CAST(FLOOR(ln(N::DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
     - slnq)::DOUBLE / (1000000.0 * n_tokens::DOUBLE) AS ce
  FROM per_doc CROSS JOIN total
), nd AS (SELECT COUNT(*)::BIGINT AS nd FROM scored)
SELECT doc_id, n_tokens, ROUND(ce, 6) AS cross_entropy,
  (((ROW_NUMBER() OVER (ORDER BY ce, doc_id)) - 1) * 3 // nd)::INT AS band
FROM scored CROSS JOIN nd
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(textops.stopword_ratio("text"), 6).alias("stop_ratio"),
        textops.quality_score("text").alias("quality"),
    )


TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
    string_split(text, ' ') AS toks,
    list_distinct(string_split(text, ' ')) AS dtoks
  FROM documents
)
SELECT doc_id,
  ROUND(len(list_intersect(dtoks, {_STOP_SQL['en']})) * 1.0
        / greatest(len(dtoks), 1), 6) AS stop_ratio,
  ROUND(0.5 * (len(list_intersect(dtoks, {_STOP_SQL['en']})) * 1.0
               / greatest(len(dtoks), 1))
      + 0.3 * least(len(toks) / 50.0, 1.0)
      + 0.2 * (len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1)),
      6) AS quality
FROM t
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        textops.lang_id("text").alias("lang_pred"),
    )


_LANG_SCORE_SQL = {
    lang: (
        f"len(list_intersect(dtoks, {_STOP_SQL[lang]})) * 1.0 / greatest(len(dtoks), 1)"
    )
    for lang in textops.LANG_ORDER
}
TEXT_LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS dtoks
  FROM documents
), s AS (
  SELECT doc_id, lang,
    {_LANG_SCORE_SQL['en']} AS s_en,
    {_LANG_SCORE_SQL['de']} AS s_de,
    {_LANG_SCORE_SQL['es']} AS s_es,
    {_LANG_SCORE_SQL['fr']} AS s_fr
  FROM t
)
SELECT doc_id, lang,
  CASE
    WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
    ELSE 'fr'
  END AS lang_pred
FROM s
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.fingerprint_md5("text").alias("fingerprint"),
    )


TEXT_FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on content fingerprint (deterministic min-id keeper)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_keepers(d, "text", "doc_id")


DEDUP_EXACT_CONTENT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint,
  MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def dedup_exact_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a column subset (lang, source) — the collapsing
    variant (many rows per group)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_exact(d, ["lang", "source"], "doc_id")


DEDUP_EXACT_SUBSET_SQL = """
SELECT lang, source, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
FROM documents GROUP BY lang, source
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard between consecutive doc ids — the exact
    n-gram-similarity kernel, oracle-checked (the LSH entries reuse this
    kernel over LSH-generated candidates instead of a linear pairing)."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.array_distinct(textops.word_bigrams("text")).alias("grams")
    )
    a = g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("g_a"), F.col("g_b")), 6).alias("bigram_jaccard"),
        )
    )


NGRAM_JACCARD_SQL = """
WITH g AS (
  SELECT doc_id,
    list_distinct(
      list_transform(
        generate_series(1, greatest(len(string_split(text,' ')) - 1, 1)),
        i -> CASE WHEN i < len(string_split(text,' '))
                  THEN string_split(text,' ')[i] || '_' || string_split(text,' ')[i+1]
                  ELSE string_split(text,' ')[i] END)
    ) AS grams
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
        greatest(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)), 1),
        6) AS bigram_jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (rows-only: xxhash64 signatures).

    Runs from the session-cached GROUPED base (plans/shared_cache.py):
    the token/signature stage is shared with the corpus pipeline and
    incremental dedup, and documents with identical token sets are
    collapsed to one representative before banding
    (operators/dedup.py::minhash_lsh_pairs_grouped — output-equivalent,
    verified pair-for-pair in tests/test_dedup.py); banding, candidate
    join and Jaccard refine are unchanged.

    Round 8 (VERDICT r7 #1): banding AUTO-SIZES with the corpus —
    (num_hashes, bands) come from ``shared_cache.corpus_lsh_params``
    (decade-stepped ``lsh_params_for``), not a pinned (16, 4); the
    sf10 rehearsal measured the pinned regime FP-quadratic (476M
    candidates) while scaled banding keeps candidates ≈ linear in n.
    The (16, 4) setting lives on in ``dedup_minhash_portable``, the
    oracle-certification pin."""
    # the synthetic corpus is pathologically dense (small shared vocab →
    # most pairs are similar); hot buckets are chunk-split across tasks
    # so output stays complete without a single-task pair explosion
    from .fanout import fan_partitions
    from .shared_cache import corpus_lsh_params, grouped_corpus

    members, groups = grouped_corpus(spark, sf_dir)
    nh, bands = corpus_lsh_params(spark, sf_dir)
    # fan the banding/candidate pipeline out iff the corpus scan cannot
    # fill the cores (optimization round 9, guide §2.5) — at bench
    # scale the 1-block group artifact left candidate generation on one
    # task; at production the helper returns None and no node is added
    return minhash_lsh_pairs_grouped(
        members,
        groups,
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        max_bucket=100_000,
        fan_partitions=fan_partitions(members, sf_dir, "documents"),
    )


def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-CHECKED MinHash+LSH pipeline: md5-based portable hash
    family — DuckDB computes bit-identical signatures, band buckets,
    candidates and the exact-Jaccard refine (operators/dedup.py::
    minhash_lsh_pairs_portable). The xxhash64 sibling keeps the cheap
    inner loop + hot-bucket splitting and stays rows-only.

    Round 5: runs through the identical-tokset collapse
    (minhash_lsh_pairs_portable_grouped over the persisted portable
    group frame) — the md5 min-hash chain, the dominant cost here, is
    computed once per DISTINCT tokset; output is pair-for-pair
    identical to the flat path (test-locked) so the oracle is
    unchanged."""
    from ..operators.dedup import minhash_lsh_pairs_portable_grouped
    from .shared_cache import portable_grouped_corpus

    members, pgroups = portable_grouped_corpus(spark, sf_dir)
    return minhash_lsh_pairs_portable_grouped(members, pgroups, threshold=0.8)


def dedup_minhash_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An r=8 banding regime, oracle-certified: num_hashes=32, bands=4
    — a HAND-PINNED certification setting in the r=8 class the round-7
    sf10 rehearsal measured (SCALING.md: r=4 candidates grow
    FP-quadratically, 476M pairs at sf10; r=8 cut them to 111M and
    connected components completed end-to-end). Note (ADVICE r7):
    ``operators/dedup.py::lsh_params_for`` places bands on the t^−r
    S-curve, so it returns r=8-CLASS regimes like (48, 6) but can never
    return (32, 4) itself — this entry certifies the rows-per-band
    lever with a fixed unrollable oracle, while the DEFAULT paths
    auto-size via ``shared_cache.corpus_lsh_params``. Output differs
    from ``dedup_minhash_portable`` by design — fewer chance-collision
    candidates ever reach the refine — and the DuckDB twin unrolls the
    same 32-hash banding, so the whole regime is hash-certified, not
    just argued."""
    from ..operators.dedup import minhash_lsh_pairs_portable

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_portable(
        d, "doc_id", "text", threshold=0.8, num_hashes=32, bands=4
    )


def _minhash_portable_sql(num_hashes: int = 16, rows_per_band: int = 4) -> str:
    """DuckDB twin of the portable MinHash banding, parameterized by
    (num_hashes, rows_per_band) — defaults are the certification-scale
    parameters every dedup entry pins; the scaled entry certifies the
    r=8 production regime the round-7 sf10 rehearsal measured
    (SCALING.md: constant-parameter banding is FP-quadratic; r=8 cut
    sf10 candidates 476M -> 111M and un-blocked components)."""
    return _minhash_portable_sql_over(
        "list_distinct(string_split(text, ' '))", num_hashes, rows_per_band
    )


def _minhash_portable_sql_over(
    toks_expr: str, num_hashes: int, rows_per_band: int, threshold: float = 0.8
) -> str:
    """The portable banding SQL over an arbitrary DuckDB shingling
    expression (round 8 — the w-shingle entry swaps only this one
    expression, exactly mirroring the Spark side's ``tokens`` param)."""
    return f"""
WITH toks AS (
  SELECT doc_id, {toks_expr} AS toks FROM documents
), e AS (
  SELECT doc_id, unnest(toks) AS tok FROM toks
), h AS (
  SELECT doc_id, s.seed,
    MIN(('0x' || substr(md5(s.seed::VARCHAR || '|' || tok), 1, 15))::BIGINT) AS mh
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed) s
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, seed // {rows_per_band} AS band,
    md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bkey
  FROM h GROUP BY doc_id, seed // {rows_per_band}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
        greatest(len(ta.toks) + len(tb.toks)
                 - len(list_intersect(ta.toks, tb.toks)), 1), 6) AS jaccard
FROM cand
JOIN toks ta ON ta.doc_id = cand.id_a
JOIN toks tb ON tb.doc_id = cand.id_b
WHERE ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
      greatest(len(ta.toks) + len(tb.toks)
               - len(list_intersect(ta.toks, tb.toks)), 1), 6) >= {threshold}
"""


DEDUP_MINHASH_PORTABLE_SQL = """
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), e AS (
  SELECT doc_id, unnest(toks) AS tok FROM toks
), h AS (
  SELECT doc_id, s.seed,
    MIN(('0x' || substr(md5(s.seed::VARCHAR || '|' || tok), 1, 15))::BIGINT) AS mh
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
    md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
        greatest(len(ta.toks) + len(tb.toks)
                 - len(list_intersect(ta.toks, tb.toks)), 1), 6) AS jaccard
FROM cand
JOIN toks ta ON ta.doc_id = cand.id_a
JOIN toks tb ON tb.doc_id = cand.id_b
WHERE ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
      greatest(len(ta.toks) + len(tb.toks)
               - len(list_intersect(ta.toks, tb.toks)), 1), 6) >= 0.8
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 (rows-only)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(d, "doc_id", "text", max_hamming=3)


def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED SimHash: 60-bit md5-based fingerprint, 4×15-bit
    band candidates, exact Hamming ≤ 3 — DuckDB reproduces the whole
    pipeline bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs_portable(d, "doc_id", "text", max_hamming=3)


DEDUP_SIMHASH_PORTABLE_SQL = """
WITH h AS (
  SELECT doc_id,
    list_transform(list_distinct(string_split(text, ' ')),
                   t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs,
    len(list_distinct(string_split(text, ' '))) AS n
  FROM documents
), sh AS (
  SELECT doc_id,
    list_sum(list_transform(range(0, 60), j ->
      CASE WHEN 2 * len(list_filter(hs, x -> (x >> j) & 1 = 1)) > n
           THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
  FROM h
), bands AS (
  SELECT doc_id, simhash, b.band,
    (simhash >> (15 * b.band)) & 32767 AS bkey
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash k-gram windows, MOSS scheme)
    exploded to (doc_id, fingerprint) rows — ORACLE-CHECKED via the
    portable md5 hash. STAGED: the k-gram hash array binds to a real
    column before the window-minima pass — splicing it inline into the
    window lambda re-evaluated the whole O(n)-md5 array per window
    element (O(n²) md5s/doc; 228 s → 9 s at sf0.1, r6 sweep find)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", textops.winnowing_kgram_hashes("text", k=3).alias("__hs")
    )
    return staged.select(
        "doc_id",
        F.explode(textops.winnowing_window_minima("__hs", w=4)).alias(
            "fingerprint"
        ),
    )


TEXT_WINNOWING_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= 3 THEN
      list_transform(range(1, len(tk) - 1), i ->
        ('0x' || substr(md5(tk[i] || '_' || tk[i+1] || '_' || tk[i+2]), 1, 15))::BIGINT)
    ELSE [] END AS hs
  FROM t
), fps AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= 4 THEN
      list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3])))
    WHEN len(hs) >= 1 THEN [list_min(hs)]
    ELSE [] END AS fp
  FROM g
)
SELECT doc_id, unnest(fp) AS fingerprint FROM fps
"""


def dedup_components_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: the portable MinHash+LSH pair
    generator feeds connected components (operators/components.py —
    min-label propagation + pointer jumping), labeling every edge-touched
    document with its cluster's minimum doc_id. This is the full
    dedup-grouping shape of an LLM corpus pipeline, and because both the
    pair kernel and the min-label fixpoint are deterministic, the whole
    two-stage composition hash-matches a recursive-CTE oracle.

    Round 8 (VERDICT r7 #1): the DEFAULT path bands with the
    corpus-sized parameters (``shared_cache.corpus_lsh_params`` —
    (15, 3) at the driver's sf0.01, stepping up by decade), because
    this is exactly the entry the pinned (16, 4) regime disk-killed at
    sf10 (476M candidate pairs, SCALING.md). The DuckDB twin pins the
    same sf0.01-decade parameters (asserted equal at gate scale in
    tests/test_catalog_oracle.py); ``dedup_minhash_portable`` remains
    the (16, 4) certification pin."""
    from ..operators.components import connected_components
    from ..operators.dedup import portable_rep_pairs
    from .shared_cache import corpus_lsh_params, scaled_portable_grouped_corpus

    # Round 5: components run over the GROUP graph (one node per
    # distinct tokset, rep-level pair edges) instead of the 2.8M-row
    # member pair list — identical connectivity (identical-tokset
    # groups are cliques; contracting a clique preserves reachability)
    # and identical min-doc labels (min over member groups' min ids).
    # Empty-tokset groups and pairless singleton groups are excluded,
    # matching the flat pair list (no pairs → not in the output).
    members, pgroups = scaled_portable_grouped_corpus(spark, sf_dir)
    nh, bands = corpus_lsh_params(spark, sf_dir)
    rep_pairs = portable_rep_pairs(
        pgroups, threshold=0.8, num_hashes=nh, bands=bands
    )
    comps_g = connected_components(rep_pairs, src="gkey_a", dst="gkey_b")
    gstats = members.groupBy("gkey").agg(
        F.min("id").alias("gmin"), F.count(F.lit(1)).alias("gn")
    )
    nonempty = pgroups.select("gkey", (F.size("toks") > 0).alias("ne"))
    glabel = (
        gstats.join(nonempty, "gkey")
        .join(comps_g, gstats.gkey == comps_g.id, "left")
        .withColumn("gcomp", F.coalesce("component", "gkey"))
        .filter(
            F.col("component").isNotNull()
            | ((F.col("gn") >= 2) & F.col("ne"))
        )
    )
    comp_min = glabel.groupBy("gcomp").agg(F.min("gmin").alias("comp_doc"))
    return (
        members.join(glabel.select("gkey", "gcomp"), "gkey")
        .join(comp_min, "gcomp")
        .select(
            F.col("id").alias("doc_id"), F.col("comp_doc").alias("component")
        )
    )


# The recursive closure reaches every (node, min-reachable-id) pair; the
# outer MIN collapses it to the component minimum — the same fixpoint the
# Spark pointer-jumping loop converges to. DuckDB allows non-recursive
# CTEs (the proven portable-pair query, nested whole) alongside the
# recursive member.
# Gate-scale parameter pin for the SCALED default path (VERDICT r7 #1):
# the driver's correctness gate runs at sf0.01 where documents holds 500
# rows; scaled_lsh_params decade-rounds, so the derived (15, 3) regime
# is stable for any corpus of 11..1000 rows — the oracle below unrolls
# exactly these parameters and tests/test_catalog_oracle.py asserts the
# runtime derivation matches this pin at gate scale.
_GATE_NH, _GATE_BANDS = scaled_lsh_params(500)

DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS (
{_minhash_portable_sql(_GATE_NH, _GATE_NH // _GATE_BANDS)}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), nodes AS (
  SELECT DISTINCT src AS id FROM sym
), reach(node, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
)
SELECT node AS doc_id, MIN(label) AS component
FROM reach GROUP BY node
"""


def dedup_minhash_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder w-SHINGLE MinHash+LSH near-dup pairs (round 8 — the
    canonical shingle→minhash→band→bucket-join pipeline, where the
    set element is an ORDERED 3-token window instead of a bag-of-
    unigrams token): reordered or topically-similar documents that
    share vocabulary but not phrasing stop colliding, which is exactly
    why production near-dup uses shingles. Same portable md5 hash
    family, banding, candidate join and exact shingle-Jaccard refine as
    ``dedup_minhash_portable`` — the DuckDB twin swaps ONE expression
    (a list comprehension over the same split), so the whole shingle
    pipeline is hash-certified. Shingling is pure codegen'd array
    expressions (``operators/textops.py::shingles``); scale shape is
    identical to the unigram entry (shingle sets are ~|tokens| long)."""
    from ..operators.textops import shingles

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_portable(
        d, "doc_id", "text", threshold=0.8, tokens=shingles("text", 3)
    )


_SHINGLE_TOKS_SQL = (
    "list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ') "
    "FOR i IN generate_series(1, greatest(len(string_split(text, ' ')) - 2, "
    "0))])"
)

DEDUP_MINHASH_SHINGLES_SQL = _minhash_portable_sql_over(
    _SHINGLE_TOKS_SQL, 16, 4
)


def dedup_shingles_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION w-shingle near-dup path (round 8 — the shingle
    analog of ``dedup_minhash_lsh``): xxhash64-hashed shingles,
    identical-shingleset collapse, corpus-magnitude-scaled banding,
    hot-bucket chunking. Rows-only at the gate;
    ``dedup_minhash_shingles`` (portable md5, (16, 4)) is the oracle
    pin and tests/test_twin_certification.py pins this machinery
    against it."""
    from ..operators.dedup import minhash_lsh_pairs_grouped, tokset_groups
    from ..operators.dedup import minhash_signature
    from ..operators.textops import shingles
    from .shared_cache import corpus_lsh_params

    d = load_table(spark, sf_dir, "documents")
    nh, bands = corpus_lsh_params(spark, sf_dir)
    base = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.transform(shingles("text", 3), lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).withColumn("sig", minhash_signature(F.col("toks"), nh))
    members, groups = tokset_groups(base)
    return minhash_lsh_pairs_grouped(
        members,
        groups,
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        max_bucket=100_000,
    )


def dedup_shingles_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w-SHINGLE MinHash+LSH with CORPUS-SIZED banding, oracle-certified
    (round 9, VERDICT r8 #4): ``dedup_minhash_shingles`` pins the flat
    (16, 4) certification regime and ``dedup_shingles_fast`` is the
    rows-only xxhash64 production path — this entry closes the gap by
    hash-certifying the SCALED banding regime itself on shingle sets,
    the exact analog of ``dedup_minhash_scaled``'s role for unigrams
    and ``dedup_components_portable``'s decade-pinned derivation: the
    runtime derives (num_hashes, bands) from the corpus magnitude
    (``shared_cache.corpus_lsh_params`` — (15, 3) at the driver's
    sf0.01 decade) and the DuckDB twin unrolls the same gate-decade
    parameters (equality asserted at gate scale in
    tests/test_catalog_oracle.py)."""
    from ..operators.textops import shingles
    from .shared_cache import corpus_lsh_params

    d = load_table(spark, sf_dir, "documents")
    nh, bands = corpus_lsh_params(spark, sf_dir)
    return minhash_lsh_pairs_portable(
        d,
        "doc_id",
        "text",
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        tokens=shingles("text", 3),
    )


DEDUP_SHINGLES_SCALED_SQL = _minhash_portable_sql_over(
    _SHINGLE_TOKS_SQL, _GATE_NH, _GATE_NH // _GATE_BANDS
)


def dedup_auto_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FRONT-DOOR dedup API, oracle-certified end-to-end (round 9,
    VERDICT r8 #6): ``operators.frontdoor.dedup(documents, 'text')`` —
    method resolved by policy (string column, gate-decade corpus ≤ 10⁵
    rows → w-shingles), banding auto-sized from the corpus magnitude,
    output the per-document decision record (id, cluster, is_keeper).
    The portable hash family makes every stage DuckDB-reproducible:
    shingle MinHash pairs at the gate-decade parameters → recursive
    min-label closure → every document labeled with its family minimum
    → keeper flags. The production (xxhash64 + group-graph) path of the
    same call is structurally test-locked in tests/test_frontdoor.py."""
    from ..operators.frontdoor import dedup

    d = load_table(spark, sf_dir, "documents")
    return dedup(
        d, "text", id_col="doc_id", method="auto",
        threshold=0.8, hash_family="portable",
    )


DEDUP_AUTO_SURVIVORS_SQL = f"""
WITH RECURSIVE pairs AS (
{_minhash_portable_sql_over(_SHINGLE_TOKS_SQL, _GATE_NH, _GATE_NH // _GATE_BANDS)}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(node, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
), comps AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
), labeled AS (
  SELECT d.doc_id AS id, COALESCE(c.component, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
)
SELECT id, cluster, (id = cluster)::INT AS is_keeper FROM labeled
"""


def dedup_components_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters on the PRODUCTION hash family (round 8): the
    xxhash64 signatures + group frame already persisted by the shared
    cache (the same artifacts ``dedup_minhash_lsh`` mines pairs from)
    feed rep-level banding and connected components directly — no md5
    chain at all. This is the 100 TB components path; the md5
    ``dedup_components_portable`` twin exists so DuckDB can certify the
    same two-stage composition (its per-doc cost carries the portable
    family's num_hashes·|toks| md5 calls, which is certification
    overhead, not pipeline cost). Rows-only at the gate by the same
    adjudication as ``dedup_minhash_lsh``; structural invariants
    (labels are component minima; members ⊆ edge-touched ∪
    identical-tokset groups) are test-locked in tests/test_dedup.py.

    Scale shape: banding over ONE representative per distinct tokset,
    candidates narrow, the exact refine behind the length-ratio
    prefilter, label propagation over the contracted group graph
    (edges smaller than member pairs by the product of group sizes).
    """
    from ..operators.components import connected_components
    from ..operators.dedup import _lsh_pairs_uncollapsed
    from .shared_cache import corpus_lsh_params, grouped_corpus

    members, groups = grouped_corpus(spark, sf_dir)
    nh, bands = corpus_lsh_params(spark, sf_dir)
    rep_base = groups.select(
        F.col("gkey").alias("id"), "toks", "sig", F.col("gn").alias("_w")
    )
    rep_pairs = _lsh_pairs_uncollapsed(
        rep_base,
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        max_bucket=100_000,
        hot_bucket_mode="chunk",
        weight_col="_w",
    ).select(F.col("id_a").alias("gkey_a"), F.col("id_b").alias("gkey_b"))
    comps_g = connected_components(rep_pairs, src="gkey_a", dst="gkey_b")
    gstats = members.groupBy("gkey").agg(
        F.min("id").alias("gmin"), F.count(F.lit(1)).alias("gn")
    )
    nonempty = groups.select("gkey", (F.size("toks") > 0).alias("ne"))
    glabel = (
        gstats.join(nonempty, "gkey")
        .join(comps_g, gstats.gkey == comps_g.id, "left")
        .withColumn("gcomp", F.coalesce("component", "gkey"))
        .filter(
            F.col("component").isNotNull()
            | ((F.col("gn") >= 2) & F.col("ne"))
        )
    )
    comp_min = glabel.groupBy("gcomp").agg(F.min("gmin").alias("comp_doc"))
    return (
        members.join(glabel.select("gkey", "gcomp"), "gkey")
        .join(comp_min, "gcomp")
        .select(
            F.col("id").alias("doc_id"), F.col("comp_doc").alias("component")
        )
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution — the operational readout on
    top of ``dedup_components_portable`` (how big are the near-dup
    clusters? a corpus whose mass sits in a few giant families needs a
    different dedup policy than one full of pairs): one row per
    cluster size with the cluster count and the documents they hold.

    Pure composition: the components output (already hash-certified
    against the recursive-CTE oracle) collapses through two exact
    integer aggregates — cluster grain, then size grain.
    """
    comps = dedup_components_portable(spark, sf_dir)
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("bigint")
        .alias("n_docs"),
    )


DEDUP_CLUSTER_SIZES_SQL = f"""
WITH comps AS (
{DEDUP_COMPONENTS_SQL}
), sizes AS (
  SELECT component, COUNT(*)::BIGINT AS cluster_size
  FROM comps GROUP BY component
)
SELECT cluster_size, COUNT(*)::BIGINT AS n_clusters,
  (COUNT(*) * cluster_size)::BIGINT AS n_docs
FROM sizes GROUP BY cluster_size
"""


def components_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, component) labeling of
    :func:`dedup_components_portable` materialized ONCE per session
    through the stage-artifact seam (plans/artifacts.py) — the
    ``build_corpus_index`` pattern applied to cluster labels: at 100 TB
    the components output is a parquet artifact written next to the
    corpus, and every downstream health readout (sizes, survivor
    policies, audits) aggregates the artifact instead of re-running the
    LSH pair listing + label propagation. Builder-DEFERRED
    (``stage_artifact_from``): pointer jumping runs eager jobs at
    plan-construction time, so even BUILDING the frame twice would pay
    the full propagation cost — the cache is keyed on sf_dir and the
    builder runs once per session."""
    from .artifacts import stage_artifact_from

    return stage_artifact_from(
        spark,
        lambda: dedup_components_portable(spark, sf_dir),
        "dedup_components",
        content_key=sf_dir,
    )


def dedup_cluster_sizes_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_cluster_sizes`` off the PERSISTED components artifact
    (VERDICT r5 #2: the pair-relisting form inherits the full LSH pair
    cost on every size query — 12→60 s at the sf0.1→sf1 step; this
    variant is two integer aggregates over the |docs|-row artifact, so
    its marginal cost is trivially ≤ linear once the artifact exists).
    Output-identical to the exact entry (same oracle SQL certifies
    both; equivalence also locked in tests/test_graph_health.py)."""
    comps = components_artifact(spark, sf_dir)
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("bigint")
        .alias("n_docs"),
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup (the steady-state ingest shape):
    every 5th document plays the 'new batch', the rest the accumulated
    corpus; survivors are batch docs with no exact-fingerprint match and
    no ≥0.8-Jaccard LSH-candidate match in the corpus
    (operators/dedup.py::dedup_incremental_survivors — portable md5 hash
    family, so DuckDB reproduces buckets and survivors bit-for-bit)."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    out = dedup_incremental_survivors(new, corpus, "doc_id", "text", threshold=0.8)
    return out.select(F.col("id").alias("doc_id"), "text")


def dedup_incremental_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-path twin of ``dedup_incremental``: same batch-vs-
    corpus split and join topology, xxhash64 hash family (~10× cheaper
    hashing than the oracle's md5) — rows-only at the gate, benchmarked
    as the headline incremental-dedup number.

    Benches the PERSISTED-INDEX steady-state path: batch and corpus
    sides come pre-signed AND identical-tokset-collapsed from the
    session cache (plans/shared_cache.py — the in-process analog of
    parquet index artifacts), so the per-batch cost is a handful of
    broadcast joins at tokset-GROUP granularity
    (operators/dedup.py::incremental_survivors_grouped — output-
    equivalent to the flat fast path, verified in tests/test_dedup.py),
    NOT a corpus re-signature — the per-batch cost profile a 100 TB
    ingest actually pays."""
    from ..operators.dedup import incremental_survivors_grouped
    from .shared_cache import corpus_lsh_params, incremental_grouped

    new_docs, batch_groups, corpus_fps, corpus_groups = incremental_grouped(
        spark, sf_dir
    )
    # Round 8 (VERDICT r7 #1): banding auto-sizes with the corpus,
    # matching the scaled signature width the shared cache persists
    nh, bands = corpus_lsh_params(spark, sf_dir)
    out = incremental_survivors_grouped(
        new_docs,
        batch_groups,
        corpus_fps,
        corpus_groups,
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
    )
    return out.select(F.col("id").alias("doc_id"), "text")


DEDUP_INCREMENTAL_SQL = """
WITH newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), h AS (
  SELECT doc_id, s.seed,
    MIN(('0x' || substr(md5(s.seed::VARCHAR || '|' || tok), 1, 15))::BIGINT) AS mh
  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks) e
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
    md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), exact_drop AS (
  SELECT DISTINCT n.doc_id FROM newb n JOIN corpus c ON md5(n.text) = md5(c.text)
), cand AS (
  SELECT DISTINCT bn.doc_id AS new_id, bc.doc_id AS corpus_id
  FROM bands bn JOIN bands bc ON bn.band = bc.band AND bn.bkey = bc.bkey
  WHERE bn.doc_id % 5 = 0 AND bc.doc_id % 5 <> 0
), near_drop AS (
  SELECT DISTINCT cand.new_id AS doc_id
  FROM cand
  JOIN toks tn ON tn.doc_id = cand.new_id
  JOIN toks tc ON tc.doc_id = cand.corpus_id
  WHERE len(list_intersect(tn.toks, tc.toks)) * 1.0 /
        greatest(len(tn.toks) + len(tc.toks)
                 - len(list_intersect(tn.toks, tc.toks)), 1) >= 0.8
)
SELECT doc_id, text FROM newb
WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)
  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, IPv4, phone-shaped numbers → typed
    placeholders). The synthetic corpus carries no PII, so each doc
    deterministically injects a synthetic email/phone/IP derived from
    doc_id before scrubbing — the oracle proves regex-replacement parity
    on text that actually exercises all three patterns. Pure per-row
    regexp_replace chain: no shuffle, scales linearly."""
    d = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        F.pmod(F.col("doc_id"), 256).cast("string"),
        F.lit("."),
        F.pmod(F.col("doc_id"), 100).cast("string"),
    )
    return d.select("doc_id", textops.scrub_pii(injected).alias("scrubbed"))


TEXT_PII_SCRUB_SQL = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact user' || doc_id::VARCHAR || '@example.com call 555-'
             || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' from 10.0.'
             || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
    '\b\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS scrubbed
FROM documents
"""


def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level ('paragraph') cross-document dedup metrics: split each
    doc into 16-token chunks, hash them, and report per doc how many of
    its chunks appear in OTHER documents too — the C4-style boilerplate
    signal at sub-document granularity (within-doc repetition is the
    separate ``repetition_scores`` entry). One explode (narrow), one
    hash-agg shuffle on the chunk hash, one join back — the canonical
    scalable shape; the chunk-hash key is uniform so no skew."""
    d = load_table(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id", F.explode(textops.token_chunks("text", 16)).alias("chunk")
    ).select("doc_id", F.md5("chunk").alias("ch"))
    nd = chunks.groupBy("ch").agg(F.countDistinct("doc_id").alias("nd"))
    shared = F.count(F.when(F.col("nd") > 1, 1))
    return (
        chunks.join(nd, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            shared.alias("n_shared"),
            F.round(shared * 1.0 / F.count(F.lit(1)), 6).alias("shared_ratio"),
        )
    )


CHUNK_DEDUP_RATIO_SQL = """
WITH c AS (
  SELECT doc_id, md5(chunk) AS ch FROM (
    SELECT doc_id, unnest(chunks) AS chunk FROM (
      SELECT doc_id,
        list_transform(
          generate_series(0, greatest(ceil(len(ts) / 16.0)::INT, 1) - 1),
          i -> array_to_string(list_slice(ts, i * 16 + 1, i * 16 + 16), ' ')
        ) AS chunks
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)))
), nd AS (
  SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM c GROUP BY ch
)
SELECT c.doc_id,
  COUNT(*) AS n_chunks,
  COUNT(CASE WHEN nd.nd > 1 THEN 1 END) AS n_shared,
  ROUND(COUNT(CASE WHEN nd.nd > 1 THEN 1 END) * 1.0 / COUNT(*), 6)
    AS shared_ratio
FROM c JOIN nd USING (ch)
GROUP BY c.doc_id
"""


_OOV_VOCAB_K = 100


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a frequency-built
    reference vocabulary (the corpus's top-{k} tokens, ties broken by
    token) — the tokenizer-coverage readout a training-data pipeline
    runs before committing to a vocab: high OOV in one source means the
    tokenizer will shred it into bytes.

    Determinism: vocabulary selection is integer-frequency rank with a
    total tie order; occurrence counts are exact; the rate is one final
    division.

    Scale: one token aggregation (map-side partial) → top-{k} via ONE
    TakeOrderedAndProject-able rank (metadata after the agg), broadcast
    membership via a left semi-style flag join on the token hash, one
    (source) aggregate. The vocabulary is the only broadcast — {k}
    strings.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    vocab = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _OOV_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "token", "left")
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.round(
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
    )


oov_rate_by_source.__doc__ = oov_rate_by_source.__doc__.format(k=_OOV_VOCAB_K)


OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
  SELECT token, COUNT(*) AS n FROM toks GROUP BY token
), vocab AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rk FROM freq
  ) WHERE rk <= {_OOV_VOCAB_K}
)
SELECT source, COUNT(*)::BIGINT AS n_tokens,
  SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
  ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
        / COUNT(*)::DOUBLE, 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY source
"""


_BPE_TOP_K = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration over the corpus: the top-20 adjacent
    character pairs by corpus frequency — exactly the statistic a
    byte-pair-encoding tokenizer trainer computes before its first merge
    (each merge round is this same aggregate over the re-segmented
    corpus, so this entry IS the distributed inner loop of BPE
    training). Occurrence-weighted: every word occurrence contributes
    all its adjacent pairs, matching the classic algorithm's word-count
    weighting.

    Words are the corpus' single-space tokens restricted to ^[a-z]+$
    (pure-ASCII symbols keep substr() character semantics identical
    across engines — no UTF-8 grapheme seam). Pairs are the 2-char
    substrings at offsets 1..len−1, generated row-locally inside
    codegen (transform over sequence — no Python, no UDF). Ranking is
    (count DESC, pair ASC) — fully deterministic.

    Scale: one linear explode pass into a pair vocabulary bounded by
    26² = 676 keys — the count shuffle is metadata-sized regardless of
    corpus volume; top-k is TakeOrderedAndProject, never a global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]{2,}$"))
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    # orderBy+limit plans TakeOrderedAndProject (per-partition heaps, no
    # global sort); the rank window then runs over only K rows
    from pyspark.sql import Window

    top = counts.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(
        _BPE_TOP_K
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "pair",
        "n_occurrences",
    )


BPE_MERGE_SQL = f"""
WITH words AS (
  SELECT w FROM documents,
    unnest(string_split(text, ' ')) AS t(w)
  WHERE regexp_full_match(w, '[a-z]{{2,}}')
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, i::INT, 2))) AS pair
  FROM words
), counts AS (
  SELECT pair, COUNT(*)::BIGINT AS n_occurrences FROM pairs GROUP BY pair
)
SELECT ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair ASC)::INT AS rank,
       pair, n_occurrences
FROM counts
ORDER BY n_occurrences DESC, pair ASC
LIMIT {_BPE_TOP_K}
"""


def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document — the classic
    quality/complexity gate for training-corpus filtering:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    Syllables use the standard crude estimator (count of vowel groups
    ``[aeiouy]+``), sentences count terminal-punctuation runs
    ``[.!?]+`` (min 1), words are the corpus' single-space tokens —
    every count is a regexp aggregate that runs identically in both
    engines, and the score is a fixed-order IEEE chain rounded to 6dp.

    Scale: pure per-row column expressions — no UDF, no shuffle; the
    scan is the whole plan.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.greatest(F.size(F.split(F.col("text"), " ")), F.lit(1)).cast(
        "bigint"
    )
    sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("bigint")
    syllables = F.size(
        F.expr("regexp_extract_all(text, '[aeiouy]+', 0)")
    ).cast("bigint")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return d.select(
        "doc_id",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(score, 6).alias("flesch_score"),
    )


FLESCH_SQL = """
SELECT doc_id,
  greatest(len(string_split(text, ' ')), 1)::BIGINT AS n_words,
  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
  len(regexp_extract_all(text, '[aeiouy]+'))::BIGINT AS n_syllables,
  ROUND(206.835
    - 1.015 * (greatest(len(string_split(text, ' ')), 1)::DOUBLE
               / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE)
    - 84.6 * (len(regexp_extract_all(text, '[aeiouy]+'))::DOUBLE
              / greatest(len(string_split(text, ' ')), 1)::DOUBLE), 6)
    AS flesch_score
FROM documents
"""


_ZIPF_TOP = 200


def zipf_exponent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus token-frequency distribution:
    OLS slope of ln(freq) on ln(rank) over the top-200 tokens — the
    corpus-health diagnostic (natural language sits near −1; corrupted
    or templated corpora drift far from it; the plot every corpus
    datasheet includes).

    Ranks are deterministic ((freq DESC, token ASC) — the BPE entry's
    ordering discipline); ln() of exact integer counts is portable;
    the five OLS sums ride DECIMAL(20,8) so they are partition-order-
    independent; slope and intercept are fixed-order double divisions.

    Scale: one token-count aggregate (vocabulary-bounded), a top-k
    TakeOrderedAndProject, then arithmetic on 200 metadata rows.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok").rlike("^[a-z]+$"))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    top = counts.orderBy(F.desc("freq"), F.asc("tok")).limit(_ZIPF_TOP)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    d20 = "decimal(20,8)"
    agg = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("x").cast(d20)).cast("double").alias("__sx"),
        F.sum(F.col("y").cast(d20)).cast("double").alias("__sy"),
        F.sum((F.col("x") * F.col("y")).cast(d20)).cast("double").alias("__sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d20)).cast("double").alias("__sxx"),
    )
    n = F.col("n_tokens").cast("double")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    return agg.select(
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


ZIPF_SQL = f"""
WITH toks AS (
  SELECT tok FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE regexp_full_match(tok, '[a-z]+')
), counts AS (
  SELECT tok, COUNT(*)::BIGINT AS freq FROM toks GROUP BY tok
), top AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank
  FROM counts ORDER BY freq DESC, tok ASC LIMIT {_ZIPF_TOP}
), xy AS (
  SELECT ln(rank::DOUBLE) AS x, ln(freq::DOUBLE) AS y FROM top
), agg AS (
  SELECT COUNT(*)::BIGINT AS n_tokens,
    CAST(CAST(SUM(x::DECIMAL(20,8)) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(SUM(y::DECIMAL(20,8)) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(SUM((x * y)::DECIMAL(20,8)) AS VARCHAR) AS DOUBLE) AS sxy,
    CAST(CAST(SUM((x * x)::DECIMAL(20,8)) AS VARCHAR) AS DOUBLE) AS sxx
  FROM xy
)
SELECT n_tokens,
  ROUND((n_tokens::DOUBLE * sxy - sx * sy)
        / (n_tokens::DOUBLE * sxx - sx * sx), 6) AS zipf_slope,
  ROUND((sy - ((n_tokens::DOUBLE * sxy - sx * sy)
               / (n_tokens::DOUBLE * sxx - sx * sx)) * sx)
        / n_tokens::DOUBLE, 6) AS zipf_intercept
FROM agg
"""


def register_entries(register) -> None:  # noqa: ANN001
    register("bpe_merge_candidates", bpe_merge_candidates, BPE_MERGE_SQL)
    register("readability_flesch", readability_flesch, FLESCH_SQL)
    register("zipf_exponent_tokens", zipf_exponent_tokens, ZIPF_SQL)
    register("text_token_stats", text_token_stats, TEXT_TOKEN_STATS_SQL)
    register("oov_rate_by_source", oov_rate_by_source, OOV_RATE_SQL)
    register("text_quality", text_quality, TEXT_QUALITY_SQL)
    register("unigram_ce_bands", unigram_ce_bands, UNIGRAM_CE_SQL)
    register("text_lang_id", text_lang_id, TEXT_LANG_ID_SQL)
    register("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_SQL)
    register("text_winnowing", text_winnowing, TEXT_WINNOWING_SQL)
    register("dedup_exact_content", dedup_exact_content, DEDUP_EXACT_CONTENT_SQL)
    register("dedup_exact_subset", dedup_exact_subset, DEDUP_EXACT_SUBSET_SQL)
    register("ngram_jaccard_pairs", ngram_jaccard_pairs, NGRAM_JACCARD_SQL)
    register("dedup_minhash_lsh", dedup_minhash_lsh, None, headline=True)
    register(
        "dedup_minhash_portable", dedup_minhash_portable, DEDUP_MINHASH_PORTABLE_SQL
    )
    register(
        "dedup_minhash_scaled",
        dedup_minhash_scaled,
        _minhash_portable_sql(num_hashes=32, rows_per_band=8)
    )
    register("dedup_simhash", dedup_simhash, None)
    register(
        "dedup_simhash_portable", dedup_simhash_portable, DEDUP_SIMHASH_PORTABLE_SQL
    )
    # the components ENTRY routes through the artifact too, so whichever
    # of components / cluster_sizes_indexed runs first pays the LSH +
    # label-propagation cost ONCE per session — the second is a
    # metadata aggregate over the materialized labeling
    register(
        "dedup_components_portable", components_artifact, DEDUP_COMPONENTS_SQL
    )
    register("dedup_components_fast", dedup_components_fast, None)
    register(
        "dedup_minhash_shingles",
        dedup_minhash_shingles,
        DEDUP_MINHASH_SHINGLES_SQL,
    )
    register("dedup_shingles_fast", dedup_shingles_fast, None)
    register(
        "dedup_shingles_scaled",
        dedup_shingles_scaled,
        DEDUP_SHINGLES_SCALED_SQL,
    )
    register(
        "dedup_auto_survivors",
        dedup_auto_survivors,
        DEDUP_AUTO_SURVIVORS_SQL,
    )
    register(
        "dedup_cluster_sizes", dedup_cluster_sizes, DEDUP_CLUSTER_SIZES_SQL
    )
    register(
        "dedup_cluster_sizes_indexed",
        dedup_cluster_sizes_indexed,
        DEDUP_CLUSTER_SIZES_SQL,
    )
    register("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL)
    register("dedup_incremental_fast", dedup_incremental_fast, None, headline=True)
    register("text_pii_scrub", text_pii_scrub, TEXT_PII_SCRUB_SQL)
    register("chunk_dedup_ratio", chunk_dedup_ratio, CHUNK_DEDUP_RATIO_SQL)
