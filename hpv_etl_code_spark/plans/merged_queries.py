"""Consolidated catalog entries — one oracle-checked row per operator
family, built by REUSING the granular entries' column expressions (same
single scan, no extra shuffles).

Each entry checks a whole operator family against one oracle in one
pass. The granular siblings (window_running_sum / window_trailing_range
/ json_extract_events / …) stay registered with their own oracles and
check each function alone; the merged entries check the functions
COMPOSED in one plan — e.g. ``window_frames`` evaluates a ROWS frame, an
offset function and a RANGE frame over one shared exchange, and
``event_funcs_battery`` parses JSON and builds maps in one projection;
no sibling does either. The entries:

- ``window_frames``      = running sum (ROWS frame) + lag delta + trailing
                           RANGE frame, one scan of orders, one exchange.
- ``join_semi_anti``     = left-semi + left-anti, labeled union.
- ``part_funcs_battery`` = string + math scalar batteries over part.
- ``doc_funcs_battery``  = regex + array batteries over documents.
- ``event_funcs_battery``= JSON extraction + map battery over events.
- ``text_metrics``       = token stats + quality + lang-ID + fingerprint,
                           one scan of documents.
- ``stream_windows``     = tumbling + sliding + session window aggs,
                           normalized (kind, window_start, grp, n, sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import textops
from ..sources.registry import load_table
from ..streaming.windows import session_windows, sliding_counts, tumbling_counts
from . import stream_queries, text_queries
from .analytics_queries import map_cols
from .battery_queries import array_cols
from .func_batteries2 import math_cols, regex_cols
from .relational_queries import string_cols


# ------------------------------------------------------------- windows

def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three frame types over ONE scan + ONE exchange on o_custkey:
    running ROWS frame (cumulative spend), offset function (lag delta),
    and time-RANGE frame (trailing-7-day spend)."""
    o = load_table(spark, sf_dir, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(20,8)")
    w_ord = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_rows = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epoch = F.unix_timestamp(F.col("o_orderdate"))
    w_range = (
        Window.partitionBy("o_custkey").orderBy(epoch).rangeBetween(-7 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_dec).over(w_rows).cast("double").alias("cum_spend"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w_ord), 2
        ).alias("price_delta"),
        F.sum(price_dec).over(w_range).cast("double").alias("trailing_7d_spend"),
    )


WINDOW_FRAMES_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
    AS cum_spend,
  ROUND(o_totalprice - LAG(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC), 2)
    AS price_delta,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) OVER (
    PARTITION BY o_custkey ORDER BY floor(epoch(o_orderdate))::BIGINT
    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
    AS trailing_7d_spend
FROM orders
"""


# --------------------------------------------------------------- joins

def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi and left-anti in one labeled union (both probe orders;
    each side is the granular entry's exact plan)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("semi").alias("op"), "c_custkey", "c_mktsegment"
    )
    o_recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    anti = c.join(o_recent, c.c_custkey == o_recent.o_custkey, "left_anti").select(
        F.lit("anti").alias("op"), "c_custkey", "c_mktsegment"
    )
    return semi.unionByName(anti)


JOIN_SEMI_ANTI_SQL = """
SELECT 'semi' AS op, c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'anti' AS op, c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
"""


# ---------------------------------------------------- function batteries

def part_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + math scalar functions — one projection of part."""
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", *string_cols(), *math_cols())


PART_FUNCS_SQL = """
SELECT p_partkey,
  array_to_string(list_transform(string_split(trim(p_type), ' '),
                  w -> upper(w[1:1]) || lower(w[2:])), ' ') AS type_title,
  NULLIF(regexp_extract(p_name, '(\\d+)', 1), '') AS first_digits,
  string_split(p_type, ' ')[-1] AS type_last_word,
  length(p_name)::INT AS name_len,
  concat_ws('|', p_brand, p_type) AS brand_type,
  CASE WHEN contains(lower(p_type), 'steel') THEN 'metal' ELSE 'other' END
    AS material_class,
  abs(p_retailprice - 1000) AS abs_delta,
  ceil(p_retailprice)::BIGINT AS ceil_p,
  floor(p_retailprice)::BIGINT AS floor_p,
  round(p_retailprice, 1) AS round1_p,
  sign(p_retailprice - 1000)::DOUBLE AS sign_delta,
  p_size % 7 AS size_mod7,
  round(sqrt(p_retailprice), 6) AS sqrt_p,
  round(ln(p_retailprice), 6) AS ln_p,
  pow(p_size, 2) AS size_sq
FROM part
"""


def doc_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + array functions — one projection of documents."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *regex_cols(), *array_cols())


DOC_FUNCS_SQL = """
SELECT doc_id,
  regexp_replace(text, '\\bdata\\b', 'DATA', 'g') AS replaced,
  len(regexp_extract_all(text, '[aeiou]'))::INT AS n_vowels,
  regexp_matches(text, 'join.*filter') AS has_join_then_filter,
  lang LIKE 'e%' AS lang_starts_e,
  COALESCE(array_to_string(regexp_extract_all(text, '\\b(s\\w+)\\b', 1), ','), '')
    AS s_words,
  list_contains(string_split(text, ' '), 'data') AS has_data,
  COALESCE(list_position(string_split(text, ' '), 'spark'), 0)::BIGINT AS spark_pos,
  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',')
    AS first3_sorted,
  len(string_split(text, ' '))::INT AS n
FROM documents
"""


def event_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + map functions — one projection of events."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id", parsed.getField("k").alias("k"), *map_cols()
    )


EVENT_FUNCS_SQL = """
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS INT) AS k,
  MAP(['type','uid'], [event_type, user_id::VARCHAR])['type'][1] AS type_via_map,
  'type,uid' AS keys_sorted,
  2::INT AS n_keys
FROM events
"""


# ----------------------------------------------------------------- text

def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis surface in one scan of documents: token
    stats, quality score, language-ID, content fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.token_count("text").alias("n_tokens"),
        textops.alpha_token_count("text").alias("n_alpha_tokens"),
        textops.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.size(textops.distinct_tokens("text")).alias("n_distinct_tokens"),
        textops.avg_token_length("text").alias("avg_token_len"),
        F.round(textops.stopword_ratio("text"), 6).alias("stop_ratio"),
        textops.quality_score("text").alias("quality"),
        "lang",
        textops.lang_id("text").alias("lang_pred"),
        textops.fingerprint_md5("text").alias("fingerprint"),
    )


_STOP = text_queries._STOP_SQL
_SCORE = text_queries._LANG_SCORE_SQL
TEXT_METRICS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, text,
    string_split(text, ' ') AS toks,
    list_distinct(string_split(text, ' ')) AS dtoks
  FROM documents
), s AS (
  SELECT *,
    {_SCORE['en']} AS s_en,
    {_SCORE['de']} AS s_de,
    {_SCORE['es']} AS s_es,
    {_SCORE['fr']} AS s_fr
  FROM t
)
SELECT doc_id,
  len(toks)::INT AS n_tokens,
  len(regexp_extract_all(text, '[a-z]+'))::INT AS n_alpha_tokens,
  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::INT AS n_bpe_tokens,
  len(dtoks)::INT AS n_distinct_tokens,
  ROUND(list_sum(list_transform(toks, t -> length(t))) * 1.0
        / greatest(len(toks), 1), 6) AS avg_token_len,
  ROUND(len(list_intersect(dtoks, {_STOP['en']})) * 1.0
        / greatest(len(dtoks), 1), 6) AS stop_ratio,
  ROUND(0.5 * (len(list_intersect(dtoks, {_STOP['en']})) * 1.0
               / greatest(len(dtoks), 1))
      + 0.3 * least(len(toks) / 50.0, 1.0)
      + 0.2 * (len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1)),
      6) AS quality,
  lang,
  CASE
    WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
    ELSE 'fr'
  END AS lang_pred,
  md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint
FROM s
"""


# ------------------------------------------------------------ streaming

def stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling + sliding + session window aggregations, normalized to
    (kind, window_start, grp, n, sum_value). Each leg is the granular
    entry's exact plan; the streaming-mode equivalence tests in
    tests/test_streaming.py prove the same expressions run incrementally."""
    ev = load_table(spark, sf_dir, "events")
    t = tumbling_counts(ev, duration="1 hour").select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        F.col("event_type").alias("grp"),
        "n",
        "sum_value",
    )
    s = sliding_counts(ev, duration="1 day", slide="12 hours").select(
        F.lit("sliding").alias("kind"),
        "window_start",
        F.col("event_type").alias("grp"),
        "n",
        "sum_value",
    )
    se = session_windows(ev, gap="4 hours").select(
        F.lit("session").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("user_id").cast("string").alias("grp"),
        F.col("n_events").alias("n"),
        "sum_value",
    )
    return t.unionByName(s).unionByName(se)


STREAM_WINDOWS_SQL = f"""
SELECT 'tumbling' AS kind, window_start, event_type AS grp, n, sum_value
FROM ({stream_queries.TUMBLING_SQL})
UNION ALL
SELECT 'sliding' AS kind, window_start, event_type AS grp, n, sum_value
FROM ({stream_queries.SLIDING_SQL})
UNION ALL
SELECT 'session' AS kind, session_start AS window_start, user_id::VARCHAR AS grp,
  n_events AS n, sum_value
FROM ({stream_queries.SESSION_SQL})
"""


def register_entries(register) -> None:  # noqa: ANN001
    register("window_frames", window_frames, WINDOW_FRAMES_SQL)
    register("join_semi_anti", join_semi_anti, JOIN_SEMI_ANTI_SQL)
    register("part_funcs_battery", part_funcs_battery, PART_FUNCS_SQL)
    register("doc_funcs_battery", doc_funcs_battery, DOC_FUNCS_SQL)
    register("event_funcs_battery", event_funcs_battery, EVENT_FUNCS_SQL)
    register("text_metrics", text_metrics, TEXT_METRICS_SQL)
    register("stream_windows", stream_windows, STREAM_WINDOWS_SQL)
