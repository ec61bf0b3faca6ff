"""Independent expected outputs and output checks.

Nothing here calls the package under test: the HPV result is recomputed
in plain Python from the generated grids, relational results come from
DuckDB running each query's oracle SQL, and the corpus and stream checks
are invariants computed from the generated rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import re
from collections import defaultdict
from itertools import combinations
from typing import Any

SENTINELS = ("*", "[E]", "[DS]")
_YEAR_TEXT = re.compile(r"([A-Za-z]+ \d{4} to [A-Za-z]+ \d{4})")
_DIGITS = re.compile(r"(\d+)")
HPV_COLUMNS = (
    "BOROUGH_NAME",
    "YEAR_GROUP_NUMBER",
    "GENDER_NAME",
    "STUDENTS_TOTAL",
    "STUDENTS_VACCINATED",
    "ACADEMIC_YEAR_END_DATE",
    "ACADEMIC_YEAR_TEXT",
    "DATE_EXTRACT",
)


# ------------------------------------------------------ canonical hash


def canon(v: Any) -> str:
    """One canonical string per value, engine-independent (floats by
    repr, decimals normalised, timestamps naive to the microsecond)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count, lower-cased column-name set and an order-insensitive
    value hash (columns sorted by name, rows sorted canonically)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return {"rows": len(rows), "columns": sorted(cols), "hash": h}


def oracle_digests(sf_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    """Digest of each oracle query's DuckDB result over ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        rel = con.sql(sql)
        out[name] = result_digest(rel.columns, rel.fetchall())
    con.close()
    return out


# ------------------------------------------------------------- HPV ETL


def _initcap(s: str) -> str:
    # Spark initcap: lower-case, then upper-case the first letter of
    # each space-delimited word
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.lower().split(" "))


def _measure(v: Any) -> int | None:
    s = str(v)
    if s in SENTINELS:
        return None
    try:
        return int(s)
    except ValueError:
        return None


def hpv_rows(files: list[dict], extract_date: dt.date) -> list[tuple]:
    """The reference ETL over the generated grids, in plain Python:
    melt, drop ``%``/``2 doses`` columns, derive dimensions, pivot the
    two metrics, drop rows with a blank raw measure, sentinel → NULL,
    then the (gender × year-group) cube labelled 'Both'/'All'."""
    base: dict[tuple, dict[str, Any]] = {}
    for f in files:
        grid = f["grid"]
        a1 = grid[0][0].strip()
        year_end = int(a1.split(" ")[-1])
        m = _YEAR_TEXT.search(a1)
        year_text = m.group(1) if m else None
        headers = grid[2]
        for row in grid[3:]:
            borough = _initcap(row[0].strip())
            for cat, v in zip(headers[1:], row[1:]):
                if "%" in cat or "2 doses" in cat:
                    continue
                yg = _DIGITS.search(cat).group(1)
                gender = "Female" if "females" in cat else "Male"
                metric = "vacc" if "vaccinated" in cat.lower() else "total"
                key = (borough, yg, gender, year_end, year_text)
                base.setdefault(key, {})[metric] = v
    groups: dict[tuple, list] = defaultdict(lambda: [None, None])

    def add(acc: list, i: int, v: int | None) -> None:
        if v is not None:
            acc[i] = v if acc[i] is None else acc[i] + v

    for (borough, yg, gender, year_end, year_text), cells in base.items():
        raw_t, raw_v = cells.get("total"), cells.get("vacc")
        if raw_t is None or raw_v is None:
            continue
        t, v = _measure(raw_t), _measure(raw_v)
        for g in (gender, "Both"):
            for y in (yg, "All"):
                acc = groups[(borough, y, g, year_end, year_text)]
                add(acc, 0, t)
                add(acc, 1, v)
    return [
        (b, y, g, tot, vac, ye, yt, extract_date)
        for (b, y, g, ye, yt), (tot, vac) in groups.items()
    ]


def hpv_digest(rows: list[tuple]) -> dict:
    return result_digest(list(HPV_COLUMNS), rows)


# -------------------------------------------------------------- corpus


def tokset(text: str) -> frozenset[str]:
    return frozenset(text.split(" "))


def _bitsets(sets: list[frozenset]) -> list[int]:
    bit: dict[str, int] = {}
    return [sum(1 << bit.setdefault(t, len(bit)) for t in s) for s in sets]


def near_dup_pairs(docs: list[dict], threshold: float) -> set[tuple[int, int]]:
    """Every (lower id, higher id) pair at or above ``threshold``
    Jaccard over distinct whitespace tokens, by brute force over
    distinct token sets (as bitsets)."""
    by_set: dict[frozenset, list[int]] = defaultdict(list)
    for d in docs:
        by_set[tokset(d["text"])].append(d["doc_id"])
    sets = list(by_set)
    bits = _bitsets(sets)
    pairs: set[tuple[int, int]] = set()
    for ids in by_set.values():
        pairs.update(combinations(sorted(ids), 2))
    for i, a in enumerate(bits):
        for j in range(i + 1, len(bits)):
            b = bits[j]
            if (a & b).bit_count() >= threshold * (a | b).bit_count():
                for x in by_set[sets[i]]:
                    for y in by_set[sets[j]]:
                        pairs.add((min(x, y), max(x, y)))
    return pairs


def check_survivors_nondup(
    docs: list[dict], survivor_ids: list[int], threshold: float
) -> str | None:
    """None when the survivors are distinct input documents no two of
    which are near-duplicates at ``threshold``; else the first fault."""
    by_id = {d["doc_id"]: d for d in docs}
    if len(set(survivor_ids)) != len(survivor_ids):
        return "duplicate survivor ids"
    if not set(survivor_ids) <= set(by_id):
        return "survivor id not in the input"
    sets = [tokset(by_id[i]["text"]) for i in sorted(survivor_ids)]
    if len(set(sets)) != len(sets):
        return "two survivors share one token set"
    bits = _bitsets(sets)
    for i, a in enumerate(bits):
        for b in bits[i + 1:]:
            if (a & b).bit_count() >= threshold * (a | b).bit_count():
                return "two survivors are near-duplicates"
    return None


def check_incremental(docs: list[dict], survivor_ids: list[int]) -> str | None:
    """Incremental dedup keeps only batch documents (``doc_id % 5 == 0``)
    that duplicate nothing on the corpus side (``doc_id % 5 != 0``)."""
    corpus = [d for d in docs if d["doc_id"] % 5 != 0]
    corpus_sets = {tokset(d["text"]) for d in corpus}
    corpus_texts = {d["text"] for d in corpus}
    by_id = {d["doc_id"]: d for d in docs}
    for i in survivor_ids:
        if i not in by_id or i % 5 != 0:
            return f"survivor {i} is not a batch document"
        s = tokset(by_id[i]["text"])
        if by_id[i]["text"] in corpus_texts or s in corpus_sets:
            return f"survivor {i} duplicates a corpus document"
    return None


# -------------------------------------------------------------- stream


def tumbling_digest(events) -> dict:
    """1-hour tumbling (window_start, event_type) → count and exact
    decimal value sum over the distinct events (a pyarrow table)."""
    groups: dict[tuple, list] = defaultdict(lambda: [0, decimal.Decimal(0)])
    for ts, et, v in zip(events.column("ts").to_pylist(),
                         events.column("event_type").to_pylist(),
                         events.column("value").to_pylist()):
        g = groups[(ts.replace(minute=0, second=0, microsecond=0, tzinfo=None), et)]
        g[0] += 1
        g[1] += decimal.Decimal(repr(v))
    rows = [(w, et, n, float(s)) for (w, et), (n, s) in groups.items()]
    return result_digest(["window_start", "event_type", "n", "sum_value"], rows)
