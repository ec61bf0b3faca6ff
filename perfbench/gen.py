"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + numpy + pyarrow: the program under
test receives only the files written by these functions. The same seed
always writes byte-identical inputs.

- ``write_workbooks``: real ``.xlsx`` workbooks under the HPV sheet
  contract (A1 academic-year text, headers on row 3, data from row 4,
  ``%`` and ``2 doses`` columns, ``*`` sentinels and blank cells,
  borough sets disjoint within an academic year).
- ``write_star_schema``: the TPC-H-style star schema plus ``events``,
  with the column names, types and value domains the catalog queries
  read.
- ``write_documents``: a ``documents`` corpus of random word documents
  with planted identical-token-set clusters, so every near-duplicate the
  dedup entries must find is certain to be found.
- ``write_event_drops``: ``events`` split into time-ordered parquet drops
  with re-delivered duplicates, the input of the streaming workload.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ workbooks

YEAR_GROUPS = (8, 9, 10)
GENDERS = ("females", "males")
SENTINEL_RATE = 0.03
BLANK_RATE = 0.03

_XLSX_STATIC = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Coverage" sheetId="1" r:id="rId1"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    ),
}


def _col_name(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path: str, grid: list[list]) -> None:
    """Write ``grid`` (row 1 first) as a one-sheet workbook: ints become
    numeric cells, strings shared-string cells, ``None`` no cell."""
    strings: dict[str, int] = {}
    rows = []
    for r, row in enumerate(grid, start=1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_name(c)}{r}"
            if isinstance(v, int):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                idx = strings.setdefault(v, len(strings))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(rows)}</sheetData></worksheet>'
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_xml_escape(s)}</t></si>' for s in strings
        )
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in _XLSX_STATIC.items():
            z.writestr(name, body)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", sst)


def sheet_columns() -> list[str]:
    cols = ["Local authority"]
    for yg in YEAR_GROUPS:
        for g in GENDERS:
            cols += [
                f"Year {yg} {g} number",
                f"Year {yg} {g} number vaccinated",
                f"Year {yg} {g} % vaccinated",
                f"Year {yg} {g} 2 doses number",
            ]
    return cols


def _messy_borough(rng: np.random.Generator, name: str) -> str:
    """Leading/trailing spaces and random case — the pipeline's
    trim/initcap must normalise them."""
    style = rng.integers(0, 4)
    if style == 1:
        name = name.upper()
    elif style == 2:
        name = name.lower()
    pad = " " * int(rng.integers(0, 3))
    return f"{pad}{name}{pad}"


def write_workbooks(
    out_dir: str,
    seed: int,
    years: int,
    files_per_year: int,
    boroughs_per_file: int,
) -> list[dict]:
    """Write ``years × files_per_year`` workbooks; returns one record per
    file: ``{"path", "year", "grid"}`` (the grid is what the file holds,
    for the independent expected-output computation)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    cols = sheet_columns()
    first_year = 2012 + int(rng.integers(0, 5))
    files = []
    for y in range(first_year, first_year + years):
        a1 = (
            "HPV vaccination coverage in adolescents, "
            f"September {y - 1} to August {y}"
        )
        # disjoint borough slices within the year
        ids = rng.permutation(files_per_year * boroughs_per_file)
        for f in range(files_per_year):
            grid: list[list] = [[a1], [], list(cols)]
            for b in ids[f * boroughs_per_file:(f + 1) * boroughs_per_file]:
                row: list = [_messy_borough(rng, f"North Borough {int(b)}")]
                for _ in YEAR_GROUPS:
                    for _ in GENDERS:
                        total = int(rng.integers(50, 3000))
                        vacc = int(rng.integers(0, total + 1))
                        cells: list = [total, vacc]
                        for i in range(2):
                            u = rng.random()
                            if u < SENTINEL_RATE:
                                cells[i] = "*"
                            elif u < SENTINEL_RATE + BLANK_RATE:
                                cells[i] = None
                        pct = f"{round(100 * vacc / total)}%"
                        row += [*cells, pct, int(rng.integers(0, vacc + 1))]
                grid.append(row)
            path = os.path.join(out_dir, f"hpv_{y}_{f:03d}.xlsx")
            write_xlsx(path, grid)
            files.append({"path": path, "year": y, "grid": grid})
    return files


# ---------------------------------------------------------- star schema

_TS = pa.timestamp("us")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days
    us = (base + rng.integers(0, span, n)).astype("int64") * _DAY_US
    return pa.array(us, type=pa.int64()).cast(_TS)


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``n`` events over 30 days with strictly increasing µs timestamps
    (no ties, so as-of and session queries have one answer)."""
    start = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(
        microseconds=1
    )
    gaps = rng.integers(1, 2 * (30 * _DAY_US // n), n)
    ts = start + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts.astype("int64")).cast(_TS),
            "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
            "event_type": pa.array(
                np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region … lineitem + events at scale ``sf`` (sf 1 ≈ 6 M
    lineitem rows); returns the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, n_ord),
        "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    quantity = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype="int64"), lines)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(
            (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype("int32")
        ),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _cents(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, n_li),
    })
    pq.write_table(
        events_table(rng, n_events, n_users), os.path.join(out_dir, "events.parquet")
    )
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_li, "events": n_events,
    }


# ------------------------------------------------------------ documents

_STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "es": ("el", "la", "los", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "les", "et", "des", "du", "une", "est"),
    "zh": (),
}
_LANGS = ("en", "en", "de", "es", "fr", "zh")


def _syllable_words(n: int) -> list[str]:
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    words = []
    for i in range(n):
        a, b, c = i % 16, (i // 16) % 5, (i // 80) % 16
        words.append(cons[a] + vow[b] + cons[c] + vow[(a + c) % 5] + "x"[: i // 1280])
    return words


def write_documents(
    out_dir: str, seed: int, n_docs: int, vocab: int = 600
) -> list[dict]:
    """Random documents from a ``vocab``-word content vocabulary plus
    their language's stopwords. A third of the corpus sits in planted
    clusters of 2–5 documents that share one token SET but differ in
    word order and repetition: distinct texts (exact dedup keeps them
    apart) with Jaccard 1.0 (near-dup dedup must merge them). Unplanted
    documents overlap far below any dedup threshold. Returns the rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    words = _syllable_words(vocab)
    docs: list[dict] = []
    while len(docs) < n_docs:
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        k = int(rng.integers(20, 60))
        base = [words[i] for i in rng.choice(vocab, k, replace=False)]
        stops = list(_STOPWORDS[lang])
        if stops:
            base += [stops[i] for i in rng.choice(len(stops), 4, replace=False)]
        copies = int(rng.integers(2, 6)) if rng.random() < 0.12 else 1
        for _ in range(copies):
            toks = list(base) + [base[i] for i in rng.integers(0, len(base), 6)]
            rng.shuffle(toks)
            docs.append({"text": " ".join(toks), "lang": lang})
    docs = docs[:n_docs]
    # a few byte-identical copies: the exact-dedup stage's work
    for i in rng.choice(n_docs, max(n_docs // 100, 1), replace=False):
        j = int(rng.integers(0, n_docs))
        docs[int(i)] = dict(docs[j])
    for i, d in enumerate(docs):
        d["doc_id"] = i
        d["source"] = f"src{i % 20}"
        d["n_chars"] = len(d["text"])
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], type=pa.int64()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
            "source": [d["source"] for d in docs],
            "n_chars": pa.array([d["n_chars"] for d in docs], type=pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return docs


# --------------------------------------------------------- event drops

EVENT_SCHEMA_UTC = pa.timestamp("us", tz="UTC")


def write_event_drops(
    out_dir: str, seed: int, n_events: int, drops: int, dup_rate: float = 0.02
) -> pa.Table:
    """``n_events`` events as ``drops`` time-ordered parquet files; a
    ``dup_rate`` share is re-delivered in the next drop (same event_id,
    same payload — at-least-once delivery the stream must dedup).
    Returns the distinct events."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t = events_table(rng, n_events, max(n_events // 60, 10))
    t = t.set_column(1, "ts", t.column("ts").cast(EVENT_SCHEMA_UTC))
    bounds = np.linspace(0, n_events, drops + 1).astype(int)
    for d in range(drops):
        part = t.slice(bounds[d], bounds[d + 1] - bounds[d])
        if d > 0:
            prev = t.slice(bounds[d - 1], bounds[d] - bounds[d - 1])
            k = int(len(prev) * dup_rate)
            part = pa.concat_tables(
                [prev.take(rng.choice(len(prev), k, replace=False)), part]
            )
        pq.write_table(part, os.path.join(out_dir, f"drop_{d:04d}.parquet"))
    return t
