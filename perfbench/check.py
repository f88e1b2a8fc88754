"""Output checks: every output a run wrote is compared with DuckDB running
the engine's own oracle SQL over the same generated inputs.

Each check returns (name, ok, detail); a failed check counts as a failed
operation of the run.
"""
import csv
import datetime
import glob
import html
import json
import os
import re
import xml.etree.ElementTree as ET

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def _connect(views):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_type(t):
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_type(t.value_type)}>"
    if pa.types.is_date(t):
        return "date"
    return str(t)


def _exact_rows(tbl):
    names = sorted(tbl.column_names)
    cols = []
    for n in names:
        c = tbl.column(n)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        elif pa.types.is_date(c.type):
            c = c.cast(pa.date32()).cast(pa.int32())
        cols.append(c.to_pylist())
    rows = list(zip(*cols)) if cols else []
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return names, rows


def compare_exact(spark_tbl, oracle_tbl):
    """Column names, canonical types and sorted rows must all be equal.
    Returns None when they are, else what differs first."""
    s_cols, o_cols = sorted(spark_tbl.column_names), sorted(oracle_tbl.column_names)
    if s_cols != o_cols:
        return f"columns {s_cols} != {o_cols}"
    types = [c for c in s_cols
             if _canon_type(spark_tbl.column(c).type) != _canon_type(oracle_tbl.column(c).type)]
    if types:
        return f"types differ in {types}"
    if spark_tbl.num_rows != oracle_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} != {oracle_tbl.num_rows}"
    _, a = _exact_rows(spark_tbl)
    _, b = _exact_rows(oracle_tbl)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return f"values differ, first {bad[0]}" if bad else None


def _value(x):
    """Loose value for outputs whose types a text sink erases: numbers as
    floats, timestamps as naive UTC ISO strings, null as ''."""
    if x is None:
        return ""
    if isinstance(x, datetime.datetime):
        if x.tzinfo is not None:
            x = x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return x.isoformat(sep=" ")
    if isinstance(x, (datetime.date,)):
        return x.isoformat()
    if isinstance(x, bool):
        return str(x).lower()
    if isinstance(x, (int, float)):
        return float(x)
    try:
        return float(x)
    except ValueError:
        return x


def compare_loose(spark_tbl, oracle_tbl):
    """Same column names and the same multiset of rows under `_value`."""
    s_cols, o_cols = sorted(spark_tbl.column_names), sorted(oracle_tbl.column_names)
    if s_cols != o_cols:
        return f"columns {s_cols} != {o_cols}"
    rows = lambda t: sorted((tuple(_value(r[c]) for c in s_cols) for r in t.to_pylist()), key=str)
    a, b = rows(spark_tbl), rows(oracle_tbl)
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return f"values differ, first {bad[0]}" if bad else None


def _read_dir(path, fmt):
    files = sorted(glob.glob(f"{path}/part-*"))
    files = [f for f in files if f.endswith(".parquet" if fmt == "parquet" else ".csv")]
    if not files:
        raise FileNotFoundError(f"no {fmt} output under {path}")
    if fmt == "parquet":
        return pa.concat_tables([pq.read_table(f) for f in files])
    header, rows = None, []
    for f in files:  # every cell as the text the sink wrote
        with open(f, newline="", encoding="utf-8") as fh:
            r = csv.reader(fh)
            header = next(r)
            rows += list(r)
    return pa.table({h: [row[i] for row in rows] for i, h in enumerate(header)})


def _guard(name, fn):
    try:
        detail = fn()
    except Exception as e:  # a missing or unreadable output is a failed check
        detail = f"{type(e).__name__}: {e}"
    return name, detail is None, detail or ""


def check_catalog(out, tables):
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    con = _connect({t: f"{tables}/{t}.parquet" for t in CATALOG_TABLES})
    return [_guard(q, lambda q=q, sql=sql: compare_exact(
                _read_dir(f"{out}/check/{q}", "parquet"), con.execute(sql).arrow()))
            for q, sql in sorted(oracle.items())]


_BAR_LABEL = re.compile(r'text-anchor="end" font-size="14">(.*?)</text>')


def _bar_labels(path):
    svg = open(path, encoding="utf-8").read()
    ET.fromstring(svg)
    return [html.unescape(x) for x in _BAR_LABEL.findall(svg)]


def _check_bars(path, expected):
    got = _bar_labels(path)
    return None if got == expected[:50] else f"{os.path.basename(path)} bars {got[:5]}... != {expected[:5]}..."


def _check_trend(path, n_weeks):
    svg = open(path, encoding="utf-8").read()
    ET.fromstring(svg)
    pts = re.search(r'<polyline points="([^"]*)"', svg).group(1).split()
    return None if len(pts) == n_weeks else f"trend has {len(pts)} points, oracle {n_weeks} weeks"


def check_pipeline(out, corpus):
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    con = _connect({"corpus": corpus})
    q = lambda name: con.execute(oracle[name]).arrow()
    checks = [_guard(f"report:{r}", lambda r=r: compare_loose(
                  _read_dir(f"{out}/reports/{r}", "csv"), q(r)))
              for r in ["industry_counts", "keyword_breakdown", "word_frequency", "channel_audit"]]
    checks += [_guard(f"collect:{c}", lambda c=c: compare_loose(
                   _read_dir(f"{out}/check/{c}", "parquet"), q(c)))
               for c in ["top_posts", "most_active_channels"]]
    charts = f"{out}/charts"
    col = lambda name, c: q(name).column(c).to_pylist()
    checks.append(_guard("chart:industry_counts", lambda: _check_bars(
        f"{charts}/1_industry_counts.svg", col("industry_counts", "industry"))))
    checks.append(_guard("chart:top_channels", lambda: _check_bars(
        f"{charts}/2_top_channels.svg", col("top_channels_by_views", "channel"))))
    checks.append(_guard("chart:word_frequency", lambda: _check_bars(
        f"{charts}/3_word_frequency.svg", col("word_frequency", "word"))))
    checks.append(_guard("chart:wordcloud", lambda: ET.parse(f"{charts}/4_wordcloud.svg") and None))
    checks.append(_guard("chart:trend", lambda: _check_trend(
        f"{charts}/5_trend.svg", q("time_series").num_rows)))

    def per_industry():
        rows = q("word_frequency_by_category").to_pylist()
        cats = sorted({r["category"] for r in rows})
        names = {f"4_word_frequency_{re.sub(r'[^A-Za-z0-9_-]', '_', c)}.svg": c for c in cats}
        found = {os.path.basename(p) for p in glob.glob(f"{charts}/4_word_frequency_*.svg")}
        if found != set(names):
            return f"per-industry charts {sorted(found)} != {sorted(names)}"
        for f, c in names.items():
            bad = _check_bars(f"{charts}/{f}", [r["word"] for r in rows if r["category"] == c])
            if bad:
                return bad
        return None
    checks.append(_guard("chart:per_industry", per_industry))
    return checks
