"""Independent output check: DuckDB recomputes the pipeline from the CSVs.

The oracle follows the reference notebooks' SQL (FIXTURES.md, SURVEY.md):
bronze reads every CSV with its own header, drops rows without a symbol,
date or close, and upserts on (symbol, date) with the later batch winning;
silver splits the rows by the first failing validity rule; gold computes
`return_1d`, `vol_20d` (STDDEV_SAMP over 20 rows) and `avg_volume_20d`;
DQ appends gap, jump, stale and row-count rows with each run's `now` and
`today`; the ten analyst queries run over the recomputed gold and DQ tables.

Doubles compare with a relative tolerance of REL_TOL: Spark and DuckDB sum
and take standard deviations in different orders. Every other value,
including row order where the query defines one, must match exactly.
"""
import datetime
import json
import math
import os
import re

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-12

PRICE_COLS = ["symbol", "date", "open", "high", "low", "close", "volume", "source",
              "ingested_at", "input_file"]
GOLD_COLS = ["symbol", "date", "close", "volume", "return_1d", "vol_20d", "avg_volume_20d",
             "source", "computed_at"]
DQ_COLS = ["run_ts", "layer", "check_name", "symbol", "check_status", "metric_value",
           "threshold", "details"]
TABLES = {
    "bronze_prices": (PRICE_COLS, "symbol, date"),
    "silver_prices_daily": (PRICE_COLS, "symbol, date"),
    "silver_prices_rejected": (PRICE_COLS + ["reject_reason"], "symbol, date"),
    "gold_market_features_daily": (GOLD_COLS, "symbol, date"),
    "data_quality_checks": (DQ_COLS, "run_ts, layer, check_name, symbol NULLS FIRST, metric_value"),
}
GAP_DAYS, ABS_RETURN, STALE_DAYS = 4, 0.10, 7

_G = ", ".join(GOLD_COLS)
_LATEST = "date = (SELECT max(date) FROM gold)"
ANALYST_SQL = {
    "q1_latest_snapshot": f"SELECT {_G} FROM (SELECT *, row_number() OVER "
                          f"(PARTITION BY symbol ORDER BY date DESC) AS rn FROM gold) "
                          f"WHERE rn = 1 ORDER BY symbol",
    "q2_top_moves": f"SELECT {_G} FROM gold WHERE {_LATEST} "
                    f"ORDER BY abs(return_1d) DESC NULLS LAST, symbol LIMIT 20",
    "q3_volatility_scan": f"SELECT {_G} FROM gold WHERE {_LATEST} "
                          f"ORDER BY vol_20d DESC NULLS LAST, symbol LIMIT 20",
    "q4_liquidity_screen": f"SELECT {_G} FROM gold WHERE {_LATEST} "
                           f"ORDER BY avg_volume_20d DESC NULLS LAST, symbol LIMIT 20",
    "q5_recent_window": f"SELECT {_G} FROM gold WHERE symbol = $symbol "
                        f"ORDER BY date DESC LIMIT 60",
    "q6_large_move_alert": f"SELECT {_G} FROM gold WHERE {_LATEST} AND abs(return_1d) > 0.02 "
                           f"ORDER BY abs(return_1d) DESC NULLS LAST, symbol",
    "q7_volatility_expansion":
        "SELECT g.symbol AS symbol, g.date AS date, g.vol_20d AS vol_20d, "
        "avg(g2.vol_20d) AS avg_vol_60d FROM gold g JOIN gold g2 ON g.symbol = g2.symbol "
        "AND g2.date BETWEEN g.date - 60 AND g.date GROUP BY g.symbol, g.date, g.vol_20d "
        "HAVING g.vol_20d > 1.5 * avg(g2.vol_20d) ORDER BY symbol, date",
    "q8_cross_asset_on": f"SELECT {_G} FROM gold WHERE date = $day ORDER BY symbol",
    "q9_completeness": "SELECT symbol, min(date) AS first_date, max(date) AS last_date, "
                       "count(*) AS n_days FROM gold GROUP BY symbol ORDER BY symbol",
    "q10_dq_triage": f"SELECT {', '.join(DQ_COLS)} FROM dq WHERE run_ts = "
                     f"(SELECT max(run_ts) FROM dq) AND check_status = 'FAIL' "
                     f"ORDER BY layer, check_name, symbol NULLS FIRST",
}
# q10's order key (layer, check_name, symbol) has ties: a symbol can fail the
# jump check on several days, and Spark may return tied rows in any order
UNORDERED = {"q10_dq_triage"}


class Oracle:
    """The pipeline state after each batch, recomputed in DuckDB."""

    def __init__(self, data_dir, manifest, batch_dirs):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.manifest = manifest
        by_dir = {b["dir"]: b for b in manifest["batches"]}
        for j, name in enumerate(batch_dirs):
            self._apply(j, os.path.join(data_dir, name), by_dir[name])

    def _apply(self, j, csv_dir, batch):
        q = self.con.execute
        now, today = batch["now"], batch["today"]
        # every file is read with its own header: group the files by header line
        groups = {}
        for f in sorted(os.listdir(csv_dir)):
            if f.endswith(".csv"):
                with open(os.path.join(csv_dir, f)) as fh:
                    groups.setdefault(fh.readline().strip(), []).append(os.path.join(csv_dir, f))
        parts = []
        for header, files in sorted(groups.items()):
            names = header.split(",")
            cols = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in names) + "}"
            volume = 'CAST(NULLIF("Volume", \'\') AS BIGINT)' if "Volume" in names else "CAST(NULL AS BIGINT)"
            parts.append(f"""
                SELECT regexp_extract(filename, '([^/]+)\\.csv$', 1) AS symbol,
                       TRY_CAST("Date" AS DATE) AS date,
                       CAST(NULLIF("Open", '') AS DOUBLE) AS open,
                       CAST(NULLIF("High", '') AS DOUBLE) AS high,
                       CAST(NULLIF("Low", '') AS DOUBLE) AS low,
                       CAST(NULLIF("Close", '') AS DOUBLE) AS close,
                       {volume} AS volume,
                       'stooq' AS source, TIMESTAMP '{now}' AS ingested_at,
                       filename AS input_file
                FROM read_csv({files!r}, header = true, auto_detect = false, delim = ',',
                              filename = true, columns = {cols})""")
        q(f"""CREATE TABLE raw{j} AS SELECT * FROM ({" UNION ALL ".join(parts)})
            WHERE symbol <> '' AND date IS NOT NULL AND close IS NOT NULL""")
        dups = q(f"SELECT count(*) - count(DISTINCT (symbol, date)) FROM raw{j}").fetchone()[0]
        if dups:
            raise ValueError(f"batch {csv_dir} repeats {dups} (symbol, date) keys; "
                             "bronze would keep an arbitrary survivor")
        prev = (f"UNION ALL SELECT * FROM bronze{j - 1} b WHERE NOT EXISTS (SELECT 1 FROM raw{j} r "
                f"WHERE r.symbol = b.symbol AND r.date = b.date)") if j else ""
        q(f"CREATE TABLE bronze{j} AS SELECT * FROM raw{j} {prev}")
        q(f"""CREATE TABLE tagged{j} AS SELECT *, CASE
              WHEN symbol IS NULL OR symbol = '' OR date IS NULL THEN 'missing_key'
              WHEN open IS NULL OR high IS NULL OR low IS NULL OR close IS NULL THEN 'missing_prices'
              WHEN open <= 0 OR high <= 0 OR low <= 0 OR close <= 0 THEN 'non_positive_price'
              WHEN high < greatest(open, close, low) OR low > least(open, close, high)
                THEN 'ohlc_inconsistent'
              WHEN volume IS NOT NULL AND volume < 0 THEN 'invalid_volume'
              END AS reject_reason FROM bronze{j}""")
        cols = ", ".join(PRICE_COLS)
        q(f"CREATE TABLE silver{j} AS SELECT {cols} FROM tagged{j} WHERE reject_reason IS NULL")
        q(f"CREATE TABLE rejected{j} AS SELECT * FROM tagged{j} WHERE reject_reason IS NOT NULL")
        q(f"""CREATE TABLE gold{j} AS SELECT symbol, date, close, volume, return_1d,
              stddev_samp(return_1d) OVER w20 AS vol_20d,
              avg(CAST(volume AS DOUBLE)) OVER w20 AS avg_volume_20d,
              source, TIMESTAMP '{now}' AS computed_at
            FROM (SELECT *, close / lag(close) OVER (PARTITION BY symbol ORDER BY date) - 1
                  AS return_1d FROM silver{j})
            WINDOW w20 AS (PARTITION BY symbol ORDER BY date
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""")
        head = f"TIMESTAMP '{now}' AS run_ts"
        prev_dq = f"SELECT * FROM dq{j - 1} UNION ALL " if j else ""
        q(f"""CREATE TABLE dq{j} AS {prev_dq}
            SELECT {head}, 'silver' AS layer, 'missing_trading_days' AS check_name, symbol,
                   'FAIL' AS check_status, CAST(gap AS DOUBLE) AS metric_value,
                   CAST({GAP_DAYS} AS DOUBLE) AS threshold,
                   'gap of ' || gap || ' days ending ' || CAST(date AS VARCHAR) AS details
            FROM (SELECT symbol, date, date - lag(date) OVER (PARTITION BY symbol ORDER BY date)
                  AS gap FROM silver{j}) WHERE gap > {GAP_DAYS}
            UNION ALL
            SELECT {head}, 'gold', 'sudden_price_jump', symbol, 'FAIL', return_1d, {ABS_RETURN},
                   'return_1d=' || return_1d || ' on ' || CAST(date AS VARCHAR)
            FROM gold{j} WHERE abs(return_1d) > {ABS_RETURN}
            UNION ALL
            SELECT {head}, 'silver', 'stale_data', symbol, 'FAIL', CAST(stale AS DOUBLE),
                   CAST({STALE_DAYS} AS DOUBLE),
                   'last date ' || CAST(last_date AS VARCHAR) || ' is ' || stale || ' days old'
            FROM (SELECT symbol, max(date) AS last_date, DATE '{today}' - max(date) AS stale
                  FROM silver{j} GROUP BY symbol) WHERE stale > {STALE_DAYS}
            UNION ALL
            SELECT {head}, 'pipeline', 'row_counts', NULL, 'PASS', CAST(ns AS DOUBLE), NULL,
                   'bronze=' || nb || ' silver=' || ns || ' gold=' || ng
            FROM (SELECT (SELECT count(*) FROM bronze{j}) AS nb, (SELECT count(*) FROM silver{j}) AS ns,
                         (SELECT count(*) FROM gold{j}) AS ng)""")

    def table(self, name, step):
        j = step - 1
        return {"bronze_prices": f"bronze{j}", "silver_prices_daily": f"silver{j}",
                "silver_prices_rejected": f"rejected{j}",
                "gold_market_features_daily": f"gold{j}", "data_quality_checks": f"dq{j}"}[name]


# ---- value comparison ----

_TS = re.compile(r"^\d{4}-\d\d-\d\d[ T]\d\d:\d\d:\d\d(\.\d+)?$")
_JUMP = re.compile(r"^return_1d=(\S+) on (\S+)$")


def norm(v):
    """A value as compared: dates and timestamps as ISO text (Bench writes
    them as text), a jump row's details as (text, number, date)."""
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        if _TS.match(v):
            return datetime.datetime.fromisoformat(v).isoformat(sep=" ")
        m = _JUMP.match(v)
        if m:
            return ("return_1d=", float(m.group(1)), m.group(2))
    return v


def same(a, b):
    a, b = norm(a), norm(b)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
        return False
    return a == b


def compare_rows(got, want, cols):
    """None if equal, else a one-line description of the first difference."""
    assert all(len(r) == len(cols) for r in got[:1] + want[:1])
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g == w:
            continue
        for c, x, y in zip(cols, g, w):
            if not same(x, y):
                return f"row {i} column {c}: {x!r} != oracle {y!r}"
    return None


def _sort_key(row):
    return [(v is not None, str(norm(v))) for v in row]


# ---- checks ----

def _select(cols):
    """(select list, column names) for a table, with the two values that
    cannot compare as stored rewritten: the CSV path keeps its last two
    components (Spark writes a file: URI), and a jump row's details split into
    text and the number, which Spark formats its own way."""
    exprs, names = [], []
    for c in cols:
        if c == "input_file":
            exprs.append("regexp_extract(input_file, '([^/]+/[^/]+)$', 1)")
        elif c == "details":
            exprs.append("regexp_replace(details, 'return_1d=\\S+', 'return_1d=')")
            exprs.append("TRY_CAST(regexp_extract(details, 'return_1d=(\\S+)', 1) AS DOUBLE)")
            names.append("details")
            c = "details_return_1d"
        else:
            exprs.append(c)
        names.append(c)
    return ", ".join(exprs), names


def check_warehouse(oracle, wh, step):
    """Compares the five tables under `wh` with the oracle after `step` batches.
    Returns a list of mismatch descriptions."""
    problems = []
    for t, (cols, order) in TABLES.items():
        files = os.path.join(wh, t, "*", "*.parquet")
        sel, names = _select(cols)
        try:
            got = oracle.con.execute(
                f"SELECT {sel} FROM read_parquet('{files}', hive_partitioning = true, "
                f"union_by_name = true) ORDER BY {order}").fetchall()
        except duckdb.Error as e:
            problems.append(f"{t}: cannot read ({e})")
            continue
        want = oracle.con.execute(
            f"SELECT {sel} FROM {oracle.table(t, step)} ORDER BY {order}").fetchall()
        diff = compare_rows(got, want, names)
        if diff:
            problems.append(f"{t}: {diff}")
    return problems


def check_answer(oracle, step, q, answer):
    """Compares one analyst result (columns + rows as Bench wrote them)."""
    con = oracle.con
    con.execute(f"CREATE OR REPLACE VIEW gold AS SELECT * FROM gold{step - 1}")
    con.execute(f"CREATE OR REPLACE VIEW dq AS SELECT * FROM dq{step - 1}")
    symbol = oracle.manifest["recent_symbol"]
    day = datetime.date.fromisoformat(oracle.manifest["snapshot_date"])
    assert symbol.isalnum()
    cur = con.execute(ANALYST_SQL[q].replace("$symbol", f"'{symbol}'").replace("$day", f"DATE '{day}'"))
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    got = [tuple(r) for r in answer["rows"]]
    if answer["columns"] and answer["columns"] != cols:
        return f"{q}: columns {answer['columns']} != oracle {cols}"
    if q in UNORDERED:
        key = [cols.index(c) for c in ("layer", "check_name", "symbol")]
        seq = [tuple((r[i] is not None, r[i]) for i in key) for r in got]
        if seq != sorted(seq):
            return f"{q}: rows are not ordered by layer, check_name, symbol"
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    diff = compare_rows(got, want, cols)
    return f"{q}: {diff}" if diff else None


def check_run(workload, work, data_dir, manifest, result):
    """Checks every warehouse and analyst answer a Bench run left under `work`.
    Returns {"failed_ops": set of op indexes, "problems": [str]}."""
    measured = [b["dir"] for b in manifest["batches"]]
    if workload == "backfill":
        measured = measured[:1]
    oracle = Oracle(data_dir, manifest, measured)
    step_of = {name: i + 1 for i, name in enumerate(measured)}
    failed, problems = set(), []
    ops = result["ops"]
    cycles = sorted({o["cycle"] for o in ops if o["kind"] == "pipeline"})
    for c in cycles:
        bad = check_warehouse(oracle, os.path.join(work, "wh", c), len(measured))
        problems += [f"{c}: {p}" for p in bad]
        if bad:
            failed |= {i for i, o in enumerate(ops) if o["kind"] == "pipeline" and o["cycle"] == c}
    for i, o in enumerate(ops):
        if o["kind"] != "query":
            continue
        batch = o["cycle"].split("-")[1]
        path = os.path.join(work, "analyst", o["cycle"], o["name"] + ".json")
        with open(path) as f:
            answer = json.load(f)
        msg = check_answer(oracle, step_of[batch], o["name"], answer)
        if msg:
            failed.add(i)
            problems.append(f"{o['cycle']}: {msg}")
    return {"failed_ops": failed, "problems": problems}

