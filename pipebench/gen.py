"""Seeded generator of Stooq-style daily OHLCV CSV batches.

Writes one `<SYMBOL>.csv` per symbol (FIXTURES.md section 1): equity/ETF
files carry `Date,Open,High,Low,Close,Volume`, FX files carry no `Volume`.
Four equity symbols come to every FX symbol. All symbols share one
configured trading calendar, as the reference's `config.yaml` does.

Layout under the output directory:

    full/<SYM>.csv      backfill batch: D trading days per symbol
    day01/<SYM>.csv     daily batch k: each live symbol re-delivers its last
    ...                 5 trading days and adds one new day
    manifest.json       symbols, batches, the `now`/`today` of each batch,
                        and the parameters of the analyst queries

The backfill batch carries the FIXTURES.md section 3 reject rows (missing
price, non-positive price, inconsistent OHLC, negative volume, and a
missing close that bronze drops) and the section 4 gaps, jumps and stale
(delisted) symbols. About 1% of re-delivered rows carry revised values;
a revision sticks, so later batches re-deliver the revised row. No batch
holds two rows for one (symbol, date).

The output is a pure function of (seed, symbols, days, batches): the same
arguments give byte-identical files.
"""
import datetime
import json
import os
import random

START = datetime.date(2016, 1, 4)
REDELIVER = 5
QUIET_TAIL = 12  # no gaps or rejects in the last days a daily batch re-delivers


def trading_days(n):
    out, d = [], START
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += datetime.timedelta(days=1)
    return out


def _fmt(v, dp):
    s = str(abs(v)).rjust(dp + 1, "0")
    return ("-" if v < 0 else "") + s[:-dp] + "." + s[-dp:]


class Series:
    """One symbol's canonical bars in integer price ticks (cents or pips)."""

    def __init__(self, rng, fx, n):
        self.fx = fx
        self.dp = 4 if fx else 2
        # equity prices stay >= 10.00 and volumes >= 100000 and FX <= 9.9999,
        # so an equity line is always longer than an FX line
        lo, hi = (5000, 20000) if fx else (2000, 40000)
        floor, cap = (1000, 99999) if fx else (1000, 999999)
        vol = 0.006 if fx else 0.015
        price = rng.randint(lo, hi)
        self.bars = []
        for _ in range(n):
            shock = rng.random() < 0.004
            ret = rng.gauss(0.0, vol) + (rng.choice((-0.18, 0.15)) if shock else 0.0)
            o = min(cap, max(floor, round(price * (1 + rng.gauss(0.0, vol / 4)))))
            c = min(cap, max(floor, round(price * (1 + ret))))
            h = max(o, c) + rng.randint(0, max(1, price // 100))
            l = max(1, min(o, c) - rng.randint(0, max(1, price // 100)))
            v = None if fx else rng.randint(100_000, 50_000_000)
            self.bars.append([o, h, l, c, v])
            price = c

    def revise(self, rng, i):
        o, h, l, c, v = self.bars[i]
        c2 = max(2, c + rng.choice((-1, 1)) * rng.randint(1, 5))
        v2 = None if v is None else v + rng.randint(1, 1000)
        self.bars[i] = [o, max(h, c2), min(l, c2), c2, v2]

    def line(self, day, bar):
        o, h, l, c, v = bar
        cells = [day.isoformat()] + ["" if x is None else _fmt(x, self.dp) for x in (o, h, l, c)]
        if not self.fx:
            cells.append("" if v is None else str(v))
        return ",".join(cells)


def _corrupt(rng, series, bar):
    """A copy of `bar` that breaks one silver validity rule (or bronze's
    null-close filter), cycling through the FIXTURES.md section 3 cases."""
    o, h, l, c, v = bar
    kinds = ["missing_prices", "non_positive_price", "ohlc_inconsistent", "dropped_close"]
    if not series.fx:
        kinds.append("invalid_volume")
    kind = rng.choice(kinds)
    if kind == "missing_prices":
        return [None, h, l, c, v]
    if kind == "non_positive_price":
        return [o, h, -50 if series.dp == 2 else -5000, c, v]
    if kind == "ohlc_inconsistent":
        return [o, min(o, c) - 1, l - 2, c, v]
    if kind == "dropped_close":
        return [o, h, l, None, v]
    return [o, h, l, c, -100]


def generate(out_dir, seed, symbols, days, batches):
    rng = random.Random(f"pipebench:{seed}")
    cal = trading_days(days + batches)
    names = []
    for i in range(symbols):
        names.append(f"FX{i:04d}" if i % 5 == 4 else f"EQ{i:04d}")
    series = {s: Series(rng, s.startswith("FX"), len(cal)) for s in names}

    # delisted symbols: history ends early, absent from every daily batch
    delisted = set(rng.sample(names, max(1, symbols // 50)))
    missing = {s: set() for s in names}
    rejects = {s: {} for s in names}
    for s in names:
        if rng.random() < 0.3:  # one gap of 4..6 weekdays (> 4 calendar days)
            start = rng.randint(days // 8, days - QUIET_TAIL - 10)
            missing[s].update(range(start, start + rng.randint(4, 6)))
        for _ in range(rng.randint(0, 2)):
            i = rng.randint(1, days - QUIET_TAIL - 1)
            if i not in missing[s]:
                rejects[s][i] = _corrupt(rng, series[s], series[s].bars[i])

    def write_batch(name, rows_of):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        nbytes = 0
        for s in names:
            rows = rows_of(s)
            if rows is None:
                continue
            header = "Date,Open,High,Low,Close" + ("" if series[s].fx else ",Volume")
            text = "\n".join([header] + [series[s].line(cal[i], bar) for i, bar in rows]) + "\n"
            with open(os.path.join(d, f"{s}.csv"), "w", newline="") as f:
                f.write(text)
            nbytes += len(text)
        return nbytes

    def full_rows(s):
        last = days - QUIET_TAIL if s in delisted else days
        return [(i, rejects[s].get(i, series[s].bars[i]))
                for i in range(last) if i not in missing[s]]

    manifest = {"seed": seed, "symbols": names, "days": days, "batches": []}
    now0 = datetime.datetime(2026, 1, 5, 18, 0, 0)

    def add(name, nbytes, k):
        last_day = cal[days - 1 + k]
        manifest["batches"].append({
            "dir": name, "csv_bytes": nbytes,
            "now": (now0 + datetime.timedelta(hours=k)).isoformat(sep=" "),
            "today": (last_day + datetime.timedelta(days=1)).isoformat()})

    add("full", write_batch("full", full_rows), 0)
    for k in range(1, batches + 1):
        new = days - 1 + k
        window = range(new - REDELIVER, new + 1)
        for s in names:
            for i in window[:-1]:
                if rng.random() < 0.01:
                    series[s].revise(rng, i)

        def day_rows(s, window=window):
            if s in delisted:
                return None
            return [(i, series[s].bars[i]) for i in window]
        add(f"day{k:02d}", write_batch(f"day{k:02d}", day_rows), k)

    live = [s for s in names if s not in delisted]
    manifest["recent_symbol"] = live[rng.randrange(len(live))]
    manifest["snapshot_date"] = cal[rng.randint(days // 2, days - QUIET_TAIL)].isoformat()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

