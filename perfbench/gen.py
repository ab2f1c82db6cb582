"""Seeded inputs for the perfbench workloads.

Everything graft reads in a benchmark run is made here, from a seed:

* `tables(dir, scale, seed)` writes the ten parquet tables the query
  registry reads (`region` … `embeddings`), with the schemas of the
  repository's synthetic testdata. Row counts follow the scale factor:
  scale 0.1 gives 600,000 `lineitem` rows.
* `daily(dir, seed, days)` writes the daily job's inputs for 100 seeded
  tickers: a ticker CSV, one constituents page per business day (on one
  seeded day a week a page with no qualifying table, which forces the CSV
  fallback) and one snapshot per (day, ticker), 5% of which, seeded, the
  fetcher must fail.

The same seed gives byte-identical files; numpy's PCG64 stream and
pyarrow's writer are both deterministic.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SECTORS = ["Information Technology", "Communication Services",
           "Consumer Discretionary", "Consumer Staples", "Health Care",
           "Industrials", "Utilities", "Financials", "Energy", "Materials",
           "Real Estate"]
UNIVERSE = 100       # tickers, like the NASDAQ-100
FAILURES = 5         # planned fetch failures per day (5%)
FIRST_DAY = datetime.date(2025, 1, 2)


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def _ts(start, micros):
    return pa.array(np.datetime64(start, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def tables(out_dir, scale, seed):
    """Write the ten registry tables at `scale` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_docs, n_vec = max(500, int(50000 * scale)), max(500, int(20000 * scale))
    p = os.path.join
    _write(p(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
    _write(p(out_dir, "customer.parquet"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(p(out_dir, "supplier.parquet"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adjs = np.array("large hot blue small red green cold dark".split())
    nouns = np.array("ring bolt gear pipe valve nut screw plate".split())
    types = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
    _write(p(out_dir, "part.parquet"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    days_o = (datetime.date(2001, 8, 1) - datetime.date(1995, 1, 1)).days
    _write(p(out_dir, "orders.parquet"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, days_o + 1, n_ord) * 86400000000),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    days_l = (datetime.date(2001, 11, 4) - datetime.date(1995, 1, 1)).days
    _write(p(out_dir, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 1000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", rng.integers(0, days_l + 1, n_li) * 86400000000)})
    offsets = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    _write(p(out_dir, "events.parquet"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", offsets),
        "user_id": rng.integers(0, max(100, int(15000 * scale)), n_ev, dtype=np.int64),
        "event_type": np.array(["error", "view", "purchase", "signup", "click"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 101)))])
        texts.append(" ".join(toks))
    langs = np.array(["en", "zh", "es", "fr", "de"])
    _write(p(out_dir, "documents.parquet"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(p(out_dir, "embeddings.parquet"), {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _symbols(rng, n):
    out, seen = [], set()
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    while len(out) < n:
        s = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 6)))])
        if rng.random() < 0.03:
            s += "." + letters[int(rng.integers(0, 26))]
        key = s.replace(".", "-")
        if key not in seen:
            seen.add(key)
            out.append(s)
    return out


def business_days(n):
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d.isoformat())
        d += datetime.timedelta(days=1)
    return days


def _page(rows, qualifying):
    nav = "<table class='nav'><tr><th>Section</th></tr><tr><td>Index</td></tr></table>"
    if not qualifying:  # the layout changed: no ticker column anywhere
        body = "".join(f"<tr><td>{c}</td><td>{s}</td></tr>" for _, c, s in rows)
        return (f"<html><body>{nav}<table><tr><th>Company</th><th>Sector</th></tr>"
                f"{body}</table></body></html>")
    body = "".join(f"<tr><td>{c}</td><td>{t}</td><td>{s}</td></tr>" for t, c, s in rows)
    return (f"<html><body>{nav}<table class='wikitable'><tr><th>Company</th>"
            f"<th>Ticker</th><th>GICS Sector</th></tr>{body}</table></body></html>")


def daily(out_dir, seed, days):
    """Write `days` business days of daily-job inputs into `out_dir`.

    Layout: `tickers.csv`, `html/<date>.html`, `snapshots.jsonl` (one
    object per day and ticker; `fail` marks a planned fetch failure) and
    `manifest.json` (dates, fallback days, planned failures per day).
    """
    os.makedirs(os.path.join(out_dir, "html"), exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = UNIVERSE
    syms = _symbols(rng, n)
    companies = [f"{s.replace('.', ' ').title()} Holdings" for s in syms]
    sectors = [SECTORS[int(i)] for i in rng.integers(0, len(SECTORS), n)]
    with open(os.path.join(out_dir, "tickers.csv"), "w") as f:
        f.write("Symbol,Name\n")
        for s, c in zip(syms, companies):
            f.write(f"{' ' + s.lower() if rng.random() < 0.1 else s},{c}\n")
    price0 = rng.uniform(20.0, 800.0, n)
    eps0 = price0 / rng.uniform(8.0, 60.0, n)
    shares = rng.uniform(2e8, 1.5e10, n)
    dates = business_days(days)
    # Day 0 (the cold run) uses the page; each later business week (days
    # 1-5, 6-10, ...) has exactly one fallback day, at a seeded weekday.
    # Fixed counts keep every seed's week the same amount of work.
    offsets = rng.integers(0, 5, (days + 4) // 5)
    fallback = [bool(i > 0 and (i - 1) % 5 == offsets[(i - 1) // 5]) for i in range(days)]
    failures = []
    with open(os.path.join(out_dir, "snapshots.jsonl"), "w") as f:
        for day, fb in zip(dates, fallback):
            with open(os.path.join(out_dir, "html", day + ".html"), "w") as h:
                h.write(_page(list(zip(syms, companies, sectors)), not fb))
            fail = np.zeros(n, dtype=bool)
            fail[rng.choice(n, FAILURES, replace=False)] = True
            failures.append(FAILURES)
            drift = rng.normal(1.0, 0.02, n)
            for i, s in enumerate(syms):
                price = float(price0[i] * drift[i])
                eps = float(eps0[i])
                snap = {
                    "day": day, "ticker": s.replace(".", "-"), "fail": bool(fail[i]),
                    "company": companies[i], "sector": sectors[i],
                    "price": round(price, 2), "market_cap": round(price * shares[i], 0),
                    "currency": "USD",
                    "trailing_pe": round(price / eps, 3),
                    "forward_pe": round(price / (eps * 1.1), 3),
                    "trailing_eps": round(eps, 3), "forward_eps": round(eps * 1.1, 3),
                    "earnings_growth": None if rng.random() < 0.1 else round(float(rng.uniform(-0.2, 0.6)), 4),
                    "peg_ratio": None if rng.random() < 0.1 else round(float(rng.uniform(0.3, 3.0)), 3),
                    "book_value_per_share": round(float(eps * rng.uniform(2.0, 12.0)), 3),
                    "target_mean_price": round(price * float(rng.uniform(0.8, 1.4)), 2)}
                f.write(json.dumps(snap, sort_keys=True) + "\n")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"universe": n, "dates": dates, "fallback": fallback,
                   "planned_failures": failures}, f, indent=1, sort_keys=True)
