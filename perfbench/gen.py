"""Seeded input generators for the benchmark.

Two input families, both written as parquet under the run's output
directory:

* ``warehouse(out, seed, sf)`` — the ``lineitem`` and ``documents`` tables
  the registry ops read, with the column names, types and value ranges of
  the library's query fixtures. ``sf`` scales the row counts the way the
  fixtures do (lineitem = 6M x sf).
* ``panel(out, seed, assets, days)`` — a long-format returns panel
  ``(asset, d, r)`` with ragged asset start dates and ~1 % missing (null)
  returns, plus a market series ``(d, b)`` over the same calendar.

The same seed always gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join batch sort value hash filter big data dup "
         "spark line small fast group customer").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(table: pa.Table, path: str, row_group: int = 1 << 20) -> None:
    pq.write_table(table, path, row_group_size=row_group)


def _days(start: dt.date, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "D") + offsets.astype("timedelta64[D]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def warehouse(out: str, seed: int, sf: float) -> dict:
    """Writes the tables the registry ops read; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_part, n_supp = int(200000 * sf), int(10000 * sf)
    n_docs = max(500, int(50000 * sf))
    sizes = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, f"{out}/{name}.parquet")
        sizes[name] = t.num_rows

    ship = _days(dt.date(1995, 1, 2), rng.integers(0, 2499, n_line))
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})

    # documents: random word streams cut at a random length; ~1 % are exact
    # copies and ~2 % near copies (one word changed) of earlier documents
    words = np.array(WORDS)
    texts = []
    for _ in range(n_docs):
        target = int(rng.integers(44, 578))
        s = " ".join(words[rng.integers(0, len(words), target // 3 + 2)])
        texts.append(s[:target])
    for i in range(1, n_docs):
        u = rng.random()
        if u < 0.01:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.03:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[i] = " ".join(toks)
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return sizes


def panel(out: str, seed: int, assets: int, days: int, files: int = 8) -> dict:
    """Long-format returns panel on business days from 2010-01-04.

    Asset ``a`` starts at a seeded offset in the first quarter of the
    calendar; each return is ``N(mu_a, sigma_a)`` with ~1 % set to null.
    Writes ``panel/`` (``files`` parquet parts) and ``market.parquet``.
    """
    rng = np.random.default_rng([seed, 2])
    cal = np.busday_offset(np.datetime64("2010-01-04"), np.arange(days), roll="forward")
    start = rng.integers(0, days // 4, assets)
    mu = rng.normal(0.0004, 0.0004, assets)
    sigma = rng.uniform(0.006, 0.03, assets)
    counts = days - start
    asset = np.repeat(np.arange(assets, dtype=np.int64), counts)
    idx = np.concatenate([np.arange(s, days) for s in start])
    r = rng.normal(np.repeat(mu, counts), np.repeat(sigma, counts))
    missing = rng.random(r.size) < 0.01
    table = pa.table({"asset": asset, "d": pa.array(cal[idx]),
                      "r": pa.array(r, mask=missing)})
    os.makedirs(f"{out}/panel", exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        _write(table.slice(i * step, step), f"{out}/panel/part-{i:02d}.parquet",
               row_group=1 << 18)
    market = pa.table({"d": pa.array(cal),
                       "b": rng.normal(0.0003, 0.011, days)})
    _write(market, f"{out}/market.parquet")
    return {"panel": table.num_rows, "market": days}
