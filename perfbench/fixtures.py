"""Seeded input generators for the benchmark.

Two fixture families, each a pure function of ``--seed``:

* ``energy``: LCL-shaped half-hourly smart-meter readings as multi-shard
  CSV plus the half-hourly tariff dimension as CSV. With seed 42 the
  readings shards and the tariff frame are byte-identical to
  ``pipeline.energy_bench.make_readings_csv`` / ``make_tariffs_pdf``
  (``perfbench/test_fixtures.py`` checks this).
* ``tables``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the query registry reads,
  one parquet file per table, with the column types and value
  distributions of the repository's sf-series test tables.

Only the generated files reach the program; nothing here imports it.

The sizes are fixed (``ENERGY_HOUSEHOLDS``, ``QUERY_SF``); the seed pins
in ``pins.json`` were recorded at them.

    python3 perfbench/fixtures.py energy --seed 42 --out DIR
    python3 perfbench/fixtures.py tables --seed 42 --out DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RANGE_START = "2013-01-01"
RANGE_END = "2013-12-31 23:30:00"
KWH_COL = "KWH/hh (per half hour) "
ENERGY_SHARDS = 12
ENERGY_HOUSEHOLDS = 25
QUERY_SF = 0.01
TARIFFS_FILE = "tariffs.csv"
READINGS_DIR = "readings_csv"


def readings_frame(seed: int, households: int) -> pd.DataFrame:
    """Half-hourly readings for ``households`` meters over 2013, with the
    feed's quirks: ~3% of grid rows missing, ~0.5% literal "Null" and
    ~0.2% empty kWh values."""
    rng = np.random.default_rng(seed)
    times = pd.date_range(RANGE_START, RANGE_END, freq="30min")
    tstr = times.strftime("%Y-%m-%d %H:%M:%S")
    intraday = 0.5 + 0.5 * np.sin(2 * np.pi * (times.hour * 2 + times.minute // 30) / 48)
    frames = []
    for i in range(households):
        level = rng.lognormal(mean=-1.0, sigma=0.3)
        kwh = level * intraday * rng.lognormal(mean=0, sigma=0.2, size=len(times))
        frames.append(
            pd.DataFrame(
                {
                    "LCLid": f"MAC{i + 1:06d}",
                    "stdorToU": "Std" if i % 10 < 7 else "ToU",
                    "DateTime": tstr,
                    KWH_COL: np.round(kwh, 4).astype(str),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    pdf = pdf[rng.random(len(pdf)) > 0.03].reset_index(drop=True)
    pdf.loc[rng.random(len(pdf)) < 0.005, KWH_COL] = "Null"
    pdf.loc[rng.random(len(pdf)) < 0.002, KWH_COL] = ""
    return pdf


def tariffs_frame(seed: int) -> pd.DataFrame:
    """Half-hourly ToU tariff dimension: daily blocks, Normal-dominant."""
    rng = np.random.default_rng(seed)
    times = pd.date_range(RANGE_START, RANGE_END, freq="30min")
    blocks = rng.choice(["Normal", "Low", "High"], size=(len(times) // 48) + 1, p=[0.85, 0.1, 0.05])
    return pd.DataFrame({"TariffDateTime": times, "Tariff": np.repeat(blocks, 48)[: len(times)]})


def write_energy(out_dir: str, seed: int, households: int = ENERGY_HOUSEHOLDS) -> dict:
    """Write ``readings_csv/block_*.csv`` and ``tariffs.csv``; return the
    row counts a correct pipeline must conserve."""
    pdf = readings_frame(seed, households)
    csv_dir = os.path.join(out_dir, READINGS_DIR)
    os.makedirs(csv_dir, exist_ok=True)
    for i, shard in enumerate(np.array_split(pdf, ENERGY_SHARDS)):
        shard.to_csv(os.path.join(csv_dir, f"block_{i}.csv"), index=False)
    tariffs_frame(seed).to_csv(os.path.join(out_dir, TARIFFS_FILE), index=False)
    valid = pdf[~pdf[KWH_COL].isin(["Null", ""])]
    days = valid["DateTime"].str.slice(0, 10)
    return {
        "households": households,
        "raw_rows": len(pdf),
        "daily_rows": int(pd.MultiIndex.from_arrays([valid["LCLid"], days]).nunique()),
    }


# --- query tables -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EMB_DIM = 64


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return lo + rng.integers(0, (hi - lo).astype(int) + 1, size=n)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words documents; ~5% are an earlier document plus a
    trailing "dup" token and ~0.5% exact copies, so every dedup
    operator has pairs to find."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i and u < 0.055:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, size=rng.integers(10, 100))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def table_frames(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table the query registry reads, sized by scale factor ``sf``
    (sf 0.01: 60,000 lineitem rows, 10,000 events, 500 documents)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = np.int32, np.int64
    frames: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=i64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=i64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01").astype("datetime64[us]"),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04").astype("datetime64[us]"),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=i64),
                "ts": np.datetime64("2024-01-01", "us")
                + np.cumsum(rng.exponential(30 * 86400e6 / n_ev, n_ev)).astype("timedelta64[us]"),
                "user_id": rng.integers(0, n_users, n_ev).astype(i64),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
    }
    tables = {name: pa.Table.from_pandas(df, preserve_index=False) for name, df in frames.items()}
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=i64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
        }
    )
    return tables


def write_tables(out_dir: str, seed: int, sf: float = QUERY_SF) -> dict[str, int]:
    """Write ``<table>.parquet`` per table; return row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in table_frames(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=["energy", "tables"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.kind == "energy":
        print(write_energy(args.out, args.seed))
    else:
        print(write_tables(args.out, args.seed))


if __name__ == "__main__":
    main()
