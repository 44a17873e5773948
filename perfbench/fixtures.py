"""Benchmark inputs: deterministic synthesis and row-count checks.

The engine's test data (TESTDATA.md: the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``, seed 42) is regenerated here
value for value, so the benchmark needs nothing outside its checkout. The
draws below are the test data's own, in its order: one
``numpy.random.default_rng(42)`` stream, table by table, column by column.
``test_perfbench.py::test_fixtures_match_the_test_data`` checks that the
files written here have the published files' SHA-256 at every scale.

Files land in ``<cache>/sf<N>/``; a ``.complete`` marker is written last,
so an interrupted synthesis is redone rather than read half-written.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# category lists in the order the generator indexes them
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PTYPE = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_STATUS = ["O", "F", "P"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RFLAG = ["R", "A", "N"]
_LSTATUS = ["O", "F"]
_EVTYPE = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
# 9:3:3:3:3 over 21 equally likely slots
_LANGS = ["en"] * 9 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
_DIM = 64
_EVENT_SPAN_S = 30 * 86_400


def expected_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale ``sf`` (checked before timing)."""
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _tables(sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(SEED)
    rows = expected_rows(sf)

    def pick(values, n):
        return np.array(values, dtype=object)[rng.integers(0, len(values), n)]

    def cents(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        a, b = np.datetime64(start, "s"), np.datetime64(end, "s")
        span = int((b - a) // np.timedelta64(1, "D")) + 1
        return a + rng.integers(0, span, n) * np.timedelta64(1, "D")

    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": i32(np.arange(5)), "r_name": _REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    n = rows["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": cents(-999.99, 9999.99, n),
            "c_mktsegment": pick(_SEGMENTS, n),
        }
    )
    n = rows["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": i32(rng.integers(0, 25, n)),
            "s_acctbal": cents(-999.99, 9999.99, n),
        }
    )
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    adj, noun = pick(_ADJ, n), pick(_NOUN, n)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": adj + " " + noun,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": pick(_PTYPE, n),
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    n = rows["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, rows["customer"], n),
            "o_orderstatus": pick(_STATUS, n),
            "o_totalprice": cents(1000.0, 500000.0, n),
            "o_orderdate": days("1995-01-01", "2001-08-01", n),
            "o_orderpriority": pick(_PRIO, n),
        }
    )
    n = rows["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, rows["orders"], n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": cents(900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n) * 100) / 100,
            "l_tax": np.round(rng.uniform(0.0, 0.08, n) * 100) / 100,
            "l_returnflag": pick(_RFLAG, n),
            "l_linestatus": pick(_LSTATUS, n),
            "l_shipdate": days("1995-01-02", "2001-11-04", n),
        }
    )
    n = rows["events"]
    offset_s = np.sort(rng.uniform(0, _EVENT_SPAN_S, n))
    offset_ns = (offset_s * 1e9).astype(np.int64).astype("timedelta64[ns]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "ns") + offset_ns,
            "user_id": rng.integers(0, max(1, round(15_000 * sf)), n),
            "event_type": pick(_EVTYPE, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = rows["documents"]
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n)
    ]
    for i in rng.choice(n, n // 20, replace=False):  # 5% near-duplicates
        texts[i] = texts[rng.integers(0, n)] + " dup"
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": pick(_LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    n = rows["embeddings"]
    v = rng.normal(0.0, 1.0, (n, _DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": i32(rng.integers(0, 10, n)),
        }
    )
    return out


def count_rows(sf_dir: str) -> dict[str, int]:
    return {
        t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLES
    }


def check_rows(sf_dir: str, sf: float) -> dict[str, int]:
    """Row counts of ``sf_dir``; raises if any differs from the expected."""
    got = count_rows(sf_dir)
    want = expected_rows(sf)
    bad = {t: (got[t], want[t]) for t in TABLES if got[t] != want[t]}
    if bad:
        raise RuntimeError(
            f"fixture row counts at {sf_dir} differ (got, expected): {bad}"
        )
    return got


def ensure(cache: str, sf: float) -> tuple[str, float]:
    """Synthesise scale ``sf`` under ``cache`` once; return (dir, seconds
    spent synthesising in this call, 0 when it was already there)."""
    out = os.path.join(cache, f"sf{sf:g}")
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, df in _tables(sf).items():
        df.to_parquet(
            os.path.join(out, f"{name}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    check_rows(out, sf)
    with open(marker, "w") as f:
        json.dump(count_rows(out), f)
    return out, time.perf_counter() - t0
