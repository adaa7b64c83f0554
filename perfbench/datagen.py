"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so the same ``--seed`` gives
byte-identical inputs. The engine only ever sees what these functions make.

* ``write_tables`` writes the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads, one
  parquet file with one row group per table (the shape of the repository's
  own test data, so single-task scans stay visible in the suite).
* ``jvm_points`` builds the headline's skewed points inside the JVM.
* ``boundary_ring`` is the large polygon the export workload selects.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "hash order table window row batch big group a spark filter sort join line "
    "data column key merge agg small scan vector stream value customer slow part "
    "fast query the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All registry tables at scale factor ``sf`` (sf 1 = 6M lineitem rows)."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 64)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = min(2000, max(500, int(20_000 * sf)))
    t: dict[str, pd.DataFrame] = {}

    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    r = _rng(seed, 1)
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, 2)
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, 3)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    r = _rng(seed, 4)
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, 5)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    })
    r = _rng(seed, 6)
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(r.integers(0, span_us, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(n_docs, _rng(seed, 7))
    r = _rng(seed, 8)
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _documents(n: int, r: np.random.Generator) -> pd.DataFrame:
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        toks = list(words[r.integers(0, len(words), int(r.integers(10, 100)))])
        if r.random() < 0.05:  # planted repetition for the repetition filters
            toks += ["dup"] * int(r.integers(1, 4))
        texts.append(" ".join(toks))
    # a few exact duplicates for exact_dedup
    for i in r.choice(np.arange(1, n), size=max(n // 600, 1), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([
                ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]))
        pq.write_table(table, f"{out_dir}/{name}.parquet", row_group_size=1 << 30)
        rows[name] = len(df)
    return rows


# ---------------------------------------------------------------------------
# Points and boundaries for the spatial workloads.
# ---------------------------------------------------------------------------

def jvm_points(spark, n: int, seed: int, parts: int):
    """Seeded skewed points generated in the JVM (spark.range + xxhash64):
    80% world-uniform, 20% in the three ``fixtures.METROS`` disks, the shape
    of ``fixtures.points_jvm_df``, which takes no seed. The seed enters every
    hash, so each seed is a different point set."""
    from pyspark.sql import functions as F

    from pgsql2osm_spark.sources.fixtures import METROS

    def u(k):  # uniform [0, 1) from a seeded hash stream, 53-bit mantissa
        h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(k))
        return F.shiftrightunsigned(h, 11).cast("double") / float(1 << 53)

    h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(3))
    metro = F.pmod(h, F.lit(5)) == 0
    which = F.pmod(F.shiftrightunsigned(h, 3), F.lit(len(METROS)))
    r = F.sqrt(u(4))
    theta = u(5) * (2 * math.pi)
    mlon = mlat = F.lit(None).cast("double")
    for m, (cx, cy, rad) in enumerate(METROS):
        mlon = F.when(which == m, F.lit(cx) + r * rad * F.cos(theta)).otherwise(mlon)
        mlat = F.when(which == m, F.lit(cy) + r * rad * F.sin(theta)).otherwise(mlat)
    return spark.range(0, n, 1, parts).select(
        F.format_string("img%012d", F.col("id")).alias("image_id"),
        F.when(metro, mlon).otherwise(u(1) * 360.0 - 180.0).alias("lon"),
        F.when(metro, mlat).otherwise(u(2) * 132.0 - 60.0).alias("lat"),
    )


N_VERTICES = 48  # of the export boundary


def boundary_ring(seed: int) -> np.ndarray:
    """A large star-shaped polygon (~36 deg across) around a seeded centre
    that always holds the Zurich metro disk, so the export workload selects
    both dense and sparse points and its cover has many boundary cells. The
    radius varies little, so every seed selects about as many points."""
    r = _rng(seed, 9)
    cx, cy = 8.54 + r.uniform(-2, 2), 47.37 + r.uniform(-2, 2)
    ang = np.sort(r.uniform(0, 2 * np.pi, N_VERTICES))
    rad = r.uniform(17.0, 19.0, N_VERTICES)
    return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
