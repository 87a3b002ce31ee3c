"""Benchmark inputs: a copy, in kind, of the repository's sf0.1 fixture.

The benchmark may read only its own checkout, so it cannot open the
fixture directory; it writes a stand-in with the fixture's shape instead.
Every table has the fixture's row count, parquet physical and logical
types (timestamps are microseconds with ``isAdjustedToUTC=false``, read
by Spark as TIMESTAMP_NTZ), value domains and distributions, and row
order: dimensions, ``orders``, ``events``, ``documents`` and
``embeddings`` in key order (``events`` also in ``ts`` order), and
``lineitem`` rows independent of each other, as in the fixture.  Each
file is one snappy-compressed row group, as pyarrow writes by default.
See README.md for the measured comparison and what still differs (the
values themselves: the fixture's generator is not in the repository).

The content is a pure function of ``BASE_SEED``: every run, whatever its
workload seed, reads byte-identical files, written with pyarrow and never
with the engine under test.

Run ``python3 perfbench/gen.py DST`` to write the tables by hand.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
STAMP = "_GENERATED"

# sf0.1 row counts of the repository fixtures.
ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLES = ("region", "nation", *ROWS)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
NEAR_DUPS = 250  # documents that are another document's text plus " dup"
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()

_US_PER_DAY = 86_400 * 1_000_000


def _dates(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    d0 = (lo - dt.date(1970, 1, 1)).days
    d1 = (hi - dt.date(1970, 1, 1)).days
    days = rng.integers(d0, d1 + 1, n, dtype=np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    base = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(n)]
    texts = list(base)
    # Near-duplicates sit anywhere, before or after their source; two that
    # share a source are exact duplicates of each other.
    for i, j in zip(rng.choice(n, NEAR_DUPS, replace=False), rng.integers(0, n, NEAR_DUPS)):
        texts[i] = base[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n, [0.15, 0.4, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def base_tables() -> dict[str, pa.Table]:
    """The sf0.1-shaped tables; identical on every call."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -1_000, 10_000, n),
        }
    )
    n = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -1_000, 10_000, n),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
            ),
        }
    )
    n = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
        }
    )
    n = ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1_000, 500_000, n),
            "o_orderdate": _dates(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    )
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _dates(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    )
    n = ROWS["events"]
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    span = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(t0, t0 + span, n, dtype=np.int64))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1_500, n, dtype=np.int64)),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    vecs = rng.normal(0, 1, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)  # unit length
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return t


def write_layout(dst: str) -> dict:
    """Write every table as ``dst/<table>.parquet``, one file and one
    row group each.  Returns the layout's size and generation time."""
    t0 = time.perf_counter()
    os.makedirs(dst, exist_ok=True)
    nbytes = 0
    for name, table in base_tables().items():
        path = os.path.join(dst, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows)
        nbytes += os.path.getsize(path)
    return {"bytes": nbytes, "gen_s": time.perf_counter() - t0}


def ensure_layout(dst: str) -> dict:
    """Write the layout to ``dst`` unless this generator already did.
    A stamp holding the digest of this file marks a finished layout, so
    a checkout writes its inputs once and an edited generator rewrites
    them.  Returns the layout's size and generation time (0 when reused)."""
    digest = hashlib.sha256(open(__file__, "rb").read()).hexdigest()
    stamp = os.path.join(dst, STAMP)
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        nbytes = sum(os.path.getsize(os.path.join(dst, f"{t}.parquet")) for t in TABLES)
        return {"bytes": nbytes, "gen_s": 0.0}
    shutil.rmtree(dst, ignore_errors=True)
    layout = write_layout(dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return layout


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dst")
    print(write_layout(ap.parse_args().dst))
