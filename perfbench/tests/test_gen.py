"""The input generator: its files are the same byte for byte on every
write, and they keep the shape of the repository's sf0.1 fixture
(types, key and time order, the domains the measured ops group on).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _files(d) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


@pytest.fixture(scope="module")
def layout(tmp_path_factory):
    d = tmp_path_factory.mktemp("layout")
    gen.write_layout(str(d))
    return d


def test_every_write_gives_byte_identical_files(layout, tmp_path):
    gen.write_layout(str(tmp_path))
    a, b = _files(layout), _files(tmp_path)
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert a == b


def test_ensure_layout_reuses_a_finished_layout_and_redoes_a_stale_one(tmp_path):
    d = str(tmp_path / "data")
    assert gen.ensure_layout(d)["gen_s"] > 0
    assert gen.ensure_layout(d)["gen_s"] == 0.0
    with open(os.path.join(d, gen.STAMP), "w") as f:
        f.write("an older generator")
    assert gen.ensure_layout(d)["gen_s"] > 0


def _read(layout, table: str) -> pa.Table:
    return pq.read_table(os.path.join(layout, f"{table}.parquet"))


def test_tables_have_the_fixture_row_counts_and_one_row_group(layout):
    for t, n in gen.ROWS.items():
        md = pq.ParquetFile(os.path.join(layout, f"{t}.parquet")).metadata
        assert (md.num_rows, md.num_row_groups) == (n, 1), t


def test_timestamps_are_naive_microseconds(layout):
    for t, col in (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        schema = pq.ParquetFile(os.path.join(layout, f"{t}.parquet")).schema
        lt = schema.column(schema.names.index(col)).logical_type.to_json()
        assert '"timeUnit": "microseconds"' in lt and '"isAdjustedToUTC": false' in lt, (t, lt)


def test_keyed_tables_are_in_key_order_and_events_in_time_order(layout):
    for t, key in (
        ("orders", "o_orderkey"),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        assert _read(layout, t)[key].to_pylist() == list(range(gen.ROWS[t])), t
    ts = _read(layout, "events")["ts"].cast(pa.int64()).to_numpy()
    assert (ts[1:] >= ts[:-1]).all()


def test_grouping_domains_match_the_fixture(layout):
    ev = _read(layout, "events")
    assert pc.count_distinct(ev["user_id"]).as_py() == 1500
    assert pc.min_max(ev["user_id"]).as_py() == {"min": 0, "max": 1499}
    assert pc.count_distinct(_read(layout, "part")["p_name"]).as_py() == 64
    emb = _read(layout, "embeddings")["embedding"].to_pylist()
    assert {len(v) for v in emb} == {64}
    assert all(abs(sum(x * x for x in v) - 1) < 1e-5 for v in emb[:100])


def test_documents_hold_near_duplicates_with_a_dup_suffix(layout):
    texts = _read(layout, "documents")["text"].to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == gen.NEAR_DUPS
    base = set(texts)
    assert sum(t[: -len(" dup")] in base for t in dups) > gen.NEAR_DUPS * 0.9
    assert all(10 <= len(t.split(" ")) <= 100 for t in texts)
