"""Build the degenerate-shape fixture for the parity sweep.

The round-8 at-scale sweep proved the gate pattern; this builds its
DATA-SHAPE sibling: sf0.001 plus appended pathological-but-valid rows
— the shapes a 100 TB corpus certainly contains and the synthetic
fixtures certainly don't.  Under ANSI mode any double ratio whose
denominator degenerates to 0 raises DIVIDE_BY_ZERO (the
abtest_two_proportion class), so zero-variance groups, zero-norm
embeddings, zero time deltas, empty/stopword-only text and zero
prices are exactly the rows that flush out unguarded arithmetic; and
because the output is still compared Spark-vs-DuckDB row-for-row
(tools/parity_sweep.py on this dir), semantic disagreements on edge
rows are caught too, not just crashes.

Appended shapes:
- events: a user with ONE event; a user whose events all share one
  timestamp (zero gaps/duration); a user with constant value (zero
  variance/MAD/IQR); an event_type seen exactly once.
- embeddings: the all-zero vector (zero norm — every cosine is
  undefined); two identical vectors (distance 0, ties); a one-hot.
- documents: empty text; single-word text (no 3-shingles); two exact
  duplicates; a stopword-only document (RAKE: zero phrases); a
  single-char language outlier.
- lineitem/orders: a zero-quantity, zero-price line; a 100% discount
  line (1-discount = 0); an order whose lines all ship the same day.

Usage: python tools/make_degenerate_fixture.py [src_sf] [dst]
       (defaults /root/testdata/sf0.001 -> /tmp/degenerate_sf)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/degenerate_sf"
    from pyspark.sql import functions as F  # noqa: F401

    from trip_data_pipeline_spark import get_session
    from trip_data_pipeline_spark.io import load

    spark = get_session("degenerate-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    def write(df, table):
        df.coalesce(1).write.mode("overwrite").parquet(f"{dst}/{table}.parquet")

    # --- events ------------------------------------------------------
    ev = load(spark, src, "events")
    base_ts = 1_700_000_000_000_000  # us
    extra = []
    eid = 10_000_000
    # user 900001: exactly one event
    extra.append((eid, base_ts, 900001, "view", 1.5, "{}")); eid += 1
    # user 900002: five events, SAME timestamp, constant value
    for _ in range(5):
        extra.append((eid, base_ts, 900002, "purchase", 42.0, "{}")); eid += 1
    # user 900003: constant value, distinct seconds
    for k in range(6):
        extra.append((eid, base_ts + k * 1_000_000, 900003, "view", 7.0, "{}"))
        eid += 1
    # an event_type that occurs exactly once in the corpus
    extra.append((eid, base_ts + 123_456, 900004, "degenerate_singleton", 0.0, "{}"))
    eid += 1
    ev_extra = spark.createDataFrame(
        [(e, t, u, ty, v, p) for e, t, u, ty, v, p in extra],
        "event_id bigint, us bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id", "event_type",
        "value", "props",
    )
    write(ev.unionByName(ev_extra), "events")

    # --- embeddings ---------------------------------------------------
    emb = load(spark, src, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    zero = [0.0] * dim
    onehot = [0.0] * dim
    onehot[0] = 1.0
    # keep |x| <= 1.2: corpus_semdedup_bucket declares an int64-safe
    # quantization envelope (|v_i| <= 1500 milli-units) and FAILS
    # LOUDLY outside it by design — the degenerate fixture probes
    # undefined VALUES, not out-of-domain magnitudes
    dup = [float((i % 7) - 3) * 0.4 for i in range(dim)]
    emb_extra = spark.createDataFrame(
        [
            (9_000_001, zero, 0),       # zero norm
            (9_000_002, dup, 1),        # identical pair ->
            (9_000_003, dup, 1),        #   cosine 1, distance 0
            (9_000_004, onehot, 2),     # one-hot
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    write(emb.unionByName(emb_extra), "embeddings")

    # --- documents ------------------------------------------------------
    docs = load(spark, src, "documents")
    from trip_data_pipeline_spark.operators.text_ops import RAKE_STOPS

    stoptext = " ".join(list(RAKE_STOPS)[:3] * 4)
    docs_extra = spark.createDataFrame(
        [
            (9_000_001, "", "en", "degenerate", 0),            # empty text
            (9_000_002, "word", "en", "degenerate", 4),        # no 3-shingle
            (9_000_003, "dup dup dup exact copy here", "en", "degenerate", 26),
            (9_000_004, "dup dup dup exact copy here", "en", "degenerate", 26),
            (9_000_005, stoptext, "en", "degenerate", len(stoptext)),
            (9_000_006, "x", "zz", "degenerate", 1),           # 1-char, odd lang
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    write(docs.unionByName(docs_extra), "documents")

    # --- lineitem / orders ---------------------------------------------
    li = load(spark, src, "lineitem")
    od = load(spark, src, "orders")
    od_extra = spark.createDataFrame(
        [(9_000_001, 1, "F", 0.0, base_ts, "1-URGENT")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, us bigint, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "timestamp_micros(us) AS o_orderdate", "o_orderpriority",
    )
    li_extra = spark.createDataFrame(
        [
            (9_000_001, 1, 1, 1, 0.0, 0.0, 0.0, 0.0, "R", "F", base_ts),
            (9_000_001, 1, 1, 2, 5.0, 100.0, 1.0, 0.0, "R", "F", base_ts),
        ],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, us bigint",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "timestamp_micros(us) AS l_shipdate",
    )
    write(od.unionByName(od_extra), "orders")
    write(li.unionByName(li_extra), "lineitem")

    # --- dims: copy unchanged -------------------------------------------
    for t in ("region", "nation", "customer", "supplier", "part"):
        write(load(spark, src, t), t)
    open(f"{dst}/_DONE", "w").close()
    print(f"wrote {dst}")


def build_null_variant(src: str = "/root/testdata/sf0.001",
                       dst: str = "/tmp/null_sf") -> None:
    """The NULL-payload sibling of the degenerate fixture: sf0.001 plus
    rows whose PAYLOAD columns are NULL — NULL text/lang/source, a
    NULL embedding vector and NULL label, NULL event value/type/props,
    NULL l_discount/l_tax/o_orderpriority.  Keys, foreign keys and
    timestamps stay non-NULL by contract (the fixtures guarantee them,
    as a production pipeline's NOT NULL constraints would); payload
    NULLs are what a real 100 TB corpus certainly contains and every
    engine pair must agree on (three-valued predicates, NULL-skipping
    aggregates, NULL group keys).

    Usage: python -c "from tools.make_degenerate_fixture import \
           build_null_variant; build_null_variant()"
    """
    import os as _os

    from trip_data_pipeline_spark import get_session
    from trip_data_pipeline_spark.io import load

    spark = get_session("null-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    _os.makedirs(dst, exist_ok=True)

    def write(df, table):
        df.coalesce(1).write.mode("overwrite").parquet(f"{dst}/{table}.parquet")

    docs = load(spark, src, "documents")
    docs_extra = spark.createDataFrame(
        [
            (9_100_001, None, "en", "nullprobe", 0),
            (9_100_002, "null lang doc words here", None, "nullprobe", 24),
            (9_100_003, "null source doc words here", "en", None, 26),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    write(docs.unionByName(docs_extra), "documents")

    emb = load(spark, src, "embeddings")
    emb_extra = spark.createDataFrame(
        [(9_100_001, None, 1), (9_100_002, [0.5] * len(emb.select("embedding").first()[0]), None)],
        "vec_id bigint, embedding array<float>, label int",
    )
    write(emb.unionByName(emb_extra), "embeddings")

    ev = load(spark, src, "events")
    base = 1_700_100_000_000_000
    ev_extra = spark.createDataFrame(
        [
            (11_000_001, base, 910001, None, 3.5, "{}"),
            (11_000_002, base + 1_000_000, 910001, "view", None, "{}"),
            (11_000_003, base + 2_000_000, 910001, "purchase", 2.5, None),
        ],
        "event_id bigint, us bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id", "event_type",
        "value", "props",
    )
    write(ev.unionByName(ev_extra), "events")

    li = load(spark, src, "lineitem")
    od = load(spark, src, "orders")
    od_extra = spark.createDataFrame(
        [(9_100_001, 1, "O", 123.45, base, None)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, us bigint, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "timestamp_micros(us) AS o_orderdate", "o_orderpriority",
    )
    li_extra = spark.createDataFrame(
        [(9_100_001, 1, 1, 1, 7.0, 700.0, None, None, "N", "O", base)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, us bigint",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "timestamp_micros(us) AS l_shipdate",
    )
    write(od.unionByName(od_extra), "orders")
    write(li.unionByName(li_extra), "lineitem")
    for t in ("region", "nation", "customer", "supplier", "part"):
        write(load(spark, src, t), t)
    open(f"{dst}/_DONE", "w").close()
    print(f"wrote {dst}")


def build_stream_edge_variant(src: str = "/root/testdata/sf0.001",
                              dst: str = "/tmp/stream_edge_sf") -> None:
    """Streaming micro-batch edge fixture (round-9, VERDICT r8 item 7):
    sf0.001 events plus the watermark/late-data shapes the standard
    layout never exercises.  The degenerate/NULL/unicode classes cover
    batch payloads; the 14 §2.9 streaming ops' event-TIME edges — the
    inputs where watermark eviction, window finalization ties and
    µs-precision join bounds actually bind — had no pathological
    fixture before this one.

    Appended shapes (sweep scope: the streaming ops, via
    tools/run_stream_edge_parity.py -> docs/PARITY_STREAM_EDGE.json):
    - NULL event time: rows whose ts is NULL (a real ingest certainly
      produces some).  Declared semantics: event-time operators
      exclude them at the source (read_events_stream filters, oracles
      say WHERE ts IS NOT NULL) — without the uniform rule the engine
      is silently mixed (window aggs drop NULL windows, dedup/state
      ops would pass NaT into state).
    - watermark-finalization tie: the on-time arm's max ts is pinned
      to 23:10:00.000000 so the 10-min watermark lands EXACTLY on an
      hour-window end (finalize iff end <= wm — the tie probes the
      boundary in both engines).
    - µs join bounds: a purchase with views at exactly -1h (inclusive
      bound), -1h-1µs (outside), -1µs (inside) and 0 (strict bound) —
      the stream_stream_join class the round-8 sweep caught at 10x,
      now pinned at exact ties.
    - all-late user: every event before the late-batch cutoff, plus
      rows straddling the cutoffs (23:59:59.999999 vs 00:00:00) and
      one before the fixture's global min (deep-late).
    - session-gap ties: fixed-gap events exactly 30min apart (end-
      exclusive window -> 2 sessions) and 30min-1µs (merge); dynamic-
      gap events exactly at the previous event's span end (touching
      spans do NOT merge) and 1µs inside (merge).
    - exact duplicate rows: identical (user, type, ts) pairs for the
      streaming dedup state path.
    """
    import os as _os
    from datetime import datetime, timezone

    from trip_data_pipeline_spark import get_session
    from trip_data_pipeline_spark.io import load

    def us(*args) -> int:
        return int(datetime(*args, tzinfo=timezone.utc).timestamp() * 1_000_000)

    spark = get_session("stream-edge-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    _os.makedirs(dst, exist_ok=True)

    H = 3_600_000_000  # 1h in µs
    extra: list[tuple] = []
    # A. NULL event time (ts=None) — plus the same (user, type) key
    #    again WITH a timestamp, so dedup state sees both shapes.
    extra += [
        (12_000_001, None, 920001, "view", 1.0, "{}"),
        (12_000_002, None, 920001, "purchase", 2.0, "{}"),
        (12_000_003, None, 920002, "view", 3.0, "{}"),
        (12_000_004, us(2024, 1, 24, 8, 0, 0), 920002, "view", 4.0, "{}"),
    ]
    # B. watermark-finalization tie: pin the on-time arm's max to
    #    23:10:00 exactly (existing on-time max is 20:49:38) -> wm =
    #    23:00:00.000000 == end of window [22:00, 23:00).
    extra += [
        (12_000_010, us(2024, 1, 19, 23, 10, 0), 920003, "view", 1.0, "{}"),
        (12_000_011, us(2024, 1, 19, 22, 30, 0), 920003, "view", 1.0, "{}"),
        (12_000_012, us(2024, 1, 19, 23, 5, 0), 920003, "view", 1.0, "{}"),
    ]
    # C. µs-precision join bounds (views around a purchase at TP)
    tp = us(2024, 1, 25, 12, 0, 0)
    extra += [
        (12_000_020, tp, 920004, "purchase", 9.0, "{}"),
        (12_000_021, tp - H, 920004, "view", 1.0, "{}"),        # inclusive edge
        (12_000_022, tp - H - 1, 920004, "view", 1.0, "{}"),    # 1µs outside
        (12_000_023, tp - 1, 920004, "view", 1.0, "{}"),        # 1µs inside
        (12_000_024, tp, 920004, "view", 1.0, "{}"),            # strict < edge
    ]
    # D. all-late user + cutoff straddle + deep-late (before global min)
    extra += [
        (12_000_030, us(2024, 1, 1, 0, 0, 0), 920005, "view", 1.0, "{}"),
        (12_000_031, us(2024, 1, 1, 0, 10, 0), 920005, "purchase", 2.0, "{}"),
        (12_000_032, us(2024, 1, 2, 23, 59, 59) + 999_999, 920005, "view", 1.0, "{}"),
        (12_000_033, us(2024, 1, 3, 0, 0, 0), 920005, "view", 1.0, "{}"),
        (12_000_034, us(2023, 12, 30, 6, 0, 0), 920005, "view", 1.0, "{}"),
    ]
    # E. fixed-gap session ties (30min = 1_800_000_000 µs, end-exclusive)
    s = us(2024, 1, 26, 0, 0, 0)
    extra += [
        (12_000_040, s, 920006, "view", 1.0, "{}"),
        (12_000_041, s + 1_800_000_000, 920006, "view", 1.0, "{}"),      # new sess
        (12_000_042, s + 2 * 1_800_000_000 - 1, 920006, "view", 1.0, "{}"),  # merge
    ]
    # F. dynamic-gap ties: value 0.0 -> gap 600s; touching spans do
    #    not merge (us >= pmax), 1µs inside does.
    d = us(2024, 1, 27, 0, 0, 0)
    extra += [
        (12_000_050, d, 920007, "view", 0.0, "{}"),
        (12_000_051, d + 600_000_000, 920007, "view", 0.0, "{}"),      # touch: new
        (12_000_052, d + 2 * 600_000_000 - 1, 920007, "view", 0.0, "{}"),  # merge
    ]
    # G. exact duplicate rows (same user, type, ts) for dedup state
    g = us(2024, 1, 28, 9, 0, 0)
    extra += [
        (12_000_060, g, 920008, "view", 5.0, "{}"),
        (12_000_061, g, 920008, "view", 5.0, "{}"),
    ]

    ev = load(spark, src, "events")
    ev_extra = spark.createDataFrame(
        extra,
        "event_id bigint, us bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id", "event_type",
        "value", "props",
    )
    ev.unionByName(ev_extra).coalesce(1).write.mode("overwrite").parquet(
        f"{dst}/events.parquet"
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        load(spark, src, t).coalesce(1).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    open(f"{dst}/_DONE", "w").close()
    print(f"wrote {dst}")


def build_skew_variant(src: str = "/root/testdata/sf0.001",
                       dst: str = "/tmp/skew_sf") -> None:
    """Skewed-key fixture (round-11, VERDICT r10 item 4) — the one data
    shape the degenerate/NULL/unicode/stream-edge classes don't probe:
    HOT KEYS.  At 100 TB a power-law key distribution is the rule, not
    the exception — one user dominating an event stream, one order
    with a pathological line fanout, one language dominating a corpus
    — and it is the failure mode AQE skew-join splitting exists for.
    The plan gates prove the knobs are on; this fixture plus a full
    parity sweep (docs/PARITY_SKEW.json) proves the ANSWERS survive
    them: per-key aggregates, window functions over the hot partition,
    sessionization of the hot user, join fanout through the hot order,
    and language-conditioned corpus ops must all agree with DuckDB
    row-for-row on exactly this shape.

    Appended shapes (sf0.001 base: 1000 events / 15 users, 6000
    lineitem / 1500 orders, 500 docs):
    - events: user 940001 gets 1000 events — 50% of the stream on ONE
      key.  Deterministic gap cycle crossing the 30-min session
      boundary repeatedly (multi-session), all 5 event types with a
      2x bias toward 'view', values on a deterministic ramp with
      purchase spikes.
    - lineitem/orders: order 9300001 carries 600 lines (baseline max
      fanout: 7) — l_linenumber 1..600, FKs cycling the full existing
      part/supplier key ranges so star joins route real dimension
      rows through the hot key; one matching orders row.
    - documents: 500 additional 'en' docs (en: 193/500 -> 693/1000 =
      69% dominant) with deterministic index-arithmetic texts over a
      small vocabulary — heavy shared n-gram mass for the dedup /
      LSH / TF-IDF families, including 20 planted exact duplicates
      (10 pairs) inside the hot language.
    """
    import os as _os

    from trip_data_pipeline_spark import get_session
    from trip_data_pipeline_spark.io import load

    spark = get_session("skew-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    _os.makedirs(dst, exist_ok=True)

    def write(df, table):
        df.coalesce(1).write.mode("overwrite").parquet(f"{dst}/{table}.parquet")

    # --- events: one user with 50% of the stream -----------------------
    base = 1_705_000_000_000_000  # 2024-01-11T19:06:40Z, inside fixture span
    gaps_s = [10, 45, 130, 2100, 25, 70, 400, 5400, 15, 300]  # 2 gaps > 30min
    types = ["view", "view", "click", "purchase", "signup", "error", "view"]
    rows = []
    t = base
    for k in range(1000):
        t += gaps_s[k % len(gaps_s)] * 1_000_000
        ty = types[k % len(types)]
        val = round((k % 37) * 1.5 + (250.0 if ty == "purchase" else 0.0), 2)
        rows.append((13_000_001 + k, t, 940001, ty, val, "{}"))
    ev_extra = spark.createDataFrame(
        rows,
        "event_id bigint, us bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id", "event_type",
        "value", "props",
    )
    write(load(spark, src, "events").unionByName(ev_extra), "events")

    # --- lineitem/orders: one hot order key -----------------------------
    li = load(spark, src, "lineitem")
    od = load(spark, src, "orders")
    od_extra = spark.createDataFrame(
        [(9_300_001, 7, "O", 654321.0, base, "3-MEDIUM")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, us bigint, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "timestamp_micros(us) AS o_orderdate", "o_orderpriority",
    )
    li_rows = []
    for k in range(600):
        li_rows.append((
            9_300_001, k % 200, k % 10, k + 1,
            float(1 + k % 50), round(900.0 + (k % 97) * 13.5, 2),
            round((k % 11) * 0.01, 2), round((k % 9) * 0.01, 2),
            ("R", "A", "N")[k % 3], ("F", "O")[k % 2],
            base + k * 3_600_000_000,
        ))
    li_extra = spark.createDataFrame(
        li_rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, us bigint",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "timestamp_micros(us) AS l_shipdate",
    )
    write(od.unionByName(od_extra), "orders")
    write(li.unionByName(li_extra), "lineitem")

    # --- documents: one dominant language -------------------------------
    vocab = (
        "data pipeline batch stream shuffle partition join window "
        "aggregate filter project scan sort hash merge spill broadcast "
        "skew salt bucket codegen arrow vector columnar parquet"
    ).split()
    docs_rows = []
    for k in range(500):
        if k >= 480:  # 10 planted exact-duplicate pairs in the hot lang
            k_src = 480 - (k - 480) // 2 * 7 - 1  # deterministic earlier doc
            text = " ".join(
                vocab[(k_src * 3 + j * 5) % len(vocab)]
                for j in range(8 + k_src % 23)
            )
        else:
            text = " ".join(
                vocab[(k * 3 + j * 5) % len(vocab)] for j in range(8 + k % 23)
            )
        docs_rows.append((13_500_001 + k, text, "en", "skewprobe", len(text)))
    docs_extra = spark.createDataFrame(
        docs_rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    write(load(spark, src, "documents").unionByName(docs_extra), "documents")

    # --- dims + embeddings: copy unchanged ------------------------------
    for t2 in ("region", "nation", "customer", "supplier", "part",
               "embeddings"):
        write(load(spark, src, t2), t2)
    open(f"{dst}/_DONE", "w").close()
    print(f"wrote {dst}")


if __name__ == "__main__":
    main()


def build_unicode_variant(src: str = "/root/testdata/sf0.001",
                          dst: str = "/tmp/unicode_sf") -> None:
    """Multibyte-text sibling (third shape class): accents, CJK, emoji
    and a combining-diacritic sequence — where char-indexed and
    byte-indexed logic diverge (the round-8 unicode sweep caught the
    frame sampler's oracle reading CHAR 32 while the op samples BYTE
    32 of the utf-8 payload).  Char-level functions (length, substr,
    split, md5-over-utf-8, trigrams, entropy) agree across engines on
    these rows — locked by docs/PARITY_UNICODE.json.

    Usage: python -c "from tools.make_degenerate_fixture import \
           build_unicode_variant; build_unicode_variant()"
    """
    import os as _os

    from trip_data_pipeline_spark import get_session
    from trip_data_pipeline_spark.io import load

    spark = get_session("unicode-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    _os.makedirs(dst, exist_ok=True)
    docs = load(spark, src, "documents")
    extra = spark.createDataFrame(
        [
            (9200001, "café touché déjà vu naïve résumé", "fr", "uniprobe", 33),
            (9200002, "数据 管道 批处理 数据 流式 处理", "zh", "uniprobe", 17),
            (9200003, "mixed ascii café 中文 🚀 emoji words here", "en",
             "uniprobe", 40),
            (9200004, "é combining acute vs precomposed é here", "en",
             "uniprobe", 40),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(
        f"{dst}/documents.parquet"
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        load(spark, src, t).coalesce(1).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    open(f"{dst}/_DONE", "w").close()
    print(f"wrote {dst}")
