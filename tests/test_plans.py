"""Physical-plan shape assertions (SURVEY.md §4 / docs/SCALE.md).

These tests check that Catalyst produced the plan the 100 TB design
requires: filters pushed into scans, columns pruned, dims broadcast,
top-k compiled to bounded operators, and (globally) no Python row
evaluation outside the operators that exist to cover the UDF surface.
The last test is about compiled code rather than plan shape: a warm
headline pass must reuse its generated classes.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from trip_data_pipeline_spark.registry import OPS, queries

queries()

SF = "/root/testdata/sf0.01"

# operators that intentionally run Python (the §2.10 UDF surface and
# pandas-based multimodal/streaming-state plumbing)
PYTHON_OK = {
    "udf_python_scalar",
    "udf_pandas_scalar",
    "udaf_pandas_grouped_agg",
    "udtf_grouped_map_normalize",
    "udtf_python",
    "udf_arrow_batch",
    "multimodal_decode_ppm",
    "multimodal_frame_sample",
    "multimodal_ppm_channel_stats",
    "sim_cosine_topk_vectorized",
    "stream_stateful_runstate",
    "scan_python_datasource",  # the Python DataSource API is the op
    "udf_pandas_iter_scalar",  # SCALAR_ITER pandas UDF is the op
    "multimodal_decode_wav",  # mapInPandas RIFF/WAVE decoder is the op
    "pipeline_multimodal_prep",  # dispatching mapInPandas decoder is the op
    "sessionize_gap_and_cap",  # sequential gap+cap state needs applyInPandas
    "udf_map_in_arrow",  # the Arrow-native batch map surface is the op
    "multimodal_ppm_resize_nn",  # mapInPandas decode+resize is the op
    "multimodal_wav_decimate",  # mapInPandas decode+decimate is the op
    "timeseries_cusum_drift",  # sequential CUSUM state needs applyInPandas
    "multimodal_image_phash",  # mapInPandas PPM decode + aHash is the op
    "multimodal_audio_vad",  # mapInPandas WAV decode + VAD is the op
    "multimodal_image_tiles",  # mapInPandas PPM decode + patchify is the op
    "multimodal_video_scene_cut",  # mapInPandas frame-walk decode is the op
    "multimodal_audio_zcr",  # mapInPandas WAV decode + ZCR is the op
    "multimodal_image_histogram_stats",  # mapInPandas decode + histogram
    "multimodal_audio_clipping",  # mapInPandas WAV decode + clip gate
    "multimodal_tile_watermark_detect",  # consumes the tiles decode
    "multimodal_aspect_buckets",  # mapInPandas dim decode is the op
    "multimodal_image_symmetry_score",  # mapInPandas decode + flip
    "dedup_phash_banded",  # mapInPandas phash feeds the band join
    "multimodal_grayscale_detect",  # mapInPandas moment sums
    # numpy MinHash/SimHash folds: interpreted HOF lambdas measured
    # 17 s (64-perm min-fold) / ~25 s (56-bit vote fold) vs ~2 s Arrow
    # at 10x (docs/SCALE.md crossover note)
    "dedup_near_minhash",
    "dedup_minhash_recall_eval",
    "dedup_simhash",
    "dedup_simhash_incremental",
    "corpus_decontam_fuzzy",  # shares the Arrow MinHash signature path
    # per-cluster blocked exact-int matmul replaces 3 interpreted
    # 64-dim HOF folds per pair: 27.1 s -> 5.8 s at 10x (the C-S
    # prefilter VERDICT r7 suggested is non-selective on this data:
    # measured prefix-16 energy fraction 0.251, slack 0.87 > 0.35)
    "corpus_semdedup_bucket",
}

# Ops whose plans legitimately contain CartesianProduct /
# BroadcastNestedLoopJoin nodes.  Every entry is bounded by
# construction — verified per-op (a whole-registry plan sweep surfaced
# the set; each cross/inequality site was read): either a 1-row global
# aggregate / tiny threshold relation broadcast back over the stream,
# or a declared-bounded brute-force baseline whose scale path is a
# separate bucketed op.  Anything NOT listed here must compile
# cartesian-free — enforced by test_plan_shape_sweep below.
CARTESIAN_OK = {
    # the §2.3 contract op: the bounded cross join IS the operator
    "join_cross_small",
    # declared brute-force baselines (bounded probe/id range; scale
    # path = sim_ann_ivf_bucket / LSH band joins)
    "sim_cosine_pairwise_topk",
    "sim_knn_label_vote",
    "sim_ann_recall_eval",
    "knn_eval_confusion",
    "dedup_embedding_cosine",
    # bounded centroid/codebook broadcast (crossJoin + local argmin)
    "embed_pq_assign",
    "corpus_semdedup_bucket",
    "embed_ivf_balance_report",
    # 1-row global aggregate / tiny threshold relation broadcast back
    # over the stream (count totals, percentile bounds, cut ranks,
    # BM25 constants, pareto thresholds, merge winners, ...)
    "agg_pareto_coverage",
    "alloc_largest_remainder",
    "bpe_apply_merge_recount",
    "conversion_time_bounded",
    "corpus_df_band_prune",
    "dedup_minhash_recall_eval",
    "events_winsorize_int",
    "freq_heavy_hitters_exact",
    "funnel_conversion",
    "orders_repurchase_curve",
    "q11_important_stock",
    "q22_idle_customer_balance",
    "sample_negatives_hash_ring",
    "scan_csv_malformed_permissive",
    "supplier_pareto_8020",
    "text_bigram_pmi_lift",
    "text_bm25_rational_topk",
    "text_vocab_growth",
    "timeseries_gap_fill_locf",
    "vocab_topk_coverage",
    # bounded brand-frequency relations broadcast into the pair probe
    "basket_pair_affinity",
    # O(days^2) pair join over PRE-AGGREGATED daily rows (bounded by
    # the calendar, not the data; docstring has the decade math)
    "timeseries_theil_sen_int",
}

# Partitionless windows / global sorts that compile to an
# `Exchange SinglePartition` with NO aggregation below it — every row
# through one task — are only allowed where the input is bounded by
# construction and the docstring says so.  (Everywhere else a
# SinglePartition exchange must sit over an aggregate: digit/threshold
# relations, partition summaries, value histograms.)
SINGLE_PARTITION_OK = {
    # §2.6 / §2.8 contract ops: global rank IS the semantics, and the
    # probe side is bounded by the fixed o_orderkey < 3000 filter.
    "sort_multikey_nulls",
    "struct_nested",
}

# streaming + side-effecting ops execute work at build time; plan
# inspection of the returned (already materialized / sink-reading)
# DataFrame would not show the interesting pipeline, and building them
# is slow — excluded from the global sweep.
SKIP_PLAN_SWEEP = {
    name
    for name, o in OPS.items()
    if o.category.startswith("2.9") or name.startswith("sink_")
    or name in {"join_bucketed_colocated", "stream_static_join",
                # iterative: executes supersteps at build time; the
                # returned df is a localCheckpoint scan (no plan to read)
                "graph_connected_components",
                # side-effecting compaction; returns a literal summary
                "layout_compact_small_files",
                # executes its audited action at build time (observe
                # metrics collect with the action); returns a local
                # 1-row metrics relation — no pipeline plan to read
                "observe_metrics_audit"}
}


def _plan(spark, name: str, sf_dir: str = SF) -> str:
    df = OPS[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
              "TakeOrdered")


def _single_partition_over_raw(tree: str) -> list[str]:
    """Lines of `tree` (a physical-plan tree string) that are an
    Exchange SinglePartition with NO aggregation anywhere below it —
    i.e. a global sort/window over raw rows.  Used by the sweep gate
    below."""
    import re

    lines = tree.split("== Initial Plan ==")[0].splitlines()

    def depth(line: str) -> int:
        return len(re.match(r"^[\s:+-]*", line).group(0))

    hits = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = depth(line)
        sub = []
        for nxt in lines[i + 1:]:
            if not nxt.strip():
                break
            if depth(nxt) <= d and ("+-" in nxt or ":-" in nxt):
                break
            sub.append(nxt)
        subtree = "\n".join(sub)
        if not any(a in subtree for a in _AGG_NODES):
            hits.append(line.strip()[:100])
    return hits


def test_flagship_pushdown_and_pruning(spark):
    p = _plan(spark, "agg_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # 7 of 11 lineitem columns read
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in rs and "l_quantity" in rs
    assert p.count("HashAggregate") >= 2  # partial + final


def test_star_join_broadcasts_dims(spark):
    p = _plan(spark, "join_star_5way")
    assert "BroadcastHashJoin" in p
    rs = [l for l in p.splitlines() if "ReadSchema" in l and "l_extendedprice" in l]
    assert rs and "l_quantity" not in rs[0]  # fact scan pruned to 3 cols


def test_star_join_strategy_switch(spark):
    """The scan-size switch in join_star_5way: under the cap the fact
    join is a map-side broadcast (no Exchange feeding the lineitem
    join); over it (cap forced to 1 byte) the same query compiles to
    SHUFFLE_HASH builds, and both branches return identical rows."""
    from trip_data_pipeline_spark.operators import joins as J
    from trip_data_pipeline_spark.registry import evict_plan

    p_small = _plan(spark, "join_star_5way")
    assert "BroadcastHashJoin" in p_small
    a = sorted(map(tuple, OPS["join_star_5way"].fn(spark, SF).collect()))
    old = J._STAR_BROADCAST_CAP
    # The cap is a construction input, so flipping it out-of-band
    # requires evicting the plan memo (registry.evict_plan contract).
    J._STAR_BROADCAST_CAP = 1
    evict_plan(spark, "join_star_5way")
    try:
        p_big = _plan(spark, "join_star_5way")
        assert "ShuffledHashJoin" in p_big
        b = sorted(map(tuple, OPS["join_star_5way"].fn(spark, SF).collect()))
    finally:
        J._STAR_BROADCAST_CAP = old
        evict_plan(spark, "join_star_5way")
    assert a == b


def test_star_join_probe_tier_broadcasts_small_reduced_side(spark):
    """Round-7 middle tier: when the orders scan is over the bytes cap
    but the count probe finds the REDUCED relation small (rows *
    _STAR_ROW_BYTES under the cap), the plan must still be the
    broadcast shape — the scan-bytes proxy alone mis-sent a ~440 MB
    reduced side to the 2.4x-slower shuffle branch at 1000x.  At
    sf0.01: orders scan 281,398 B > 100,000 B cap, probe 891 rows *
    48 B = 42,768 B <= cap -> broadcast."""
    from trip_data_pipeline_spark.operators import joins as J
    from trip_data_pipeline_spark.registry import evict_plan

    a = sorted(map(tuple, OPS["join_star_5way"].fn(spark, SF).collect()))
    old = J._STAR_BROADCAST_CAP
    J._STAR_BROADCAST_CAP = 100_000
    evict_plan(spark, "join_star_5way")
    try:
        p = _plan(spark, "join_star_5way")
        assert "BroadcastHashJoin" in p and "ShuffledHashJoin" not in p
        b = sorted(map(tuple, OPS["join_star_5way"].fn(spark, SF).collect()))
    finally:
        J._STAR_BROADCAST_CAP = old
        evict_plan(spark, "join_star_5way")
    assert a == b


def test_star_join_unstatable_path_fails_closed(spark, monkeypatch):
    """ADVICE r6 item 1, sharpened in round 7: the broadcast branch is
    NEVER taken on an UNMEASURED relation.  A scan Spark cannot size
    reports spark.sql.defaultSizeInBytes (Long.MaxValue), which is over
    the cap, so the decision falls through to the count probe; when
    the MEASURED reduced side is over the cap, the plan must compile
    to the SHUFFLE_HASH shape — never a blind broadcast."""
    from trip_data_pipeline_spark.operators import joins as J
    from trip_data_pipeline_spark.registry import evict_plan

    unknown = int(spark.conf.get("spark.sql.defaultSizeInBytes").rstrip("b"))
    assert unknown == (1 << 63) - 1
    monkeypatch.setattr(J, "_scan_bytes", lambda df: unknown)
    monkeypatch.setattr(J, "_star_reduced_rows", lambda o, dims: 10**9)
    evict_plan(spark, "join_star_5way")
    try:
        p = _plan(spark, "join_star_5way")
        assert "ShuffledHashJoin" in p, "big measured relation must not broadcast"
    finally:
        monkeypatch.undo()
        evict_plan(spark, "join_star_5way")


def test_star_join_uri_scan_broadcasts_without_probe(spark, monkeypatch):
    """join_star_5way asks Spark for the orders scan's size, so a small
    table read through a URI that os cannot stat (file://, and likewise
    s3a:// or hdfs://) takes the broadcast branch with no count probe,
    and returns the plain path's rows."""
    from trip_data_pipeline_spark.operators import joins as J
    from trip_data_pipeline_spark.registry import evict_plan

    uri = f"file://{SF}"
    a = sorted(map(tuple, OPS["join_star_5way"].fn(spark, SF).collect()))

    def no_probe(o, dims):
        raise AssertionError("count probe ran on a sized scan")

    monkeypatch.setattr(J, "_star_reduced_rows", no_probe)
    evict_plan(spark, "join_star_5way")
    try:
        p = _plan(spark, "join_star_5way", uri)
        assert "BroadcastHashJoin" in p and "ShuffledHashJoin" not in p
        b = sorted(map(tuple, OPS["join_star_5way"].fn(spark, uri).collect()))
    finally:
        monkeypatch.undo()
        evict_plan(spark, "join_star_5way")
    assert a == b


def test_topk_compiles_bounded(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "limit_topk")
    assert "WindowGroupLimit" in _plan(spark, "win_topk_per_group")


def test_predicate_pushdown_compound(spark):
    p = _plan(spark, "filter_conjunctive")
    assert "PushedFilters: [Or(And(" in p


PY_PLAN_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
)


@pytest.mark.parametrize("name", sorted(set(OPS) - SKIP_PLAN_SWEEP))
def test_plan_shape_sweep(spark, name):
    """Global plan-shape gate over every buildable operator:
    (a) non-UDF operators stay fully JVM-side — no Python evaluation
    node of any kind; (b) operators outside the audited CARTESIAN_OK
    set compile without CartesianProduct / BroadcastNestedLoopJoin —
    unbounded pairing is the one plan shape that cannot be allowed to
    regress silently at 100 TB; (c) operators outside
    SINGLE_PARTITION_OK never put an Exchange SinglePartition over
    unaggregated input — a partitionless window / global sort over
    raw rows is a one-task collapse at scale (the round-7 sweep that
    caught dq_sequence_gaps and events_winsorize_int)."""
    df = OPS[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    if name not in PYTHON_OK:
        for node in PY_PLAN_NODES:
            assert node not in p, f"{name} fell back to Python ({node})"
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in p, f"{name}: unbounded cartesian"
        assert "BroadcastNestedLoopJoin" not in p, f"{name}: unbounded BNLJ"
    # (c) round-7 gate: no partitionless window / global sort over raw
    # rows — an Exchange SinglePartition must sit over an aggregate
    # (bounded relation) unless the op is in the declared allowlist.
    if name not in SINGLE_PARTITION_OK:
        tree = df._jdf.queryExecution().executedPlan().toString()
        hazards = _single_partition_over_raw(tree)
        assert not hazards, (
            f"{name}: SinglePartition over unaggregated input: {hazards}"
        )


def test_q5_broadcasts_all_dims(spark):
    p = _plan(spark, "q5_local_supplier_volume")
    # formatted explain lists nodes in tree + details: 5 joins -> >=5 hits
    assert p.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in p  # only lineitem<->orders shuffles


def test_q4_exists_becomes_semi_join(spark):
    p = _plan(spark, "q4_order_priority_exists")
    assert "LeftSemi" in p


def test_q6_full_pushdown(spark):
    p = _plan(spark, "q6_forecast_revenue")
    pf = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in rs  # pruned to the 4 needed columns


def test_embed_quantize_is_map_only(spark):
    p = _plan(spark, "embed_quantize_int8")
    assert "Exchange" not in p  # zero-shuffle projection


def test_layout_partition_pruning(spark):
    """The read-back side of the partitioned+sorted publish layout must
    prune at the directory level (PartitionFilters on o_year) and read
    only the projected columns."""
    p = _plan(spark, "layout_partition_sort")
    assert "PartitionFilters" in p and "o_year" in p
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "o_orderdate" not in rs[0]  # source date col not re-read


def test_interval_merge_single_data_shuffle(spark):
    """Two window passes + groupBy all share the user_id partitioning:
    exactly one hash exchange (plus the output sort's range exchange).
    Locks in the shuffle-reuse property docs/SCALE.md claims."""
    p = _exec_plan(spark, "interval_merge_overlaps")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange rangepartitioning") == 1, p


def test_markov_checkpointed_bigrams(spark):
    """After checkpointing the bigram counts, the probability join must
    not re-run the events window: at most 3 exchanges total (group,
    broadcast-side agg, output sort)."""
    p = _exec_plan(spark, "events_markov_transition")
    assert p.count("Exchange") <= 3, p


def test_deterministic_sample_is_map_only(spark):
    """The md5-bucket sample predicate must evaluate in the scan stage:
    no hash exchange before the output sort."""
    p = _exec_plan(spark, "sample_deterministic_hash")
    assert p.count("Exchange hashpartitioning") == 0, p


def _exec_plan(spark, name: str) -> str:
    """Executed-plan string with inline partitioning arguments (the
    formatted explain moves them to a details section)."""
    df = OPS[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_ann_ivf_is_equijoin_not_bnlj(spark):
    """The ANN scale path must prune via the bucket equi-join: a
    BroadcastHashJoin on the bucket key, never a BroadcastNestedLoop /
    cartesian all-pairs scan (that is brute-force's job)."""
    p = _exec_plan(spark, "sim_ann_ivf_bucket")
    assert p.count("BroadcastHashJoin") == 1, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_geo_haversine_single_shuffle(spark):
    """lag() window and the per-user groupBy share the user_id hash
    partitioning: exactly one exchange, one events scan."""
    p = _exec_plan(spark, "geo_haversine_trip_distance")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Scan parquet") == 1, p


def test_geo_density_partial_agg_bounded_topk(spark):
    """Cell density: map-side partial aggregate before the single
    shuffle, and the top-20 compiles to TakeOrderedAndProject (no
    global sort)."""
    p = _exec_plan(spark, "geo_grid_cell_density")
    assert p.count("HashAggregate") == 2, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "TakeOrderedAndProject" in p, p


def test_hypertable_reaggregates_not_rescans(spark):
    """Daily level must be computed FROM the hourly aggregate: one raw
    events scan, two partial+final aggregate pairs."""
    p = _exec_plan(spark, "rollup_hypertable_2level")
    assert p.count("Scan parquet") == 1, p
    assert p.count("HashAggregate") == 4, p
    assert p.count("Exchange hashpartitioning") == 2, p


def test_gap_fill_broadcasts_observations(spark):
    """Spine <- observations join is a broadcast hash join (the spine
    side stays partition-local); no sort-merge shuffle pair.  The one
    BNLJ is the bounded 10x30 spine cross join."""
    p = _exec_plan(spark, "timeseries_gap_fill_locf")
    assert p.count("BroadcastHashJoin") == 1, p
    assert "SortMergeJoin" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_cumulative_distinct_two_shuffles(spark):
    """The rewrite's whole point: min-first-seen (shuffle on user_id)
    + daily count (shuffle on day) + tiny running sum — never a
    windowed COUNT(DISTINCT) over an expanding frame."""
    p = _exec_plan(spark, "agg_cumulative_distinct")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("Scan parquet") == 1, p


def test_iqr_fences_broadcast_join(spark):
    """Per-group fences (tiny) broadcast back onto the value stream:
    BroadcastHashJoin, no sort-merge."""
    p = _exec_plan(spark, "dq_outlier_iqr")
    assert p.count("BroadcastHashJoin") == 1, p
    assert "SortMergeJoin" not in p, p


def test_repetition_metrics_map_only(spark):
    """Quality scoring must stay a narrow map pass: no KEYED shuffle
    (the one round-robin exchange is the deliberate CPU rebalance of a
    byte-small single-split source — common.spread)."""
    p = _exec_plan(spark, "text_repetition_metrics")
    assert p.count("Exchange hashpartitioning") == 0, p
    assert p.count("Exchange RoundRobinPartitioning") == 1, p
    assert p.count("Scan parquet") == 1, p


def test_boilerplate_join_free_single_gram_shuffle(spark):
    """Round-3 ADVICE fix: the boilerplate-gram set grows with the
    corpus, so it must NOT be broadcast (or joined at all) — document
    frequency is a window over the gram partition.  Exactly one
    gram-keyed shuffle of the gram stream; the other two exchanges
    carry only compact (doc_id, gram, n) / (doc_id, sums) rows."""
    p = _exec_plan(spark, "corpus_boilerplate_ngram_prune")
    assert "Join" not in p, p
    assert "Broadcast" not in p, p
    assert p.count("Exchange hashpartitioning") == 3, p
    assert p.count("Scan parquet") == 1, p


def test_contamination_join_free_single_gram_shuffle(spark):
    """Round-3 ADVICE fix: the eval-gram set is ~25% of the corpus
    (linear growth), so no broadcast and no join — the hit flag is a
    max(is_eval) window computed in place on the gram-keyed stream."""
    p = _exec_plan(spark, "eval_contamination_ngram")
    assert "Join" not in p, p
    assert "Broadcast" not in p, p
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("Scan parquet") == 1, p


def test_lang_balance_uses_window_group_limit(spark):
    """Quota resampling compiles to WindowGroupLimit (rank prune
    before the per-lang sort) with a single lang shuffle."""
    p = _exec_plan(spark, "corpus_lang_balance_resample")
    assert "WindowGroupLimit" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_packing_shard_local_single_shuffle(spark):
    """Shard-local packing: the running-sum window and the (shard, bin)
    groupBy share the shard hash partitioning — exactly one exchange,
    never a global single-partition window."""
    p = _exec_plan(spark, "pack_sequences_greedy")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "SinglePartition" not in p, p


def test_lsh_ann_is_equijoin(spark):
    """Hyperplane LSH, like IVF, must probe via the bucket equi-join —
    every join hash-based (bucket assignment join-back + broadcast
    probe), never an all-pairs BNLJ/cartesian scan."""
    p = _exec_plan(spark, "sim_ann_lsh_hyperplane")
    assert p.count("BroadcastHashJoin") >= 1, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_bpe_two_level_rollup(spark):
    """BPE pair counting must collapse tokens to the distinct-word
    vocabulary BEFORE extracting pairs (two keyed shuffles: word
    counts, then pair sums — never pair-explosion of raw token
    instances), and the top-40 must compile to TakeOrderedAndProject."""
    p = _exec_plan(spark, "bpe_pair_counts")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("Scan parquet") == 1, p


def test_lm_bigram_window_on_aggregate(spark):
    """The P(w2|w1) head total must be a window over the ALREADY
    aggregated bigram table (two keyed shuffles of gram counts), with
    the bounded top-30 as TakeOrderedAndProject."""
    p = _exec_plan(spark, "lm_bigram_condprob")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("Scan parquet") == 1, p


def test_overlap_chain_equijoin_not_allpairs(spark):
    """Suffix==prefix overlap detection is an equi-join on the
    fixed-width boundary key — never an all-pairs scan."""
    p = _exec_plan(spark, "doc_overlap_chain")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_entropy_counts_shuffle_not_text(spark):
    """Char entropy: the keyed shuffles carry (doc, char, count) and
    (doc, count) rows — exactly two hash exchanges after the explode,
    one scan."""
    p = _exec_plan(spark, "text_entropy_char")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("Scan parquet") == 1, p


def test_anon_k_single_partial_final_agg(spark):
    """The k-anonymity gate is one partial+final aggregation — one
    exchange, two HashAggregates, no join."""
    p = _exec_plan(spark, "anon_k_suppress")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("HashAggregate") == 2, p
    assert "Join" not in p, p


def test_mixture_reweight_window_on_tiny_agg(spark):
    """Mixture weights: the global window runs on the per-lang
    aggregate (|langs| rows) — the SinglePartition exchange is the
    bounded aggregate, never raw documents."""
    p = _exec_plan(spark, "corpus_mixture_reweight")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange SinglePartition") == 1, p
    assert p.count("Scan parquet") == 1, p


def test_dpp_partition_filter_from_join(spark):
    """Dynamic partition pruning: the partitioned fact scan must carry
    a runtime dynamicpruningexpression PartitionFilter derived from
    the broadcast dim join — static pruning cannot see through the
    join; only DPP prunes the directory listing."""
    p = _exec_plan(spark, "scan_partitioned_dpp")
    assert "dynamicpruning" in p.lower(), p
    assert "PartitionFilters" in p, p


def test_runtime_bloom_filter_injection(spark):
    """Runtime row-level bloom filter (SPARK-32268): when a shuffle
    join's creation side is small+filtered, Catalyst injects
    BloomFilterMightContain on the big side so non-joining rows die at
    the scan, not at the shuffle.  Local fixtures sit far below the
    default 10 GiB application-side threshold, so the test lowers the
    thresholds for its own scope only (a 100 TB fact clears them
    as-is) and forces a merge join (broadcast joins don't need blooms).
    """
    import pyspark.sql.functions as F

    from trip_data_pipeline_spark.io import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        ev = load(spark, SF, "events")
        small = (
            load(spark, SF, "orders")
            .filter(F.col("o_orderkey") < 500)
            .select((F.col("o_orderkey") % 150).alias("user_id"))
        )
        j = ev.hint("merge").join(small.hint("merge"), "user_id")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilterMightContain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sliding_distinct_no_global_window(spark):
    """Round-3 rewrite: the trailing-7-day distinct must be the
    exploded-contribution double aggregation — no single-partition
    ordered window, no collect_set over the whole relation."""
    p = _exec_plan(spark, "win_sliding_distinct_users")
    assert "collect_set" not in p, p
    assert "Window" not in p or "WindowGroupLimit" in p, p


def test_vocab_coverage_takeordered_before_window(spark):
    """Round-3 fix: the top-50 must be TakeOrderedAndProject
    (distributed heaps) BEFORE the single-partition rank/cumsum window
    — never a full-vocabulary one-partition sort.  The one remaining
    SinglePartition exchange feeds the window with 50 bounded rows."""
    p = _exec_plan(spark, "vocab_topk_coverage")
    assert "TakeOrderedAndProject" in p, p
    assert p.count("Exchange SinglePartition") == 1, p


def test_tfidf_join_free_no_vocab_broadcast(spark):
    """Round-3 ADVICE-pattern fix: the vocabulary-sized df table must
    not broadcast (or join at all) — df is a count() window over the
    word partition of the tf stream."""
    p = _exec_plan(spark, "text_tfidf_topk")
    assert "Join" not in p, p
    assert "Broadcast" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_point_in_interval_bucketed_equijoin(spark):
    """Interval x point containment must execute as a (uid, bucket)
    equi-join with a post-join containment filter — never an
    all-pairs/theta scan."""
    p = _exec_plan(spark, "join_point_in_interval")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_mad_broadcasts_group_stats(spark):
    """Both per-type statistic tables (median, MAD) broadcast back
    onto the value stream — no sort-merge self-join.  (The dev subtree
    feeds both the MAD aggregation and the final pass, so its
    broadcast join is duplicated in the uncached plan: 3 BHJ total.)"""
    p = _exec_plan(spark, "dq_anomaly_mad")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_od_matrix_two_shuffles_topk(spark):
    """OD matrix: the user window sort and the cell-pair aggregate are
    the only keyed shuffles; top-30 is TakeOrderedAndProject."""
    p = _exec_plan(spark, "geo_trip_od_matrix")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("Scan parquet") == 1, p


def test_quality_sample_map_only_predicate(spark):
    """Importance sampling needs no corpus statistics: the keep
    decision is a map-side predicate (no keyed shuffle)."""
    p = _exec_plan(spark, "corpus_quality_weighted_sample")
    assert p.count("Exchange hashpartitioning") == 0, p
    assert p.count("Scan parquet") == 1, p


def test_covariance_partial_agg_single_shuffle(spark):
    """Sufficient-statistics pattern: partial aggregates bound each
    partition's shuffle output to the fixed 2,080-cell grid — one hash
    exchange, partial+final HashAggregate pair, no join."""
    p = _exec_plan(spark, "embed_covariance_int")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("HashAggregate") == 2, p
    assert "Join" not in p, p


def test_spread_no_shuffle_when_wide(spark):
    """common.spread is a LOCAL-fixture fix (single-row-group parquet
    -> one task pins CPU work to one core); at cluster scale the scan
    already has >= defaultParallelism splits and spread must be a
    no-op — no extra Exchange, no down-partition of a wide input."""
    from trip_data_pipeline_spark.io import load
    from trip_data_pipeline_spark.operators.common import spread

    par = spark.sparkContext.defaultParallelism
    wide = load(spark, SF, "documents").repartition(par + 8)
    out = spread(wide)
    assert out is wide  # identical object: no plan node added at all

    narrow = load(spark, SF, "documents")  # single-split fixture scan
    assert narrow.rdd.getNumPartitions() < par
    spread_plan = _df_exec_plan(spread(narrow))
    assert f"Exchange roundrobinpartitioning({par}".lower() in spread_plan.lower(), spread_plan


def test_spread_no_shuffle_when_wide_uri_scan(spark, tmp_path):
    """spread asks Spark for the scan's width, so a wide table read
    through a URI that os cannot stat (file://, and likewise s3a:// or
    hdfs://) is left as it is — no round-robin shuffle of raw text."""
    from trip_data_pipeline_spark.io import load
    from trip_data_pipeline_spark.operators.common import spread

    par = spark.sparkContext.defaultParallelism
    load(spark, SF, "documents").repartition(2 * par).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    df = load(spark, f"file://{tmp_path}", "documents")
    assert df.rdd.getNumPartitions() >= par
    assert spread(df) is df


def _df_exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---- §2.17 scale-pipeline tranche (round 3) -------------------------------


def test_pagerank_no_cartesian_fixed_depth(spark):
    """3 unrolled PageRank supersteps: every join is keyed (edge list
    vs rank map on src, contribution map back on node) — no cartesian
    blowup — and contributions partial-aggregate before the shuffle."""
    p = _plan(spark, "graph_pagerank_int")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 6  # partial+final per superstep


def test_interval_overlap_bucketed_equijoin(spark):
    """Interval-vs-interval overlap joins on the exploded week bucket
    (equi), never as an unbounded theta join."""
    p = _plan(spark, "join_interval_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "wk" in p  # bucket key participates in the join


def test_snapshot_diff_single_full_outer(spark):
    """The diff is ONE key-partitioned full outer join of the two
    snapshots — change classification is projection, not extra joins."""
    p = _plan(spark, "table_snapshot_diff")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


def test_skyline_window_not_selfjoin(spark):
    """Pareto skyline is the O(n log n) window form: no dominance
    self-join (which would materialize O(n^2) candidate pairs)."""
    p = _plan(spark, "skyline_pareto_per_group")
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_assign_broadcasts_codebook(spark):
    """PQ assignment broadcasts the 16-row codebook (bounded
    broadcast-of-constant, the documented exception to the no-BNLJ
    rule) and reduces via partial/final integer aggregates."""
    p = _plan(spark, "embed_pq_assign")
    assert "BroadcastNestedLoopJoin" in p  # 16-row codebook, no key
    assert p.count("HashAggregate") >= 4  # dist sum + argmin, partial+final


def test_heavy_hitters_broadcast_total_partial_counts(spark):
    """Exact heavy hitters: per-word counts partial-aggregate before
    the word shuffle; the 1-row corpus total broadcasts into the
    threshold filter — nothing corpus-sized on one node."""
    p = _plan(spark, "freq_heavy_hitters_exact")
    assert "BroadcastNestedLoopJoin" in p  # 1-row total
    assert p.count("partial_count") >= 1
    assert "CartesianProduct" not in p


def test_rollup_merge_two_level_aggregate(spark):
    """Partial-merge rollup: day-level aggregate then month-level merge
    — two partial/final HashAggregate pairs, one shuffle per level."""
    p = _plan(spark, "rollup_incremental_merge")
    assert p.count("HashAggregate") >= 4


def test_binary_files_scan_is_filesource(spark):
    """binaryFile rides the standard FileScan machinery (distributed
    listing, per-file splits) — not a driver-side read."""
    p = _plan(spark, "scan_binary_files")
    assert "binaryFile" in p or "FileScan" in p


def test_asof_tolerance_bucketed_equijoin_grouplimit(spark):
    """Unbounded-probe as-of: (uid, bucket) equi-join (no inequality
    join / BNLJ) and rn=1 compiled to WindowGroupLimit."""
    p = _plan(spark, "join_asof_bucketed_tolerance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p


def test_winnowing_no_corpus_broadcast_bounded_pairs(spark):
    """Winnowing: per-doc winnow is a doc-partition window; doc
    frequency is a count() window over the fingerprint partition
    (join-free, like tfidf) — no corpus-sized broadcast anywhere."""
    p = _plan(spark, "text_winnowing_fingerprint")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 2  # winnow min + df count


def test_resample_single_sort_no_selfjoin(spark):
    """Linear resample: prev/next come from two frames over ONE
    user-partitioned sort of the events+grid union — no self-join,
    no per-grid-point probe."""
    p = _plan(spark, "timeseries_resample_linear")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Union" in p


def test_grid_density_cluster_no_cartesian(spark):
    """DBSCAN-lite: density onto the fixed cell domain, neighbor
    equi-join on exploded in-bounds neighbor ids, CC labels joined
    back by key — no all-pairs distance join anywhere."""
    p = _plan(spark, "geo_grid_density_cluster")
    assert "CartesianProduct" not in p


def test_chunk_dedup_join_free_single_hash_shuffle(spark):
    """Chunk dedup: global chunk frequency is a count() window over
    the hash partition — join-free; chunking itself is map-side array
    slicing (no shuffle of raw text)."""
    p = _plan(spark, "dedup_chunk_exact")
    assert "CartesianProduct" not in p
    assert "Join" not in p  # join-free: window over the hash partition
    assert "Window" in p


def test_rake_single_doc_shuffle(spark):
    """RAKE: islands window, phrase rollup, word scores, and the
    top-k all partition by doc_id — WindowGroupLimit bounds the
    final ranking and no corpus-global state exists."""
    p = _plan(spark, "text_rake_keywords")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p


def test_triangle_count_all_equijoins(spark):
    """Triangle counting: degree-ordered orientation makes wedge
    extension and closure plain equi-joins — no cartesian, no
    nested-loop, and the top-20 compiles to a bounded TakeOrdered."""
    p = _plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_lm_quality_join_free_windows(spark):
    """LM quality gate: both corpus-model counts are count() windows
    over the bigram-instance stream (no join, no corpus-sized
    broadcast) — the no-corpus-sized-broadcast rule."""
    p = _plan(spark, "lm_doc_quality_ppm")
    assert "Join" not in p
    assert "Window" in p


def test_nth_value_cume_single_window_shuffle(spark):
    """nth_value + cume_dist share the one nation-keyed sort: exactly
    one Exchange in the whole plan."""
    p = _plan(spark, "win_nth_value_cume")
    assert p.count("Exchange") - p.count("AQEShuffleRead") <= 2
    assert "Join" not in p


def test_range_generator_is_executor_side(spark):
    """spark.range produces rows in the executors (Range leaf), not a
    driver-side LocalTableScan."""
    p = _plan(spark, "scan_range_generator")
    assert "Range" in p
    assert "LocalTableScan" not in p


def test_crosstab_broadcast_dim_no_cartesian(spark):
    """Exact crosstab: customer dim broadcasts into the fact join and
    the 5x5 pivot is a plain aggregate — no cartesian anywhere."""
    p = _plan(spark, "stat_crosstab_exact")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_seasonal_residual_broadcast_profile_no_window(spark):
    """Seasonal residuals: the 7-row day-of-week profile reduces by
    partial aggregation and BROADCASTS back — deliberately no count()
    window over dow (7 giant window partitions would serialize)."""
    p = _plan(spark, "timeseries_seasonal_residual")
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_contiguous_ids_range_partitioned_not_global_sort(spark):
    """Contiguous id assignment: range partitioning + per-partition
    local ranks + broadcast offsets — the id column never rides a
    one-task global-order window."""
    p = _plan(spark, "ids_global_contiguous")
    assert "rangepartitioning" in p.lower()
    assert "BroadcastHashJoin" in p


def test_gap_cap_sessionize_arrow_grouped_map(spark):
    """Gap+cap sessionization: the sequential recurrence runs as ONE
    Arrow partition-scan pass over a user-keyed shuffle sorted by
    (user, t, event_id) — state bounded per user, no per-group Python
    call overhead (round-12 mapInPandas form)."""
    p = _plan(spark, "sessionize_gap_and_cap")
    assert "MapInPandas" in p
    assert "Sort" in p  # JVM-side per-partition sort feeds the scan
    # formatted explain lists each node twice (tree + details):
    # exactly one Exchange -> two textual occurrences
    assert p.count("Exchange") <= 2


def test_bitmap_distinct_two_level_aggregate(spark):
    """Bitmap-exact distinct: (key,bucket) bitmap build then popcount
    rollup — two aggregate levels, each with map-side partials, no
    count-distinct Expand explosion."""
    p = _plan(spark, "agg_bitmap_distinct")
    assert p.count("HashAggregate") >= 4
    assert "Expand" not in p


def test_ignore_nulls_single_window_sort(spark):
    """lead+lag IGNORE NULLS share one user-keyed sort: a single
    Window node, a single exchange."""
    p = _plan(spark, "win_lead_lag_ignore_nulls")
    assert p.count("(") - p.count(")") == 0  # sanity: balanced output
    assert "Window" in p
    assert p.count("Exchange") <= 2  # tree + details of the one shuffle


def test_url_parse_map_only(spark):
    p = _plan(spark, "scalar_url_parse")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p  # parse_url is JVM-side


def test_ngram_novelty_join_free(spark):
    """Novelty: first-owner is a min() window over the gram partition
    — join-free, no corpus-sized broadcast."""
    p = _plan(spark, "corpus_ngram_novelty")
    assert "Join" not in p
    assert "Window" in p


def test_map_in_arrow_node_present(spark):
    """mapInArrow compiles to the Arrow-native map node (not pandas,
    not row-at-a-time python)."""
    p = _plan(spark, "udf_map_in_arrow")
    assert "MapInArrow" in p
    assert "FlatMapGroupsInPandas" not in p
    assert "BatchEvalPython" not in p


def test_matryoshka_no_shuffle_no_join(spark):
    """Prefix-mass audit is a pure map: no join, no window, no hash
    exchange (spread's round-robin rebalance may appear on the
    byte-small fixture)."""
    p = _exec_plan(spark, "embed_matryoshka_truncate")
    assert "Join" not in p
    assert "Window" not in p
    assert "Exchange hashpartitioning" not in p


def test_pipe_syntax_same_plan_as_nested(spark):
    """Pipe syntax is surface sugar: pushdown + partial/final
    aggregation fire exactly as in the nested-SELECT form."""
    p = _plan(spark, "sql_pipe_syntax_query")
    assert "PushedFilters" in p and "l_shipdate" in p
    assert p.count("HashAggregate") >= 2


def test_session_variable_constant_folded(spark):
    """The SQL variable folds to a literal at analysis time — no
    variablereference survives into the physical plan."""
    p = _plan(spark, "sql_session_variables")
    assert "variablereference" not in p.lower()
    assert p.count("HashAggregate") >= 2


def test_lateral_api_decorrelates_to_window_limit(spark):
    """df.lateralJoin with a correlated order+limit must decorrelate
    to the window/WindowGroupLimit rewrite, not a per-row nested
    loop."""
    p = _exec_plan(spark, "join_lateral_api_topk")
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_not_in_plans_null_aware_anti(spark):
    """NOT IN over a nullable subquery must plan the null-aware anti
    join (LeftAnti BuildRight with the NAAJ flag), not a plain anti."""
    p = _exec_plan(spark, "join_null_aware_anti")
    assert "LeftAnti, BuildRight, true" in p


def test_nearest_hub_join_free_map_only(spark):
    """Constant hub list unrolls into a fused least() expression —
    no join node at all; one aggregate shuffle."""
    p = _exec_plan(spark, "geo_nearest_hub")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_filter_clause_single_aggregate_pass(spark):
    """FILTER (WHERE ...) aggregates all ride ONE partial/final
    grouping pass — no per-predicate scan, no Expand."""
    p = _plan(spark, "agg_filter_clause")
    assert p.count("HashAggregate") >= 2
    assert "Expand" not in p
    assert "Join" not in p


def test_collation_stays_jvm_side(spark):
    p = _plan(spark, "str_collation_lcase")
    assert "BatchEvalPython" not in p
    assert p.count("HashAggregate") >= 2


def test_from_csv_json_zero_shuffle(spark):
    """Schema-directed string parsing is a pure projection."""
    p = _plan(spark, "scalar_from_csv_json")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_ppm_resize_map_in_pandas(spark):
    p = _plan(spark, "multimodal_ppm_resize_nn")
    assert "MapInPandas" in p


def test_wav_decimate_map_in_pandas(spark):
    p = _plan(spark, "multimodal_wav_decimate")
    assert "MapInPandas" in p


def test_metadata_row_index_from_scan(spark):
    """_metadata.row_index rides the parquet scan itself — no window,
    no id-generation expression."""
    p = _plan(spark, "scan_metadata_row_index")
    assert "Window" not in p
    assert "monotonically_increasing_id" not in p
    assert "row_index" in p


def test_label_propagation_keyed_supersteps(spark):
    """2 unrolled majority-vote supersteps: keyed joins + partial/final
    aggregates only — no cartesian, no driver-side graph."""
    p = _plan(spark, "graph_label_propagation")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4


def test_fence_dwell_single_user_shuffle(spark):
    """Both windows + both rollups share the user partitioning: one
    hash exchange total."""
    p = _exec_plan(spark, "geo_fence_dwell_time")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_array_sort_comparator_jvm_map_only(spark):
    """The comparator lambda compiles to a Catalyst lambda (JVM HOF),
    not a Python UDF; the whole op is a zero-shuffle projection."""
    p = _plan(spark, "array_sort_comparator")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_recall_eval_ivf_side_is_equijoin(spark):
    """The IVF arm must prune via the bucket equi-join (the broadcast
    brute-force arm is the EVAL, not the serving path)."""
    p = _exec_plan(spark, "sim_ann_recall_eval")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_bfs_keyed_supersteps_no_cartesian(spark):
    """3 unrolled min-plus supersteps: keyed join + min re-aggregation
    each — order-insensitive, no cartesian."""
    p = _plan(spark, "graph_bfs_distance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_max_concurrency_user_keyed_sweep(spark):
    """The sweep-line running sum partitions by user — never a global
    single-partition window."""
    p = _exec_plan(spark, "interval_max_concurrency")
    assert "Window [sum" in p or "Window" in p
    # the window's exchange must be hash (keyed), not single-partition
    assert "Exchange SinglePartition" not in p


def test_quality_ensemble_single_doc_rollup(spark):
    """Four signals share one doc-keyed word rollup + one join — no
    per-signal scans."""
    p = _plan(spark, "corpus_quality_ensemble_gate")
    assert p.count("Scan parquet") <= 4  # tree+details of <=2 scans
    assert "CartesianProduct" not in p


def test_regexp_trio_map_only(spark):
    p = _plan(spark, "str_regexp_count_instr")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_minhash_eval_no_cartesian_bounded_joins(spark):
    """Both eval arms are equi-joins (shingle inverted index; band
    buckets) — no all-pairs scan over DATA.  The only nested-loop
    joins are the two crossJoins assembling the three 1-row count
    aggregates into the summary row (broadcast-of-scalar, bounded)."""
    p = _plan(spark, "dedup_minhash_recall_eval")
    assert "CartesianProduct" not in p
    # exactly the two scalar-assembly cross joins (tree + details each)
    assert p.count("BroadcastNestedLoopJoin") <= 4


def test_cusum_single_user_shuffle(spark):
    p = _plan(spark, "timeseries_cusum_drift")
    assert "MapInPandas" in p  # round-12 partition-scan form
    assert "Sort" in p
    assert p.count("Exchange") <= 2  # tree + details of the one shuffle


def test_bpe_apply_merge_vocab_rollup_broadcast_winner(spark):
    """The merge applies to the DISTINCT-word vocabulary with the
    1-row winner broadcast — the token stream is never re-shuffled."""
    p = _plan(spark, "bpe_apply_merge_recount")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_mom_window_over_aggregated_months(spark):
    """The lag window runs AFTER the monthly partial/final aggregate —
    the single-partition ordering touches only ~80 month rows."""
    p = _plan(spark, "rollup_month_over_month")
    assert p.count("HashAggregate") >= 2
    assert "Window" in p


def test_rank_topk_with_ties_group_limit(spark):
    """rank()-based per-group limits prune via WindowGroupLimit just
    like row_number ones."""
    p = _plan(spark, "limit_topk_with_ties")
    assert "WindowGroupLimit" in p


def test_parameterized_sql_binds_as_literals(spark):
    """Named markers become real literals before optimization: the
    price bound reaches the parquet scan's pushed filters."""
    p = _plan(spark, "sql_parameterized_query")
    assert "PushedFilters" in p and "o_totalprice" in p
    assert p.count("HashAggregate") >= 2


def test_bitext_df_bounded_inverted_index(spark):
    """Rare-gram df rides a count() window (join-free model pass) and
    the pair join only touches df<=4 grams — no cartesian."""
    p = _plan(spark, "corpus_bitext_candidates")
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_cross_snapshot_hash_keyed_join(spark):
    """Only content hashes cross the wire — the join key is the md5,
    never raw text."""
    p = _plan(spark, "dedup_cross_snapshot")
    assert "CartesianProduct" not in p


def test_blocklist_no_token_shuffle(spark):
    """The hit count is a map-side array filter — no explode, the only
    shuffle is the per-lang aggregate."""
    p = _plan(spark, "corpus_blocklist_filter")
    assert "Generate" not in p  # no explode of tokens
    assert p.count("HashAggregate") >= 2


def test_kcore_keyed_peels_no_cartesian(spark):
    """3 unrolled peels: degree agg + two keyed edge restrictions per
    round — the edge set only shrinks; no cartesian, no BNLJ over
    data (the final 1-row summary is a plain aggregate)."""
    p = _plan(spark, "graph_kcore_peel")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4


def test_luhn_and_printf_map_only(spark):
    for name in ("str_luhn_check", "str_format_printf"):
        p = _plan(spark, name)
        assert "BatchEvalPython" not in p, name
        assert "Join" not in p, name


def test_containment_df_bounded_candidates(spark):
    """Containment candidates come from the shingle inverted index —
    df-bounded equi-joins, no all-pairs scan."""
    p = _plan(spark, "dedup_shingle_containment")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embed_gate_map_only(spark):
    p = _exec_plan(spark, "embed_quality_gate")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_execute_immediate_compiles_static_plan(spark):
    """EXECUTE IMMEDIATE text compiles to the same aggregate plan as
    the static query — pushdown intact."""
    p = _plan(spark, "sql_execute_immediate")
    assert "PushedFilters" in p and "o_totalprice" in p
    assert p.count("HashAggregate") >= 2


def test_to_json_map_only(spark):
    p = _plan(spark, "scalar_to_json_struct")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


# ---- §2.19 round-4 additions ------------------------------------------


def test_substring_dedup_two_shuffles_no_join(spark):
    """Span-level dedup is a count() window over the hash partition —
    join-free: exactly one hash-keyed and one doc-keyed exchange, and
    only md5 digests (never window text) cross the wire."""
    p = _exec_plan(spark, "dedup_substring_window")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 2


def test_token_budget_single_lang_shuffle(spark):
    """Both windows (ordered running sum + unordered total) share ONE
    language-keyed exchange; no global single-partition window."""
    p = _exec_plan(spark, "corpus_token_budget_select")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in p


def test_domain_mix_windows_post_aggregate(spark):
    """The ranking windows run AFTER the per-host partial/final
    aggregate — the single-partition exchange sees only host rows."""
    p = _exec_plan(spark, "corpus_domain_mix_report")
    agg_pos = p.index("HashAggregate")
    single = p.index("Exchange SinglePartition")
    # executedPlan prints top-down: the single-partition window sits
    # ABOVE (before) the aggregate that feeds it
    assert single < agg_pos
    assert p.count("HashAggregate") >= 2  # partial + final per host


def test_simhash_incremental_no_cartesian(spark):
    """The batch->index probe is a band-key equi-join, never an
    all-pairs product."""
    p = _plan(spark, "dedup_simhash_incremental")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_multimodal_phash_vad_map_only(spark):
    """Both decode-chain ops are map-only: no exchange at all."""
    for name in ("multimodal_image_phash", "multimodal_audio_vad"):
        p = _exec_plan(spark, name)
        assert "Exchange" not in p, name
        assert "Join" not in p, name


def test_pivot_unpivot_no_explosion(spark):
    """SQL PIVOT compiles to one partial/final aggregate over a fixed
    7-column year list; UNPIVOT is an Expand, never a join."""
    p = _plan(spark, "sql_pivot_unpivot")
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p


def test_decontam_fuzzy_no_cartesian(spark):
    """The train->eval probe is a band-key equi-join and the verify is
    a count aggregation on candidates — no all-pairs product."""
    p = _plan(spark, "corpus_decontam_fuzzy")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---- §2.20 round-5 tranche plan locks -------------------------------------


def test_gopher_rules_map_only(spark):
    """The rule filter is a narrow projection riding the scan: no
    exchange, no join — the shape that lets it run inline with any
    other corpus pass."""
    p = _exec_plan(spark, "corpus_gopher_quality_rules")
    assert "Join" not in p, p
    # the only permissible exchange is spread()'s local round-robin
    assert "hashpartitioning" not in p.lower(), p


def test_dsir_bucket_weights_broadcast(spark):
    """The fixed-size feature dictionary must broadcast back onto the
    token stream (map-side scoring), never shuffle the tokens to it."""
    p = _exec_plan(spark, "corpus_dsir_importance")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_row_group_prune_pushes_date_filter(spark):
    """The read-back scan must carry the timestamp range predicate in
    PushedFilters — that is what row-group min/max stats prune on."""
    p = _plan(spark, "scan_parquet_row_group_prune")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed), p


def test_cms_sketch_partial_final_and_broadcast_probe(spark):
    """The 256-counter sketch must build via partial/final aggregation
    (map-side combine bounds shuffle rows at <= d*w per partition) and
    the probe join must broadcast the sketch, not shuffle the corpus."""
    p = _exec_plan(spark, "agg_count_min_sketch")
    assert p.count("HashAggregate") >= 2, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_ivf_balance_broadcasts_centroids(spark):
    """Assignment is a broadcast of the nlist-row centroid relation
    against the vector stream; the only CartesianProduct-free plan for
    a bounded all-centroids argmin is the broadcast nested loop."""
    p = _exec_plan(spark, "embed_ivf_balance_report")
    assert "Broadcast" in p, p
    assert "CartesianProduct" not in p, p


def test_survivor_quality_single_window_shuffle(spark):
    """Both windows (row_number + count) share ONE template-key
    exchange; quality is computed before the shuffle so only (key,
    quality) metadata moves."""
    p = _exec_plan(spark, "corpus_dedup_survivor_quality")
    assert p.count("Exchange hashpartitioning") <= 2, p  # tree + details
    assert "Join" not in p, p


def test_ttr_partial_final_aggs(spark):
    """Both TTR stages are partial/final aggregations — nothing
    corpus-sized is collected or broadcast."""
    p = _exec_plan(spark, "corpus_type_token_ratio")
    assert p.count("HashAggregate") >= 4, p  # two partial/final pairs
    assert "Join" not in p, p


def test_ewma_single_user_shuffle(spark):
    """The integer EWMA is one user-keyed shuffle into a sorted
    state-collapse fold — the streaming operator's batch replay."""
    p = _exec_plan(spark, "timeseries_ewma_int")
    assert p.count("Exchange hashpartitioning") <= 2, p  # tree + details
    assert "Join" not in p, p


def test_scene_cut_map_only(spark):
    """Decode + frame differencing never leave the mapper."""
    p = _exec_plan(spark, "multimodal_video_scene_cut")
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_semdedup_broadcast_centroids_no_cartesian_pairs(spark):
    """The coarse quantizer broadcasts the centroid relation; the pair
    stage is a cluster-keyed equi-join, never an all-pairs product."""
    p = _exec_plan(spark, "corpus_semdedup_bucket")
    assert "Broadcast" in p, p
    assert "CartesianProduct" not in p, p


def test_group_by_all_compiles_to_explicit_agg(spark):
    """GROUP BY ALL / ORDER BY ALL are resolver sugar: the plan must be
    the explicit-list partial/final aggregate + bounded output sort."""
    p = _plan(spark, "sql_group_order_by_all")
    assert p.count("HashAggregate") >= 2, p
    assert "TakeOrderedAndProject" in p, p


def test_langid_eval_small_join_only(spark):
    """The quality eval joins two per-language aggregates (5-row key):
    classification is map-side, nothing corpus-sized joins."""
    p = _exec_plan(spark, "eval_langid_quality")
    assert "CartesianProduct" not in p, p
    assert p.count("Exchange hashpartitioning") <= 4, p


def test_degree_distribution_constant_output(spark):
    """Degree distribution: equi-join edge build + two agg levels —
    no cartesian; output is <= 64 bucket rows regardless of graph."""
    p = _exec_plan(spark, "graph_degree_distribution")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p  # degree + bucket, partial/final


def test_values_inline_table_broadcasts(spark):
    """The 5-row VALUES relation must broadcast into the fact join."""
    p = _exec_plan(spark, "sql_values_inline_table")
    assert "BroadcastHashJoin" in p, p


def test_weighted_avg_partial_final(spark):
    """Weighted mean is mergeable integer state: partial/final agg,
    no join, no window."""
    p = _exec_plan(spark, "agg_weighted_avg_exact")
    assert p.count("HashAggregate") >= 2, p
    assert "Join" not in p and "Window" not in p, p


def test_truncated_variants_equijoin_metadata_only(spark):
    """Pairs form via the template-key equi-join; only (key, n_words)
    metadata shuffles — the text column must not reach the join."""
    p = _exec_plan(spark, "dedup_truncated_variants")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_benford_constant_output_single_agg(spark):
    """Benford digit audit: one partial/final agg to <= 9 rows; the
    global-share window runs over those 9 rows only (after the agg)."""
    p = _exec_plan(spark, "dq_benford_first_digit")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_hhi_single_fact_shuffle_broadcast_dims(spark):
    """HHI: the only fact-sized shuffle is the supplier-keyed agg;
    supplier and nation join via broadcast."""
    p = _exec_plan(spark, "agg_hhi_concentration")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_speed_gate_one_window_sort(spark):
    """Speed gate: one user-keyed window (three lags share the frame),
    then partial/final agg — no join."""
    p = _exec_plan(spark, "geo_trip_speed_gate")
    assert p.count("Window") == 1, p
    assert "Join" not in p, p


def test_referential_integrity_no_cartesian_key_only_parents(spark):
    """RI audit: four left joins against DISTINCT parent keys; no
    cartesian, and parent payload columns never enter the join."""
    p = _exec_plan(spark, "dq_referential_integrity")
    assert "CartesianProduct" not in p, p
    assert p.count("Union") >= 1, p


def test_chi2_contingency_one_corpus_shuffle(spark):
    """Chi2: the (lang, source) agg is the only corpus-sized shuffle;
    window totals run on table-sized rows. No join anywhere."""
    p = _exec_plan(spark, "stats_chi2_lang_source")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_abtest_single_row_no_join(spark):
    """A/B readout: user agg -> one global agg; no join, no window."""
    p = _exec_plan(spark, "abtest_two_proportion")
    assert "Join" not in p and "Window" not in p, p


def test_shard_assign_16_group_agg(spark):
    """Shard balance: map-side hash, one 16-group agg, window over 16
    rows — no join."""
    p = _exec_plan(spark, "corpus_shard_assign")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_freshness_lag_mergeable_agg(spark):
    """Freshness: one event_type agg (mergeable max/count), window over
    the handful of type rows."""
    p = _exec_plan(spark, "dq_freshness_lag")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_reconcile_fact_agg_then_equijoin(spark):
    """Reconciliation: orderkey agg over the fact, one equi-join to the
    header, 1-row report — no cartesian, no window."""
    p = _exec_plan(spark, "dq_reconcile_order_totals")
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_pmi_lift_broadcast_vocab(spark):
    """PMI lift: the two unigram-count joins and the 1-row N attach all
    broadcast; no sort-merge join anywhere."""
    p = _exec_plan(spark, "text_bigram_pmi_lift")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_pk_uniqueness_two_level_agg_per_table(spark):
    """PK audit: each table is a key-keyed agg plus a 1-row rollup (no
    global distinct), unioned — no join at all."""
    p = _exec_plan(spark, "dq_primary_key_uniqueness")
    assert "Join" not in p, p
    assert "Union" in p, p


def test_time_to_convert_constant_output(spark):
    """Time-to-convert: user-keyed aggs + one equi-join, rolled up to
    <= 64 log2 buckets; no cartesian."""
    p = _exec_plan(spark, "events_time_to_convert")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_jaccard_neighbors_wedge_join_broadcast_degrees(spark):
    """Jaccard link prediction: wedge equi-join + anti-join exclusion;
    degree lookups broadcast; never a cartesian."""
    p = _exec_plan(spark, "graph_jaccard_neighbors")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p


def test_sentiment_lexicon_no_join(spark):
    """Lexicon scoring folds the word lists into map-side expressions:
    one lang-keyed agg, no join."""
    p = _exec_plan(spark, "text_sentiment_lexicon")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_multi_horizon_single_window_sort(spark):
    """Three RANGE frames must share one window sort: exactly one
    Window operator, one user-keyed Exchange before it."""
    p = _exec_plan(spark, "features_multi_horizon")
    assert p.count("Window") == 1, p
    assert "Join" not in p, p


def test_negatives_ring_single_equijoin(spark):
    """Negative sampling: 1-row count broadcast + map-side explode +
    one equi-join on the ring id; no cartesian beyond the 1-row
    attach."""
    p = _exec_plan(spark, "sample_negatives_hash_ring")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_peak_concurrency_single_sweep_sort(spark):
    """Sweep-line: one event_type-keyed window over the boundary-point
    union, then agg + small join — no cartesian."""
    p = _exec_plan(spark, "events_peak_concurrency")
    assert "CartesianProduct" not in p, p
    assert p.count("Window") == 1, p


def test_weighted_median_one_lang_sort(spark):
    """Exact weighted median: one lang-keyed window sort (running sum +
    partition total share it), then partial/final agg — no join."""
    p = _exec_plan(spark, "agg_weighted_median_exact")
    assert "Join" not in p, p
    assert p.count("Window") <= 2, p


def test_partition_drift_partition_rows_only(spark):
    """Drift audit: one partition-key agg; window totals run on the
    handful of partition rows — no join."""
    p = _exec_plan(spark, "dq_partition_drift")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_od_flow_legs_built_once(spark):
    """Flow imbalance: ONE user-keyed window builds legs; dep/arr aggs
    + a cell-keyed outer join; no cartesian."""
    p = _exec_plan(spark, "geo_od_flow_imbalance")
    assert "CartesianProduct" not in p, p
    assert p.count("Window") <= 2, p


def test_asof_forward_no_cartesian(spark):
    """Forward as-of: user-keyed equi-join + inequality filter +
    per-order top-1 window; no cartesian/BNLJ on the keyed path."""
    p = _exec_plan(spark, "join_asof_forward")
    assert "CartesianProduct" not in p, p
    # one Window node; WindowGroupLimit partial/final (the rank-limit
    # pushdown that keeps only top-1 per order pre-shuffle) is a bonus
    assert p.count("Window [") == 1, p
    assert "WindowGroupLimit" in p, p


def test_watermark_detect_bounded_agg_after_mapside_decode(spark):
    """Watermark detection: map-only decode (no exchange before the
    tile stats), one signature-keyed agg to a bounded output."""
    p = _exec_plan(spark, "multimodal_tile_watermark_detect")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_interpurchase_gap_one_window(spark):
    """Inter-purchase gaps: one customer-keyed window sort, then
    partial/final agg — no join."""
    p = _exec_plan(spark, "orders_interpurchase_gap")
    assert "Join" not in p, p
    assert p.count("Window") == 1, p


def test_pareto_curve_on_aggregate_not_fact(spark):
    """Pareto coverage: fact collapses to per-customer rows BEFORE the
    global-sort window; the 3-row threshold relation broadcasts."""
    p = _exec_plan(spark, "agg_pareto_coverage")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_fertility_single_tokenize_pass(spark):
    """Fertility: both token counts come from one projection; one
    lang-keyed agg, no join."""
    p = _exec_plan(spark, "corpus_tokenizer_fertility")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_ltob_shared_sort_and_rank_pushdown(spark):
    """LTOB: row_number + lag/lead share the user-keyed sort; the
    per-bucket top-1 gets WindowGroupLimit pushdown."""
    p = _exec_plan(spark, "timeseries_downsample_ltob")
    assert "Join" not in p, p
    assert "WindowGroupLimit" in p, p


def test_rle_islands_one_sort(spark):
    """RLE: change flag + running sum share one user-keyed sort; then
    a (user, run) partial/final agg."""
    p = _exec_plan(spark, "events_run_length_encode")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_audio_clipping_map_only(spark):
    """Clipping QA: map-only mapInPandas — zero exchanges."""
    p = _exec_plan(spark, "multimodal_audio_clipping")
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_colocation_blocked_selfjoin(spark):
    """Co-location: pair formation only via the (cell, hour) equi-join
    — never a cartesian; DISTINCT runs before the join."""
    p = _exec_plan(spark, "geo_colocation_pairs")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_sequence_gaps_key_only_sort(spark):
    """Gap audit: the global sort moves the 8-byte key only (ReadSchema
    is o_orderkey alone); one window, no join."""
    p = _exec_plan(spark, "dq_sequence_gaps")
    assert "Join" not in p, p
    assert "o_totalprice" not in p, p


def test_centroid_drift_single_agg_no_join(spark):
    """Centroid drift: both halves aggregate in ONE conditional-sum
    pass on the 64-dim key — no join, no second scan."""
    p = _exec_plan(spark, "embed_centroid_drift")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_double_fire_two_level_agg(spark):
    """Double-fire audit: (type, user, sec) agg then per-type rollup —
    mergeable all the way, no join."""
    p = _exec_plan(spark, "dq_double_fire_events")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_shipping_sla_header_detail_shape(spark):
    """SLA: fact max-agg -> one equi-join to the header -> tiny rollup;
    no cartesian, no window."""
    p = _exec_plan(spark, "orders_shipping_sla")
    assert "CartesianProduct" not in p and "Window" not in p, p


def test_rank_movers_on_aggregate_not_fact(spark):
    """Rank movers: rank + lead windows run on (customer, year)
    aggregate rows with NO self-join — the rank is computed once."""
    p = _exec_plan(spark, "orders_rank_movers")
    assert "Join" not in p, p
    assert p.count("Window [") == 2, p


def test_autocomplete_rank_pushdown_on_vocab(spark):
    """Autocomplete: corpus shuffles once for the token count; the
    prefix top-3 gets rank-limit pushdown on the vocabulary."""
    p = _exec_plan(spark, "text_prefix_autocomplete")
    assert "WindowGroupLimit" in p, p
    assert "Join" not in p, p


def test_ship_before_order_two_columns_move(spark):
    """Temporal audit: the lineitem side of the join reads exactly
    (l_orderkey, l_shipdate) — no other fact column moves."""
    p = _exec_plan(spark, "dq_ship_before_order")
    assert "l_extendedprice" not in p and "l_quantity" not in p, p
    assert "CartesianProduct" not in p, p


def test_entry_exit_shared_session_sort(spark):
    """Entry/exit: gap flag + session id + endpoint ranks all run on
    user-keyed sorts; constant-size (5x5) output rollup; no join."""
    p = _exec_plan(spark, "sessions_entry_exit_matrix")
    assert "Join" not in p, p
    # the (user, sid) agg rides the window's sort order (SortAggregate)
    assert p.count("HashAggregate") + p.count("SortAggregate") >= 4, p


def test_stem_report_single_agg(spark):
    """Stemming report: map-side regexp, one lang agg with two exact
    count-distincts (expand plan) — no join."""
    p = _exec_plan(spark, "text_stem_naive")
    assert "Join" not in p, p
    assert "Expand" in p, p


def test_skipgram_mapside_pairs_one_shuffle(spark):
    """Skip-grams: pair generation is map-side array slicing; the only
    data shuffle is the (w1, w2) count agg — never a positions
    self-join."""
    p = _exec_plan(spark, "text_skipgram_pairs")
    assert "Join" not in p, p
    assert "Union" in p, p


def test_bot_score_signals_share_pass(spark):
    """Bot score: one window (burst leg) + one user agg computing all
    three signals — not one scan per signal."""
    p = _exec_plan(spark, "events_bot_score")
    assert "Join" not in p, p
    assert p.count("Window [") == 1, p


def test_detour_one_window_pass(spark):
    """Detour ratio: lag, first_value, and the reverse-order marker all
    run in window passes over ONE user-keyed shuffle; no join."""
    p = _exec_plan(spark, "geo_trip_detour_ratio")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_demand_profile_windows_on_profile_rows(spark):
    """Demand by hour: fact shuffles once into the (type, hour) agg;
    share/rank windows run on the 5x24 profile."""
    p = _exec_plan(spark, "events_demand_by_hour")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_utilization_gap_stream_one_sort(spark):
    """Utilization: one user-keyed window for the gap stream, then a
    per-user agg — no join."""
    p = _exec_plan(spark, "geo_fleet_utilization")
    assert "Join" not in p, p
    assert p.count("Window [") == 1, p


def test_octant_turns_shared_order_no_trig(spark):
    """Octant turns: both lags share the (user; us, event_id) order —
    at most 2 window nodes over 1 user shuffle; and the plan contains
    no trig calls (octants are sign/magnitude CASE logic)."""
    p = _exec_plan(spark, "geo_heading_octant_turns")
    assert "Join" not in p, p
    assert "ATAN" not in p.upper().replace("ATAN2", "ATAN"), p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_forecast_eval_windows_on_hourly_series(spark):
    """Naive-seasonal eval: fact shuffles once into the (type, hour)
    agg; the lag-24 window runs on the hourly series; no join."""
    p = _exec_plan(spark, "events_forecast_naive_eval")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_repurchase_curve_broadcast_thresholds(spark):
    """Repurchase curve: 4-row thresholds broadcast into the gap
    stream; one customer window; no cartesian at data scale."""
    p = _exec_plan(spark, "orders_repurchase_curve")
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" not in p, p
    assert p.count("Window [") == 1, p


def test_vocab_growth_one_corpus_shuffle(spark):
    """Heaps curve: first-seen min agg is the only corpus shuffle; the
    max and cutoffs broadcast into the vocabulary."""
    p = _exec_plan(spark, "text_vocab_growth")
    assert "SortMergeJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_dod_change_daily_series_only(spark):
    """DoD alert: one day agg, then a lag over the daily series —
    the fact is never touched twice."""
    p = _exec_plan(spark, "dq_volume_dod_change")
    assert "Join" not in p, p
    assert p.count("Window [") == 1, p


def test_inverted_index_two_level_agg(spark):
    """Index build: (term, doc) count then term rollup — mergeable,
    no join."""
    p = _exec_plan(spark, "search_inverted_index_build")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_boolean_retrieval_map_only(spark):
    """Boolean retrieval: array predicates evaluate in the scan stage —
    zero shuffles."""
    p = _exec_plan(spark, "text_boolean_retrieval")
    assert "Exchange hashpartitioning" not in p, p
    assert "Join" not in p, p


def test_bm25_broadcast_stats_bounded_topk(spark):
    """BM25: df + (N, S) broadcast; the top-20 compiles to
    TakeOrderedAndProject, never a global sort."""
    p = _exec_plan(spark, "text_bm25_rational_topk")
    assert "TakeOrderedAndProject" in p, p
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2, p


def test_aspect_buckets_constant_agg(spark):
    """Aspect buckets: map-only decode then a constant-size bucket
    agg."""
    p = _exec_plan(spark, "multimodal_aspect_buckets")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_cohort_ltv_customer_keyed(spark):
    """Cohort LTV: first-year agg + customer-keyed join + (cohort,
    offset) agg; cumulative window on the tiny grid; no cartesian."""
    p = _exec_plan(spark, "orders_cohort_ltv")
    assert "CartesianProduct" not in p, p
    assert p.count("Window [") == 1, p


def test_query_expansion_filter_before_count(spark):
    """Expansion: query-term filter lands in the pair stream before
    the count agg; per-term top-5 gets rank pushdown."""
    p = _exec_plan(spark, "search_query_expansion")
    assert "WindowGroupLimit" in p, p
    assert "Join" not in p, p


def test_cluster_histogram_two_aggs(spark):
    """Cluster-size histogram: content-hash agg then bucket rollup —
    no join, constant output."""
    p = _exec_plan(spark, "dedup_cluster_size_histogram")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_df_band_vocab_join_only(spark):
    """DF bands: the df/tf join runs on the vocabulary, the 1-row doc
    count broadcasts; the corpus shuffles only into the two token
    aggs."""
    p = _exec_plan(spark, "corpus_df_band_prune")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_waterfall_single_scan_all_components(spark):
    """Waterfall: all four components in ONE year-keyed agg over one
    fact scan — never a component-per-query re-scan."""
    p = _exec_plan(spark, "orders_revenue_waterfall")
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_stickiness_exact_distincts_week_join(spark):
    """Stickiness: day- and week-level exact distinct aggs (Expand
    plans, no global distinct), joined on the week key."""
    p = _exec_plan(spark, "events_dau_wau_stickiness")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_ra_index_center_weight_before_pair_agg(spark):
    """RA index: the degree weight joins on the wedge CENTER (broadcast)
    before the pair agg — per-pair state is one integer sum."""
    p = _exec_plan(spark, "graph_resource_allocation_index")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_theil_sen_pairs_on_aggregate(spark):
    """Theil-Sen: the O(days^2) pair join runs on the daily AGGREGATE;
    the fact shuffles once into the day counts."""
    p = _exec_plan(spark, "timeseries_theil_sen_int")
    assert "CartesianProduct" not in p, p
    assert p.count("Scan parquet") <= 2, p


def test_abc_key_only_global_sort(spark):
    """ABC: part-keyed agg then a global sort of part rows — payload
    columns never reach the sort."""
    p = _exec_plan(spark, "orders_abc_classification")
    assert "l_shipdate" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_kwic_mapside_frames_one_shuffle(spark):
    """KWIC: context frames extract via array HOFs map-side; one
    (left, right) agg is the only shuffle."""
    p = _exec_plan(spark, "text_kwic_contexts")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_growth_accounting_shared_user_partitioning(spark):
    """Growth accounting: min + lag share the user partitioning over
    the distinct (user, week) set; one week rollup; no fact rescan."""
    p = _exec_plan(spark, "events_growth_accounting")
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_null_safe_join_stays_hash_join(spark):
    """<=> must plan as a (broadcast) hash join with a null-safe key —
    never a BNLJ/cartesian."""
    p = _exec_plan(spark, "join_null_safe_equi")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_symmetry_score_map_only(spark):
    """Symmetry score: map-only mapInPandas — zero exchanges."""
    p = _exec_plan(spark, "multimodal_image_symmetry_score")
    assert "Exchange" not in p, p


def test_single_source_risk_one_fact_pass(spark):
    """Single-source risk: distinct-supplier count + revenue sum in ONE
    part-keyed pass, then a 3-row band rollup."""
    p = _exec_plan(spark, "parts_single_source_risk")
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_local_clustering_oriented_wedge(spark):
    """Local clustering: the same oriented equi-join cascade as the
    triangle op — no cartesian; constant band output."""
    p = _exec_plan(spark, "graph_local_clustering")
    assert "CartesianProduct" not in p, p


def test_winsorize_keyonly_bounds_broadcast_back(spark):
    """Winsorize: bounds come from a key-only sort; the 1-row bounds
    broadcast back; the clamp is map-side."""
    p = _exec_plan(spark, "events_winsorize_int")
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p or "BroadcastHashJoin" in p, p
    assert p.count("Window [") <= 2, p


def test_duplicate_invoices_blocked_pairs(spark):
    """Duplicate invoices: pairs form only inside the (custkey, cents)
    equi-join block — never a cartesian; the date window is residual."""
    p = _exec_plan(spark, "dq_duplicate_invoices")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_offset_fetch_bounded_take(spark):
    """OFFSET/FETCH must compile to a bounded global take, never a
    full-sort materialization."""
    p = _exec_plan(spark, "sql_offset_fetch")
    assert "TakeOrderedAndProject" in p or "CollectLimit" in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_phash_banded_lsh_equijoin(spark):
    """pHash near-dup: band equi-join on 16-bit keys, never cartesian;
    exact verify only on candidates."""
    p = _exec_plan(spark, "dedup_phash_banded")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_burstiness_mergeable_rollup(spark):
    """Burstiness: (term, doc) count then term rollup — no join."""
    p = _exec_plan(spark, "text_term_burstiness")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_gap_histogram_one_sort_constant_output(spark):
    """Gap histogram: one user window, <= 64-bucket rollup."""
    p = _exec_plan(spark, "events_gap_log2_histogram")
    assert "Join" not in p, p
    assert p.count("Window [") == 1, p


def test_trigram_profile_rank_pushdown(spark):
    """Char-trigram profile: map-side trigram explosion, (lang, gram)
    count, per-lang top-10 with rank pushdown."""
    p = _exec_plan(spark, "text_char_trigram_profile")
    assert "Join" not in p, p
    assert "WindowGroupLimit" in p, p


def test_explode_outer_is_generator(spark):
    """explode_outer: a generator node (outer), no shuffle."""
    p = _exec_plan(spark, "array_explode_outer")
    assert "Generate explode" in p and "true" in p.lower(), p
    assert "Exchange hashpartitioning" not in p, p


def test_order_size_constant_rollup(spark):
    """Order-size distribution: orderkey agg then <= 7-row rollup."""
    p = _exec_plan(spark, "orders_order_size_distribution")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_metronome_copartitioned_aggregates(spark):
    """Metronome: (user, gap) count, top-1 rank pushdown, and the
    user-keyed join of two aggregates of the same keyed data."""
    p = _exec_plan(spark, "events_metronome_score")
    assert "CartesianProduct" not in p, p
    assert "WindowGroupLimit" in p, p


def test_grayscale_detect_map_only(spark):
    """Grayscale detection: map-only mapInPandas — zero exchanges."""
    p = _exec_plan(spark, "multimodal_grayscale_detect")
    assert "Exchange" not in p, p


def test_existence_flags_one_fact_shuffle(spark):
    """Existence flags: ONE orderkey join + agg answers three EXISTS
    questions — not three semi-joins (1 fact scan, <= 3 exchanges)."""
    p = _exec_plan(spark, "join_existence_flags")
    assert p.count("Scan parquet") == 2, p  # orders + lineitem, once each
    assert "LeftSemi" not in p, p


def test_dow_hour_heatmap_constant_windows(spark):
    """Heatmap: one (dow, hod) agg; share/rank windows run on the 7x24
    grid; no join."""
    p = _exec_plan(spark, "events_demand_dow_hour")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_unit_price_outliers_copartitioned_rejoin(spark):
    """Unit-price audit: median from a part-keyed window, deviation
    count from a re-join of the SAME part-keyed data; no cartesian."""
    p = _exec_plan(spark, "dq_unit_price_outliers")
    assert "CartesianProduct" not in p, p
    assert p.count("Window [") >= 1, p


def test_quadkey_mapside_key_bounded_output(spark):
    """Quadkey index: map-side bit-extraction key, one agg, output
    bounded by 4^level — no join."""
    p = _exec_plan(spark, "geo_quadkey_index")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_tier_migration_fact_touched_once(spark):
    """Tier migration: (customer, year) agg, ntile + lead on the
    aggregate — one fact scan, no self-join."""
    p = _exec_plan(spark, "orders_tier_migration")
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_wordset_dedup_mapside_sort(spark):
    """Word-set dedup: the sort happens inside each doc's own array
    (map-side) — no corpus sort, one hash-keyed agg."""
    p = _exec_plan(spark, "dedup_wordset_exact")
    assert "Join" not in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_assortativity_broadcast_degrees_one_scan(spark):
    """Assortativity: two broadcast degree lookups + one global moment
    agg over the edge list."""
    p = _exec_plan(spark, "graph_degree_assortativity")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p, p


def test_named_window_single_operator(spark):
    """WINDOW clause: both functions share one named window -> exactly
    one Window operator over one sort."""
    p = _exec_plan(spark, "sql_named_window_clause")
    assert p.count("Window [") == 1, p
    assert "Join" not in p, p


def test_cluster_by_one_declared_exchange(spark):
    """CLUSTER BY: one declared output Exchange beyond the agg's own;
    semantics identical to the plain GROUP BY."""
    p = _exec_plan(spark, "sql_cluster_by_surface")
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "Join" not in p, p


def test_decontam_semi_joins_broadcast_corpus_unshuffled(spark):
    """corpus_decontam_fuzzy (round 12): the candidate doc-id semi
    joins must be BROADCAST — the localCheckpoint'd candidate set
    carries a product-of-children size estimate, so left to the
    planner the legs become SortMergeJoin LeftSemi and shuffle the
    corpus token arrays by doc_id, contradicting the op's contract
    that only signatures and shingle hashes shuffle, never text.  The
    size aggregation must likewise be candidate-bounded (its own
    broadcast semi), leaving no sort-merge semi join anywhere in the
    op."""
    p = _exec_plan(spark, "corpus_decontam_fuzzy")
    for line in p.splitlines():
        if "SortMergeJoin" in line:
            assert "LeftSemi" not in line, line
    assert sum(
        1
        for line in p.splitlines()
        if "BroadcastHashJoin" in line and "LeftSemi" in line
    ) >= 3, p


def test_warm_headline_pass_compiles_nothing(spark, sf_dir):
    """The generated-code cache holds the headline's working set: the
    ten ``bench.py`` queries compile over 100 classes, which Spark's
    stock 100-entry cache cannot keep, so every warm pass recompiled
    some of them.  With the session's pin a second pass over the ten, in
    another order, compiles nothing (``CodegenMetrics`` counts every
    Janino compile in the JVM)."""
    from bench import BENCH_QUERIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass(order):
        before = compiles.getCount()
        for name in order:
            OPS[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    run_pass(BENCH_QUERIES)
    assert run_pass(BENCH_QUERIES[::-1]) == 0
