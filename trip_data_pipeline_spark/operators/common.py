"""Shared kernels: the parity-safe column helpers (SURVEY.md §5.3
rules), scratch dirs, and every kernel that two or more operator
families use — text normalize/tokenize/shingle, the md5 hash family
and MinHash, integer-quantized vector math, the PPM codec.  A kernel
only one family uses lives in that family's module; operator modules
import nothing private from each other.

The Spark<->DuckDB hash check compares exact values, so every derived
double is rounded (2 dp money / 4 dp similarity) and every timestamp is
projected as a DATE or integer epoch — never raw.  ``events.ts`` is
µs-identical in both engines (measured, FIXTURES.md gotcha 1 resolved),
so integer µs/second math below is exact parity.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_scratch)


def scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup (ADVICE r3: sink/scan ops were
    leaking a materialized table copy into /tmp per verify sweep).  The
    dir must outlive the op's RETURNED DataFrame — Spark re-reads it
    lazily on every action — so cleanup is atexit, not per-call."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def r2(c: Column) -> Column:
    """Round a money/metric double to 2 dp (SURVEY.md §5.3 rule 1)."""
    return F.round(c, 2)


def r4(c: Column) -> Column:
    """Round a similarity/unit-scale double to 4 dp."""
    return F.round(c, 4)


def nz(c: Column) -> Column:
    """Normalize negative zero: a rounded near-zero value computed by
    two independent pipelines can land on +0.0 in one engine and -0.0
    in the other (sum-order noise crossing zero) — map both to +0.0.
    Oracle-side mirror: ``CASE WHEN x = 0 THEN CAST(0.0 AS DOUBLE) ELSE x END``.
    """
    return F.when(c == 0, F.lit(0.0)).otherwise(c)


def bigint(c: Column) -> Column:
    """Cast to BIGINT so Spark counts/ranks match DuckDB's BIGINT
    (SURVEY.md §5.3 rule 3)."""
    return c.cast("bigint")


def as_date(c: Column) -> Column:
    """Project an ms-precision, date-valued timestamp as DATE
    (SURVEY.md §5.3 rule 2)."""
    return F.to_date(c)


def epoch_s(col: str) -> Column:
    """Whole-second epoch of timestamp column `col` as BIGINT.

    DuckDB equivalent: ``epoch_us(ts) // 1000000``.  Both engines see the
    same µs instant, and both floor-divide, so this is exact.
    """
    return F.expr(f"(unix_micros({col}) div 1000000)")


# DuckDB-side rendering of the same expression, for oracle SQL strings.
def duck_epoch_s(col: str) -> str:
    return f"(epoch_us({col}) // 1000000)"


def range_parts(spark) -> int:
    """Partition count for explicit repartitionByRange calls in the
    two-pass global-order shapes (ids_global_contiguous,
    dq_sequence_gaps): the session's spark.sql.shuffle.partitions
    (ADVICE r7 item 2 — a literal 32 is a fixed-parallelism ceiling at
    cluster scale; a 1000-executor session sets shuffle.partitions in
    the thousands and each range task must stay bounded by
    rows/partition).  Spark rejects a non-positive value when it is
    set, so the conf is always a usable count.  Output of both callers
    is boundary-independent (property-locked by
    test_sequence_gaps_two_pass_matches_naive and the
    ids_global_contiguous checksum), so the count only affects
    parallelism, never values."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def spread(df, min_fraction: float = 1.0):
    """Round-robin repartition to the session's default parallelism —
    ONLY when the input is under-partitioned.

    Parquet scans are partitioned by BYTES (maxPartitionBytes), but a
    corpus table is byte-small and CPU-heavy — per-document/-vector
    higher-order-function work — and the fixtures are single-row-group
    files, so the scan yields ONE task and pins the whole pass to one
    core no matter how many are available.  CPU-bound narrow
    transforms must scale with cores, not input bytes: locally the
    rebalance unlocks all cores (measured: 8-20x on the corpus ops).

    At cluster scale the scan already has thousands of splits, so an
    unconditional repartition would (a) pointlessly shuffle raw
    document text and (b) *down*-partition to defaultParallelism.
    Hence the guard: if the plan already has >= defaultParallelism
    partitions, return the input untouched — no extra Exchange
    (plan-locked in tests/test_plans.py::test_spread_no_shuffle_when_wide).

    min_fraction tunes the guard per op (round-4 measurement on the
    16-file 10x layout, 32 cores): for LIGHT per-row work (split +
    count: term_freq, exact-hash dedup, tf-idf) the 16->32 text
    shuffle costs more than the idle cores — relaxed guard
    (min_fraction=0.25: skip at >= 8 partitions) is 35-45% faster
    (term_freq 0.64->0.36 s, dedup_exact 0.46->0.29 s).  For HEAVY
    per-row work (64-perm MinHash HOF folds) the opposite holds:
    dedup_near_minhash is 33% SLOWER at 16 tasks (42->56 s), so
    compute-bound ops keep the strict default (always reach full
    parallelism).

    The exact probe, df.rdd.getNumPartitions(), is cheap here: every
    caller passes an io.load frame, which is memoized per (session,
    table), and PySpark caches its .rdd, so Spark plans each scan once.
    The guard floor is 1 only when target==1 (a defaultParallelism==1
    session never gets a pointless repartition(1) Exchange — ADVICE r4
    item 3) and stays 2 otherwise, so a 1-partition scan on a small
    multi-core session (parallelism 4-7, where int(target*0.25) would
    round to 1) is still widened (ADVICE r5 item 3)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    floor = 1 if target == 1 else 2
    if df.rdd.getNumPartitions() >= max(floor, int(target * min_fraction)):
        return df
    return df.repartition(target)


# --------------------------------------------------------------------------
# Text kernels: normalize, tokenize, n-grams, shingles
# --------------------------------------------------------------------------

# normalization used by every text op: lowercase, strip ASCII
# punctuation/control.  documents.text is already lowercase/
# space-separated (FIXTURES.md) but the operators must not rely on that.
#
# Round-3 perf change: the original `regexp_replace(lower(text),
# '[^a-z0-9 ]', '')` was 70-80% of the ENTIRE dedup/term-freq runtime
# at the 10x scale probe (Java per-row regex, 1.5 s of 2.0 s wall on 32
# cores, vs DuckDB's vectorized RE2).  `translate()` is a single JVM
# char-map pass — measured 3-5x faster end-to-end — and DuckDB computes
# the identical mapping, so parity is exact by construction.  Semantics
# shift: instead of KEEPING only [a-z0-9 ] (which silently ate
# non-ASCII letters), normalization now STRIPS ASCII punctuation,
# residual uppercase, and control whitespace; byte-identical to the old
# regex on the fixture corpus (0/50k rows differ at 10x, measured).
_PUNCT = (
    "!\"#$%&'()*+,-./:;<=>?@ABCDEFGHIJKLMNOPQRSTUVWXYZ[\\]^_`{|}~"
    "\t\n\r"
)

# DuckDB rendering: printable part as a quoted literal (with '' for the
# embedded quote), control chars via chr() so no raw bytes live in SQL.
_DUCK_PUNCT = (
    "concat('"
    + _PUNCT[:-3].replace("'", "''")
    + "', chr(9), chr(10), chr(13))"
)


def _norm(col: str = "text"):
    return F.translate(F.lower(F.col(col)), _PUNCT, "")


def _duck_norm(col: str = "text") -> str:
    return f"translate(lower({col}), {_DUCK_PUNCT}, '')"


def _words(col: str = "text"):
    return F.split(_norm(col), " ")


def _duck_words(col: str = "text") -> str:
    return f"string_split({_duck_norm(col)}, ' ')"


def words_of(col: str = "text") -> Column:
    """Space-separated word array; fixtures are single-space separated
    (DuckDB mirror: ``string_split(text, ' ')``)."""
    return F.split(F.col(col), " ")


def word_ngrams(w: Column, n: int) -> Column:
    """All n-word grams of word array ``w``, joined by single spaces,
    with multiplicity, in document order — TOTAL for any input: fewer
    than n words, or a NULL array, yields an empty array.  DuckDB
    mirror: ``duck_word_ngrams``.

    ``w`` is bound once per row as the lambda variable ``ws`` of
    ``transform(array(w), ws -> ...)``, because an interpreted
    higher-order lambda re-evaluates a non-lambda input such as
    ``split(text)`` for every element, which measured 8.3 s at n = 2
    and 28.0 s at n = 8 against 0.37 s and 0.41 s bound once (sf0.1
    documents, 4 cores; the word n-gram kernel entry in CHANGES.md).

    The short-doc guard lives INSIDE the expression: Spark's
    ``sequence(1, size - n + 1)`` DESCENDS below n words, and codegen
    subexpression elimination can evaluate a gram expression inside a
    Filter before that Filter's own ``size >= n`` conjunct (round-8
    degenerate gate), so a guard at the call site is not enough;
    CASE-WHEN branches are exempt from that elimination."""

    def grams(ws: Column) -> Column:
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))

    return F.element_at(F.transform(F.array(w), grams), 1)


def duck_word_ngrams(w: str, n: int) -> str:
    """DuckDB side of ``word_ngrams`` over list expression ``w``: the
    exclusive-upper ``range`` is already empty below n words, and the
    slice ``w[i:i+n-1]`` is 1-based and inclusive."""
    return (
        f"list_transform(range(1, len({w}) - {n - 2}), "
        f"i -> array_to_string({w}[i:i+{n - 1}], ' '))"
    )


def duck_components(edges: str) -> str:
    """DuckDB connected components of relation ``edges(src, dst)`` as
    CTEs for a ``WITH RECURSIVE`` list, ending in
    ``comp(node, component)``, where component is the least node id in
    the node's component (the labelling of ``connected_components``).

    Min-label propagation with pointer jumping, one recursive CTE:
    each round gives each node least(own label, min neighbour label,
    min label of the neighbour's label) and carries
    ``bool_or(moved) OVER ()``.  The round after the last one that
    moved repeats its labels with ``moved`` false, which ends the
    recursion; that round is the fixed point.  The edges are
    materialized once: inlined, every round re-evaluates them, and the
    grid-cell theta join of ``geo_grid_density_cluster`` took 3.3 s
    that way against 0.3 s materialized (sf0.01, DuckDB 1.0.0,
    4 threads; the duck_components entry in CHANGES.md).

    ``edges`` must be symmetric, and every node must have an edge:
    nodes are read off ``src`` and receive labels over their
    in-edges, so a node without one is missing from ``comp``."""
    return f"""ce_ AS MATERIALIZED (SELECT DISTINCT src, dst FROM {edges}),
cc_(node, label, moved) AS (
  SELECT DISTINCT src, src, true FROM ce_
  UNION ALL
  SELECT node, label, bool_or(moved) OVER () FROM (
    SELECT c.node, least(c.label, min(u.label), min(w.label)) AS label,
           least(c.label, min(u.label), min(w.label)) < c.label AS moved
    FROM cc_ c
    JOIN ce_ e ON e.dst = c.node
    JOIN cc_ u ON u.node = e.src
    JOIN cc_ w ON w.node = u.label
    WHERE c.moved
    GROUP BY c.node, c.label
  )
),
comp AS (SELECT node, label AS component FROM cc_ WHERE NOT moved)"""


SHINGLE_K = 3


# marker-word "n-gram model" per language: the tiny deterministic
# heuristic version of fasttext-style lang-ID.  Markers are chosen from
# common function words; on this synthetic corpus most docs fall through
# to 'und' (undetermined), which is itself the honest output.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
    "es": ["el", "los", "una"],
    "zh": ["de5", "shi4", "le5"],
}


def _marker_regex(words: list[str]) -> str:
    alts = "|".join(words)
    return f"(^| )({alts})( |$)"


# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# symbols — the regex shape GPT-2-style byte-pair pre-tokenization uses.
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


# --------------------------------------------------------------------------
# md5 hash family and MinHash signatures
# --------------------------------------------------------------------------

MINHASH_PERMS = 64

LSH_BANDS = 16  # r = 64/16 = 4 rows per band -> ~0.5 Jaccard threshold

# Engine-portable universal-hash MinHash (SURVEY §2.11 / §5.3): one
# md5 per shingle yields two 28-bit integers (a, b) parsed from hex;
# permutation j is h_j = (a + (j+1)*b) mod M.  Both engines parse the
# identical integers (hex_int / duck_hex_int), which is what upgrades
# this op from rows-only to a full value-hash oracle.  28-bit a/b keeps
# (a + 64*b) < 2^35 — no overflow in either engine — and MinHash only
# needs a consistent pseudo-random total order per permutation, not a
# cryptographic one.
MINHASH_MOD = 2_147_483_647  # 2^31 - 1


def hex_int(h: Column | str, start: int, n: int) -> Column:
    """The ``n`` hex chars of string column ``h`` from 1-based ``start``
    as a bigint — the md5 hash family every hash-checked op shares with
    its oracle.  ``n <= 15`` keeps the value inside a signed bigint.
    DuckDB mirror: ``duck_hex_int``."""
    return F.conv(F.substring(h, start, n), 16, 10).cast("bigint")


def duck_hex_int(h: str, start: int | str, n: int) -> str:
    """DuckDB side of ``hex_int``: a '0x'-prefixed string casts to the
    same BIGINT.  ``start`` may be a SQL expression."""
    return f"('0x' || substr({h}, {start}, {n}))::BIGINT"


def minhash_signatures_arrow(docs: DataFrame) -> DataFrame:
    """docs(doc_id, ws) -> (doc_id, sig: array<bigint>) with the
    64-perm fold done as a numpy batch kernel instead of Catalyst
    lambdas.  Round-4 measurement (10x layout, 50k docs x ~58
    shingles): the interpreted HOF fold costs 17 s — higher-order
    lambdas are NOT codegen'd, so 185M modular ops run on the
    expression interpreter — while md5 (codegen'd) is only 1.9 s.
    This keeps the md5 (a, b) parse JVM-side and ships two small
    int arrays per doc through Arrow for a (64 x n) vectorized
    min-fold: same integers, same signature, ~8x faster fold (the
    JVM-fold-vs-Arrow-matmul crossover rule in docs/SCALE.md — this
    kernel is firmly in the Arrow regime)."""
    from typing import Iterator as _Iter

    import numpy as np
    import pandas as pd

    sh = word_ngrams(F.col("ws"), SHINGLE_K)
    # Round-12 (guide §1.2 per-task work, §4.1): ONE md5 + ONE hex parse
    # per shingle instead of two.  The old shape ran two separate
    # transform lambdas — a = hex_int(md5(s), 1, 7) and
    # b = hex_int(md5(s), 8, 7) — and higher-order lambdas are
    # interpreted expression trees with no cross-lambda subexpression
    # sharing, so every shingle was md5'd twice.  Parsing the first 14
    # hex chars as one 56-bit long (the exact trick simhash_bits_arrow
    # already uses) and splitting hab = a * 2^28 + b inside the numpy
    # kernel yields bit-identical (a, b): substring(1,14) is the
    # concatenation of substring(1,7) and substring(8,7), so
    # hab >> 28 == a and hab & (2^28 - 1) == b by construction.
    ab = docs.select(
        "doc_id",
        F.transform(sh, lambda s: hex_int(F.md5(s), 1, 14)).alias("hab"),
    )

    def fold(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        ks = np.arange(1, MINHASH_PERMS + 1, dtype=np.int64).reshape(-1, 1)
        for pdf in batches:
            sigs = []
            for hab in pdf["hab"]:
                hab = np.asarray(hab, dtype=np.int64)
                a = hab >> 28
                b = hab & ((1 << 28) - 1)
                # a, b < 2^28 and k <= 64 -> a + k*b < 2^35: no overflow
                sigs.append(((a + ks * b) % MINHASH_MOD).min(axis=1).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return ab.mapInPandas(fold, schema="doc_id bigint, sig array<bigint>")


# --------------------------------------------------------------------------
# Vector kernels over integer-quantized embeddings
# --------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def qmilli(x: Column) -> Column:
    """``x`` quantized to integer millis, half up: floor(x*1000 + 0.5)
    as a bigint.  The float32 input is widened to double first
    (FIXTURES.md gotcha 5), and multiply/add/floor are single IEEE ops,
    so both engines land on the same integer — unlike round(), which disagrees between Spark and
    DuckDB at exact .5 boundaries.  DuckDB mirror: ``duck_qmilli``."""
    return F.floor(x.cast("double") * 1000 + F.lit(0.5))


def duck_qmilli(x: str) -> str:
    """DuckDB side of ``qmilli`` (its floor yields a DOUBLE)."""
    return f"floor(CAST({x} AS DOUBLE) * 1000 + 0.5)"


def qvec(col: str = "embedding") -> Column:
    """Embedding quantized to integer millis (``qmilli``) — kept as
    doubles.  Dot products and squared norms of these are
    exact integers well under 2^53, so their sums are EXACT in any
    partial-agg order, sqrt/divide are correctly-rounded IEEE ops on
    bit-identical inputs, and the resulting cosine is bit-identical
    across Spark and DuckDB: rankings computed on it cannot flip at a
    float boundary (round-3 ADVICE fix).  DuckDB mirror: ``duck_qvec``
    (``list_inner_product`` of two of them is ``dot``)."""
    return F.transform(F.col(col), lambda x: qmilli(x).cast("double"))


def duck_qvec() -> str:
    """DuckDB side of ``qvec()`` (a DOUBLE list of the embedding)."""
    return f"list_transform(embedding, x -> {duck_qmilli('x')})"


def fr4(c: Column) -> Column:
    """Engine-portable 4-dp half-up round: floor(x*10000 + 0.5)/10000.
    Multiply/add/floor/divide are single IEEE ops, identical on both
    engines for a bit-identical input — unlike round(), whose decimal
    re-rounding path is engine-specific.  Never produces -0.0.
    DuckDB mirror: ``duck_fr4``."""
    return F.floor(c * 10000 + F.lit(0.5)).cast("double") / F.lit(10000.0)


def duck_fr4(x: str) -> str:
    return f"floor({x} * 10000 + 0.5) / 10000.0"


# --------------------------------------------------------------------------
# PPM (P6) image codec
# --------------------------------------------------------------------------

PPM_W = 16  # fixture image width; height varies per doc (1..13 rows)


def _encode_ppm(doc_id: int) -> bytes:
    """Deterministic valid binary PPM (P6) payload for a doc: the
    container ships no image files, so the fixture image is synthesized
    — but it is a REAL P6 byte stream (magic, ASCII dims, maxval, raw
    RGB triples) that any PPM reader decodes."""
    w, h = PPM_W, (doc_id % 13) + 1
    header = f"P6\n# doc {doc_id}\n{w} {h}\n255\n".encode("ascii")
    return header + bytes((doc_id * 31 + i) % 256 for i in range(w * h * 3))


def _decode_ppm(payload: bytes) -> dict:
    """REAL pure-python P6 decoder (replaces the round-2 stub): parses
    magic, '#' comments, whitespace-separated width/height/maxval, then
    the raw RGB plane.  General over any binary PPM, not just
    _encode_ppm output; PIL/ffmpeg decoders for richer formats slot
    into this exact function signature."""
    if payload is None or payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:  # width, height, maxval
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw pixels
    w, h, maxval = fields
    px = payload[pos : pos + w * h * 3]
    if maxval > 255 or len(px) != w * h * 3:
        raise ValueError("truncated or 16-bit PPM unsupported")
    return {
        "width": w,
        "height": h,
        "maxval": maxval,
        "n_px": len(px),
        "sum_px": sum(px),
        "px": px,  # raw RGB plane for downstream transforms (resize)
    }


# --------------------------------------------------------------------------
# Money as integer cents
# --------------------------------------------------------------------------

_CENTS = "CAST(round(value * 100) AS BIGINT)"


def _cents() -> Column:
    """``events.value`` as integer cents (DuckDB mirror: ``_CENTS``)."""
    return F.round(F.col("value") * 100).cast("bigint")
