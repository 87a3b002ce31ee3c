"""§2.11 deduplication operators (SURVEY.md §2.11) + task-brief
additions: exact hash, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

100 TB design notes:
- exact dedup = hash-groupBy: shuffle carries (hash, min_id) only.
- MinHash/LSH and SimHash avoid the O(n^2) pair space by banding:
  candidate pairs come from equality joins on band keys, so the
  shuffle is keyed by band hash and the blowup is bounded by bucket
  sizes (tune bands/rows b,r for the target Jaccard threshold).
- verification joins fetch shingle sets only for candidate pairs.
All stages are plain DataFrame ops (explode/groupBy/join) — no UDFs.

``dedup_cluster_canonical`` turns pairwise dup signals into a
deduplicated corpus: exact-dup groups collapse to a representative,
blocked edit-distance pairs over representatives feed the
connected-components kernel (operators/graph.py), and every clustered
document maps to the minimum doc_id of its component.  Dup clusters
are near-cliques with tiny diameter, so components converge in 2-3
supersteps.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    LSH_BANDS,
    MINHASH_MOD,
    MINHASH_PERMS,
    SHINGLE_K,
    _decode_ppm,
    _duck_norm,
    _duck_words,
    _encode_ppm,
    _norm,
    _words,
    bigint,
    dot,
    duck_components,
    duck_fr4,
    duck_hex_int,
    duck_qvec,
    duck_word_ngrams,
    fr4,
    hex_int,
    l2norm,
    minhash_signatures_arrow,
    qvec,
    r4,
    spread,
    word_ngrams,
)
from trip_data_pipeline_spark.operators.graph import connected_components
from trip_data_pipeline_spark.registry import op

CAT = "2.11 deduplication"


@op(
    "dedup_exact_hash",
    oracle=f"""
SELECT md5({_duck_norm()}) AS text_hash,
       CAST(min(doc_id) AS BIGINT) AS survivor_id,
       CAST(count(*) AS BIGINT)    AS n_copies
FROM documents
GROUP BY 1
""",
    category=CAT,
    pure=True,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text md5, deterministic survivor —
    SURVEY.md §2.11 row 4.  Round 3: normalization is the shared
    translate() char-map (common._norm) — the old Java regex was
    ~75% of this op's wall time at the 10x probe (2.03 s -> 0.63 s).
    Light per-row work: relaxed spread guard (common.spread r4 note)."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    h = F.md5(_norm())
    return (
        d.select(h.alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            bigint(F.min("doc_id")).alias("survivor_id"),
            bigint(F.count(F.lit(1))).alias("n_copies"),
        )
    )


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """docs(doc_id, ws: array<string>) -> candidate pairs from LSH band
    equality (doc_id1 < doc_id2, distinct)."""
    r = MINHASH_PERMS // LSH_BANDS
    sigs = minhash_signatures_arrow(docs)
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.element_at("sig", b * r + i + 1).cast("string")
                            for i in range(r)
                        ],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.band_idx") == F.col("b2.band_idx"))
            & (F.col("b1.band_hash") == F.col("b2.band_hash"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_id1"),
            F.col("b2.doc_id").alias("doc_id2"),
        )
        .distinct()
    )


def verified_jaccard_pairs(docs: DataFrame, pairs: DataFrame, tau: float) -> DataFrame:
    """Join candidate pairs back to shingle sets and keep those with
    true Jaccard >= tau."""
    sets_ = docs.select(
        "doc_id", F.array_distinct(word_ngrams(F.col("ws"), SHINGLE_K)).alias("sset")
    )
    j = (
        pairs.join(sets_.withColumnRenamed("doc_id", "doc_id1").withColumnRenamed("sset", "s1"), "doc_id1")
        .join(sets_.withColumnRenamed("doc_id", "doc_id2").withColumnRenamed("sset", "s2"), "doc_id2")
    )
    inter = F.size(F.array_intersect("s1", "s2")).cast("double")
    union = F.size(F.array_union("s1", "s2")).cast("double")
    return (
        j.select(
            "doc_id1",
            "doc_id2",
            r4(inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


# DuckDB mirror of the full MinHash/LSH pipeline.  Feasible because the
# permutation family is md5-derived integer arithmetic (see the
# common.MINHASH_MOD note) rather than an engine-private hash: DuckDB
# parses the same two 28-bit ints from the same md5 hex, folds the same
# 64 permutation mins, bands them with the same '_'-joined keys, and
# verifies the same exact Jaccard — full value-hash parity, not
# rows-only.
_MINHASH_ORACLE = f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= {SHINGLE_K}),
sh AS (
  SELECT DISTINCT doc_id, unnest({duck_word_ngrams('ws', SHINGLE_K)}) AS s FROM d3
),
hx AS (
  SELECT doc_id,
         {duck_hex_int('md5(s)', 1, 7)} AS a,
         {duck_hex_int('md5(s)', 8, 7)} AS b
  FROM sh
),
hj AS (
  SELECT doc_id, j, min((a + (j + 1) * b) % {MINHASH_MOD}) AS mh
  FROM hx CROSS JOIN (SELECT unnest(range(0, {MINHASH_PERMS})) AS j) perms
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {MINHASH_PERMS // LSH_BANDS} AS band_idx,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS band_key
  FROM hj GROUP BY doc_id, band_idx
),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id1, b2.doc_id AS doc_id2
  FROM bands b1
  JOIN bands b2 ON b1.band_idx = b2.band_idx
               AND b1.band_key = b2.band_key
               AND b1.doc_id < b2.doc_id
),
sets_ AS (
  SELECT doc_id, list_distinct({duck_word_ngrams('ws', SHINGLE_K)}) AS sset FROM d3
)
SELECT doc_id1, doc_id2, jaccard FROM (
  SELECT c.doc_id1, c.doc_id2,
         round(CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
               / len(list_distinct(list_concat(s1.sset, s2.sset))), 4)
           AS jaccard
  FROM cand c
  JOIN sets_ s1 ON s1.doc_id = c.doc_id1
  JOIN sets_ s2 ON s2.doc_id = c.doc_id2
) WHERE jaccard >= 0.5
"""


@op("dedup_near_minhash", oracle=_MINHASH_ORACLE, category=CAT)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 3-shingles -> 64-perm MinHash -> 16-band LSH
    -> candidate pairs -> verified Jaccard >= 0.5 — SURVEY.md §2.11
    row 5.  Hash-checked since round 3: the portable md5-universal-hash
    permutation family lets DuckDB replay the exact LSH pipeline (see
    _MINHASH_ORACLE); recall properties stay covered by
    tests/test_properties.py."""
    d = spread(load(spark, sf_dir, "documents"))
    docs = d.select("doc_id", _words().alias("ws")).filter(F.size("ws") >= SHINGLE_K)
    pairs = minhash_candidate_pairs(docs)
    return verified_jaccard_pairs(docs, pairs, tau=0.5)


def simhash_bits_arrow(docs: DataFrame, nbits: int = 56) -> DataFrame:
    """docs(doc_id, ws) -> (doc_id, sh: 56-char bit string, shl: the
    same 56 bits as ONE bigint — char i+1 of sh == bit i of shl), with
    the bit-vote fold as a numpy batch kernel.

    The per-word hash is the first 14 hex chars of md5 parsed as a
    56-bit non-negative integer (``hex_int``) — the same
    engine-portable family the MinHash ops use — so the whole signature
    replays in DuckDB and the op hash-checks (round-3 upgrade from the
    xxhash64 rows-only form; 56 bits keeps the 4-band split at an even
    14 bits per band).  Bit i votes +1 when bit i of a word hash is
    set, else -1, and is set in the signature when its vote sum is
    strictly positive.

    Downstream band keys and hamming distances work on shl
    ((shl >> 14b) & 0x3FFF band extraction, bit_count(xor) hamming —
    both codegen'd) instead of 56-char strings: identical values by
    construction, far cheaper join keys.  Same round-4 lesson as
    minhash_signatures_arrow: an aggregate+zip_with fold of the votes
    runs on the expression interpreter (HOF lambdas are never
    codegen'd) and cost ~25 s of dedup_simhash's 33 s at the 10x
    layout; the md5 word hash (codegen'd) stays JVM-side and only one
    small long array per doc crosses Arrow."""
    from typing import Iterator as _Iter

    import numpy as np
    import pandas as pd

    hs = docs.select(
        "doc_id",
        F.transform("ws", lambda w: hex_int(F.md5(w), 1, 14)).alias("hv"),
    )

    def fold(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        shifts = np.arange(nbits, dtype=np.int64)
        weights = (np.int64(1) << shifts)
        for pdf in batches:
            out_s, out_l = [], []
            for hv in pdf["hv"]:
                h = np.asarray(hv, dtype=np.int64)
                votes = (((h[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                bits = votes > 0
                out_s.append("".join("1" if b else "0" for b in bits))
                out_l.append(int((weights * bits).sum()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sh": out_s, "shl": out_l}
            )

    return hs.mapInPandas(fold, schema="doc_id bigint, sh string, shl bigint")


_HAMMING_DUCK = "len([i for i in range(1, 57) if sh1[i] != sh2[i]])"

_SIMHASH_ORACLE = f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w FROM d WHERE len(ws) > 0),
h AS (
  SELECT doc_id,
         {duck_hex_int('md5(w)', 1, 14)} AS h
  FROM w
),
bits AS (
  SELECT doc_id, bi.i AS i,
         sum(CASE WHEN (h >> bi.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(0, 56)) AS i) bi
  GROUP BY doc_id, bi.i
),
sh AS (
  SELECT doc_id,
         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sh
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sh, bb.b AS band_idx, substr(sh, 1 + 14 * bb.b, 14) AS band_bits
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id1, b2.doc_id AS doc_id2,
         b1.sh AS sh1, b2.sh AS sh2
  FROM bands b1
  JOIN bands b2 ON b1.band_idx = b2.band_idx
              AND b1.band_bits = b2.band_bits
              AND b1.doc_id < b2.doc_id
)
SELECT doc_id1, doc_id2,
       CAST({_HAMMING_DUCK} AS BIGINT) AS hamming
FROM cand
WHERE {_HAMMING_DUCK} <= 6
"""


@op("dedup_simhash", oracle=_SIMHASH_ORACLE, category=CAT)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates — task-brief dedup addition.

    Pipeline: 56-bit SimHash per doc (aggregate fold, no explode) ->
    4 bands of 14 bits -> equality join per band -> hamming distance
    <= 6 verification.  Banding guarantees recall for hamming <= 3
    (pigeonhole: one of 4 bands must match exactly).

    Hash-checked since round 3: the per-word hash is md5-derived
    integer arithmetic (see simhash_bits_arrow), so the oracle replays
    the ENTIRE pipeline — word hashes, bit votes, banding, candidate
    join, hamming verify — and must land on the identical pair set."""
    d = spread(load(spark, sf_dir, "documents"))
    # normalize via the shared translate() char-map first (DataFrame
    # API — no SQL-literal escaping of the punctuation set needed),
    # then the Arrow bit-vote fold; banding + hamming run on the
    # single-long signature (shl) — int band keys and a codegen'd
    # bit_count(xor) instead of 56-char string comparisons.
    docs = simhash_bits_arrow(
        d.select("doc_id", _words().alias("ws")).filter(F.size("ws") > 0)
    )
    bands = docs.select(
        "doc_id",
        "shl",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("shl"), 14 * b).bitwiseAND(F.lit(16383))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    cand = (
        b1.join(
            b2,
            (F.col("b1.band_idx") == F.col("b2.band_idx"))
            & (F.col("b1.band_bits") == F.col("b2.band_bits"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_id1"),
            F.col("b2.doc_id").alias("doc_id2"),
            F.col("b1.shl").alias("shl1"),
            F.col("b2.shl").alias("shl2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("shl1").bitwiseXOR(F.col("shl2")))
    return cand.select(
        "doc_id1", "doc_id2", bigint(hamming).alias("hamming")
    ).filter(F.col("hamming") <= 6)


@op(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH t AS (SELECT doc_id, list_distinct({_duck_words()}) AS ws FROM documents)
SELECT t1.doc_id AS doc_id1, t2.doc_id AS doc_id2,
       CAST(len(list_intersect(t1.ws, t2.ws)) AS BIGINT) AS n_common,
       round(CAST(len(list_intersect(t1.ws, t2.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(t1.ws, t2.ws))), 4) AS jaccard
FROM t t1 JOIN t t2 ON t2.doc_id = t1.doc_id + 1
""",
    category=CAT,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-gram (word-set) Jaccard between consecutive doc pairs —
    task-brief dedup addition, hash-checked (the bounded pair set makes
    an exact SQL oracle possible; the LSH variant above is the
    all-pairs scale path)."""
    d = spread(load(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.array_distinct(_words()).alias("ws"))
    t1, t2 = t.alias("t1"), t.alias("t2")
    inter = F.size(F.array_intersect(F.col("t1.ws"), F.col("t2.ws")))
    union = F.size(F.array_union(F.col("t1.ws"), F.col("t2.ws")))
    return t1.join(t2, F.col("t2.doc_id") == F.col("t1.doc_id") + 1).select(
        F.col("t1.doc_id").alias("doc_id1"),
        F.col("t2.doc_id").alias("doc_id2"),
        bigint(inter).alias("n_common"),
        r4(inter.cast("double") / union).alias("jaccard"),
    )


@op(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id,
                  {duck_qvec()} AS emb
           FROM embeddings WHERE vec_id < 200),
     n AS (SELECT vec_id, emb, sqrt(list_inner_product(emb, emb)) AS nrm FROM e)
SELECT e1.vec_id AS vec_id1, e2.vec_id AS vec_id2,
       {duck_fr4('list_inner_product(e1.emb, e2.emb) / (e1.nrm * e2.nrm)')} AS cos
FROM n e1 JOIN n e2 ON e1.vec_id < e2.vec_id
ORDER BY cos DESC, vec_id1 ASC, vec_id2 ASC
LIMIT 10
""",
    category=CAT,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-10 most similar pairs in a
    bounded id range — task-brief dedup addition.  The top-10
    membership RANKS on cosine, so it uses the integer-exact quantized
    cosine (common.qvec) — see the round-3 ADVICE fix.

    Brute-force within the bound; at 100 TB the same query runs after
    an LSH/IVF bucket join (see sim_ann_ivf_bucket) so pairs are only
    formed within buckets."""

    e = (
        spread(load(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") < 200)
        .select("vec_id", qvec().alias("emb"))
        .withColumn("nrm", l2norm(F.col("emb")))  # normalize-once per side
    )
    e1, e2 = e.alias("e1"), e.alias("e2")
    return (
        e1.join(e2, F.col("e1.vec_id") < F.col("e2.vec_id"))
        .select(
            F.col("e1.vec_id").alias("vec_id1"),
            F.col("e2.vec_id").alias("vec_id2"),
            fr4(
                dot(F.col("e1.emb"), F.col("e2.emb"))
                / (F.col("e1.nrm") * F.col("e2.nrm"))
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id1").asc(), F.col("vec_id2").asc())
        .limit(10)
    )


EDIT_MAX = 20  # head-40-chars edit distance at/below this = near-dup pair


@op(
    "dedup_cluster_canonical",
    oracle=f"""
WITH RECURSIVE
b AS (
  SELECT doc_id, lang, n_chars // 50 AS bkt, substr(text, 1, 3) AS pfx,
         substr(text, 1, 40) AS head, md5(text) AS h
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS x, b2.doc_id AS y
  FROM b a JOIN b b2 ON a.h = b2.h AND a.doc_id < b2.doc_id
  UNION
  SELECT a.doc_id AS x, b2.doc_id AS y
  FROM b a JOIN b b2
    ON a.lang = b2.lang AND a.bkt = b2.bkt AND a.pfx = b2.pfx
   AND a.doc_id < b2.doc_id
  WHERE levenshtein(a.head, b2.head) <= {EDIT_MAX}
),
e AS (SELECT x AS src, y AS dst FROM pairs
      UNION SELECT y AS src, x AS dst FROM pairs),
{duck_components('e')}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS canonical_id
FROM comp ORDER BY doc_id
""",
    category=CAT,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-dedup composition, representative-first: exact-dup
    groups collapse to their min-doc_id representative BEFORE any
    pairwise work (one groupBy on the content hash — the md5 cliques'
    quadratic pair lists never materialize), blocked edit distance and
    iterative connected components then run over the (much smaller)
    representative set, and component labels broadcast back through
    the hash-group map.  Because every doc shares its representative's
    text (same md5 => same head/block), linking reps is equivalent to
    linking docs, and since each rep is its group's min id, the
    component min over reps IS the global min doc_id — so the result
    is identical to the naive formulation.  The DuckDB oracle is
    exactly that naive formulation (brute-force pairs over every doc,
    then ``common.duck_components``), so the hash check PROVES the
    optimized algorithm equivalent on the fixture.  Measured on the
    10x replica this is what keeps the op linear in corpus size when
    duplicate multiplicity grows (docs/SCALE.md)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("n_chars div 50").alias("bkt"),
        F.substring("text", 1, 3).alias("pfx"),
        F.substring("text", 1, 40).alias("head"),
        F.md5("text").alias("h"),
    )
    groups = d.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("n_copies")
    )
    dmap = d.join(groups, "h").localCheckpoint()
    rep_rows = dmap.select("lang", "bkt", "pfx", "head", "rep").distinct()
    a, b = rep_rows.alias("a"), rep_rows.alias("b")
    near = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .filter(F.levenshtein(F.col("a.head"), F.col("b.head")) <= EDIT_MAX)
        .select(F.col("a.rep").alias("x"), F.col("b.rep").alias("y"))
        .distinct()
    )
    edges = near.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionAll(
        near.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    comp = connected_components(edges).withColumnRenamed("node", "c_rep")
    # comp is bounded by the number of near-dup representatives —
    # usually small, but it GROWS with the corpus, so no forced
    # broadcast: AQE picks broadcast at fixture scale and falls back
    # to a shuffle join when the label map outgrows the threshold
    # (same rule as the round-3 contamination/tfidf fixes).
    labelled = (
        dmap.join(comp, dmap.rep == F.col("c_rep"), "left")
        # a doc is "clustered" iff its text has >1 copy (exact dup) or
        # its representative has a near-dup link
        .filter((F.col("n_copies") > 1) | F.col("component").isNotNull())
        .select(
            bigint(F.col("doc_id")).alias("doc_id"),
            bigint(F.coalesce(F.col("component"), F.col("rep"))).alias("canonical_id"),
        )
    )
    return labelled.orderBy("doc_id")


OVERLAP_K = 16


@op(
    "doc_overlap_chain",
    oracle=f"""
WITH t AS (SELECT doc_id, {_duck_norm()} AS nt FROM documents),
b AS (SELECT doc_id, nt[-{OVERLAP_K}:] AS suffix, nt[1:{OVERLAP_K}] AS prefix
      FROM t WHERE len(nt) >= {OVERLAP_K})
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.suffix AS overlap_key
FROM b a JOIN b c ON a.suffix = c.prefix AND a.doc_id <> c.doc_id
""",
    category=CAT,
)
def doc_overlap_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-chunk overlap detection: document A's last
    {OVERLAP_K} normalized characters equal document B's first
    {OVERLAP_K} — the signature of re-crawled shingled/chunked content
    (A and B are adjacent chunks of one source document).

    Scale: pure equi-join on the fixed-width boundary key — candidates
    are bounded per key bucket exactly like the MinHash band join; no
    pairwise text comparison ever happens."""
    d = spread(load(spark, sf_dir, "documents"))
    nt = _norm()
    b = d.select(
        "doc_id",
        F.substring(nt, -OVERLAP_K, OVERLAP_K).alias("suffix"),
        F.substring(nt, 1, OVERLAP_K).alias("prefix"),
    ).filter(F.length(nt) >= OVERLAP_K)
    a, c = b.alias("a"), b.alias("c")
    return a.join(
        c,
        (F.col("a.suffix") == F.col("c.prefix"))
        & (F.col("a.doc_id") != F.col("c.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("c.doc_id").alias("doc_b"),
        F.col("a.suffix").alias("overlap_key"),
    )


@op(
    "dedup_blocked_editdist",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, n_chars // 50 AS bkt, substr(text, 1, 3) AS pfx,
         substr(text, 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(levenshtein(a.head, b2.head) AS BIGINT) AS dist
FROM b a
JOIN b b2 ON a.lang = b2.lang AND a.bkt = b2.bkt AND a.pfx = b2.pfx
         AND a.doc_id < b2.doc_id
WHERE levenshtein(a.head, b2.head) <= {EDIT_MAX}
ORDER BY doc_a, doc_b
""",
    category=CAT,
)
def dedup_blocked_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs via blocked edit distance: block documents
    by (lang, length-bucket, 3-char head prefix), compare 40-char
    heads pairwise only within a block, keep pairs at distance <= 20.
    The block key bounds the quadratic stage — the join shuffles both
    sides on the key and each block's pair expansion happens locally,
    so cost is sum(block²), not corpus².  The prefix component is the
    part that keeps block sizes (and join parallelism = #distinct
    keys) growing WITH the corpus instead of blocks growing
    quadratically inside a fixed key set — measured 10x-replica
    evidence in docs/SCALE.md.  Recall trade-off (near-dups differing
    in the first 3 chars are missed) is the standard blocking
    compromise; multi-pass blocking on different keys is the recall
    fix, same plan shape per pass."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("n_chars div 50").alias("bkt"),
        F.substring("text", 1, 3).alias("pfx"),
        F.substring("text", 1, 40).alias("head"),
    )
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= EDIT_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            bigint(dist).alias("dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


CHUNK_W = 16  # words per non-overlapping chunk


@op(
    "dedup_chunk_exact",
    oracle=f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
ch AS (
  SELECT doc_id, i AS chunk_idx,
         md5(array_to_string(ws[i * {CHUNK_W} + 1 : (i + 1) * {CHUNK_W}], ' ')) AS h
  FROM (SELECT doc_id, ws,
               unnest(range(0, CAST(ceil(len(ws) / {CHUNK_W}.0) AS BIGINT))) AS i
        FROM d WHERE len(ws) > 0)
),
freq AS (SELECT doc_id, chunk_idx, h,
                count(*) OVER (PARTITION BY h) AS gf
         FROM ch)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN gf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN gf > 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
         AS dup_ppm
FROM freq GROUP BY 1
""",
    category=CAT,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup accounting (the C4/RefinedWeb
    'paragraph dedup' pass): split each document into non-overlapping
    16-word chunks, hash each chunk, and mark chunks whose hash occurs
    more than once ANYWHERE in the corpus; per document, report chunk
    counts and the duplicated-chunk share (integer ppm) — the signal a
    curation pipeline uses to strip boilerplate chunks or drop
    template-heavy docs.

    Scale: chunking is map-side (slice the word array — no shuffle of
    raw text); global chunk frequency is a count() window over the
    hash partition — join-free, one hash-keyed shuffle of (doc, idx,
    md5) triples, nothing corpus-sized on any node (same shape as
    tfidf / winnowing df).  The final per-doc rollup shuffles doc
    keys only."""
    d = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", _words().alias("ws"))
        .filter(F.size("ws") > 0)
    )
    ch = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(ws) / {CHUNK_W}.0) as int) - 1),"
                f" i -> md5(array_join(slice(ws, i * {CHUNK_W} + 1, {CHUNK_W}), ' ')))"
            )
        ).alias("chunk_idx", "h"),
    )
    freq = ch.withColumn("gf", F.count(F.lit(1)).over(Window.partitionBy("h")))
    dup = F.when(F.col("gf") > 1, 1).otherwise(0)
    return freq.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_chunks"),
        bigint(F.sum(dup)).alias("n_dup_chunks"),
    ).select(
        "doc_id", "n_chunks", "n_dup_chunks",
        F.expr("n_dup_chunks * 1000000 div n_chunks").cast("bigint").alias("dup_ppm"),
    )


def _minhash_eval_duck() -> str:
    """Truth by the shared-shingle-count identity: both sides of the
    index join are per-doc distinct, so a pair's join-row count IS
    |A∩B| and |A∪B| = n1 + n2 - i; the size filter (Arasu'06) at
    t = 0.5 is lossless.  Each arm is MATERIALIZED: the arms run in
    seconds at 10x alone, but inlined into the summary's five scalar
    subqueries DuckDB planned them as one tree that spilled >80 GB."""
    return f"""
WITH sh AS MATERIALIZED (
  WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
  d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= {SHINGLE_K})
  SELECT DISTINCT doc_id, unnest({duck_word_ngrams('ws', SHINGLE_K)}) AS s FROM d3
),
truth AS MATERIALIZED (
  WITH nsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  she AS (SELECT sh.doc_id, sh.s, nsz.n FROM sh JOIN nsz USING (doc_id))
  SELECT doc_id1, doc_id2 FROM (
    SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
           a.n AS n1, b.n AS n2, count(*) AS i_
    FROM she a JOIN she b
      ON a.s = b.s AND a.doc_id < b.doc_id
     AND b.n <= 2 * a.n AND a.n <= 2 * b.n
    GROUP BY 1, 2, 3, 4
  ) WHERE 2 * i_ >= n1 + n2 - i_
),
cand AS MATERIALIZED (
  WITH hx AS (
    SELECT doc_id,
           {duck_hex_int('md5(s)', 1, 7)} AS a,
           {duck_hex_int('md5(s)', 8, 7)} AS b
    FROM sh
  ),
  hj AS (
    SELECT doc_id, j, min((a + (j + 1) * b) % {MINHASH_MOD}) AS mh
    FROM hx CROSS JOIN (SELECT unnest(range(0, {MINHASH_PERMS})) AS j) perms
    GROUP BY doc_id, j
  ),
  bands AS (
    SELECT doc_id, j // {MINHASH_PERMS // LSH_BANDS} AS band_idx,
           string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS band_key
    FROM hj GROUP BY doc_id, band_idx
  )
  SELECT DISTINCT b1.doc_id AS doc_id1, b2.doc_id AS doc_id2
  FROM bands b1
  JOIN bands b2 ON b1.band_idx = b2.band_idx
               AND b1.band_key = b2.band_key
               AND b1.doc_id < b2.doc_id
),
hit AS MATERIALIZED (
  SELECT t.doc_id1 FROM truth t
  JOIN cand c ON c.doc_id1 = t.doc_id1 AND c.doc_id2 = t.doc_id2
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       CAST((1000000 * (SELECT count(*) FROM hit))
              // (SELECT count(*) FROM truth) AS BIGINT) AS recall_ppm,
       CAST((1000000 * (SELECT count(*) FROM hit))
              // (SELECT count(*) FROM cand) AS BIGINT) AS precision_ppm
"""


@op("dedup_minhash_recall_eval", oracle=_minhash_eval_duck(), category=CAT)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of the MinHash/LSH candidate generator
    against exhaustive ground truth — the dedup-index quality gate
    (the sibling of sim_ann_recall_eval for the near-dup path).
    Ground truth = every pair with exact Jaccard >= 0.5, found
    completely via the shingle inverted index (a positive-Jaccard
    pair must share a shingle, and the corpus' max shingle df is
    small, so the index join is bounded); the threshold test is the
    cross-multiplied integer 2*|A∩B| >= |A∪B| — no float anywhere.
    LSH candidates come from the SAME banded pipeline
    dedup_near_minhash ships.  One summary row: truth/candidate/hit
    counts + integer-ppm recall and precision.

    Scale: truth-by-inverted-index is the eval harness (bounded by
    shingle df); the LSH arm is the production path.  Round-7
    note: the prefix-filtering rework that cut
    dedup_shingle_containment 1.8x does NOT transfer here and was
    measured then reverted — at Jaccard t=0.5 the safe prefix is
    floor(n/2)+1 (~55% of index entries vs ~11% at containment
    t=0.9), and the candidate-distinct + per-pair verify that
    prefix filtering requires costs more than the ~3x join-row cut
    saves (measured 38.9 s -> 145 s at 10x).  The
    count-aggregation form below keeps partial aggregation
    pipelined inside the join stage with no candidate
    materialization at all.

    At-scale parity: the oracle counts shared shingles the same way.
    Its earlier truth arm (candidate-DISTINCT + per-pair
    list_intersect) took 1,517 s at 3x and did not finish at sf0.1;
    it stays in tests/test_scaled_oracles.py as the reference spec
    this oracle is locked to."""

    docs = spread(load(spark, sf_dir, "documents"))
    d3 = (
        docs.select("doc_id", _words().alias("ws"))
        .filter(F.size("ws") >= SHINGLE_K)
    )
    # Exhaustive truth WITHOUT per-pair set algebra (round-4: the
    # original pair->re-join-arrays->array_intersect form cost most
    # of this op's 412 s at 10x).  Shared-shingle count per pair IS
    # the intersection size (both sides are per-doc-distinct), so
    # one count aggregation over the index join replaces distinct +
    # two array joins + per-pair intersect/union; union follows as
    # |A| + |B| - i.  Identical truth set by construction.
    #
    # Round-8 LOSSLESS size filter at the join (the length filter of
    # Arasu/Ganti/Kaushik VLDB'06 exact set-similarity joins): at
    # Jaccard t=0.5, 2i >= n1+n2-i and i <= min(n1,n2) force
    # max <= 2*min, so index rows carry nsh and size-incompatible
    # pairs drop BEFORE the pair-count aggregation — on this corpus
    # (nsh spans 8..98) that cuts ~40% of the sum(df^2) join rows,
    # and carrying (n1, n2) through the aggregation keys also
    # deletes the two post-aggregation size joins.  Unlike prefix
    # filtering (measured counterproductive at t=0.5, see above),
    # this adds no second pass and no extra shuffle.  Measured
    # wall-clock at 10x: NEUTRAL (truth arm old 30.2s vs new 29.7s
    # warm, same 250,600-pair truth set) — the stage is bound by
    # the pair-count partial aggregation, not join-row production,
    # so the cut pays in shuffle bytes and agg input, not time, at
    # this scale; kept for the deleted joins and because the row
    # cut grows with duplicate density (the 100 TB regime).
    # Round-12 (guide §1.4/§4.4): the index is built by exploding the
    # RAW shingle array and row-distincting, NOT by exploding
    # array_distinct(shingles).  The array_distinct-under-explode
    # form made Catalyst infer `isnotnull(size(array_distinct(..)))`
    # filters from the Generate/join and push them below the `ws`
    # projection to the scan, where the substituted lambda body
    # re-evaluates split(translate(lower(text))) PER ELEMENT_AT CALL
    # — interpreted, per shingle, per doc, on BOTH join legs
    # (measured: 20.5 s for the index alone, 23.9 s for the truth
    # arm at sf0.1).  Exploding the raw attribute keeps the Generate
    # input a plain column; `n1` is wrapped in coalesce so it is
    # non-nullable and no isnotnull constraint can be inferred and
    # inlined (sh is never null here — d3 filters size(ws)>=3 —
    # so coalesce changes no value).  Same (doc, shingle, n1) rows
    # by construction; truth arm after: 2.2 s.
    sh = word_ngrams(F.col("ws"), SHINGLE_K)
    # Round-13 (guide §2.2/§3.2 — VERDICT r12 item 3): EXACT-DUPLICATE
    # COLLAPSE before the inverted-index join.  The truth predicate
    # 2|A∩B| >= |A∪B| depends only on the two shingle SETS, and a
    # shingle set is a function of the document TEXT — so docs are
    # first grouped by text (exact string equality, no hashing, no
    # collision risk), the index join runs over one representative
    # per text class, and the class-level truth pairs expand back to
    # doc pairs afterwards: cross-class pairs as members(c1) x
    # members(c2), intra-class pairs as all C(m,2) member pairs
    # (identical sets have Jaccard 1 >= t, always truth).  This is
    # the standard production shape — exact dedup before near-dedup
    # — and it attacks the truth arm's real cost law: the index join
    # is sum over shingles of df^2, and df scales with DUPLICATE
    # DENSITY, so at 10x (text payloads repeat per copy) class-level
    # df is 10x smaller and join rows drop ~100x (sum df^2 279.2M
    # over 50,000 docs -> 2.8M over 4,992 text classes on the
    # tools/scale_probe.py 10x layout; the measurement is recorded
    # in CHANGES.md under mh_probe_r13), while at sf0.1 (classes
    # ~singleton) the added cost is the text-keyed aggregation
    # below.  Exact by construction at every duplicate density; the
    # expansion is output-sized (|truth| rows, 250,600 at 10x).
    # `cls` is not materialized, and it runs THREE times: column
    # pruning gives each consumer a different aggregate (base: min;
    # mem: min + collect_list; intra: collect_list), so no exchange
    # is shared.  The AQE-final plan at sf0.01 has three
    # `Exchange hashpartitioning(text)` shuffles and zero
    # ReusedExchange over them; its six ReusedExchange nodes are
    # `spread`'s round-robin exchange of docs (4), the cj side of
    # the ci self-join (1) and the mem broadcast for the m2 join (1).
    cls = (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("cid"),
            F.collect_list("doc_id").alias("members"),
        )
        .select("cid", "members", _words().alias("ws"))
        .filter(F.size("ws") >= SHINGLE_K)
    )
    # Plan-shape discipline for the class index (two traps, both
    # measured at sf0.1):
    # (a) n1 is materialized as an ATTRIBUTE in a projection BELOW
    #     the explode.  Projecting size(array_distinct(transform(..)))
    #     in the SAME select as the explode lands it in the Project
    #     ABOVE the Generate, re-evaluated per exploded shingle row —
    #     the interpreted-HOF-per-row family of the round-12 note
    #     (measured 22.6 s for this index alone).
    # (b) the explode input stays the inline shingle EXPRESSION, not
    #     an attribute: InferFiltersFromGenerate skips inference for
    #     non-cheap generator inputs, but given a bare attribute it
    #     infers size(..)>0 AND isnotnull(..), and predicate pushdown
    #     substitutes that through ws down to the parquet scan where
    #     the lambda re-splits the text per element (measured: the
    #     whole op 35 s with the attribute form vs 6.5 s with this
    #     shape).
    base = cls.select(
        "cid",
        F.coalesce(F.size(F.array_distinct(sh)), F.lit(0)).alias("n1"),
        "ws",
    )
    ci = (
        base.select(
            F.col("cid").alias("cid1"), "n1", F.explode(sh).alias("s")
        )
        .distinct()
    )
    cj = ci.select(
        F.col("cid1").alias("cid2"), F.col("n1").alias("n2"), "s"
    )
    tcls = (
        ci.join(cj, "s")
        .filter(
            (F.col("cid1") < F.col("cid2"))
            & (F.col("n2") <= 2 * F.col("n1"))
            & (F.col("n1") <= 2 * F.col("n2"))
        )
        .groupBy("cid1", "cid2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("i_"))
        .filter(2 * F.col("i_") >= F.col("n1") + F.col("n2") - F.col("i_"))
        .select("cid1", "cid2")
    )
    mem = cls.select("cid", "members")
    cross = (
        tcls.join(
            mem.select(F.col("cid").alias("cid1"), F.col("members").alias("m1")),
            "cid1",
        )
        .join(
            mem.select(F.col("cid").alias("cid2"), F.col("members").alias("m2")),
            "cid2",
        )
        .select(F.explode("m1").alias("da"), "m2")
        .select("da", F.explode("m2").alias("db"))
        .select(
            F.least("da", "db").alias("doc_id1"),
            F.greatest("da", "db").alias("doc_id2"),
        )
    )
    intra = (
        cls.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("da"), "members")
        .select("da", F.explode("members").alias("db"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_id1"), F.col("db").alias("doc_id2")
        )
    )
    truth = cross.unionByName(intra)
    cand = minhash_candidate_pairs(d3)
    # Round-12 (guide §2.2/§5): ONE pass over each arm.  The old
    # shape consumed the truth lineage twice (n_truth agg + hit
    # join) and the cand lineage twice (n_cand agg + hit join) with
    # no exchange reuse across the four consumers — measured 13.2 s
    # vs 3.4 s for the two arms run once each.  A full-outer join on
    # the pair key with presence markers computes truth once, cand
    # once, and all three counts in a single aggregation:
    # count(t_) = |truth|, count(c_) = |cand|, and rows where both
    # markers survive the join are exactly the hits.
    j = truth.withColumn("t_", F.lit(1)).join(
        cand.withColumn("c_", F.lit(1)),
        ["doc_id1", "doc_id2"],
        "full_outer",
    )
    counts = j.agg(
        F.count("t_").alias("n_truth"),
        F.count("c_").alias("n_cand"),
        F.count(
            F.when(F.col("t_").isNotNull() & F.col("c_").isNotNull(), 1)
        ).alias("n_hit"),
    )
    return counts.select(
        bigint(F.col("n_truth")).alias("n_truth"),
        bigint(F.col("n_cand")).alias("n_cand"),
        bigint(F.col("n_hit")).alias("n_hit"),
        bigint(F.expr("(1000000 * n_hit) div n_truth")).alias("recall_ppm"),
        bigint(F.expr("(1000000 * n_hit) div n_cand")).alias("precision_ppm"),
    )


@op(
    "dedup_cross_snapshot",
    oracle="""
WITH d AS (SELECT doc_id, lang, text, md5(text) AS h FROM documents),
a AS (SELECT DISTINCT h FROM d WHERE substr(h, 1, 1) IN
        ('0','1','2','3','4','5','6','7')),
b AS (SELECT lang, h FROM d WHERE substr(h, 1, 1) NOT IN
        ('0','1','2','3','4','5','6','7'))
SELECT b.lang,
       CAST(count(*) AS BIGINT) AS n_new_docs,
       CAST(count(a.h) AS BIGINT) AS n_already_seen,
       CAST((1000000 * count(a.h)) // count(*) AS BIGINT) AS dup_ppm
FROM b LEFT JOIN a ON a.h = b.h
GROUP BY b.lang
""",
    category=CAT,
)
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot exact dedup: the incremental-crawl question "how
    much of the NEW snapshot did we already have?" — snapshot A is the
    content-addressed first half (md5 leading hex 0-7), snapshot B the
    second, and every B document checks its exact content hash against
    A's distinct hash set via a left join (at scale: a hash-keyed
    shuffle join — content hashes, never raw text, cross the wire).
    Per-language new/seen counts + integer-ppm dup rate drive the
    recrawl budget."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "lang", F.md5("text").alias("h")
    )
    first = F.substring("h", 1, 1)
    a_half = (
        d.filter(first.isin(*"01234567"))
        .select(F.col("h").alias("ah"))
        .distinct()
    )
    b_half = d.filter(~first.isin(*"01234567"))
    j = b_half.join(a_half, b_half.h == a_half.ah, "left")
    return j.groupBy("lang").agg(
        bigint(F.count(F.lit(1))).alias("n_new_docs"),
        bigint(F.count("ah")).alias("n_already_seen"),
        bigint(F.expr("(1000000 * count(ah)) div count(1)")).alias("dup_ppm"),
    )


@op(
    "dedup_shingle_containment",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= {SHINGLE_K}),
sets_ AS (SELECT doc_id, list_distinct({duck_word_ngrams('ws', SHINGLE_K)}) AS sset FROM d3),
she AS (SELECT doc_id, len(sset) AS n, unnest(sset) AS s FROM sets_)
SELECT small_id, big_id,
       CAST(i_ AS BIGINT) AS n_shared,
       CAST(na AS BIGINT) AS n_small
FROM (
  SELECT a.doc_id AS small_id, b.doc_id AS big_id,
         count(*) AS i_, a.n AS na
  FROM she a JOIN she b
    ON a.s = b.s AND a.doc_id <> b.doc_id
   AND 10 * b.n >= 9 * a.n
  GROUP BY 1, 2, 4
) WHERE 10 * i_ >= 9 * na
""",
    category=CAT,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup detection — the asymmetric relation
    Jaccard misses: |A∩B| / |A| >= 0.9 flags "B contains (almost all
    of) A" even when B is much larger, catching quote inclusion,
    boilerplate-wrapped reposts and page-chrome expansions that dilute
    symmetric Jaccard below any threshold.  Direction matters, so
    pairs are ordered (small_id = the contained side) and both
    directions are tested.  Threshold is the cross-multiplied integer
    10*i >= 9*|A| — no float ratio.

    Scale (round-7 rework — PREFIX FILTERING, Chaudhuri/Ganti/Kaushik
    ICDE'06; Xiao et al. ppjoin, WWW'08): the full inverted-index
    self-join costs sum(df^2) over shingles — measured 279M join rows
    on the 10x corpus (50k docs, 2.6M index entries, max df 250; the
    probe output is recorded in CHANGES.md under mh_probe_r13) and
    growing ~quadratically with duplicate density.  A qualifying pair
    shares >= ceil(0.9*na) of A's na shingles, so at most
    na - ceil(0.9*na) of A's shingles are NOT shared — by pigeonhole,
    under ANY global total order, at least one of A's first
    na - ceil(0.9*na) + 1 (~10%) shingles is shared with B.  So only
    that prefix probes the index (B, the containing side, indexes all
    its shingles — the 0.9 bound is on A alone), and ordering the
    prefix by ascending document frequency keeps stopword shingles
    (the df^2 hot keys) out of every probe.  Candidates then verify
    EXACTLY against the two shingle arrays, so two further lossless
    cuts apply: the index joins on xxhash64(shingle) (8-byte key vs
    ~20-byte string; a collision can only ADD a false candidate,
    which verify removes — it cannot lose a true pair, whose shared
    shingle always shares a hash), and duplicate candidates collapse
    with one distinct.  Measured at 10x, identical 500,500-row
    output: 279M -> 16M pair-generation rows; 52.8 s -> 29.8 s under
    the PROFILE_10x cold-session protocol, 48.6 s -> 18.5 s warm.
    The ppjoin size filter (10*nb >= 9*na at generation) measured
    SLOWER here (wider shuffle rows than the 40% candidate cut
    repaid) and is left out.

    At-scale parity: the oracle counts shared shingles over the
    inverted index (sset is per-doc distinct, so the per-pair join-row
    count IS |A∩B|), with the size filter 10*nb >= 9*na on its join;
    that filter is lossless, since a qualifying pair has
    i >= ceil(0.9*na) and i <= nb.  Its earlier candidate-DISTINCT +
    per-pair list_intersect did not finish at sf0.1; it stays in
    tests/test_scaled_oracles.py as the reference spec this oracle is
    locked to."""

    d3 = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", _words().alias("ws"))
        .filter(F.size("ws") >= SHINGLE_K)
    )
    sets_ = d3.select(
        "doc_id", F.array_distinct(word_ngrams(F.col("ws"), SHINGLE_K)).alias("sset")
    )
    sh = sets_.select(
        "doc_id",
        F.size("sset").alias("na"),
        F.explode(F.transform("sset", lambda s: F.xxhash64(s))).alias("h"),
    )
    # Global df-ascending shingle order (rarest first).  Ties on
    # (df, h) can only be same-hash rows, so row_number's tie order
    # cannot change which hashes the prefix contains.
    df_ = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_, "h").withColumn(
        "rk", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h"))
    )
    # prefix length = na - ceil(0.9*na) + 1; ceil(9*na/10) as integers
    probe = ranked.filter(
        F.col("rk") <= F.col("na") - F.expr("(9*na + 9) div 10") + 1
    ).select(F.col("doc_id").alias("small_id"), "h")
    full = sh.select(F.col("doc_id").alias("big_id"), "h")
    cand = (
        probe.join(full, "h")
        .filter(F.col("small_id") != F.col("big_id"))
        .select("small_id", "big_id")
        .distinct()
    )
    sa = sets_.select(F.col("doc_id").alias("small_id"), F.col("sset").alias("sa"))
    sb = sets_.select(F.col("doc_id").alias("big_id"), F.col("sset").alias("sb"))
    return (
        cand.join(sa, "small_id")
        .join(sb, "big_id")
        .select(
            "small_id",
            "big_id",
            F.size(F.array_intersect("sa", "sb")).alias("i_"),
            F.size("sa").alias("na"),
        )
        .filter(10 * F.col("i_") >= 9 * F.col("na"))
        .select(
            "small_id",
            "big_id",
            bigint(F.col("i_")).alias("n_shared"),
            bigint(F.col("na")).alias("n_small"),
        )
    )


WIN_K = 8  # words per substring-dedup window


@op(
    "dedup_substring_window",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, md5(unnest({duck_word_ngrams('w', WIN_K)})) AS h FROM d),
c AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS cnt FROM g)
SELECT doc_id,
       CAST(count(*) AS BIGINT)                         AS n_windows,
       CAST(count(CASE WHEN cnt >= 2 THEN 1 END) AS BIGINT) AS n_dup,
       CAST((1000000 * count(CASE WHEN cnt >= 2 THEN 1 END)) // count(*)
            AS BIGINT) AS dup_ppm
FROM c GROUP BY doc_id
""",
    category=CAT,
)
def dedup_substring_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup at span granularity (the Lee et al. 2022
    "Deduplicating Training Data" formulation): every 8-word sliding
    window is hashed; a window whose hash occurs >= 2 times anywhere in
    the corpus (same doc included — verbatim self-repeats count) is a
    duplicated span, and each doc reports its duplicated-window share
    in integer ppm.  This catches shared boilerplate/quotations inside
    otherwise-unique docs, which doc-level MinHash/SimHash miss.

    Scale shape: windows are md5'd to 16 bytes BEFORE the shuffle
    (raw text never crosses the wire), duplication is a count() window
    over the hash partition (one hash-keyed shuffle — join-free), then
    one doc-keyed re-aggregation.  At 100 TB this is the standard
    two-shuffle suffix of the span-dedup pipeline; the explode is
    narrow (pipelined with the scan)."""
    d = spread(load(spark, sf_dir, "documents"))
    wins = d.select(
        "doc_id", F.explode(word_ngrams(F.split("text", " "), WIN_K)).alias("g")
    ).select("doc_id", F.md5("g").alias("h"))
    cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    marked = wins.select("doc_id", (cnt >= 2).cast("int").alias("dup"))
    return (
        marked.groupBy("doc_id")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_windows"),
            bigint(F.sum("dup")).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup",
            bigint(F.expr("(1000000 * n_dup) div n_windows")).alias("dup_ppm"),
        )
    )


_HAM_AB = "len([i for i in range(1, 57) if shb[i] != sha[i]])"

_SIMHASH_INC_ORACLE = f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS w FROM d WHERE len(ws) > 0),
h AS (
  SELECT doc_id,
         {duck_hex_int('md5(w)', 1, 14)} AS h
  FROM w
),
bits AS (
  SELECT doc_id, bi.i AS i,
         sum(CASE WHEN (h >> bi.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(0, 56)) AS i) bi
  GROUP BY doc_id, bi.i
),
sh AS (
  SELECT doc_id,
         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sh
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sh, bb.b AS band_idx, substr(sh, 1 + 14 * bb.b, 14) AS band_bits
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb
),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_doc, a.doc_id AS index_doc,
         b.sh AS shb, a.sh AS sha
  FROM bands b
  JOIN bands a ON b.band_idx = a.band_idx
              AND b.band_bits = a.band_bits
              AND b.doc_id % 2 = 1 AND a.doc_id % 2 = 0
),
hits AS (
  SELECT batch_doc, index_doc FROM cand WHERE {_HAM_AB} <= 6
)
SELECT batch_doc AS doc_id,
       CAST(count(*) AS BIGINT)       AS n_index_dups,
       CAST(min(index_doc) AS BIGINT) AS first_index_dup
FROM hits GROUP BY batch_doc
"""


@op("dedup_simhash_incremental", oracle=_SIMHASH_INC_ORACLE, category=CAT)
def dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the production recrawl shape: a new
    batch (odd doc_ids) is SimHash-probed against an existing index
    snapshot (even doc_ids); the index never joins against itself.
    56-bit SimHash -> 4x14-bit bands -> batch->index band-equality
    probe -> hamming <= 6 verify -> per-batch-doc dup count + first
    index match.  Complements dedup_cross_snapshot (exact-hash
    incremental) with the near-dup variant; same md5-derived portable
    hash family as dedup_simhash, so DuckDB replays the whole pipeline.

    Scale shape: only (band_bits, 56-bit signature, doc_id) cross the
    wire — never text; the probe is an equi-join on band keys, and the
    index side's bands are a materialized artifact in a real
    deployment (built once per snapshot, not recomputed per batch)."""
    d = spread(load(spark, sf_dir, "documents"))
    docs = simhash_bits_arrow(
        d.select("doc_id", _words().alias("ws")).filter(F.size("ws") > 0)
    )
    bands = docs.select(
        "doc_id",
        "shl",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("shl"), 14 * b).bitwiseAND(F.lit(16383))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_bits"),
    )
    batch = bands.filter(F.col("doc_id") % 2 == 1).alias("b")
    index = bands.filter(F.col("doc_id") % 2 == 0).alias("a")
    cand = (
        batch.join(
            index,
            (F.col("b.band_idx") == F.col("a.band_idx"))
            & (F.col("b.band_bits") == F.col("a.band_bits")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("a.doc_id").alias("index_doc"),
            F.col("b.shl").alias("shlb"),
            F.col("a.shl").alias("shla"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("shlb").bitwiseXOR(F.col("shla")))
    hits = cand.withColumn("hamming", hamming).filter(F.col("hamming") <= 6)
    return hits.groupBy(F.col("batch_doc").alias("doc_id")).agg(
        bigint(F.count(F.lit(1))).alias("n_index_dups"),
        bigint(F.min("index_doc")).alias("first_index_dup"),
    )


@op(
    "dedup_url_canonical",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://' || CASE WHEN doc_id % 2 = 0 THEN 'Docs.Example.COM'
                            ELSE 'docs.example.com' END
           || '/page/' || CAST(doc_id % 101 AS VARCHAR)
           || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' ELSE '?id=' END
           || CAST(doc_id % 101 AS VARCHAR)
           || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
c AS (
  SELECT doc_id,
         lower(regexp_extract(url, 'https://([^/]+)/', 1))
           || regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1)
           || '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1) AS canon
  FROM u
)
SELECT canon,
       CAST(count(*) AS BIGINT)    AS n_variants,
       CAST(min(doc_id) AS BIGINT) AS survivor_id
FROM c GROUP BY canon
""",
    category=CAT,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — crawl-frontier hygiene: the same
    page arrives as mixed-case hosts, with tracking params (utm_*),
    and with fragments; canonicalize (lowercase host, drop fragment,
    keep only the identifying query param) and group, keeping the
    first-seen doc as survivor.  The fixture synthesizes exactly those
    three variant classes deterministically (host case by doc_id%2,
    utm param by %3, fragment by %5; page identity doc_id%101
    collapses ~n/101 docs per page), so the op provably merges
    variants: every canonical group holds multiple raw-URL forms.

    Spark side uses the REAL parse_url family (HOST/PATH/QUERY-key);
    the oracle mirrors each component with anchored regexes.
    Map-only projection + one partial/final aggregate — at 100 TB
    this runs ahead of content fetch, deduping the frontier before
    any bytes are downloaded."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, "Docs.Example.COM").otherwise(
            "docs.example.com"
        ),
        F.lit("/page/"),
        (F.col("doc_id") % 101).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, "?utm_source=feed&id=").otherwise("?id="),
        (F.col("doc_id") % 101).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, "#frag").otherwise(""),
    )
    u = d.select("doc_id", url.alias("url"))
    canon = F.concat(
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.parse_url("url", F.lit("PATH")),
        F.lit("?id="),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")),
    )
    return (
        u.select("doc_id", canon.alias("canon"))
        .groupBy("canon")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_variants"),
            bigint(F.min("doc_id")).alias("survivor_id"),
        )
    )


@op(
    "dedup_truncated_variants",
    oracle=f"""
WITH q AS (
  SELECT doc_id,
         md5(array_to_string({_duck_words()}[1:2], ' ')) AS h,
         len({_duck_words()}) AS n
  FROM documents
)
SELECT a.doc_id AS short_id,
       b.doc_id AS long_id,
       CAST(a.n AS BIGINT) AS short_words,
       CAST(b.n AS BIGINT) AS long_words,
       CAST(1000000 * a.n // b.n AS BIGINT) AS len_ratio_ppm
FROM q a JOIN q b
  ON a.h = b.h AND a.doc_id <> b.doc_id
WHERE 10 * a.n <= 9 * b.n
""",
    category=CAT,
)
def dedup_truncated_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-variant detection — the crawl pattern doc-level
    near-dup misses in the OTHER direction from containment: the same
    page captured cut short (paywall folds, render timeouts) shares
    its lead bigram but is >=10% shorter.  Pairs form ONLY within
    lead-bigram template groups (md5 of the first 2 normalized words);
    the cross-multiplied integer test 10*short <= 9*long flags the
    shorter side with its length ratio in ppm, feeding a keep-longest
    survivorship policy (the mirror of corpus_dedup_survivor_quality's
    keep-best-quality).

    Scale: one template-keyed self-join — group sizes are bounded by
    template frequency exactly like the shingle inverted index, and
    only (key, n_words) metadata shuffles; text never moves."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = _words()
    q = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(ws, 1, 2))).alias("h"),
        F.size(ws).alias("n"),
    )
    a = q.select(F.col("doc_id").alias("short_id"), "h", F.col("n").alias("sn"))
    b = q.select(F.col("doc_id").alias("long_id"), F.col("h"), F.col("n").alias("ln"))
    return (
        a.join(b, "h")
        .filter(
            (F.col("short_id") != F.col("long_id"))
            & (10 * F.col("sn") <= 9 * F.col("ln"))
        )
        .select(
            "short_id",
            "long_id",
            bigint(F.col("sn")).alias("short_words"),
            bigint(F.col("ln")).alias("long_words"),
            bigint(F.expr("1000000 * sn div ln")).alias("len_ratio_ppm"),
        )
    )


@op(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH g AS (
  SELECT md5({_duck_norm()}) AS h, count(*) AS sz
  FROM documents GROUP BY md5({_duck_norm()})
)
SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS n_removable
FROM g GROUP BY 1
""",
    category=CAT,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster shape report: exact-hash cluster sizes
    histogrammed into log2 buckets with the removable-row mass
    (size - 1 per cluster) — the planning table every dedup paper
    opens with ('X% of the corpus sits in clusters of 2, Y% in mega-
    clusters'), and the number that predicts the exact-dedup pass's
    yield BEFORE running it.  Bucket arithmetic matches the degree-
    distribution op (len(bin(n))-1).

    Scale: one content-hash agg (map-side md5), then a constant-size
    bucket rollup — strictly cheaper than the dedup itself."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    g = d.groupBy(F.md5(_norm()).alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    bucket = (F.length(F.bin(F.col("sz"))) - 1).cast("bigint")
    return g.groupBy(bucket.alias("log2_bucket")).agg(
        bigint(F.count(F.lit(1))).alias("n_clusters"),
        bigint(F.sum("sz")).alias("n_docs"),
        bigint(F.sum(F.col("sz") - 1)).alias("n_removable"),
    )


@op(
    "dedup_phash_banded",
    oracle="""
WITH g AS (
  SELECT doc_id, t.i AS i,
         ((t.i // 8) * ((doc_id % 13) + 1)) // 8 AS gy,
         (t.i % 8) * 2 AS gx
  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i) t
  WHERE doc_id % 10 = 0
),
cells AS (
  SELECT doc_id, i,
         (doc_id * 31 + (gy * 16 + gx) * 3) % 256
         + (doc_id * 31 + (gy * 16 + gx) * 3 + 1) % 256
         + (doc_id * 31 + (gy * 16 + gx) * 3 + 2) % 256 AS cell
  FROM g
),
b AS (SELECT doc_id, i, cell,
             sum(cell) OVER (PARTITION BY doc_id) AS total FROM cells),
ph AS (SELECT doc_id,
              string_agg(CASE WHEN 64 * cell > total THEN '1' ELSE '0' END,
                         '' ORDER BY i) AS bits
       FROM b GROUP BY doc_id),
bands AS (
  SELECT doc_id, substr(bits, bi.b * 16 + 1, 16) AS band,
         bi.b AS band_idx, bits
  FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bi
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.bits AS ba, y.bits AS bb
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band = y.band AND x.doc_id < y.doc_id
),
ham AS (
  SELECT a, b,
         (SELECT count(*) FROM unnest(range(1, 65)) t(i)
          WHERE substr(ba, i, 1) <> substr(bb, i, 1)) AS ham
  FROM cand
)
SELECT a, b, CAST(ham AS BIGINT) AS hamming
FROM ham WHERE ham <= 6
""",
    category=CAT,
)
def dedup_phash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by pHash banding — the image
    analog of the SimHash text dedup: each 64-bit aHash (same real-
    decode derivation as multimodal_image_phash) splits into 4x16-bit
    bands, candidates collide on any band (16 surviving bits bound the
    false-candidate rate), pairs dedupe across bands, and exact
    Hamming <= 6 confirms.  Runs on the doc_id % 10 == 0 sample with
    the sample predicate applied BEFORE the decode (pushdown a
    post-mapInPandas filter could never get).

    Scale: band equi-join on 16-bit keys — the LSH blocking shape
    shared with MinHash/SimHash; the exact-verify compares 64-char
    strings only for candidates."""
    import numpy as np


    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = {"doc_id": [], "bits": []}
        for pdf in batches:
            for d in pdf["doc_id"]:
                f = _decode_ppm(_encode_ppm(int(d)))
                w, h = f["width"], f["height"]
                px = (
                    np.frombuffer(bytes(f["px"]), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(h, w, 3)
                )
                gy = (np.arange(8)[:, None] * h) // 8
                gx = np.arange(8)[None, :] * 2
                cell = px[gy, gx, :].sum(axis=2).ravel()
                bits = "".join(
                    "1" if 64 * c > cell.sum() else "0" for c in cell
                )
                out["doc_id"].append(int(d))
                out["bits"].append(bits)
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    docs = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 10 == 0
    )
    ph = docs.mapInPandas(phash, schema="doc_id bigint, bits string")
    bands = ph.select(
        "doc_id",
        "bits",
        F.explode(
            F.array(*[F.lit(i) for i in range(4)])
        ).alias("band_idx"),
    ).select(
        "doc_id",
        "bits",
        "band_idx",
        F.expr("substr(bits, band_idx * 16 + 1, 16)").alias("band"),
    )
    x = bands.select(
        F.col("doc_id").alias("a"),
        F.col("bits").alias("ba"),
        "band_idx",
        "band",
    )
    y = bands.select(
        F.col("doc_id").alias("b"),
        F.col("bits").alias("bb"),
        "band_idx",
        "band",
    )
    cand = (
        x.join(y, ["band_idx", "band"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ba", "bb")
        .distinct()
    )
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split("ba", ""),
                F.split("bb", ""),
                lambda p, q: p != q,
            ),
            lambda v: v,
        )
    )
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .select("a", "b", bigint(F.col("hamming")).alias("hamming"))
    )


@op(
    "dedup_wordset_exact",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         md5({_duck_norm()}) AS text_h,
         md5(array_to_string(list_sort(list_distinct({_duck_words()})),
                             ' ')) AS set_h
  FROM documents
)
SELECT set_h AS wordset_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT text_h) AS BIGINT) AS n_distinct_texts,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc
FROM d
GROUP BY set_h
HAVING count(DISTINCT text_h) > 1
""",
    category=CAT,
)
def dedup_wordset_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-order-invariant exact dedup: documents grouped by the hash
    of their SORTED DISTINCT word set, keeping groups that contain
    MORE THAN ONE distinct literal text — these are reordered/
    shuffled template variants that byte-exact dedup calls unique and
    MinHash only catches probabilistically (identical sets collide
    with certainty here).  The canonical survivor is the min doc_id,
    the same survivorship convention as the exact-hash op.

    Scale: map-side set-hash (sort within the doc's own array — no
    corpus sort), one hash-keyed partial/final agg with an exact
    distinct-text count."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    ws = _words()
    h = d.select(
        "doc_id",
        F.md5(_norm()).alias("text_h"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(ws)))
        ).alias("set_h"),
    )
    return (
        h.groupBy(F.col("set_h").alias("wordset_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text_h").alias("n_distinct_texts"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_distinct_texts") > 1)
        .select(
            "wordset_hash",
            bigint(F.col("n_docs")).alias("n_docs"),
            bigint(F.col("n_distinct_texts")).alias("n_distinct_texts"),
            bigint(F.col("canonical_doc")).alias("canonical_doc"),
        )
    )
