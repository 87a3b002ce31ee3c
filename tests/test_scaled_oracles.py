"""Reference-spec lock for the registry oracles that run at scale.

Eight registry oracles compute their answer with an algorithm chosen so
DuckDB finishes at 10x: shared-shingle counting instead of a per-pair
``list_intersect`` (minhash recall eval, shingle containment), a
candidate-driven verify join (fuzzy decontamination), one unnest and a
grouped aggregate instead of per-element list lambdas (quality score,
gopher rules), and min-label propagation (``common.duck_components``)
instead of the transitive closure (connected components, grid-density
clusters, cluster canonicalization).  The Spark ops use the counting and
candidate-driven algorithms themselves, so the brute-force texts below
are the only independent check left: each registry oracle must return
exactly the spec's canonical bag, on the driver fixture (sf0.01) and
again with seven edge rows added to ``documents`` — the fixture itself
has no NULL, empty or short document, and no eval-split copy of a
training document, so without them the decontamination lock compares
two empty bags.
"""

from __future__ import annotations

import os

import pytest

from tests.oracle import canon_rows, duck_connect, duck_result
from trip_data_pipeline_spark.operators.common import (
    LSH_BANDS,
    MINHASH_MOD,
    MINHASH_PERMS,
    SHINGLE_K,
    _duck_norm,
    _duck_words,
    duck_components,
    duck_hex_int,
    duck_word_ngrams,
)
from trip_data_pipeline_spark.operators.text_ops import _STOP_SQL
from trip_data_pipeline_spark.registry import OPS, queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")

_SH = f"""
d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= {SHINGLE_K}),
sh AS (
  SELECT DISTINCT doc_id, unnest({duck_word_ngrams('ws', SHINGLE_K)}) AS s FROM d3
)"""

_BANDS = f"""
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
)"""

SPECS = {
    # truth: every pair sharing a shingle, verified by list_intersect
    "dedup_minhash_recall_eval": f"""
WITH {_SH},
sets_ AS (SELECT doc_id, list_distinct({duck_word_ngrams('ws', SHINGLE_K)}) AS sset FROM d3),
truth AS (
  SELECT doc_id1, doc_id2 FROM (
    SELECT c.doc_id1, c.doc_id2,
           len(list_intersect(s1.sset, s2.sset)) AS i_,
           len(list_distinct(list_concat(s1.sset, s2.sset))) AS u_
    FROM (SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id) c
    JOIN sets_ s1 ON s1.doc_id = c.doc_id1
    JOIN sets_ s2 ON s2.doc_id = c.doc_id2
  ) WHERE 2 * i_ >= u_
),
{_BANDS},
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id1, b2.doc_id AS doc_id2
  FROM bands b1
  JOIN bands b2 ON b1.band_idx = b2.band_idx
               AND b1.band_key = b2.band_key
               AND b1.doc_id < b2.doc_id
),
hit AS (
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
""",
    # every ordered pair sharing a shingle, verified by list_intersect
    "dedup_shingle_containment": f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= {SHINGLE_K}),
sets_ AS (SELECT doc_id, list_distinct({duck_word_ngrams('ws', SHINGLE_K)}) AS sset FROM d3),
sh AS (SELECT doc_id, unnest(sset) AS s FROM sets_),
cand AS (
  SELECT DISTINCT a.doc_id AS small_id, b.doc_id AS big_id
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
),
v AS (
  SELECT c.small_id, c.big_id,
         len(list_intersect(s1.sset, s2.sset)) AS i_,
         len(s1.sset) AS na
  FROM cand c
  JOIN sets_ s1 ON s1.doc_id = c.small_id
  JOIN sets_ s2 ON s2.doc_id = c.big_id
)
SELECT small_id, big_id,
       CAST(i_ AS BIGINT) AS n_shared,
       CAST(na AS BIGINT) AS n_small
FROM v WHERE 10 * i_ >= 9 * na
""",
    # blind verify join: the whole inverted index against itself
    "corpus_decontam_fuzzy": f"""
WITH {_SH},
{_BANDS},
cand AS (
  SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
  FROM bands t
  JOIN bands e ON t.band_idx = e.band_idx
              AND t.band_key = e.band_key
              AND t.doc_id % 97 != 0 AND e.doc_id % 97 = 0
),
i_ AS (
  SELECT st.doc_id AS train_doc, se.doc_id AS eval_doc, count(*) AS i_
  FROM sh st JOIN sh se ON st.s = se.s
  JOIN cand c ON c.train_doc = st.doc_id AND c.eval_doc = se.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
hits AS (
  SELECT i_.train_doc, i_.eval_doc
  FROM i_
  JOIN sz s1 ON s1.doc_id = i_.train_doc
  JOIN sz s2 ON s2.doc_id = i_.eval_doc
  WHERE 2 * i_.i_ >= s1.n + s2.n - i_.i_
)
SELECT train_doc AS doc_id,
       CAST(count(*) AS BIGINT)      AS n_eval_dups,
       CAST(min(eval_doc) AS BIGINT) AS first_eval_dup
FROM hits GROUP BY train_doc
""",
    # per-element list lambda over each document's word list
    "text_quality_score": f"""
WITH t AS (
  SELECT doc_id,
         {_duck_words()} AS ws,
         CAST(length(text) AS DOUBLE) AS len_raw,
         CAST(length({_duck_norm()}) AS DOUBLE) AS len_norm
  FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CASE WHEN len_raw = 0 THEN NULL
            ELSE round((len_raw - len_norm) / len_raw, 4) END AS punct_ratio,
       round(CAST(len(list_filter(ws, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
             / len(ws), 4) AS stop_ratio,
       round(least(1.0, len(ws) / 50.0)
             * (0.5 + 0.5 * CAST(len(list_filter(ws, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                / len(ws)), 4) AS quality
FROM t
""",
    # per-element list lambdas over each document's word list
    "corpus_gopher_quality_rules": f"""
WITH w AS (
  SELECT doc_id, {_duck_words()} AS ws, {_duck_norm()} AS nt FROM documents
),
m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         length(nt) - (len(ws) - 1) AS n_tok_chars,
         len(list_filter(ws, x -> x IN ('the','a','of','to','and'))) AS stop_hits,
         list_aggregate(list_transform(ws, x -> length(x)), 'max') AS max_wlen
  FROM w
),
f AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words BETWEEN 20 AND 100000 THEN 0 ELSE 1 END
       + CASE WHEN 3 * n_words <= n_tok_chars
               AND n_tok_chars <= 10 * n_words THEN 0 ELSE 2 END
       + CASE WHEN stop_hits >= 2 THEN 0 ELSE 4 END
       + CASE WHEN max_wlen <= 15 THEN 0 ELSE 8 END AS failed_mask
  FROM m
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(failed_mask AS BIGINT) AS failed_mask,
       failed_mask = 0 AS passes
FROM f
""",
}

# The component oracles keep their edge relation; the spec swaps the
# kernel for the transitive closure: every (node, reachable node) pair,
# component = the least reachable node.
CLOSURE_OPS = {
    "graph_connected_components": "e0",
    "geo_grid_density_cluster": "e0",
    "dedup_cluster_canonical": "e",
}


def _closure(edges: str) -> str:
    return f"""reach(node, r) AS (
  SELECT DISTINCT src, src FROM {edges}
  UNION
  SELECT re.node, e.dst FROM reach re JOIN {edges} e ON re.r = e.src
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)"""


def _spec(name: str) -> str:
    if name in SPECS:
        return SPECS[name]
    kernel = duck_components(CLOSURE_OPS[name])
    assert kernel in OPS[name].oracle, f"{name} no longer calls duck_components"
    return OPS[name].oracle.replace(kernel, _closure(CLOSURE_OPS[name]))


def _add_edge_rows(con) -> None:
    """Replace ``documents`` by the fixture plus seven rows: NULL text,
    '', one word, stopwords only, a doubled space, unicode words, and an
    exact copy of the longest training document (doc_id % 97 != 0)
    under an eval-split id (doc_id % 97 = 0)."""
    con.execute("CREATE TEMP TABLE documents_file AS SELECT * FROM documents")
    con.execute("""
CREATE OR REPLACE VIEW documents AS
WITH extra(doc_id, text) AS (VALUES
  (10001, NULL), (10002, ''), (10003, 'word'), (10004, 'the a of to and'),
  (10005, 'a  doubled space'), (10006, 'café naïve 東京 😀'))
SELECT * FROM documents_file
UNION ALL BY NAME
SELECT doc_id, text, 'en' AS lang, 'web' AS source,
       CAST(length(text) AS BIGINT) AS n_chars
FROM extra
UNION ALL BY NAME
SELECT * REPLACE (97 * 1000 AS doc_id) FROM (
  SELECT * FROM documents_file WHERE doc_id % 97 != 0
  ORDER BY length(text) DESC, doc_id LIMIT 1)
""")


NAMES = sorted([*SPECS, *CLOSURE_OPS])
# the edge rows are documents, so only the oracles that read them repeat
CASES = [(n, False) for n in NAMES] + [
    (n, True) for n in NAMES if n in SPECS or n == "dedup_cluster_canonical"
]


@pytest.mark.parametrize(
    "name,edge_rows", CASES, ids=[f"{n}-{'edge' if e else 'fixture'}" for n, e in CASES]
)
def test_registry_oracle_matches_reference_spec(name, edge_rows):
    queries()  # load the registry
    con = duck_connect(SF_DIR)
    try:
        if edge_rows:
            _add_edge_rows(con)
        o_cols, o_rows = duck_result(con, OPS[name].oracle)
        s_cols, s_rows = duck_result(con, _spec(name))
        assert sorted(o_cols) == sorted(s_cols)
        assert canon_rows(o_cols, o_rows) == canon_rows(s_cols, s_rows)
        if edge_rows:
            assert o_rows, f"{name}: the edge-row lock compares two empty bags"
    finally:
        con.close()
