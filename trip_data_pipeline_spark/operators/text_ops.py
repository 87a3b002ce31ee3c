"""§2.11 text-analysis operators (SURVEY.md §2.11) plus the
training-data-pipeline text suite the task brief asks for beyond the
survey rows: language-ID (marker-word heuristic), quality scoring,
BPE-ish token counting, and rolling fingerprints.

Scale shape: every operator is a single scan + narrow projection +
(optionally) one explode/groupBy; the explodes produce (doc, token)
rows whose count is bounded by corpus token count — the same shape a
100 TB tokenize/term-freq job has, partitioned by input split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    _BPE_RE,
    _LANG_MARKERS,
    _duck_norm,
    _duck_words,
    _marker_regex,
    _norm,
    _words,
    bigint,
    duck_hex_int,
    duck_word_ngrams,
    hex_int,
    r2,
    r4,
    spread,
    word_ngrams,
    words_of,
)
from trip_data_pipeline_spark.registry import op

CAT = "2.11 text analysis"


@op(
    "text_normalize_tokenize",
    oracle=f"""
WITH w AS MATERIALIZED (SELECT doc_id, {_duck_words()} AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       ws[1]                   AS first_token,
       ws[-1]                  AS last_token
FROM w
""",
    category=CAT,
)
def text_normalize_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize + whitespace tokenize + per-doc count — SURVEY.md
    §2.11 row 1."""
    d = spread(load(spark, sf_dir, "documents"))
    w = _words()
    return d.select(
        "doc_id",
        bigint(F.size(w)).alias("n_tokens"),
        w.getItem(0).alias("first_token"),
        F.element_at(w, -1).alias("last_token"),
    )


@op(
    "text_term_freq",
    oracle=f"""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_duck_words()}) AS word FROM documents) t
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 20
""",
    category=CAT,
    pure=True,
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top-20 with total tie-break — SURVEY.md
    §2.11 row 2.  explode -> partial-agg'd count -> TakeOrdered(20):
    the shuffle carries only (word, partial_count).  Light per-row
    work: relaxed spread guard (see common.spread round-4 note)."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    return (
        d.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@op(
    "text_stats_by_lang",
    oracle=f"""
SELECT lang, source,
       CAST(count(*) AS BIGINT)                         AS n_docs,
       round(avg(n_chars), 2)                           AS avg_chars,
       round(avg(len({_duck_words()})), 2)              AS avg_tokens
FROM documents
GROUP BY lang, source
""",
    category=CAT,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source) — SURVEY.md §2.11 row 3."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.groupBy("lang", "source").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        r2(F.avg("n_chars")).alias("avg_chars"),
        r2(F.avg(F.size(_words()))).alias("avg_tokens"),
    )


@op(
    "text_lang_id",
    oracle=(
        "SELECT predicted, lang, CAST(count(*) AS BIGINT) AS n FROM ("
        "SELECT lang, CASE "
        + " ".join(
            f"WHEN regexp_matches(lower(text), '{_marker_regex(ws)}') THEN '{lg}'"
            for lg, ws in _LANG_MARKERS.items()
        )
        + " ELSE 'und' END AS predicted FROM documents) t GROUP BY predicted, lang"
    ),
    category=CAT,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID vs labeled lang (confusion counts) —
    task-brief text-analysis addition (language-ID heuristic)."""
    d = spread(load(spark, sf_dir, "documents"))
    pred = F.lit(None).cast("string")
    expr = None
    for lg, ws in _LANG_MARKERS.items():
        cond = F.lower(F.col("text")).rlike(_marker_regex(ws))
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    pred = expr.otherwise("und")
    return (
        d.select("lang", pred.alias("predicted"))
        .groupBy("predicted", "lang")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
    )


_STOPWORDS = ("select", "from", "where", "join", "group", "order", "the", "and", "of")

_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# The quality oracle unnests the words once and counts per doc instead
# of running a list lambda per element twice: string_split never yields
# an empty list, so count(*) is len(ws), and a NULL text, which has no
# words, gets its row (every measure NULL) from the LEFT JOIN.


@op(
    "text_quality_score",
    oracle=f"""
WITH m AS MATERIALIZED (
  WITH tok AS (
    SELECT doc_id, unnest({_duck_words()}) AS x FROM documents
  )
  SELECT doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN x IN ({_STOP_SQL}) THEN 1 ELSE 0 END) AS DOUBLE)
           AS stop_hits
  FROM tok GROUP BY doc_id
),
lens AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS len_raw,
         CAST(length({_duck_norm()}) AS DOUBLE) AS len_norm
  FROM documents
)
SELECT l.doc_id,
       CAST(m.n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN l.len_raw = 0 THEN NULL
            ELSE round((l.len_raw - l.len_norm) / l.len_raw, 4) END
         AS punct_ratio,
       round(m.stop_hits / m.n_tokens, 4) AS stop_ratio,
       round(least(1.0, m.n_tokens / 50.0)
             * (0.5 + 0.5 * m.stop_hits / m.n_tokens), 4) AS quality
FROM lens l LEFT JOIN m ON m.doc_id = l.doc_id
""",
    category=CAT,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length / punctuation / stopword
    ratios) — task-brief text-analysis addition."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = _words()
    len_raw = F.length("text").cast("double")
    len_norm = F.length(_norm()).cast("double")
    stop_hits = F.size(
        F.filter(ws, lambda x: x.isin(*_STOPWORDS))
    ).cast("double")
    n_tokens = F.size(ws)
    stop_ratio = stop_hits / n_tokens
    return d.select(
        "doc_id",
        bigint(n_tokens).alias("n_tokens"),
        # empty text: punct ratio is 0/0 — undefined, NULL in both
        # engines (round-8 degenerate-shape gate; ANSI raised here)
        F.when(len_raw == 0, F.lit(None).cast("double"))
        .otherwise(r4((len_raw - len_norm) / len_raw))
        .alias("punct_ratio"),
        r4(stop_ratio).alias("stop_ratio"),
        r4(
            F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * (0.5 + 0.5 * stop_ratio)
        ).alias("quality"),
    )


@op(
    "text_token_count_bpe",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)            AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
""",
    category=CAT,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting — task-brief
    text-analysis addition."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        bigint(F.size(F.split(F.col("text"), " "))).alias("n_ws_tokens"),
        bigint(
            F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0))
        ).alias("n_bpe_tokens"),
    )


@op(
    "text_fingerprint_rolling",
    oracle=f"""
WITH t AS (SELECT doc_id, {_duck_words()} AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) - 2 AS BIGINT) AS n_shingles,
       list_aggregate(
         list_transform({duck_word_ngrams('ws', 3)}, s -> substring(md5(s), 1, 16)),
         'min') AS fingerprint
FROM t
WHERE len(ws) >= 3
""",
    category=CAT,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over the rolling
    3-word shingle window — task-brief text-analysis addition.

    The 'hash' is the md5 16-hex prefix so both engines agree exactly;
    min over the shingle set = the canonical winnowing selection with
    window == document."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = _words()
    return (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            bigint(F.size("ws") - 2).alias("n_shingles"),
            F.array_min(
                F.transform(
                    word_ngrams(F.col("ws"), 3),
                    lambda s: F.substring(F.md5(s), 1, 16),
                )
            ).alias("fingerprint"),
        )
    )


@op(
    "text_tfidf_topk",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_duck_words()}) AS word FROM documents),
     tf  AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
             FROM tok GROUP BY doc_id, word),
     df  AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             FROM tok GROUP BY word),
     n   AS (SELECT count(*) AS n_docs FROM documents),
     s   AS (SELECT tf.doc_id, tf.word,
                    round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
                      AS score
             FROM tf JOIN df USING (word) CROSS JOIN n),
     r   AS (SELECT doc_id, word, score,
                    CAST(row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, word ASC) AS BIGINT) AS rn
             FROM s)
SELECT doc_id, word, score, rn FROM r WHERE rn <= 3
""",
    category=CAT,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring, top-3 terms per document — task-brief text
    addition.  Smoothed idf = ln((N+1)/(df+1)) + 1.

    Shape at scale (round 3, same ADVICE fix as the contamination op):
    the document-frequency table is VOCABULARY-sized — it grows with
    the corpus, so it must not broadcast.  After the (doc, word) tf
    aggregation each row is a distinct (doc, word) pair, so df is
    simply count() over the word partition — computed in place on the
    word-keyed stream, join-free; only the scalar N ships to the
    driver.  Explode -> tf agg -> word window -> per-doc top-k via
    WindowGroupLimit.  Light per-row work: relaxed spread guard
    (see common.spread round-4 note)."""
    from pyspark.sql import Window

    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    tok = d.select("doc_id", F.explode(_words()).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(bigint(F.count(F.lit(1))).alias("tf"))
    n_docs = d.count()  # scalar dimension of the corpus, computed once
    dfw = F.count(F.lit(1)).over(Window.partitionBy("word"))
    score = F.round(
        F.col("tf") * (F.log((n_docs + 1.0) / (dfw + 1.0)) + 1.0), 4
    )
    s = tf.select("doc_id", "word", score.alias("score"))

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        s.withColumn("rn", bigint(F.row_number().over(w)))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "score", "rn")
    )


@op(
    "text_ngram_freq",
    oracle=f"""
WITH t AS (SELECT {_duck_words()} AS ws FROM documents),
     b AS (SELECT unnest({duck_word_ngrams('ws', 2)}) AS bigram FROM t)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
""",
    category=CAT,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency, top-20 — task-brief text addition (the
    n-gram layer under n-gram-Jaccard dedup)."""
    d = spread(load(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(word_ngrams(_words(), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@op(
    "text_chunk_sliding",
    oracle="""
SELECT doc_id,
       CAST(t.start AS BIGINT) AS chunk_start,
       array_to_string(toks[t.start + 1 : t.start + 32], ' ') AS chunk,
       CAST(least(32, len(toks) - t.start) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
     LATERAL unnest(range(0, greatest(len(toks), 1), 24)) AS t(start)
ORDER BY doc_id, chunk_start
""",
    category=CAT,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (training-data prep): 32-token
    windows, stride 24 (8-token overlap), short tail chunks kept.
    sequence -> explode -> slice stays in codegen; chunk volume per doc
    is bounded by token count / stride, so the explode is linear in
    corpus token count — the same plan at 100 TB, partitioned by input
    split."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(24)
    )
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.col("s").cast("bigint").alias("chunk_start"),
            F.array_join(F.slice(F.col("toks"), F.col("s") + 1, 32), " ").alias(
                "chunk"
            ),
            F.least(F.lit(32), F.size("toks") - F.col("s"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_start")
    )


@op(
    "pipeline_training_data_prep",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, text,
         len(str_split(text, ' ')) AS n_toks
  FROM documents
),
kept AS (SELECT * FROM base WHERE n_toks >= 20),
uniq AS (
  SELECT min(doc_id) AS survivor_id,
         arg_min(lang, doc_id)   AS lang,
         arg_min(n_toks, doc_id) AS n_toks
  FROM (SELECT *, md5({_duck_norm()}) AS h
        FROM kept)
  GROUP BY h
),
per_lang_base AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY lang
),
per_lang_kept AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY lang
),
per_lang_uniq AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_unique,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(sum((greatest(n_toks, 1) + 23) // 24) AS BIGINT) AS n_chunks
  FROM uniq GROUP BY lang
)
SELECT b.lang, b.n_docs,
       coalesce(k.n_kept, 0)       AS n_kept,
       coalesce(u.n_unique, 0)     AS n_unique,
       coalesce(u.total_tokens, 0) AS total_tokens,
       coalesce(u.n_chunks, 0)     AS n_chunks
FROM per_lang_base b
LEFT JOIN per_lang_kept k USING (lang)
LEFT JOIN per_lang_uniq u USING (lang)
ORDER BY lang
""",
    category=CAT,
)
def pipeline_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation over the documents corpus:
    tokenize -> quality gate (>= 20 whitespace tokens) -> corpus-wide
    exact dedup on normalized-text md5 (min-doc_id survivor, min_by
    carries the survivor's attributes) -> sliding-window chunk count
    (32/24, same grid as text_chunk_sliding) -> per-language corpus
    report.  One scan feeds every stage; the only wide exchange is the
    dedup groupBy on the 128-bit hash, which at 100 TB partitions
    uniformly by construction (hash keys), then three narrow per-lang
    aggregates over the deduped survivors."""
    base = spread(load(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
    )
    kept = base.filter(F.col("n_toks") >= 20)
    h = F.md5(_norm())
    uniq = (
        kept.select(h.alias("h"), "doc_id", "lang", "n_toks")
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_toks", "doc_id").alias("n_toks"),
        )
    )
    per_lang_base = base.groupBy("lang").agg(bigint(F.count(F.lit(1))).alias("n_docs"))
    per_lang_kept = kept.groupBy("lang").agg(bigint(F.count(F.lit(1))).alias("n_kept"))
    chunks_per_doc = F.floor(
        (F.greatest(F.col("n_toks"), F.lit(1)) + 23) / 24
    )
    per_lang_uniq = uniq.groupBy("lang").agg(
        bigint(F.count(F.lit(1))).alias("n_unique"),
        bigint(F.sum("n_toks")).alias("total_tokens"),
        bigint(F.sum(chunks_per_doc)).alias("n_chunks"),
    )
    return (
        per_lang_base.join(per_lang_kept, "lang", "left")
        .join(per_lang_uniq, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        )
        .orderBy("lang")
    )


@op(
    "text_repetition_metrics",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, w, {duck_word_ngrams('w', 2)} AS bg FROM d)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_words,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       round(1.0 - len(list_distinct(w)) / len(w), 4) AS word_rep_ratio,
       CASE WHEN len(bg) = 0 THEN NULL
            ELSE round(1.0 - len(list_distinct(bg)) / len(bg), 4)
       END AS bigram_rep_ratio,
       CAST(list_max(list_transform(list_distinct(w),
              x -> len(list_filter(w, y -> y = x)))) AS BIGINT) AS max_word_freq
FROM g
""",
    category=CAT,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-word
    and duplicate-bigram ratios plus the hottest word's frequency —
    standard quality-filter features for pretraining corpora.

    Scale: narrow map work (no keyed shuffle, plan-asserted) behind a
    round-robin spread — see common.spread.  max_word_freq is a single
    O(n) run-length fold over the SORTED word array (the max
    multiplicity is the longest equal-run), not the naive
    O(distinct x words) nested filter, which measured ~50x slower."""
    w = words_of()
    bg = word_ngrams(words_of(), 2)
    dw = F.array_distinct(w)
    sw = F.sort_array(w)
    zero = F.lit(0).cast("bigint")
    run_state = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    max_freq = F.aggregate(sw, run_state, step, lambda acc: acc["best"])
    return spread(load(spark, sf_dir, "documents")).select(
        "doc_id",
        bigint(F.size(w)).alias("n_words"),
        bigint(F.size(dw)).alias("n_distinct"),
        r4(1.0 - F.size(dw) / F.size(w)).alias("word_rep_ratio"),
        # <2 words -> no bigrams: ratio undefined, NULL in both engines
        # (round-8 degenerate-shape gate; ANSI raised 0/0 here)
        F.when(F.size(bg) == 0, F.lit(None).cast("double"))
        .otherwise(r4(1.0 - F.size(F.array_distinct(bg)) / F.size(bg)))
        .alias("bigram_rep_ratio"),
        bigint(max_freq).alias("max_word_freq"),
    )


@op(
    "text_entropy_char",
    oracle=f"""
WITH t AS (SELECT doc_id, {_duck_norm()} AS nt FROM documents),
ch AS (
  SELECT doc_id, unnest(list_transform(range(1, len(nt) + 1), i -> nt[i:i])) AS c
  FROM t WHERE len(nt) > 0
),
cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt FROM ch GROUP BY doc_id, c),
n AS (SELECT doc_id, c, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS n FROM cc)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_distinct_chars,
       round(-sum((cnt * 1.0 / n) * ln(cnt * 1.0 / n)) + 0.0, 4) AS entropy_nats,
       min({{'nc': -cnt, 'ch': c}}).ch AS top_char
FROM n GROUP BY doc_id
""",
    category=CAT,
)
def text_entropy_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy (nats) plus the
    modal character — low char entropy flags repetitive/boilerplate
    text, a standard pretraining quality signal.

    Scale: explode to (doc, char) -> partial-agg'd count (the shuffle
    carries counts, not text), per-doc totals via a window sharing the
    doc partitioning, final per-doc fold.  The modal-char tie breaks
    deterministically via min over the (-count, char) struct.  Entropy
    is output-only (ln is transcendental; see module docstring)."""
    d = spread(load(spark, sf_dir, "documents"))
    nt = _norm()
    ch = d.select("doc_id", F.explode(F.split(nt, "")).alias("c")).filter(
        F.length(nt) > 0
    )
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("doc_id"))
    p = F.col("cnt") * 1.0 / F.col("n")
    return (
        cc.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_distinct_chars"),
            # + 0.0 normalizes IEEE -0.0 (a single-char doc has
            # p=1, p*ln p = -0.0 in one engine, +0.0 in the other —
            # round-8 degenerate gate); -0.0 + 0.0 == +0.0 exactly
            r4(-F.sum(p * F.log(p)) + F.lit(0.0)).alias("entropy_nats"),
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("c").alias("ch")))
            .getField("ch")
            .alias("top_char"),
        )
    )


@op(
    "regexp_extract_all_freq",
    oracle="""
SELECT tok AS num_token, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS tok
      FROM documents)
GROUP BY tok
ORDER BY freq DESC, num_token
LIMIT 20
""",
    category=CAT,
)
def regexp_extract_all_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all -> explode -> frequency: the extract-all-
    matches path (vs str_regexp's single-group extract).  Stays in
    whole-stage codegen; explode volume is bounded by matches/doc."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]{5,}"), 0)
            ).alias("num_token")
        )
        .groupBy("num_token")
        .agg(bigint(F.count("*")).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("num_token"))
        .limit(20)
    )


@op(
    "text_pii_redact",
    oracle="""
SELECT event_id,
       regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
       CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
            AS BIGINT) AS n_digits_masked
FROM events WHERE event_id % 211 = 0
""",
    category=CAT,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based redaction: every digit run in the semi-structured
    props payload is masked to '#', with a per-record count of masked
    characters — the anonymize-before-publish step of a training-data
    pipeline (cf. pipeline_anonymize_trips for the hash/bucket form).
    Map-only whole-stage-codegen regexes; the sampled key filter is
    pushed to the scan."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 211 == 0)
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("props_redacted"),
        bigint(
            F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).alias("n_digits_masked"),
    )


@op(
    "split_train_holdout",
    oracle=f"""
WITH bucketed AS (
  SELECT doc_id, n_chars,
         {duck_hex_int('md5(CAST(doc_id AS VARCHAR))', 1, 4)} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'holdout' END          AS split,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(n_chars) AS BIGINT)    AS total_chars,
       CAST(min(doc_id) AS BIGINT)     AS min_doc_id,
       CAST(max(doc_id) AS BIGINT)     AS max_doc_id
FROM bucketed GROUP BY split ORDER BY split
""",
    category=CAT,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/holdout split: bucket =
    first 16 md5 bits of the doc id, mod 100.  md5 is bit-identical
    across engines/JVMs/runs (engine-native hash() is NOT), so the
    SAME document lands in the SAME split on any engine at any
    cluster size — the reproducibility property a training pipeline
    needs.  Pure narrow projection + one tiny aggregate: the split
    itself never shuffles the corpus."""
    d = load(spark, sf_dir, "documents")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 1, 4) % 100
    return (
        d.select(
            F.when(bucket < 80, "train")
            .when(bucket < 90, "valid")
            .otherwise("holdout")
            .alias("split"),
            "n_chars",
            "doc_id",
        )
        .groupBy("split")
        .agg(
            bigint(F.count("*")).alias("n_docs"),
            bigint(F.sum("n_chars")).alias("total_chars"),
            bigint(F.min("doc_id")).alias("min_doc_id"),
            bigint(F.max("doc_id")).alias("max_doc_id"),
        )
        .orderBy("split")
    )


WINNOW_W = 4  # fingerprint window over consecutive shingle hashes

WINNOW_MAX_DF = 50  # common-fingerprint elimination threshold

WINNOW_MIN_SHARED = 3


def _winnow_oracle() -> str:

    return f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
d6 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 6),
sh AS (SELECT doc_id, generate_subscripts(g, 1) - 1 AS pos, unnest(g) AS s
       FROM (SELECT doc_id, {duck_word_ngrams('ws', 3)} AS g FROM d6)),
h AS (SELECT doc_id, pos, {duck_hex_int('md5(s)', 1, 7)} AS h FROM sh),
enc AS (SELECT doc_id, pos, h * 2097152 + (1048576 - pos) AS e,
               count(*) OVER (PARTITION BY doc_id) AS ns
        FROM h),
winm AS (SELECT doc_id, pos, ns,
                min(e) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
                  AS me
         FROM enc),
fp AS (SELECT DISTINCT doc_id, me // 2097152 AS fp
       FROM winm WHERE pos <= ns - {WINNOW_W}),
fpk AS (SELECT doc_id, fp FROM
          (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fp)
        WHERE df <= {WINNOW_MAX_DF})
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


@op("text_winnowing_fingerprint", oracle=_winnow_oracle(), category=CAT)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): from each window of W=4
    consecutive shingle hashes keep the minimal hash (rightmost on
    ties), guaranteeing every sufficiently long match contributes at
    least one shared fingerprint while storing only ~1/W of the
    hashes; fingerprints appearing in > 50 docs are dropped (the
    standard common-content elimination), and doc pairs sharing >= 3
    surviving fingerprints are reported.

    Engine-exact: shingle hashes are the md5-derived 28-bit family,
    and the rightmost-min tie-break is encoded arithmetically
    (min over h*2^21 + (2^20 - pos)), so DuckDB replays every
    selection decision bit-identically.

    Scale: the per-doc winnow is a map-side window (partition = doc);
    the only corpus-wide state is the per-fingerprint doc frequency,
    computed as a count() window over the fingerprint partition —
    join-free, nothing corpus-sized broadcasts (same shape as
    text_tfidf_topk).  The pair join is bounded per fingerprint by
    the df <= 50 gate."""

    d = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", _words().alias("ws"))
        .filter(F.size("ws") >= 6)
    )
    sh = d.select("doc_id", F.posexplode(word_ngrams(F.col("ws"), 3)).alias("pos", "s"))
    h = sh.select(
        "doc_id", "pos", hex_int(F.md5("s"), 1, 7).alias("h")
    ).select(
        "doc_id",
        "pos",
        (F.col("h") * 2097152 + (1048576 - F.col("pos"))).alias("e"),
    )
    w_doc = Window.partitionBy("doc_id")
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    fp = (
        h.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(w_doc).alias("ns"),
            F.min("e").over(w_win).alias("me"),
        )
        .filter(F.col("pos") <= F.col("ns") - WINNOW_W)
        .select("doc_id", F.expr("me div 2097152").alias("fp"))
        .distinct()
    )
    fpk = fp.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter(F.col("df") <= WINNOW_MAX_DF)
    a = fpk.select(F.col("doc_id").alias("doc_id1"), "fp")
    b = fpk.select(F.col("doc_id").alias("doc_id2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_id1") < F.col("doc_id2"))
        .groupBy("doc_id1", "doc_id2")
        .agg(bigint(F.count(F.lit(1))).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


RAKE_STOPS = ("join", "hash", "row", "batch", "scan")

_STOPS_SQL = ", ".join(f"'{s}'" for s in RAKE_STOPS)

RAKE_TOPK = 3


@op(
    "text_rake_keywords",
    oracle=f"""
WITH w AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS w,
         CASE WHEN ws[i] IN ({_STOPS_SQL}) THEN 1 ELSE 0 END AS stop
  FROM (SELECT doc_id, {_duck_words()} AS ws FROM documents),
       unnest(range(1, len(ws) + 1)) AS t(i)
),
isl AS (
  SELECT doc_id, pos, w, stop,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS island
  FROM w
),
mem AS (SELECT doc_id, island, pos, w FROM isl WHERE stop = 0),
phr AS (
  SELECT doc_id, island,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         count(*) AS n
  FROM mem GROUP BY 1, 2
),
sc AS (
  SELECT m.doc_id, m.w,
         count(*) AS freq,
         sum(p.n) AS deg
  FROM mem m JOIN phr p ON p.doc_id = m.doc_id AND p.island = m.island
  GROUP BY 1, 2
),
ps AS (
  SELECT m.doc_id, m.island,
         sum(sc.deg * 1000000 // sc.freq) AS p_score
  FROM mem m JOIN sc ON sc.doc_id = m.doc_id AND sc.w = m.w
  GROUP BY 1, 2
),
ranked AS (
  SELECT p.doc_id, p.phrase, ps.p_score,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY ps.p_score DESC, p.phrase ASC) AS rnk
  FROM phr p JOIN ps ON ps.doc_id = p.doc_id AND ps.island = p.island
)
SELECT doc_id, phrase, CAST(p_score AS BIGINT) AS score_ppm,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {RAKE_TOPK}
""",
    category=CAT,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of words between delimiter stopwords
    (gaps-and-islands over word positions), each word scores
    degree/frequency within its document, and a phrase scores the sum
    of its word scores; top-3 phrases per doc.

    The synthetic corpus has no natural function words, so the
    delimiter set is a fixed 5-word list from the fixture vocabulary —
    the algorithm's mechanics (phrase segmentation, degree/freq
    scoring, ranked extraction) are what this op pins.  Scores are
    integer ppm (deg*1e6 div freq) summed exactly, and the per-doc
    ranking tie-breaks on the phrase text — deterministic in both
    engines.

    Scale: everything partitions by doc_id — the islands window, the
    phrase rollup, word scores, and the final WindowGroupLimit top-k
    all ride ONE doc-keyed shuffle; no corpus-global state at all."""
    w = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", F.posexplode(_words()).alias("pos", "w"))
        .withColumn("stop", F.col("w").isin(*RAKE_STOPS).cast("int"))
    )
    isl = w.withColumn(
        "island",
        F.sum("stop").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    mem = isl.filter(F.col("stop") == 0).select("doc_id", "island", "pos", "w")
    phr = mem.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))), lambda s: s.w
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n"),
    )
    sc = (
        mem.join(phr.select("doc_id", "island", "n"), ["doc_id", "island"])
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("n").alias("deg"))
        .withColumn("w_score", F.expr("deg * 1000000 div freq"))
    )
    ps = (
        mem.join(sc.select("doc_id", "w", "w_score"), ["doc_id", "w"])
        .groupBy("doc_id", "island")
        .agg(F.sum("w_score").alias("p_score"))
    )
    ranked = phr.join(ps, ["doc_id", "island"]).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("p_score").desc(), F.col("phrase").asc()
            )
        ),
    )
    return ranked.filter(F.col("rnk") <= RAKE_TOPK).select(
        "doc_id", "phrase", bigint(F.col("p_score")).alias("score_ppm"),
        bigint(F.col("rnk")).alias("rnk"),
    )


@op(
    "text_readability_scores",
    oracle=f"""
WITH w AS (
  SELECT doc_id, {_duck_words()} AS ws, {_duck_norm()} AS nt FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(nt, '[aeiou]+')) AS BIGINT) AS vowel_groups,
       CAST(1000000 * len(list_filter(ws, x -> length(x) >= 7)) // len(ws)
            AS BIGINT) AS long_word_ppm,
       CAST(1000000 * len(regexp_extract_all(nt, '[aeiou]+')) // len(ws)
            AS BIGINT) AS syll_word_ppm
FROM w
""",
    category=CAT,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer readability proxies per doc: vowel-run count (the
    classic syllable proxy — '[aeiou]+' runs cannot span the space
    separator, so the text-level count equals the per-word sum),
    long-word share (len >= 7) in ppm, and syllables-per-word in ppm.
    These are the Flesch-family inputs; with integer ppm encodings the
    scores stay engine-exact where the float formulas would not.

    Scale: map-only narrow projection (regexp_count + one array
    filter), no shuffle."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = _words()
    base = d.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.regexp_count(_norm(), F.lit("[aeiou]+")).alias("vowel_groups"),
        F.size(F.filter(ws, lambda x: F.length(x) >= 7)).alias("n_long"),
    )
    return base.select(
        "doc_id",
        bigint(F.col("n_words")).alias("n_words"),
        bigint(F.col("vowel_groups")).alias("vowel_groups"),
        bigint(F.expr("1000000 * n_long div n_words")).alias("long_word_ppm"),
        bigint(F.expr("1000000 * vowel_groups div n_words")).alias(
            "syll_word_ppm"
        ),
    )


@op(
    "text_bigram_pmi_lift",
    oracle=f"""
WITH d AS (SELECT {_duck_words()} AS ws FROM documents),
uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w
),
n AS (SELECT sum(c) AS n_uni FROM uni),
bi AS (
  SELECT x, y, count(*) AS cxy
  FROM (
    SELECT unnest(ws[1:-2]) AS x,
           unnest(ws[2:-1]) AS y
    FROM d WHERE len(ws) >= 2
  ) GROUP BY x, y
)
SELECT bi.x, bi.y,
       CAST(bi.cxy AS BIGINT) AS c_xy,
       CAST(ux.c AS BIGINT) AS c_x,
       CAST(uy.c AS BIGINT) AS c_y,
       CAST(1000000 * bi.cxy * n.n_uni // (ux.c * uy.c) AS BIGINT)
         AS lift_ppm
FROM bi, n
JOIN uni ux ON ux.w = bi.x
JOIN uni uy ON uy.w = bi.y
WHERE bi.cxy >= 5
""",
    category=CAT,
)
def text_bigram_pmi_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: exponentiated-PMI lift for every bigram seen
    >= 5 times — lift_ppm = 10^6 * c(x,y) * N / (c(x) * c(y)), all
    integer (floor div), where N is the unigram token total.  Lift >>
    1e6 marks collocations ('machine learning'-style units a tokenizer
    or phrase-dedup pass should treat atomically); the integer form is
    the engine-exact stand-in for log-PMI, ordering identically.

    Scale: unigram and bigram counts are two token-keyed partial/final
    aggs; the bigram->unigram joins broadcast the vocabulary (counts
    only — vocab is tiny next to the corpus, the classic
    big-fact/small-dim shape), and the 1-row N attaches as a literal
    crossed constant."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        _words().alias("ws")
    )
    uni = d.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = d.filter(F.size("ws") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.size("ws") - 1),
                F.slice(F.col("ws"), 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        ).alias("p")
    )
    bi = pairs.select("p.x", "p.y").groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("cxy")
    ).filter(F.col("cxy") >= 5)
    n = uni.agg(F.sum("c").alias("n_uni"))
    ux = uni.select(F.col("w").alias("xw"), F.col("c").alias("cx"))
    uy = uni.select(F.col("w").alias("yw"), F.col("c").alias("cy"))
    return (
        bi.join(F.broadcast(ux), bi.x == ux.xw)
        .join(F.broadcast(uy), bi.y == uy.yw)
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            bigint(F.col("cxy")).alias("c_xy"),
            bigint(F.col("cx")).alias("c_x"),
            bigint(F.col("cy")).alias("c_y"),
            bigint(F.expr("1000000 * cxy * n_uni div (cx * cy)")).alias(
                "lift_ppm"
            ),
        )
    )


_SENT_POS = ("fast", "big", "value")

_SENT_NEG = ("slow", "small", "dup")


@op(
    "text_sentiment_lexicon",
    oracle=f"""
WITH w AS (SELECT lang, {_duck_words()} AS ws FROM documents),
s AS (
  SELECT lang,
         len(ws) AS n_words,
         len(list_filter(ws, x -> x IN ('fast','big','value'))) AS pos,
         len(list_filter(ws, x -> x IN ('slow','small','dup'))) AS neg
  FROM w
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pos) AS BIGINT) AS pos_hits,
       CAST(sum(neg) AS BIGINT) AS neg_hits,
       CAST(1000000 * (sum(pos) - sum(neg)) // sum(n_words) AS BIGINT)
         AS net_ppm
FROM s GROUP BY lang
""",
    category=CAT,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the pre-neural baseline every
    text engine still ships): positive/negative token hits per doc
    against small word lists, rolled up per language with the exact
    token-weighted net score in ppm (cross-multiplied integer — the
    same immune-to-partial-agg-order form as the weighted-mean op).
    In a corpus pipeline the identical shape scores toxicity / policy
    lexicons, where per-slice drift gates a source.

    Scale: map-side array filters against broadcast-literal lists (no
    join — the lexicon folds into the expression), one lang-keyed
    partial/final agg."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    ws = _words()
    s = d.select(
        "lang",
        F.size(ws).alias("n_words"),
        F.size(
            F.filter(ws, lambda x: x.isin(*_SENT_POS))
        ).alias("pos"),
        F.size(
            F.filter(ws, lambda x: x.isin(*_SENT_NEG))
        ).alias("neg"),
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("pos_hits"),
            F.sum("neg").alias("neg_hits"),
            F.sum("n_words").alias("nw"),
        )
        .select(
            "lang",
            bigint(F.col("n_docs")).alias("n_docs"),
            bigint(F.col("pos_hits")).alias("pos_hits"),
            bigint(F.col("neg_hits")).alias("neg_hits"),
            bigint(
                F.expr("1000000 * (pos_hits - neg_hits) div nw")
            ).alias("net_ppm"),
        )
    )


@op(
    "text_prefix_autocomplete",
    oracle=f"""
WITH tok AS (SELECT unnest({_duck_words()}) AS w FROM documents),
freq AS (
  SELECT w, count(*) AS c FROM tok WHERE length(w) >= 3 GROUP BY w
),
rk AS (
  SELECT substr(w, 1, 3) AS prefix, w, c,
         row_number() OVER (PARTITION BY substr(w, 1, 3)
                            ORDER BY c DESC, w) AS rn
  FROM freq
)
SELECT prefix, CAST(rn AS BIGINT) AS rank, w AS completion,
       CAST(c AS BIGINT) AS freq
FROM rk WHERE rn <= 3
""",
    category=CAT,
)
def text_prefix_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index build: top-3 completions per 3-char prefix
    by corpus frequency (deterministic word tiebreak) — the
    search-box suggestion table, materialized as a query.  The same
    build runs per-language or per-surface by adding a key.

    Scale: one token-keyed partial/final count (the only corpus-sized
    shuffle), then a prefix-keyed top-3 over the VOCABULARY (tiny) —
    rank-limit pushdown truncates each prefix group pre-shuffle."""
    tok = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        F.explode(_words()).alias("w")
    )
    freq = (
        tok.filter(F.length("w") >= 3)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = freq.select(
        F.substring("w", 1, 3).alias("prefix"),
        "w",
        "c",
        F.row_number()
        .over(
            Window.partitionBy(F.substring("w", 1, 3)).orderBy(
                F.col("c").desc(), F.col("w")
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") <= 3)
    return rk.select(
        "prefix",
        bigint(F.col("rn")).alias("rank"),
        F.col("w").alias("completion"),
        bigint(F.col("c")).alias("freq"),
    )


@op(
    "text_stem_naive",
    oracle=f"""
WITH t AS (SELECT lang, unnest({_duck_words()}) AS w FROM documents),
s AS (
  SELECT lang, w,
         regexp_replace(w, '(ing|ed|es|s)$', '') AS stem
  FROM t WHERE length(w) >= 4
)
SELECT lang,
       CAST(count(DISTINCT w) AS BIGINT) AS vocab_raw,
       CAST(count(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
       CAST(1000000 * (count(DISTINCT w) - count(DISTINCT stem))
            // count(DISTINCT w) AS BIGINT) AS reduction_ppm
FROM s GROUP BY lang
""",
    category=CAT,
)
def text_stem_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-stripping stemmer (the Porter-step-1 shape) with a vocab
    impact report: per language, distinct surface forms vs distinct
    stems after stripping (ing|ed|es|s)$ from words of length >= 4,
    and the vocabulary reduction in exact ppm — the measurement that
    decides whether stemming is worth applying before index build or
    term-frequency analysis for that language (it collapses English
    far more than Mandarin pinyin, and the report shows it).

    Scale: map-side regexp per token, one lang-keyed agg with two
    exact count-distincts (Spark expands to the two-level
    distinct-expand plan, still mergeable)."""
    t = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        "lang", F.explode(_words()).alias("w")
    ).filter(F.length("w") >= 4)
    s = t.select(
        "lang", "w", F.regexp_replace("w", r"(ing|ed|es|s)$", "").alias("stem")
    )
    return s.groupBy("lang").agg(
        bigint(F.countDistinct("w")).alias("vocab_raw"),
        bigint(F.countDistinct("stem")).alias("vocab_stemmed"),
        bigint(
            (
                F.lit(1000000)
                * (F.countDistinct("w") - F.countDistinct("stem"))
            )
            / F.countDistinct("w")
        ).alias("_tmp_reduction"),
    ).withColumnRenamed("_tmp_reduction", "reduction_ppm")


@op(
    "text_skipgram_pairs",
    oracle=f"""
WITH d AS (SELECT {_duck_words()} AS ws FROM documents),
p AS (
  SELECT unnest(ws[1:-2]) AS a, unnest(ws[2:-1]) AS b FROM d
  WHERE len(ws) >= 2
  UNION ALL
  SELECT unnest(ws[1:-3]) AS a, unnest(ws[3:-1]) AS b FROM d
  WHERE len(ws) >= 3
)
SELECT least(a, b) AS w1, greatest(a, b) AS w2,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p WHERE a <> b
GROUP BY 1, 2
HAVING count(*) >= 50
""",
    category=CAT,
)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counting (the word2vec / GloVe
    preprocessing pass): unordered word pairs within a +-2 token
    window, self-pairs excluded, kept at count >= 50 — the
    co-occurrence matrix embedding pretraining consumes, built as
    offset-1 and offset-2 pair streams (map-side array slicing, the
    same zip pattern as the bigram op) rather than a positions
    self-join.

    Scale: pair generation is map-side; ONE (w1, w2)-keyed
    partial/final agg is the only shuffle — the positions-self-join
    formulation would shuffle the corpus twice and explode on
    high-frequency tokens."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        _words().alias("ws")
    )

    def offset_pairs(k: int):
        return d.filter(F.size("ws") > k).select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ws"), 1, F.size("ws") - k),
                    F.slice(F.col("ws"), 1 + k, F.size("ws") - k),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        ).select("p.a", "p.b")

    p = offset_pairs(1).unionAll(offset_pairs(2)).filter(F.col("a") != F.col("b"))
    return (
        p.select(
            F.least("a", "b").alias("w1"), F.greatest("a", "b").alias("w2")
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
        .select("w1", "w2", bigint(F.col("n")).alias("n_pairs"))
    )


@op(
    "text_vocab_growth",
    oracle=f"""
WITH n AS (SELECT max(doc_id) AS max_id FROM documents),
firstseen AS (
  SELECT w, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest({_duck_words()}) AS w FROM documents)
  GROUP BY w
),
cut(pct) AS (VALUES (10), (25), (50), (100))
SELECT CAST(cut.pct AS BIGINT) AS corpus_pct,
       CAST(sum(CASE WHEN firstseen.first_doc * 100 <= n.max_id * cut.pct
                     THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size
FROM firstseen CROSS JOIN n CROSS JOIN cut
GROUP BY cut.pct
""",
    category=CAT,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct words first seen
    within the leading 10/25/50/100% of the corpus (doc_id order,
    cross-multiplied percent test — no float cutoffs) — the curve that
    says whether vocabulary is saturating or still growing, i.e.
    whether more data buys new tokens or just repetition (the
    flattening point feeds the TTR op's tokenizer-sizing call).

    Scale: first-seen is one (word)-keyed min agg over the exploded
    corpus — the only big shuffle; the 1-row max and 4-row cutoffs
    broadcast-cross into the vocabulary."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    firstseen = d.select(
        "doc_id", F.explode(_words()).alias("w")
    ).groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    n = d.agg(F.max("doc_id").alias("max_id"))
    cut = spark.createDataFrame([(10,), (25,), (50,), (100,)], "pct int")
    return (
        firstseen.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(cut))
        .groupBy("pct")
        .agg(
            bigint(
                F.sum(
                    F.when(
                        F.col("first_doc") * 100 <= F.col("max_id") * F.col("pct"),
                        1,
                    ).otherwise(0)
                )
            ).alias("vocab_size")
        )
        .select(bigint(F.col("pct")).alias("corpus_pct"), "vocab_size")
    )


@op(
    "search_inverted_index_build",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_duck_words()}) AS w FROM documents
),
tf AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY w, doc_id)
SELECT w AS term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(max(tf) AS BIGINT) AS max_tf,
       CAST(min(doc_id) AS BIGINT) AS first_posting
FROM tf GROUP BY w
""",
    category=CAT,
)
def search_inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build statistics: per term, document frequency
    (df — postings count), total and max term frequency, and the first
    posting — the lexicon row a search engine writes next to each
    posting list, and the df/tf split the BM25 op consumes.  Building
    it as a query makes index construction just another aggregation.

    Scale: (term, doc) partial/final count then a term-level rollup —
    the posting lists themselves would be collect_list per term
    (size-bounded by df); the stats here are the mergeable part."""
    tok = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        "doc_id", F.explode(_words()).alias("w")
    )
    tf = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy(F.col("w").alias("term")).agg(
        bigint(F.count(F.lit(1))).alias("df"),
        bigint(F.sum("tf")).alias("total_tf"),
        bigint(F.max("tf")).alias("max_tf"),
        bigint(F.min("doc_id")).alias("first_posting"),
    )


@op(
    "text_boolean_retrieval",
    oracle=f"""
WITH d AS (SELECT doc_id, lang, {_duck_words()} AS ws FROM documents)
SELECT doc_id, lang,
       CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf_spark,
       CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf_join
FROM d
WHERE list_contains(ws, 'spark') AND list_contains(ws, 'join')
  AND NOT list_contains(ws, 'slow')
""",
    category=CAT,
)
def text_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval: documents matching (spark AND join AND NOT
    slow), with per-term frequencies — the filter stage of every
    search stack (candidate generation before ranking; the BM25 op is
    the ranking stage).  Conjunction/negation evaluate map-side as
    array predicates; on an indexed store the same query is posting-
    list intersection, and the WHERE clause here is its algebraic
    contract.

    Scale: map-only scan with array predicates — no shuffle at all;
    predicate order puts the rarest term first for short-circuit."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
    ws = _words()
    return d.select(
        "doc_id",
        "lang",
        bigint(F.size(F.filter(ws, lambda x: x == "spark"))).alias("tf_spark"),
        bigint(F.size(F.filter(ws, lambda x: x == "join"))).alias("tf_join"),
        ws.alias("_ws"),
    ).filter(
        F.array_contains("_ws", "spark")
        & F.array_contains("_ws", "join")
        & ~F.array_contains("_ws", "slow")
    ).drop("_ws")


@op(
    "text_bm25_rational_topk",
    oracle=f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
dl AS (SELECT doc_id, len(ws) AS dl FROM d),
consts AS (SELECT count(*) AS n, sum(dl) AS s FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS w FROM d)
  WHERE w IN ('spark', 'join', 'fast')
  GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         sum(
           (1000000 * (consts.n - df.df) // df.df)
           * (1000000 * 22 * consts.s * tf.tf
              // (10 * consts.s * tf.tf + 3 * consts.s
                  + 9 * consts.n * dl.dl))
           // 1000000
         ) AS score_ppm
  FROM tf
  JOIN df ON df.w = tf.w
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN consts
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS BIGINT)
         AS rank
FROM scored
ORDER BY score_ppm DESC, doc_id
LIMIT 20
""",
    category=CAT,
)
def text_bm25_rational_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped relevance ranking in EXACT rational arithmetic:
    query ('spark', 'join', 'fast'), per-term score = idf-odds
    ((N-df)/df, the exponentiated IDF — orders identically to log-IDF)
    times the k1=1.2 / b=0.75 tf-saturation term, with the rationals
    cleared by multiplying through by 10*S (S = total corpus tokens):
    sat_ppm = 10^6 * 22*S*tf / (10*S*tf + 3*S + 9*N*dl).  Every floor
    happens at a declared ppm boundary, so the top-20 — the RANKING
    stage over boolean retrieval's candidates — replays exactly.

    Scale: tf for the 3 query terms only (the scan filter IS the
    inverted-index probe), df and the (N, S) constants broadcast,
    dl joins on the doc key; top-20 via TakeOrderedAndProject."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        "doc_id", _words().alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    consts = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.col("w").isin("spark", "join", "fast"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.expr(
                "(1000000 * (n - df) div df)"
                " * (1000000 * 22 * s * tf"
                "    div (10 * s * tf + 3 * s + 9 * n * dl))"
                " div 1000000"
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score_ppm"))
    )
    ranked = scored.select(
        "doc_id",
        bigint(F.col("score_ppm")).alias("score_ppm"),
        bigint(
            F.row_number().over(
                Window.orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
            )
        ).alias("rank"),
    )
    return ranked.orderBy(F.col("score_ppm").desc(), "doc_id").limit(20)


@op(
    "search_query_expansion",
    oracle=f"""
WITH d AS (SELECT {_duck_words()} AS ws FROM documents),
p AS (
  SELECT unnest(ws[1:-2]) AS a, unnest(ws[2:-1]) AS b FROM d
  WHERE len(ws) >= 2
  UNION ALL
  SELECT unnest(ws[2:-1]) AS a, unnest(ws[1:-2]) AS b FROM d
  WHERE len(ws) >= 2
),
cnt AS (
  SELECT a AS q, b AS cand, count(*) AS c
  FROM p WHERE a IN ('spark', 'join') AND a <> b
  GROUP BY a, b
),
rk AS (
  SELECT q, cand, c,
         row_number() OVER (PARTITION BY q ORDER BY c DESC, cand) AS rn
  FROM cnt
)
SELECT q AS query_term, CAST(rn AS BIGINT) AS rank,
       cand AS expansion, CAST(c AS BIGINT) AS cooc_count
FROM rk WHERE rn <= 5
""",
    category=CAT,
)
def search_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query expansion by adjacency co-occurrence: for each query term
    ('spark', 'join'), the top-5 neighboring terms by count (both
    directions of the bigram stream, deterministic term tiebreak) —
    the synonym/related-term suggestions a search stack mines offline
    and serves next to results; the third member of the search family
    (retrieve -> rank -> expand).

    Scale: the query-term filter lands INSIDE the pair stream before
    the count agg, so only candidate pairs shuffle; the top-5 gets
    rank-limit pushdown on the per-term candidate lists."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        _words().alias("ws")
    )

    def adj(flip: bool):
        a, b = ("ws2", "ws1") if flip else ("ws1", "ws2")
        return d.filter(F.size("ws") >= 2).select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ws"), 1, F.size("ws") - 1),
                    F.slice(F.col("ws"), 2, F.size("ws") - 1),
                    lambda x, y: F.struct(x.alias("ws1"), y.alias("ws2")),
                )
            ).alias("p")
        ).select(F.col(f"p.{a}").alias("q"), F.col(f"p.{b}").alias("cand"))

    p = adj(False).unionAll(adj(True)).filter(
        F.col("q").isin("spark", "join") & (F.col("q") != F.col("cand"))
    )
    cnt = p.groupBy("q", "cand").agg(F.count(F.lit(1)).alias("c"))
    rk = cnt.select(
        "q",
        "cand",
        "c",
        F.row_number()
        .over(
            Window.partitionBy("q").orderBy(F.col("c").desc(), F.col("cand"))
        )
        .alias("rn"),
    ).filter(F.col("rn") <= 5)
    return rk.select(
        F.col("q").alias("query_term"),
        bigint(F.col("rn")).alias("rank"),
        F.col("cand").alias("expansion"),
        bigint(F.col("c")).alias("cooc_count"),
    )


@op(
    "text_kwic_contexts",
    oracle=f"""
WITH d AS (SELECT {_duck_words()} AS ws FROM documents),
hits AS (
  SELECT ws[i - 1] AS left_w, ws[i + 1] AS right_w
  FROM d, unnest(range(2, len(ws))) AS t(i)
  WHERE len(ws) >= 3 AND ws[i] = 'spark'
)
SELECT left_w, right_w,
       CAST(count(*) AS BIGINT) AS n_contexts
FROM hits GROUP BY left_w, right_w
HAVING count(*) >= 3
""",
    category=CAT,
)
def text_kwic_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) concordance for 'spark': the
    (left word, right word) context frames around every interior
    occurrence, counted (>= 3) — the corpus-linguistics view that
    shows HOW a term is used (collocational frames), feeding sense
    disambiguation and phrase-template discovery; boundary
    occurrences (first/last token) have no full frame and are
    excluded identically in both engines.

    Scale: map-side position scan via array HOFs (filter on the
    keyword, slice neighbors) — one (left, right) agg is the only
    shuffle."""
    d = (
        spread(load(spark, sf_dir, "documents"), min_fraction=0.25)
        .select(_words().alias("ws"))
        # guard BEFORE sequence(): Spark's sequence(2, n) DESCENDS when
        # n < 2, which would probe wrong positions on 1-2 word docs
        .filter(F.size("ws") >= 3)
    )
    # interior positions i (1-based, 2..len-1) where ws[i] == keyword
    hits = d.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(2), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i - 1).alias("left_w"),
                        F.element_at(F.col("ws"), i).alias("kw"),
                        F.element_at(F.col("ws"), i + 1).alias("right_w"),
                    ),
                ),
                lambda s: s["kw"] == "spark",
            )
        ).alias("h")
    )
    return (
        hits.select("h.left_w", "h.right_w")
        .groupBy("left_w", "right_w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("left_w", "right_w", bigint(F.col("n")).alias("n_contexts"))
    )


@op(
    "text_term_burstiness",
    oracle=f"""
WITH tf AS (
  SELECT w, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest({_duck_words()}) AS w FROM documents)
  GROUP BY w, doc_id
)
SELECT w AS term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(1000000 * sum(tf) // count(*) AS BIGINT) AS mean_tf_ppm,
       CAST(1000000 * max(tf) // sum(tf) AS BIGINT) AS max_doc_share_ppm
FROM tf GROUP BY w
HAVING sum(tf) >= 50
""",
    category=CAT,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995's dispersion question in
    exact integers): per term with >= 50 occurrences, document
    frequency, total frequency, mean occurrences-per-containing-doc
    (ppm), and the share of the term's mass sitting in its single
    heaviest doc — a high max-doc share marks bursty/topical terms
    (and template artifacts) that df alone scores like evenly-spread
    function words; the signal behind burst-aware TF weighting.

    Scale: the same (term, doc) partial/final count as the index
    build, then a term rollup — mergeable max/sum/count state."""
    tok = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        "doc_id", F.explode(_words()).alias("w")
    )
    tf = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy(F.col("w").alias("term"))
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.max("tf").alias("max_tf"),
        )
        .filter(F.col("total_tf") >= 50)
        .select(
            "term",
            bigint(F.col("df")).alias("df"),
            bigint(F.col("total_tf")).alias("total_tf"),
            # DECIMAL(38,0): a stopword's corpus-wide tf at 100 TB is
            # ~1e13+; 1e6x overflows int64 (round-7 ppm-overflow audit).
            bigint(
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * total_tf)"
                    " div df AS BIGINT)"
                )
            ).alias("mean_tf_ppm"),
            bigint(F.expr("1000000 * max_tf div total_tf")).alias(
                "max_doc_share_ppm"
            ),
        )
    )


@op(
    "text_char_trigram_profile",
    oracle=f"""
WITH n AS (SELECT lang, {_duck_norm()} AS t FROM documents),
tri AS (
  SELECT lang, substr(t, i.i, 3) AS g
  FROM n CROSS JOIN (SELECT unnest(range(1, 4001)) AS i) i
  WHERE i.i + 2 <= length(t) AND substr(t, i.i, 3) NOT LIKE '% %'
),
c AS (SELECT lang, g, count(*) AS c FROM tri GROUP BY lang, g),
rk AS (
  SELECT lang, g, c,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rn
  FROM c
)
SELECT lang, CAST(rn AS BIGINT) AS rank, g AS trigram,
       CAST(c AS BIGINT) AS n_occurrences
FROM rk WHERE rn <= 10
""",
    category=CAT,
)
def text_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language signature (the TextCat / n-gram-
    profile method, Cavnar & Trenkle 1994): top-10 space-free char
    trigrams per language by count — the classifier feature table the
    marker-word lang-ID op approximates, built at the CHARACTER level
    where the word ops cannot see (diacritic and orthography patterns
    live here on real corpora).  Position cap 4000 bounds the
    per-doc work identically in both engines.

    Scale: map-side trigram explosion (position HOF), one (lang,
    gram) partial/final count, rank-pushdown top-10 per language."""
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        "lang", _norm().alias("t")
    )
    tri = d.select(
        "lang",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.least(F.length("t") - 2, F.lit(4000)),
                    ),
                    lambda i: F.col("t").substr(i, F.lit(3)),
                ),
                lambda g: ~g.contains(" "),
            )
        ).alias("g"),
    ).filter(F.length("t") >= 3)
    c = tri.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
    rk = c.select(
        "lang",
        "g",
        "c",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.col("c").desc(), "g"))
        .alias("rn"),
    ).filter(F.col("rn") <= 10)
    return rk.select(
        "lang",
        bigint(F.col("rn")).alias("rank"),
        F.col("g").alias("trigram"),
        bigint(F.col("c")).alias("n_occurrences"),
    )
