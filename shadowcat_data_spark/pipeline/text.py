"""Text analysis operators for training-data pipelines (SURVEY.md §2.8
L5–L7): tf-idf, corpus/language stats, quality scoring, lexicon scoring,
heuristic language-ID, content fingerprinting.

All pure column expressions over one explode of the token array — no
Python UDFs anywhere. At 100 TB each query is: pruned scan → explode →
partial-agg → shuffle on a high-cardinality key (term or doc_id).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..registry import query
from ..session import load_table, local_files, materialize

# Below this input size, l5's tf materialization costs more (a fixed
# checkpoint-write job) than the second corpus tokenization it saves;
# past it — or on a store we can't stat — the single-pass plan wins.
_L5_MAT_MIN_BYTES = 256 * 1024 * 1024


def _input_bytes(path: str) -> int:
    """Total bytes of a local fixture file/dir; "infinite" for URI-scheme
    or unstattable paths (cluster stores: presume the corpus pass is
    expensive and take the single-pass, materialized plan)."""
    files = local_files(path)
    if files is None:
        return 1 << 62
    return sum(os.stat(f).st_size for f in files)


TOKENS = "string_split(text, ' ')"  # DuckDB-side tokenizer fragment


def tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


# ---------------------------------------------------------------------------
# L5 — tf-idf
# ---------------------------------------------------------------------------


@query(
    "l5_tfidf_top_terms",
    oracle="""
WITH tf AS (
  SELECT doc_id, t AS term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) WHERE t <> ''
  GROUP BY doc_id, t
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term,
       CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df,
       tf * round(ln(n_docs * 1.0 / df), 9) AS tfidf
FROM tf JOIN df USING (term), n
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tf * round(ln(n_docs * 1.0 / df), 9) DESC, term) <= 3
""",
    category="pipeline-text",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document. idf is rounded to 9 dp before the
    multiply so ranking keys are bit-identical across engines (ln last-ulp).

    The df side stays an aggregate+join, NOT ``count().over(Window.
    partitionBy(term))``: the window variant measures ~25% faster at sf0.1
    but shuffles every (doc, term) row by raw term with no map-side
    partial aggregation — one hot stopword term becomes a single straggler
    task at corpus scale, while the agg keeps partial combine and the join
    gets AQE's skew/broadcast handling."""
    d = load_table(spark, sf_dir, "documents")
    # corpus size as a one-row broadcast, NOT a driver-side .count(): keeps
    # the whole query one job (the count action alone was ~0.1s of bench)
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf feeds BOTH the scored join and the df aggregate below, and
    # Catalyst has no cross-subtree reuse — unmaterialized, the corpus is
    # tokenized twice (explode+groupBy for tf, then again for df). The
    # materialization is SIZE-GATED (VERDICT r11 #4): its win is one
    # corpus pass, so it only pays when that pass is expensive — at
    # fixture scale the checkpoint write overhead read l5 consistently
    # ~5-10% slower (tools/ab_l5.py, 2 alternated fresh-JVM pairs: mat
    # 1.457/1.413 s vs nomat 1.379/1.244 s), while past the threshold
    # (or on any non-statable cluster store, where the second pass is
    # presumed expensive) the single-pass plan wins by construction.
    if _input_bytes(f"{sf_dir}/documents.parquet") >= _L5_MAT_MIN_BYTES:
        tf = materialize(tf, eager=False)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.round(F.log(F.col("n_docs") / F.col("df")), 9))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


@query(
    "l5b_regex_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numeric
FROM documents
""",
    category="pipeline-text",
)
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex (letter runs /
    digit runs / single symbols) — the standard pre-tokenizer granularity for
    estimating model token budgets."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    return d.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(tokens()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias("n_numeric"),
    )


# ---------------------------------------------------------------------------
# L6 — corpus slicing / length stats
# ---------------------------------------------------------------------------


@query(
    "l6_lang_stats",
    oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang, source
""",
    category="pipeline-text",
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by (lang, source) — int sums, exact everywhere."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "l6b_length_histogram",
    oracle="""
SELECT lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY lang, len_bucket
""",
    category="pipeline-text",
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language (100-char buckets)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        "lang", (F.col("n_chars") / 100).cast("long").alias("len_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# L7 — lexicon scoring + quality
# ---------------------------------------------------------------------------

_QUERY_LEXICON = ["query", "join", "filter", "sort", "merge", "scan", "hash", "index"]


@query(
    "l7_keyword_score",
    oracle=f"""
SELECT doc_id,
       CAST(len(list_filter({TOKENS}, t -> list_contains({_QUERY_LEXICON!r}, t))) AS INTEGER) AS n_hits,
       CAST(len(list_filter({TOKENS}, t -> list_contains({_QUERY_LEXICON!r}, t))) AS DOUBLE)
         / len({TOKENS}) AS hit_ratio
FROM documents
""".replace("'", "'"),
    category="pipeline-text",
)
def keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit count + ratio per doc (sentiment/keyword scoring shape).
    The lexicon is inlined as an array literal — at scale a broadcast array."""
    d = load_table(spark, sf_dir, "documents")
    lex = F.array(*[F.lit(t) for t in _QUERY_LEXICON])
    toks = tokens()
    hits = F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))
    return d.select(
        "doc_id",
        hits.alias("n_hits"),
        (hits.cast("double") / F.size(toks)).alias("hit_ratio"),
    )


_EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


@query(
    "l7b_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {TOKENS} AS toks FROM documents
)
SELECT doc_id, lang,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) AS avg_tok_len,
       CAST(len(list_filter(toks, x -> list_contains({_EN_STOPWORDS!r}, x))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(len(list_filter(toks, x -> len(x) >= 8)) AS INTEGER) AS n_long_tokens
FROM t
""",
    category="pipeline-text",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: token count, mean token length, stopword
    ratio, long-token count — the standard pre-training quality gates."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    stop = F.array(*[F.lit(t) for t in _EN_STOPWORDS])
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        (
            F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)).cast(
                "double"
            )
            / F.size(toks)
        ).alias("avg_tok_len"),
        (
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
            / F.size(toks)
        ).alias("stopword_ratio"),
        F.size(F.filter(toks, lambda t: F.length(t) >= 8)).alias("n_long_tokens"),
    )


# ---------------------------------------------------------------------------
# L7c — heuristic language ID (stopword-overlap argmax)
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "et"],
    "zh": ["de", "shi", "le"],
}


def _marker_hits(toks: Column, lang: str) -> Column:
    lex = F.array(*[F.lit(t) for t in _LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


@query(
    "l7c_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {", ".join(
             f"CAST(len(list_filter({TOKENS}, t -> list_contains({m!r}, t))) AS INTEGER) AS s_{l}"
             for l, m in _LANG_MARKERS.items()
         )}
  FROM documents
), best AS (
  SELECT doc_id, lang, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best_score,
         CASE greatest(s_en, s_de, s_es, s_fr, s_zh)
              WHEN s_en THEN 'en' WHEN s_de THEN 'de' WHEN s_es THEN 'es'
              WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted
  FROM scored
)
SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM best GROUP BY lang, predicted
""",
    category="pipeline-text",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID; confusion counts vs the labeled lang column.
    Tie-break order en>de>es>fr>zh mirrored exactly in the CASE chain."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    scored = d.select(
        "doc_id", "lang", *[_marker_hits(toks, l).alias(f"s_{l}") for l in _LANG_MARKERS]
    )
    best = F.greatest(*[F.col(f"s_{l}") for l in _LANG_MARKERS])
    predicted = (
        F.when(best == F.col("s_en"), "en")
        .when(best == F.col("s_de"), "de")
        .when(best == F.col("s_es"), "es")
        .when(best == F.col("s_fr"), "fr")
        .otherwise("zh")
    )
    return scored.select("doc_id", "lang", predicted.alias("predicted")).groupBy(
        "lang", "predicted"
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# L7d — content fingerprint (rolling polynomial hash, pure int arithmetic)
# ---------------------------------------------------------------------------


@query(
    "l7d_fingerprint",
    oracle=f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({TOKENS}, t -> CAST(len(t) * 37 + ascii(t) AS BIGINT))),
         (a, b) -> (a * 1000003 + b) % 2147483647) END AS fingerprint
FROM documents
""",
    category="pipeline-text",
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash over the token stream — same text, same
    fingerprint on any engine (pure int64 arithmetic, no engine hash).
    NULL text fingerprints to NULL on both sides: Spark's lambda chain
    null-propagates, while DuckDB's list_prepend(0, NULL) would hash a
    missing document to 0 — the empty document's fingerprint
    (dirty-probe find, r08)."""
    d = load_table(spark, sf_dir, "documents")
    vals = F.transform(
        tokens(), lambda t: (F.length(t) * 37 + F.ascii(t)).cast("bigint")
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * 1000003 + v) % 2147483647,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# L9 — PII-style redaction (regex scrubbing before training)
# ---------------------------------------------------------------------------

# order matters: longest/most-specific pattern first
_REDACTIONS = [
    (r"[a-z0-9._]+@[a-z0-9]+\.[a-z]+", "<EMAIL>"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (r"\b[0-9]{10,}\b", "<LONGNUM>"),
]


def redact(col: Column) -> Column:
    """Chain of regexp_replace — one generated-code pass per pattern, no
    Python in the loop."""
    out = col
    for pat, repl in _REDACTIONS:
        out = F.regexp_replace(out, pat, repl)
    return out


@query(
    "l9_redact_pii",
    oracle="""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
           '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
         '\\b[0-9]{10,}\\b', '<LONGNUM>', 'g') AS redacted,
       CAST(length(text) AS BIGINT) AS n_before,
       CAST(length(regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
           '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
         '\\b[0-9]{10,}\\b', '<LONGNUM>', 'g')) AS BIGINT) AS n_after
FROM documents
""",
    category="pipeline-text",
)
def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub email/SSN/long-number shapes from every document (the standard
    pre-training redaction pass), reporting length before/after."""
    d = load_table(spark, sf_dir, "documents")
    r = redact(F.col("text"))
    return d.select(
        "doc_id",
        r.alias("redacted"),
        F.length("text").cast("bigint").alias("n_before"),
        F.length(r).cast("bigint").alias("n_after"),
    )


# ---------------------------------------------------------------------------
# L10 — benchmark-contamination check (n-gram blocklist, broadcast)
# ---------------------------------------------------------------------------


def contamination_check(
    docs: DataFrame, probes: DataFrame, id_col: str, text_col: str, probe_col: str
) -> DataFrame:
    """Docs containing ANY probe n-gram (eval-set contamination scan).

    The probe set is the small side → broadcast; `contains` runs JVM-side
    per (doc, probe) without materializing tokens. At 100 TB the probe set
    (a benchmark suite's n-grams) is still MBs — the broadcast holds."""
    return (
        docs.join(
            F.broadcast(probes),
            F.col(text_col).contains(F.col(probe_col)),
            "left_semi",
        ).select(id_col)
    )


@query(
    "l10_contamination",
    oracle="""
WITH probes AS (
  SELECT DISTINCT text[1:40] AS probe FROM documents WHERE doc_id % 97 = 0
)
SELECT DISTINCT doc_id FROM documents, probes
WHERE contains(text, probe)
ORDER BY doc_id
""",
    category="pipeline-text",
)
def contamination_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination scan with a self-derived probe set (every 97th doc's
    first 40 chars stands in for an eval benchmark's n-grams)."""
    d = load_table(spark, sf_dir, "documents")
    probes = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.substring("text", 1, 40).alias("probe"))
        .distinct()
    )
    return contamination_check(d, probes, "doc_id", "text", "probe").orderBy("doc_id")


# ---------------------------------------------------------------------------
# L10b — n-gram decontamination (shingle overlap against an eval probe set)
# ---------------------------------------------------------------------------


@query(
    "l10b_ngram_decontaminate",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(ts) - 5 + 2, 2)),
                                 i -> array_to_string(ts[i:i+4], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
  ) WHERE s <> ''
), probe AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
), doc_sh AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id
), hits AS (
  SELECT sh.doc_id, COUNT(*) AS n_hits
  FROM sh JOIN probe USING (s)
  WHERE sh.doc_id % 97 <> 0
  GROUP BY sh.doc_id
)
SELECT doc_id,
       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_shingles AS hit_ratio
FROM doc_sh LEFT JOIN hits USING (doc_id)
WHERE COALESCE(n_hits, 0) > 0
""",
    category="pipeline-text",
)
def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by k-token-shingle overlap (the 13-gram
    scan of GPT-3-style pipelines, here k=5 for the short fixture docs):
    every 97th doc stands in for the benchmark; any other doc sharing ≥1
    shingle is flagged with its hit count and contaminated-shingle ratio.
    The probe shingle set is DISTINCT and tiny relative to the corpus →
    broadcast inner join per shingle, then one groupBy(doc_id); no
    all-pairs product at any scale."""
    from .dedup import distinct_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = distinct_shingles(d, "doc_id", "text", k=5)
    probe = sh.filter(F.col("doc_id") % 97 == 0).select("tok").distinct()
    corpus = sh.filter(F.col("doc_id") % 97 != 0)
    n_sh = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(probe), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n_sh.join(hits, "doc_id")
        .filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            (F.col("n_hits").cast("double") / F.col("n_shingles")).alias("hit_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# L17 — repetition statistics (Gopher-style quality signals)
# ---------------------------------------------------------------------------


@query(
    "l17_repetition_stats",
    oracle="""
WITH tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) WHERE t <> ''
  GROUP BY doc_id, t
), tok AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(tf) AS BIGINT) AS top_tf
  FROM tf GROUP BY doc_id
), bi AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(COUNT(DISTINCT w1 || ' ' || w2) AS BIGINT) AS n_distinct_bigrams
  FROM (
    SELECT doc_id, pz[1] AS w1, pz[2] AS w2 FROM (
      SELECT doc_id, unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS pz
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))
  ) WHERE w1 <> '' AND w2 <> ''
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, top_tf,
       1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_ratio,
       CAST(top_tf AS DOUBLE) / n_tokens AS top_token_frac,
       CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / NULLIF(n_bigrams, 0)
         AS dup_bigram_ratio
FROM tok LEFT JOIN bi USING (doc_id)
""",
    category="pipeline-text",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText quality
    rules): duplicate-token ratio, most-frequent-token fraction, and
    duplicate-bigram ratio. Highly repetitive docs (boilerplate, keyword
    stuffing, generation loops) score high and get filtered upstream of
    training. Two explode→agg passes (unigram, bigram) joined on doc_id —
    both shuffles key on doc_id, so at 100 TB this is two well-spread
    aggregations, no wide joins. All ratios are int/int doubles."""
    d = load_table(spark, sf_dir, "documents")
    ts = tokens()
    tf = (
        d.select("doc_id", F.explode(ts).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tok = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("tf").cast("long").alias("top_tf"),
    )
    pairs = F.arrays_zip(
        F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))).alias("w1"),
        F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))).alias("w2"),
    )
    bi = (
        d.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.countDistinct(F.concat_ws(" ", "w1", "w2"))
            .cast("long")
            .alias("n_distinct_bigrams"),
        )
    )
    return tok.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_tf",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "dup_token_ratio"
        ),
        (F.col("top_tf").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        (
            (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
            / F.nullif(F.col("n_bigrams"), F.lit(0))
        ).alias("dup_bigram_ratio"),
    )


# ---------------------------------------------------------------------------
# L16 — collocation mining: PMI-scored bigrams over the corpus
# ---------------------------------------------------------------------------


@query(
    "l16_bigram_pmi",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), uni AS (
  SELECT t, COUNT(*) AS c FROM (SELECT unnest(ts) AS t FROM toks) WHERE t <> '' GROUP BY t
), bi AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM (
    SELECT u.pz[1] AS w1, u.pz[2] AS w2 FROM (
      SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS pz FROM toks
    ) u
  ) WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2
  HAVING COUNT(*) >= 5
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni
)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
       round(ln(CAST(n_tokens AS DOUBLE) * c_xy / (u1.c * u2.c)), 9) AS pmi
FROM bi JOIN uni u1 ON w1 = u1.t JOIN uni u2 ON w2 = u2.t, n
WHERE c_xy >= 5
""",
    category="pipeline-text",
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocations: pointwise mutual information of adjacent token pairs
    (PMI = ln(N·c_xy / (c_x·c_y)), min support 5). Bigrams come from
    zipping each token array with its own tail (``arrays_zip`` + ``slice``
    — stays in codegen, no self-join on position). Two aggregates (unigram,
    bigram) + two broadcast-ready joins; at 100 TB the unigram table is the
    vocabulary (small), and min-support prunes the bigram tail before the
    join. ln rounds to 9 dp (last-ulp divergence across libm builds)."""
    d = load_table(spark, sf_dir, "documents")
    ts = tokens()
    pairs = F.arrays_zip(
        F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))).alias("w1"),
        F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))).alias("w2"),
    )
    bi = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    uni = (
        d.select(F.explode(ts).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = uni.agg(F.sum("c").alias("n_tokens"))
    u1 = uni.select(F.col("t").alias("t1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("t").alias("t2"), F.col("c").alias("c_y"))
    return (
        bi.join(F.broadcast(u1), F.col("w1") == F.col("t1"))
        .join(F.broadcast(u2), F.col("w2") == F.col("t2"))
        .join(F.broadcast(n_tokens))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    F.col("n_tokens").cast("double")
                    * F.col("c_xy")
                    / (F.col("c_x") * F.col("c_y"))
                ),
                9,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# L21 — span-level corpus dedup (CCNet-style paragraph dedup, adapted to the
# sentence-less fixture corpus: fixed 10-token spans stand in for paragraphs)
# ---------------------------------------------------------------------------

_SPAN = 10


@query(
    "l21_span_dedup",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), w AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i
  FROM tok
), spans AS (
  SELECT doc_id, CAST((i - 1) // {_SPAN} AS INTEGER) AS span_idx,
         string_agg(w, ' ' ORDER BY i) AS span_text
  FROM w GROUP BY doc_id, (i - 1) // {_SPAN}
), ranked AS (
  SELECT doc_id, span_idx, span_text,
         ROW_NUMBER() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx)
           AS occurrence
  FROM spans
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE occurrence = 1) AS BIGINT) AS n_kept,
       string_agg(span_text, ' ' ORDER BY span_idx)
         FILTER (WHERE occurrence = 1) AS kept_text
FROM ranked GROUP BY doc_id
""",
    category="pipeline-text",
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: split each doc into consecutive 10-token spans,
    drop every span whose exact text already occurred earlier in the corpus
    (first occurrence by (doc_id, span_idx) wins), and reassemble the kept
    text per doc. This is the paragraph-level dedup a CCNet-style pipeline
    runs before training — the unit is a span because the fixture corpus
    has no sentence boundaries.

    Skew design: "first occurrence" is computed with a partial-aggregable
    ``min(struct(doc_id, span_idx))`` groupBy rather than a ``row_number``
    window over span_text — a window partition cannot be split across
    tasks, so one boilerplate span seen millions of times would straggle
    a single task, while map-side partial aggregation collapses a hot
    span to one row per input partition before the shuffle. The join back
    on span_text is an equi-join, so AQE's skew-join split applies there."""
    d = load_table(spark, sf_dir, "documents")
    # empties dropped BEFORE spanning (both sides): span_text can then never
    # be '', so the nullif below is unambiguous; zero-token docs produce no
    # spans at all (matching the oracle's empty generate_series)
    # tokens land in a projection FIRST; the span lambda references the
    # COLUMN, never the tokenize expression — a computed expression
    # captured inside a higher-order-function lambda re-evaluates per
    # element (the 100k-token probe doc re-split its text once per span:
    # ~10^9 ops, 196s measured; 3.7s after this fix — the same capture
    # hazard the r09 trim rewrite documents)
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    base = d.select("doc_id", toks.alias("__toks"))
    tcol = F.col("__toks")
    n_spans = F.ceil(F.size(tcol) / float(_SPAN)).cast("int")
    span_arr = F.when(
        F.size(tcol) > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda j: F.array_join(F.slice(tcol, j * _SPAN + 1, _SPAN), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(
        "doc_id",
        F.posexplode(span_arr).alias("span_idx", "span_text"),
    )
    firsts = spans.groupBy("span_text").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first_occ")
    )
    ranked = spans.join(firsts, "span_text").withColumn(
        "is_first",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("span_idx") == F.col("first_occ.span_idx")),
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).cast("long").alias("n_kept"),
        # nullif: a doc whose every span is a dup must yield NULL like the
        # oracle's filtered string_agg (spans are non-empty, so '' ⇔ none kept)
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct("span_idx", "span_text"),
                            )
                        )
                    ),
                    lambda s: s.span_text,
                ),
                " ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# L22 — character-entropy quality signal
# ---------------------------------------------------------------------------


@query(
    "l22_char_entropy",
    oracle="""
WITH chars AS (
  SELECT doc_id, ch FROM (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
  WHERE ch <> ''
), freq AS (
  SELECT doc_id, ch, COUNT(*) AS n,
         COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS p
  FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       round(-SUM(p * log2(p)), 6) + 0.0 AS entropy_bits,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
FROM freq GROUP BY doc_id
""",
    category="pipeline-text",
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character distribution per document — the
    cheap gibberish/boilerplate detector (low entropy = repeated filler,
    high = random noise). Explode to chars → two-level aggregation; both
    shuffles key on doc_id so the plan stays one exchange. Rounded to 6dp:
    the p·log2 p sum order differs between engines."""
    d = load_table(spark, sf_dir, "documents")
    # empty-text guard: Spark split('','') yields [''], DuckDB yields [] —
    # dropping '' chars makes both engines skip empty documents
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    wdoc = W.partitionBy("doc_id")
    p = F.col("n") / F.sum("n").over(wdoc)
    return (
        freq.withColumn("p", p)
        .groupBy("doc_id")
        .agg(
            # +0.0 normalizes IEEE -0.0 (single-char-class docs) to 0.0 on
            # both engines — the comparator stringifies the sign
            (F.round(-F.sum(F.col("p") * F.log2("p")), 6) + F.lit(0.0)).alias(
                "entropy_bits"
            ),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
    )


# ---------------------------------------------------------------------------
# L23 — corpus-percentile length-band filter
# ---------------------------------------------------------------------------


@query(
    "l23_length_band_filter",
    oracle="""
WITH bounds AS (
  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY n_chars) AS p5,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY n_chars) AS p95
  FROM documents
)
SELECT doc_id, lang, n_chars, ROUND(p5, 6) AS p5, ROUND(p95, 6) AS p95
FROM documents, bounds
WHERE n_chars >= p5 AND n_chars <= p95
""",
    category="pipeline-text",
)
def length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter that keeps documents inside the corpus's [p5, p95]
    length band — thresholds COMPUTED FROM THE DATA (exact interpolated
    percentiles), not hardcoded. The one-row bounds aggregate is broadcast
    into the filter, so the corpus is scanned twice but shuffled never —
    at 100 TB swap the exact percentile for percentile_approx and the
    second scan reuses cached/columnar input.

    The FILTER compares against the raw interpolated percentiles, but the
    OUTPUT p5/p95 columns are rounded to 6 dp at the boundary (repo
    convention for cross-engine doubles): relying on Spark's Percentile
    and DuckDB's percentile_cont agreeing to the last bit of interpolation
    arithmetic would be fragile."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.percentile(F.col("n_chars"), F.lit(0.05)).alias("p5"),
        F.percentile(F.col("n_chars"), F.lit(0.95)).alias("p95"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("p5")) & (F.col("n_chars") <= F.col("p95")))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round("p5", 6).alias("p5"),
            F.round("p95", 6).alias("p95"),
        )
    )


# ---------------------------------------------------------------------------
# L24 — event-sequence pattern match (MATCH_RECOGNIZE-lite over trajectories)
# ---------------------------------------------------------------------------


@query(
    "l24_sequence_pattern",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END,
                    '' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS trace
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(trace) AS INTEGER) AS n_events,
       CAST(len(regexp_extract_all(trace, 'vc*p')) AS INTEGER) AS n_funnels,
       regexp_matches(trace, 'vc*p') AS converted,
       CAST(len(regexp_extract_all(trace, 'ee')) AS INTEGER) AS n_error_bursts
FROM seq
""",
    category="pipeline-text",
)
def sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: encode each user's ordered event trajectory as
    a one-char-per-event string, then detect behavioral patterns with plain
    regex — view→clicks→purchase funnels ('vc*p') and error bursts ('ee').
    This is the poor man's CEP that covers most funnel analytics with ONE
    groupBy + string ops; per-user trace length is bounded by the user's
    own event count (same bound as trajectory_assembly). At 100 TB, cap
    traces with a rank-filter upstream for bot users."""
    e = load_table(spark, sf_dir, "events")
    initial = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    step = F.struct(F.col("ts"), F.col("event_id"), initial.alias("ch"))
    traces = (
        e.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(step)).alias("steps"))
        .select(
            "user_id",
            F.array_join(F.transform("steps", lambda s: s.ch), "").alias("trace"),
        )
    )
    return traces.select(
        "user_id",
        F.length("trace").alias("n_events"),
        F.size(F.regexp_extract_all("trace", F.lit("vc*p"), 0)).alias("n_funnels"),
        F.col("trace").rlike("vc*p").alias("converted"),
        F.size(F.regexp_extract_all("trace", F.lit("ee"), 0)).alias("n_error_bursts"),
    )


# ---------------------------------------------------------------------------
# L25 — bigram LM score (KenLM-style fluency proxy, corpus-trained)
# ---------------------------------------------------------------------------


@query(
    "l25_bigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, t,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) AS ord
  FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS t,
           UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS ord
    FROM documents)
  WHERE t <> ''
), bg AS (
  SELECT a.doc_id, a.t AS prev, b.t AS cur
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
), bg_counts AS (
  SELECT prev, cur, COUNT(*) AS c_bg FROM bg GROUP BY prev, cur
), uni_counts AS (
  SELECT prev, SUM(c_bg) AS c_uni FROM bg_counts GROUP BY prev
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(FLOOR(ln(c_bg * 1.0 / c_uni) * 1000000.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 1000000.0 AS total_logprob
FROM bg JOIN bg_counts USING (prev, cur) JOIN uni_counts USING (prev)
GROUP BY doc_id
""",
    category="pipeline-text",
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram log-likelihood under the corpus's own bigram
    model — the KenLM-style fluency proxy data pipelines use to rank text
    quality (a doc of common transitions scores high; rare-transition word
    salad scores low). Counts train and score in the same plan: bigram and
    unigram-context counts aggregate once, broadcast-join back onto each
    doc's bigrams, and each log term is quantized to integer micro-nats
    BEFORE summing, so the per-doc total is exactly associative and
    hash-matches the oracle despite float logs. All shuffles key on bigram
    or doc_id — explode-count-join, nothing quadratic."""
    d = load_table(spark, sf_dir, "documents")
    # bigrams over the CLEANED token sequence (empties removed first) on
    # both sides; greatest(...,0) keeps slice legal for 0/1-token docs,
    # which then simply contribute no bigrams
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    bg_len = F.greatest(F.size(toks) - 1, F.lit(0))
    bg_struct = F.arrays_zip(
        F.slice(toks, 1, bg_len).alias("prev"),
        F.slice(toks, 2, bg_len).alias("cur"),
    )
    bg = d.select("doc_id", F.explode(bg_struct).alias("b")).select(
        "doc_id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur")
    )
    bg_counts = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg"))
    uni_counts = bg_counts.groupBy("prev").agg(F.sum("c_bg").alias("c_uni"))
    term = F.floor(
        F.log(F.col("c_bg") * 1.0 / F.col("c_uni")) * 1e6 + 0.5
    ).cast("long")
    return (
        bg.join(bg_counts, ["prev", "cur"])
        .join(uni_counts, "prev")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(term).cast("double") / 1e6).alias("total_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# L26 — tokenizer vocab coverage (OOV rate against the corpus top-K vocab)
# ---------------------------------------------------------------------------

_VOCAB_K = 500


@query(
    "l26_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
), vocab AS (
  SELECT t FROM (SELECT t, COUNT(*) AS c FROM tok GROUP BY t)
  QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, t) <= {_VOCAB_K}
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE vocab.t IS NOT NULL) AS BIGINT) AS n_in_vocab,
       CAST(COUNT(*) FILTER (WHERE vocab.t IS NULL) AS DOUBLE) / COUNT(*) AS oov_ratio
FROM tok LEFT JOIN vocab USING (t)
GROUP BY doc_id
""",
    category="pipeline-text",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own top-K
    token vocabulary — the coverage check run before freezing a tokenizer
    (high OOV docs either get transliterated or the vocab grows). The
    vocab is deterministic (count desc, token asc tie-break); it is
    corpus-bounded-small by construction → broadcast left join, and the
    token stats reuse the same explode→count shuffle shape as tf-idf."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("t")).filter(F.col("t") != "")
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # top-K via orderBy+limit (TakeOrderedAndProject) — a no-partitionBy
    # row_number window would sort |distinct tokens| rows in ONE task
    # (VERDICT r06); the parallel partial top-k merges only K rows
    vocab = (
        counts.orderBy(F.col("c").desc(), "t")
        .limit(_VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).cast("long").alias("n_in_vocab"),
            (
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# L27 — end-to-end corpus curation decision (compose the gates)
# ---------------------------------------------------------------------------


@query(
    "l27_curation_pipeline",
    oracle="""
WITH t AS (
  SELECT doc_id, n_chars,
         md5(lower(trim(text))) AS content_key,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), keyed AS (
  SELECT doc_id, n_chars,
         CASE WHEN COALESCE(len(toks), 0) = 0 THEN 0.0
              ELSE len(list_distinct(toks)) * 1.0 / len(toks) END AS ratio,
         MIN(doc_id) OVER (PARTITION BY content_key) AS first_id
  FROM t
)
SELECT doc_id, verdict, verdict = 'kept' AS keep FROM (
  SELECT doc_id,
         CASE WHEN doc_id <> first_id THEN 'duplicate'
              WHEN n_chars < 100 THEN 'too_short'
              WHEN n_chars > 500 THEN 'too_long'
              WHEN ratio < 0.40 THEN 'repetitive'
              ELSE 'kept' END AS verdict
  FROM keyed
)
""",
    category="pipeline-text",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation decision: every doc gets a keep/drop
    verdict with the FIRST failing gate as the reason, composing the
    engine's cleaning gates in the order a production pipeline applies
    them — exact dedup (keep lowest doc_id per normalized-content hash,
    as l1), then length band (as l23), then repetition (distinct-token
    ratio, as l17's signal). One row per input doc, so the decision is
    fully auditable ("why was doc X dropped?") rather than just a
    filtered corpus.

    Shape at scale: one window over the content hash (hash-partitioned,
    no skew — keys are md5) plus per-row array expressions; single
    shuffle, no joins, no Python. The ratio is an int/int division so the
    0.40 threshold decides identically on both engines."""
    return curation_verdicts(load_table(spark, sf_dir, "documents"))


def curation_verdicts(d: DataFrame) -> DataFrame:
    """l27's gate composition over any documents frame — (doc_id,
    verdict, keep); shared with l45's token-yield report."""
    toks = F.filter(tokens(), lambda t: t != "")
    # token-free docs (whitespace-only text inside the length band) count as
    # maximally repetitive — ratio 0 — instead of dividing by zero (ANSI)
    ratio = F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
    ).otherwise(F.lit(0.0))
    first = F.min("doc_id").over(
        W.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    )
    verdict = (
        F.when(F.col("doc_id") != first, "duplicate")
        .when(F.col("n_chars") < 100, "too_short")
        .when(F.col("n_chars") > 500, "too_long")
        .when(ratio < 0.40, "repetitive")
        .otherwise("kept")
    )
    return d.select(
        "doc_id",
        verdict.alias("verdict"),
        (verdict == "kept").alias("keep"),
    )


# ---------------------------------------------------------------------------
# L29 — BPE vocabulary induction (Sennrich-style byte-pair encoding merges)
# ---------------------------------------------------------------------------


_BPE_EOW = "</w>"


def _bpe_word_string(w: Column) -> Column:
    """A word as its BPE symbol STRING: every symbol wrapped in single
    spaces, so symbol adjacency reads as exactly two spaces and applying
    a merge (a, b) → ab is ONE literal string replace —
    ``replace(s, ' a  b ', ' ab ')``. Words come from splitting the text
    ON spaces, so no symbol can ever contain the separator: the encoding
    is collision-free by construction, in both engines. Leftmost
    non-overlapping literal replace ≡ the greedy BPE merge pass: the
    wrap makes adjacent matches share no characters, and neither engine
    rescans replaced output, so a just-merged ab can never act as the
    left element a of a following match (a+b = a needs an empty b)."""
    return F.concat(
        F.lit(" "),
        F.array_join(
            F.concat(F.split(w, ""), F.array(F.lit(_BPE_EOW))), "  "
        ),
        F.lit(" "),
    )


def _bpe_syms(s) -> Column:
    """Symbol array back out of the symbol string (inverse of
    ``_bpe_word_string`` at any merge depth)."""
    return F.split(F.trim(F.col(s) if isinstance(s, str) else s), "  ")


def _bpe_train(
    spark: SparkSession, docs: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules from a corpus — the tokenizer-
    training step of an LLM data pipeline, shaped for scale the way the
    algorithm demands:

    - CORPUS-SCALE work happens exactly once: a distributed word-frequency
      aggregation (explode → groupBy). Everything after operates on the
      WORD VOCABULARY (distinct words + counts) — orders of magnitude
      smaller than the corpus and independent of corpus growth beyond
      vocabulary saturation, which is why single-machine BPE trainers get
      away with it and why the per-round loop here is cheap.
    - Each round is Catalyst-only: adjacent-pair counts via
      arrays_zip(slice, slice) → explode → sum, the argmax pair via ONE
      driver row (deterministic tie-break: count desc, then lexicographic
      pair), and the merge applied to every word with one literal string
      replace over the symbol-string representation (``_bpe_word_string``)
      — greedy left-to-right non-overlapping by the replace operator's own
      contract, no Python UDF and no lambda fold anywhere. Chained
      replaces are plain codegen string ops, so rounds need no
      per-round lineage checkpoint (round r re-runs r replaces over the
      checkpointed vocab — O(rounds²) work on a vocabulary-sized table
      beats 1 materialization job per round).

    Words carry an explicit ``</w>`` end-of-word symbol (Sennrich's
    formulation), so merges distinguish word-final units. Returns the
    merge list [(rank, left, right, merged, pair_count)] — stopping early
    if the vocabulary runs out of pairs — AND the final encoded vocabulary
    (w, s, cnt): every distinct word with its symbol string after all
    merges, which is exactly the word→tokens cache an encoder needs.
    Property-tested against a pure-Python reference implementation on
    random corpora; l29's oracle replays the whole loop in unrolled CTEs."""
    words = materialize(
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", _bpe_word_string(F.col("w")).alias("s"), "cnt")
        # the vocab is corpus-independent-small after saturation; 8
        # partitions keep the 2 jobs/round from scheduling 32 near-empty
        # tasks each (measured 32.7s → 13.0s for 20 rounds at sf0.01).
        # At web scale raise it with vocab size — the loop itself is
        # partition-count-agnostic.
        .repartition(8),
        eager=True,
        iterative=True,
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        syms = _bpe_syms("s")
        n = F.size(syms)
        pair_rows = (
            words.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(syms, F.lit(1), n - 1).alias("a"),
                        F.slice(syms, F.lit(2), n - 1).alias("b"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not pair_rows:
            break  # vocabulary exhausted: every word is one symbol
        a, b, pc = pair_rows[0]["a"], pair_rows[0]["b"], int(pair_rows[0]["pc"])
        merged = a + b
        merges.append((rank, a, b, merged, pc))
        words = words.select(
            "w",
            F.replace(
                F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {merged} ")
            ).alias("s"),
            "cnt",
        )
        # lineage guard for big vocabularies: chained replaces are cheap
        # to EXECUTE but each round's pair-count re-ANALYZES the whole
        # chain, which grows quadratic in n_merges — truncate every 16
        # rounds (one materialization job per 16, vs. the old 1-per-round)
        if rank % 16 == 0:
            words = materialize(words, eager=True, iterative=True)
    return merges, words


def bpe_merges(
    spark: SparkSession, docs: DataFrame, text_col: str, n_merges: int
) -> DataFrame:
    """The learned merge table (rank, left, right, merged, pair_count) —
    see ``_bpe_train`` for the algorithm and its scale shape."""
    merges, _ = _bpe_train(spark, docs, text_col, n_merges)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )


def _bpe_train_ctes(
    n_merges: int, train_where: str = "", table: str = "documents"
) -> tuple[list[str], str]:
    """Unrolled-CTE replay of the ENTIRE BPE training loop — the l30
    trick (replay a driver-side iteration as one query) applied to
    tokenizer training. Round r is three CTEs: adjacent-pair counts
    ``bp{r}`` from the previous vocab (correlated generate_series — the
    l21 pattern), the 1-row argmax ``bm{r}`` (count desc, lexicographic
    tie-break — binary collation in both engines), and the merge applied
    to every word with the SAME literal-free replace the Spark side uses
    (``bw{r}``). MATERIALIZED where a CTE is referenced twice (DuckDB
    inlines plain CTEs; bw{r} feeds both bp{r+1} and bw{r+1} — inlining
    would re-evaluate the chain exponentially). Every quantity is an
    exact integer or a byte-exact string, so the replay hash-matches.
    Returns (ctes, final_vocab_cte_name); callers pick their output
    (l29 unions the bm rows; l43 encodes through the final vocab)."""
    where = f" WHERE {train_where}" if train_where else ""
    ctes = [
        f"""bw0 AS MATERIALIZED (
  SELECT w, ' ' || array_to_string(list_append(string_split(w, ''), '{_BPE_EOW}'), '  ') || ' ' AS s,
         CAST(cnt AS BIGINT) AS cnt
  FROM (SELECT w, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM {table}{where})
        WHERE w <> '' GROUP BY w)
)"""
    ]
    for r in range(1, n_merges + 1):
        ctes.append(
            f"""bp{r} AS (
  SELECT syms[j] AS a, syms[j + 1] AS b, SUM(cnt) AS pc
  FROM (SELECT string_split(trim(s), '  ') AS syms, cnt FROM bw{r - 1})
  CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) AS u(j)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"bm{r} AS MATERIALIZED (SELECT a, b, a || b AS m, pc "
            f"FROM bp{r} ORDER BY pc DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"bw{r} AS MATERIALIZED (SELECT w.w, "
            f"replace(w.s, ' ' || m.a || '  ' || m.b || ' ', ' ' || m.m || ' ') AS s, "
            f"w.cnt FROM bw{r - 1} w CROSS JOIN bm{r} m)"
        )
    return ctes, f"bw{n_merges}"


_L29_MERGES = 20


def _bpe_encode_ctes(n_merges: int) -> list[str]:
    """The encode-chain CTE block shared by the l43/l45/t30 oracles
    (ADVICE r08: it was copy-pasted verbatim three times — a change to
    the replay would silently diverge them). enc0 seeds every DISTINCT
    corpus word as its symbol string; enc{r} replays merge r as ONE
    literal replace, LEFT JOIN ... ON TRUE so an exhausted merge table
    degrades exactly like the Spark loop's break; word_tok prices each
    word as spaces/2. Chain after ``_bpe_train_ctes(...)`` — the bm{r}
    CTEs must already be in scope."""
    ctes = [
        f"""enc0 AS MATERIALIZED (
  SELECT w, ' ' || array_to_string(list_append(string_split(w, ''), '{_BPE_EOW}'), '  ') || ' ' AS s
  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)"""
    ]
    for r in range(1, n_merges + 1):
        ctes.append(
            f"enc{r} AS (SELECT e.w, CASE WHEN m.a IS NULL THEN e.s ELSE "
            f"replace(e.s, ' ' || m.a || '  ' || m.b || ' ', ' ' || m.m || ' ') "
            f"END AS s FROM enc{r - 1} e LEFT JOIN bm{r} m ON TRUE)"
        )
    ctes.append(
        f"""word_tok AS MATERIALIZED (
  SELECT w, CAST((length(s) - length(replace(s, ' ', ''))) / 2 AS BIGINT) AS n_tok
  FROM enc{n_merges}
)"""
    )
    return ctes


def _l29_oracle() -> str:
    """The merge table, replayed: 20 unrolled training rounds, then the
    20 argmax rows unioned with their literal ranks. Early-stop parity
    holds by construction — an exhausted vocabulary makes bp{r} empty,
    so bm{r} contributes no row and bw{r} (cross join with an empty
    1-row table) empties every later round, exactly like the Spark
    loop's break."""
    ctes, _ = _bpe_train_ctes(_L29_MERGES)
    unions = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS INTEGER) AS rank, a AS "left", b AS "right", '
        f"m AS merged, CAST(pc AS BIGINT) AS pair_count FROM bm{r}"
        for r in range(1, _L29_MERGES + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


@query("l29_bpe_vocab", oracle=_l29_oracle(), category="pipeline-text")
def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 20 BPE merges learned from the documents corpus. The
    oracle replays the full training recurrence (argmax, rewrite,
    repeat) in unrolled MATERIALIZED CTEs — possible because the merge
    rewrite is ONE literal string replace over the symbol-string
    representation, identical byte-for-byte in both engines — and the
    hypothesis twin (tests/test_hypothesis_props.py) pins the same loop
    against a pure-Python BPE reference on random corpora."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(spark, docs, "text", _L29_MERGES)


# ---------------------------------------------------------------------------
# L43 — BPE tokenizer APPLICATION (encode the corpus with trained merges)
# ---------------------------------------------------------------------------


def bpe_encode_corpus(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    merges: list[tuple[int, str, str, str, int]],
) -> DataFrame:
    """Tokenize every document with a TRAINED merge list — the deploy
    half of the tokenizer lifecycle (l29 trains, this serves), and the
    single most common pass a training-data pipeline runs at full
    corpus scale (every token-count budget, packing plan, and billing
    estimate starts here). Scale shape:

    - The merge table is tokenizer-sized (a few 10k rules at web scale,
      20 here) — it ships as PLAN LITERALS, the t22 model-serving trick:
      one chained literal-replace expression, whole-stage codegen,
      nothing to join against.
    - Encoding work is VOCABULARY-sized, not corpus-sized: each distinct
      word is encoded once (the word-cache every practical BPE encoder
      uses), then per-(doc, word) counts join against the encoded vocab
      — broadcast, because vocabulary saturates while the corpus grows.
    - Unseen words need no special path: greedy merge application works
      on ANY word (chars + </w>), trained-on or not — which is why l43
      deliberately trains on half the corpus and encodes all of it.

    Returns (doc_id, n_words, n_tokens, n_chars): exact integers, so the
    oracle — which replays training AND encoding through the same
    symbol-string replaces — hash-matches bit-for-bit."""
    wc = (
        docs.select(
            "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s: Column = _bpe_word_string(F.col("w"))
    for _, a, b, merged, _ in merges:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {merged} "))
    enc = wc.select("w").distinct().select(
        "w",
        # every symbol wraps in exactly 2 spaces → n_tok = spaces / 2
        ((F.length(s) - F.length(F.replace(s, F.lit(" "), F.lit(""))))
         / 2).cast("long").alias("n_tok"),
    )
    return (
        wc.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_tok")).cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.length("w")).cast("long").alias("n_chars"),
        )
    )


def _l43_oracle() -> str:
    """Training replayed on the even-doc_id slice, then the encode chain
    applied to the FULL corpus vocabulary. The encode steps LEFT JOIN
    the per-round argmax row (not cross join): if a tiny corpus exhausts
    its pairs before 20 rounds, bm{r} is empty and the word string rides
    through unchanged — byte-identical to the Spark loop's break."""
    ctes, _ = _bpe_train_ctes(_L29_MERGES, train_where="doc_id % 2 = 0")
    ctes.extend(_bpe_encode_ctes(_L29_MERGES))
    ctes.append(
        """wc AS (
  SELECT doc_id, w, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY doc_id, w
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT wc.doc_id,
       CAST(SUM(wc.n) AS BIGINT) AS n_words,
       CAST(SUM(wc.n * wt.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(wc.n * length(wc.w)) AS BIGINT) AS n_chars
FROM wc JOIN word_tok wt ON wc.w = wt.w
GROUP BY wc.doc_id"""
    )


@query("l43_bpe_encode", oracle=_l43_oracle(), category="pipeline-text")
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 20 merges on HALF the corpus (even doc_ids), then encode
    EVERY document — per-doc exact word/token/char counts. Splitting
    train from apply exercises the real deployment path: the encoder
    must handle words the trainer never saw (greedy merge application
    needs no vocabulary membership). Oracle: the l29 training replay
    (restricted to the slice) plus an unrolled encode chain over the
    full vocabulary — every step byte-exact string work, so the counts
    hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = _bpe_train(
        spark, docs.filter(F.col("doc_id") % 2 == 0), "text", _L29_MERGES
    )
    return bpe_encode_corpus(spark, docs, "text", merges)


# ---------------------------------------------------------------------------
# L44 — duplicated-substring coverage (sliding k-token window dedup signal)
# ---------------------------------------------------------------------------

_L44_K = 8

# The sliding-window CTE in the LINEAR parallel-unnest + lead() shape —
# a lateral UNNEST(generate_series) over `toks` makes DuckDB carry the
# full token array per window row, O(doc_tokens^2) memory (the shape
# that OOM-killed the dirty probe's 100k-token book row, r09). Shared
# by the l44/l46/l47/t31/t32/t33 oracles; QUALIFY (not WHERE) keeps the
# lead() window seeing every token row.
_L44_WINS_CTE = f"""wins AS (
  SELECT doc_id, i - 1 AS strt,
         md5(concat_ws(' ', w, {", ".join(f"lead(w, {d}) OVER win" for d in range(1, _L44_K))})) AS h
  FROM (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i,
               len(toks) AS n FROM tok)
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY i <= n - {_L44_K} + 1
)"""

# shared verbatim with t31: the streaming index maintenance must converge
# to exactly the one-shot answer, so the two queries carry ONE oracle
_L44_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n, toks FROM tok
), {_L44_WINS_CTE}, hot AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
), cov AS (
  SELECT doc_id, strt,
         GREATEST((strt + {_L44_K} - 1) - GREATEST(strt - 1,
           COALESCE(MAX(strt + {_L44_K} - 1) OVER (
             PARTITION BY doc_id ORDER BY strt
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)), 0)
           AS contrib
  FROM wins JOIN hot USING (h)
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
         CAST(SUM(contrib) AS BIGINT) AS n_dup_tokens
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(GREATEST(b.n - {_L44_K} + 1, 0) AS BIGINT) AS n_windows,
       COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
       COALESCE(a.n_dup_tokens, 0) AS n_dup_tokens
FROM base b LEFT JOIN agg a USING (doc_id)
"""


@query(
    "l44_dup_ngram_coverage",
    oracle=_L44_ORACLE,
    category="pipeline-text",
)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal: slide an 8-token window over
    every position of every document, mark the windows whose exact text
    occurs ≥2 times anywhere in the corpus, and report per doc the
    window count, the duplicated-window count, and the number of TOKENS
    covered by at least one duplicated window — the quantity an
    exact-substring dedup pass trims. This catches SHIFTED duplication
    that l21's fixed non-overlapping spans miss (a copied passage at a
    different word offset hits zero fixed spans but every sliding one).

    Scale shape: window text never shuffles — each window becomes a
    16-byte md5 before the groupBy, so shuffle rows are (digest, doc,
    start) regardless of k; duplicate detection is a map-side-combinable
    count; the membership probe is a LEFT SEMI join against the deduped
    hot set (one row per digest — a million-fold boilerplate window
    cannot fan out). Covered tokens come from the classic
    max-end-so-far interval-union window (per-doc partition, unique
    start ordering), not an O(n·dups) per-token scan."""
    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_coverage_frame(docs, _L44_K)


def ngram_window_digests(
    docs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """(base, wins) for the sliding-window family: base = (doc_id, n)
    token counts, wins = one row per window position (doc_id, strt, h)
    where h is the 16-byte md5 of the k-token window text — digested
    MAP-SIDE, so window text never shuffles. Shared by l44 (one-shot)
    and t31 (streaming index maintenance)."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    base = docs.select(
        "doc_id", F.size(toks).alias("n"), toks.alias("toks")
    )
    wins = base.filter(F.col("n") >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - k),
                lambda j: F.struct(
                    j.alias("strt"),
                    F.md5(F.array_join(F.slice("toks", j + 1, k), " ")).alias(
                        "h"
                    ),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.strt").alias("strt"), F.col("w.h").alias("h"))
    return base.select("doc_id", "n", "toks"), wins


def dup_ngram_coverage_frame(docs: DataFrame, k: int) -> DataFrame:
    """The l44 computation over any documents frame at any window size —
    see ``dup_ngram_coverage`` for semantics and scale shape.
    Hypothesis-twinned against a brute-force per-token reference.

    ``wins`` is materialized once (``localCheckpoint``; persist/durable
    checkpoint on a cluster): it feeds both the hot-set aggregation and
    the probe side of the semi-join, and an unmaterialized plan runs the
    window-digest explode — the corpus-scale tokenize+md5 pass — twice.
    The materialization is (doc_id, strt, 16-byte digest) rows, the same
    narrow shape the t31 streaming index persists per trigger."""
    base, wins = ngram_window_digests(docs, k)
    wins = materialize(wins, eager=False)
    hot = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    )
    return dup_coverage_from(base, wins.join(hot, "h", "left_semi"), k)


def dup_coverage_from(
    base: DataFrame, dup: DataFrame, k: int
) -> DataFrame:
    """Per-doc (n_windows, n_dup_windows, n_dup_tokens) from the marked
    duplicate window positions ``dup`` = (doc_id, strt): the
    max-end-so-far interval-union window inside per-doc partitions
    (unique strt ordering), then a LEFT join so dup-free docs report
    zeros."""
    prev_end = F.max(F.col("strt") + (k - 1)).over(
        W.partitionBy("doc_id")
        .orderBy("strt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cov = dup.select(
        "doc_id",
        F.greatest(
            (F.col("strt") + (k - 1))
            - F.greatest(F.col("strt") - 1, F.coalesce(prev_end, F.lit(-1))),
            F.lit(0),
        ).alias("contrib"),
    )
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
        F.sum("contrib").cast("long").alias("n_dup_tokens"),
    )
    return (
        base.select(
            "doc_id",
            F.greatest(F.col("n") - (k - 1), F.lit(0))
            .cast("long")
            .alias("n_windows"),
        )
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.coalesce("n_dup_tokens", F.lit(0).cast("long")).alias(
                "n_dup_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# L45 — token-yield report: curation gates x trained tokenizer, per source
# ---------------------------------------------------------------------------


def _l45_oracle() -> str:
    """Curation verdicts (l27's CTE) first, then the BPE training replay
    RESTRICTED to kept docs (a real pipeline trains its tokenizer on the
    curated corpus), then the encode chain over the full vocabulary, then
    per-(source, verdict) totals. Token-free and NULL-text docs reach the
    report with zero tokens via the LEFT join."""
    curated = """curated AS MATERIALIZED (
  WITH t AS (
    SELECT doc_id, n_chars,
           md5(lower(trim(text))) AS content_key,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), keyed AS (
    SELECT doc_id, n_chars,
           CASE WHEN COALESCE(len(toks), 0) = 0 THEN 0.0
                ELSE len(list_distinct(toks)) * 1.0 / len(toks) END AS ratio,
           MIN(doc_id) OVER (PARTITION BY content_key) AS first_id
    FROM t
  )
  SELECT doc_id,
         CASE WHEN doc_id <> first_id THEN 'duplicate'
              WHEN n_chars < 100 THEN 'too_short'
              WHEN n_chars > 500 THEN 'too_long'
              WHEN ratio < 0.40 THEN 'repetitive'
              ELSE 'kept' END AS verdict
  FROM keyed
)"""
    ctes, _ = _bpe_train_ctes(
        _L29_MERGES,
        train_where="doc_id IN (SELECT doc_id FROM curated WHERE verdict = 'kept')",
    )
    ctes.insert(0, curated)
    ctes.extend(_bpe_encode_ctes(_L29_MERGES))
    ctes.append(
        """doc_tok AS (
  SELECT c.doc_id, CAST(SUM(c.n * wt.n_tok) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, w, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY doc_id, w) c
  JOIN word_tok wt ON c.w = wt.w
  GROUP BY c.doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT d.source, c.verdict,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(dt.n_tokens), 0) AS BIGINT) AS n_tokens
FROM documents d
JOIN curated c ON d.doc_id = c.doc_id
LEFT JOIN doc_tok dt ON d.doc_id = dt.doc_id
GROUP BY d.source, c.verdict"""
    )


@query("l45_token_yield", oracle=_l45_oracle(), category="pipeline-text")
def token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number every training-data team actually tracks: per source
    and curation verdict, how many documents and how many TOKENS —
    counted with the tokenizer the pipeline would really ship, i.e. one
    TRAINED ON THE CURATED CORPUS (l27's gates pick the keepers, l29's
    loop trains on them, l43's encoder prices every doc, kept or
    dropped). Dropped-verdict rows price what each gate is discarding;
    the kept row is the training-token budget. Fully hash-oracled: the
    oracle chains l27's verdict CTE, the training replay restricted to
    kept docs, and the encode chain."""
    docs = load_table(spark, sf_dir, "documents")
    verdicts = curation_verdicts(docs).select("doc_id", "verdict")
    kept = docs.join(
        verdicts.filter(F.col("verdict") == "kept").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    merges, _ = _bpe_train(spark, kept, "text", _L29_MERGES)
    doc_tok = bpe_encode_corpus(spark, docs, "text", merges).select(
        "doc_id", "n_tokens"
    )
    return (
        docs.select("doc_id", "source")
        .join(verdicts, "doc_id")
        .join(doc_tok, "doc_id", "left")
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# L46 — duplicated-substring TRIM (apply the l44 signal to the text)
# ---------------------------------------------------------------------------


# The trim decision in LINEAR SQL (shared by the l46/t32/l48 oracles):
# instead of a per-token scan of the doc's dup-start list (O(n·d) — the
# oracle-side twin of the engine quadratic r09 killed; 116.7s on the
# probe's 100k-token book), token positions and dup starts merge into
# ONE ordered event stream per doc and a running MAX(start) decides
# coverage: token at pos is covered iff the latest start at-or-before it
# is within k-1. Starts sort before tokens at equal pos (a start covers
# its own position). O((n + d) log(n + d)) per doc.
_L44_TRIM_CTES = f"""base AS (
  SELECT doc_id, len(toks) AS n, toks FROM tok
), {_L44_WINS_CTE}, hot AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
), ev AS (
  SELECT doc_id, strt AS pos, 0 AS tk, NULL AS w
  FROM wins JOIN hot USING (h)
  UNION ALL
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, 1 AS tk,
         unnest(toks) AS w
  FROM tok
), keptrows AS (
  SELECT doc_id, pos, w,
         (last_s IS NULL OR last_s < pos - {_L44_K - 1}) AS keep
  FROM (
    SELECT doc_id, pos, tk, w,
           MAX(CASE WHEN tk = 0 THEN pos END) OVER (
             PARTITION BY doc_id ORDER BY pos, tk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_s
    FROM ev
  ) WHERE tk = 1
), kept_agg AS (
  SELECT doc_id,
         COUNT(*) FILTER (WHERE keep) AS n_kept,
         string_agg(w, ' ' ORDER BY pos) FILTER (WHERE keep) AS kept_text
  FROM keptrows GROUP BY doc_id
)"""


@query(
    "l46_dup_ngram_trim",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), {_L44_TRIM_CTES}
SELECT b.doc_id,
       CAST(GREATEST(b.n, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       NULLIF(COALESCE(a.kept_text, ''), '') AS kept_text
FROM base b LEFT JOIN kept_agg a USING (doc_id)
""",
    category="pipeline-text",
)
def dup_ngram_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of l44 — the Lee-et-al-style exact-substring trim:
    every token covered by at least one corpus-duplicated 8-token window
    is removed, and the surviving tokens reassemble into the kept text
    (single-space normalized, like l21's span output; a fully-trimmed or
    token-free doc yields NULL kept_text). l44 reports what WOULD be
    trimmed; this emits the trimmed corpus a training run would consume.

    Scale shape: identical to l44 up to the duplicate-window positions
    (map-side md5 digests, combinable count, left-semi probe) — then the
    per-doc trim is the interval-union complement: sorted dup starts
    fold into merged disjoint intervals, the gaps between them slice the
    token array back together. O(n + d log d) per document (VERDICT r08
    killed the original O(n x d) per-token scan — a 100k-token
    boilerplate doc put ~10^9 lambda evaluations into one task), still
    embarrassingly map-side (the starts list rides a doc_id
    equi-join)."""
    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_trim_frame(docs, _L44_K)


def dup_starts_of(wins: DataFrame, hot: DataFrame) -> DataFrame:
    """Per-doc duplicated-window start positions: (doc_id, starts) from
    the window rows whose digest is in the hot set. Shared by l46's
    one-shot trim and t32's per-trigger trim (the two must stay
    byte-identical for t32's converged-equals-one-shot oracle)."""
    return (
        wins.join(hot, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("strt").alias("starts"))
    )


def dup_kept_tokens(toks: Column, starts: Column, k: int) -> Column:
    """Tokens surviving the exact-substring trim: drop every token index
    covered by some interval [s, s+k-1], s in ``starts``. VERDICT r08
    replaced the original per-token scan of the start list —
    O(tokens x dup_starts) inside one row, hours for a 100k-token
    boilerplate doc — with the interval-union complement: sort the
    starts, fold them into merged disjoint intervals (one F.aggregate
    pass), emit the complement gaps, and reassemble the kept tokens
    gap-by-gap with F.slice. O(n + d log d) per document, all
    built-ins, same semantics (the brute-force hypothesis twin and the
    unchanged DuckDB oracles are the proof)."""
    ss = F.array_sort(F.coalesce(starts, F.array().cast("array<int>")))
    # Merged disjoint intervals by RUN-BOUNDARY extraction, not an
    # accumulator fold: with sorted starts and a fixed window size the
    # max-end-so-far is just prev_start + k - 1, so an interval begins
    # where a start clears its predecessor's window and ends where its
    # successor clears its own. Everything is zips over ss and its
    # shifted self — O(d), no per-interval array copying (an
    # array_append fold re-copies the accumulated intervals per append:
    # O(m^2) for m intervals) and, critically, NO reference to a
    # computed array inside a lambda body (a lambda re-evaluates
    # captured expression trees per element — an F.get(ss, i-1) probe
    # re-sorts the whole start list for every start, the quadratic this
    # function exists to kill, found by a worst-case 50k-start doc
    # timing out). NULL neighbors at the array edges make the first and
    # last starts boundaries by definition (coalesce).
    null_i = F.array(F.lit(None).cast("int"))
    prevs = F.slice(F.concat(null_i, ss), 1, F.size(ss))
    nexts = F.slice(F.concat(ss, null_i), 2, F.size(ss))
    begins = F.transform(
        F.filter(
            F.zip_with(
                ss,
                prevs,
                lambda x, p: F.struct(
                    x.alias("s"),
                    F.coalesce(x > p + (k - 1), F.lit(True)).alias("f"),
                ),
            ),
            lambda e: e["f"],
        ),
        lambda e: e["s"],
    )
    closers = F.transform(
        F.filter(
            F.zip_with(
                ss,
                nexts,
                lambda x, nx: F.struct(
                    x.alias("s"),
                    F.coalesce(nx > x + (k - 1), F.lit(True)).alias("f"),
                ),
            ),
            lambda e: e["f"],
        ),
        lambda e: e["s"],
    )
    merged = F.zip_with(
        begins,
        closers,
        lambda a, b: F.struct(
            a.cast("int").alias("a"), (b + (k - 1)).cast("int").alias("b")
        ),
    )
    n = F.size(toks)
    gap_lo = F.concat(
        F.array(F.lit(0)), F.transform(merged, lambda i: i["b"] + 1)
    )
    gap_hi = F.concat(
        F.transform(merged, lambda i: i["a"] - 1), F.array(n - 1)
    )
    gaps = F.filter(
        F.zip_with(
            gap_lo, gap_hi, lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi"))
        ),
        lambda g: g["hi"] >= g["lo"],
    )
    return F.flatten(
        F.transform(
            gaps, lambda g: F.slice(toks, g["lo"] + 1, g["hi"] - g["lo"] + 1)
        )
    )


def dup_trimmed(base: DataFrame, dups: DataFrame, k: int) -> DataFrame:
    """base (doc_id, n, toks, ...) LEFT-joined with dups (doc_id,
    starts), plus the ``kept`` token array from the interval-gap trim.
    The shared apply step of the exact-substring dedup family (l46
    one-shot, t32 per-trigger)."""
    return base.join(dups, "doc_id", "left").withColumn(
        "kept", dup_kept_tokens(F.col("toks"), F.col("starts"), k)
    )


def dup_ngram_trim_frame(docs: DataFrame, k: int) -> DataFrame:
    """The l46 computation over any documents frame at any window size —
    hypothesis-twinned against a brute-force mark-and-keep reference
    (the Spark trim is 0-based, DuckDB's 1-based: exactly the
    off-by-one the twin exists to catch).

    ``wins`` materialized once — two consumers (hot-set aggregation and
    ``dup_starts_of``'s probe side), same rationale as
    :func:`dup_ngram_coverage_frame`."""
    base, wins = ngram_window_digests(docs, k)
    wins = materialize(wins, eager=False)
    hot = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    )
    return dup_trimmed(base, dup_starts_of(wins, hot), k).select(
        "doc_id",
        F.greatest(F.col("n"), F.lit(0)).cast("long").alias("n_tokens"),
        F.greatest(F.size("kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.nullif(F.array_join("kept", " "), F.lit("")).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# L47 — dup-substring index delete/re-crawl lifecycle (l44's state, l42's
# staleness discipline)
# ---------------------------------------------------------------------------

# l44 restricted to the surviving corpus: the lifecycle's converged index
# must answer exactly as a one-shot build over the live true documents.
# t33 shares this string verbatim (the t31/l44 pattern).
_L47_ORACLE = _L44_ORACLE.replace("FROM documents", "FROM live").replace(
    "WITH tok AS",
    """WITH live AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 5
), tok AS""",
)


@query("l47_dup_ngram_recrawl", oracle=_L47_ORACLE, category="pipeline-text")
def dup_ngram_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l42 staleness discipline applied to l44's state (VERDICT r08
    "What's missing" #1 — an add-only window-count index permanently
    over-trims): seed the index from a MIS-CRAWL in which every
    doc_id % 7 == 3 document arrived with its text doubled — so each of
    its own windows counts ≥2 and the whole document reads as hot
    boilerplate — then (1) re-crawl the slice with the true text
    (negative deltas for the stale version's windows + positive for the
    true version's, one commit through the same additive combine),
    (2) DELETE the doc_id % 11 == 5 slice outright (pure retraction).
    The coverage probe over the live true corpus against the index's
    hot set must hash-equal a one-shot l44 over the surviving documents
    — any un-retracted stale count surfaces as phantom hot windows and
    inflates n_dup_tokens. Rows netting to ≤0 are ERASED at merge time
    (a pytest pins that stale-only digests leave no zombie rows).

    Scale shape: each lifecycle commit is delta-sized BY CONSTRUCTION —
    digests ride 16-byte md5s, deltas net map-side, and the commit
    APPENDS a segment without reading any existing file (digest keys
    are uniform, so a touched-shard rewrite would be O(index) on any
    realistic batch — VERDICT r09 "What's wrong" #1); re-crawling an
    unchanged document nets to zero rows before the append. The probe
    folds segments at read; ``compact_ngram_counts`` (run here on the
    m48 maintenance cadence) erases retracted digests from disk."""
    import shutil

    from ..sources.io import _scratch
    from .ngram_index import (
        compact_ngram_counts,
        read_ngram_counts,
        recrawl_ngram_counts,
        upsert_ngram_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    table = _scratch(sf_dir, "l47_ngram_index")
    shutil.rmtree(table, ignore_errors=True)

    recrawled = F.col("doc_id") % 7 == 3
    gone = F.col("doc_id") % 11 == 5
    stale = docs.withColumn(
        "text",
        F.when(
            recrawled, F.concat(F.col("text"), F.lit(" "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    _, stale_wins = ngram_window_digests(stale, _L44_K)
    upsert_ngram_counts(spark, table, stale_wins, 0)

    _, old_w = ngram_window_digests(stale.filter(recrawled), _L44_K)
    _, new_w = ngram_window_digests(docs.filter(recrawled), _L44_K)
    recrawl_ngram_counts(spark, table, old_w, new_w, 1)

    _, del_w = ngram_window_digests(docs.filter(gone), _L44_K)
    recrawl_ngram_counts(spark, table, del_w, None, 2)
    compact_ngram_counts(spark, table)

    hot = (
        read_ngram_counts(spark, table).filter(F.col("n_occ") >= 2).select("h")
    )
    base, wins = ngram_window_digests(docs.filter(~gone), _L44_K)
    return dup_coverage_from(base, wins.join(hot, "h", "left_semi"), _L44_K)


# ---------------------------------------------------------------------------
# L49 — split decontamination: eval docs leaking train 8-gram windows
# ---------------------------------------------------------------------------


# t34 shares this string verbatim (the t31/l44 pattern: the streaming
# maintenance of the same state must converge to the one-shot answer)
_L49_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n, toks FROM tok
), {_L44_WINS_CTE},
sp AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
              THEN 'train' ELSE 'eval' END AS split
  FROM documents
), trainw AS (
  SELECT DISTINCT w.h FROM wins w JOIN sp USING (doc_id)
  WHERE sp.split = 'train'
), leak AS (
  SELECT w.doc_id, COUNT(DISTINCT w.h) AS n_shared
  FROM wins w JOIN sp USING (doc_id) JOIN trainw t ON w.h = t.h
  WHERE sp.split = 'eval' GROUP BY w.doc_id
)
SELECT b.doc_id,
       CAST(GREATEST(b.n - {_L44_K - 1}, 0) AS BIGINT) AS n_windows,
       CAST(l.n_shared AS BIGINT) AS n_shared
FROM leak l JOIN base b USING (doc_id)
"""


@query("l49_split_decontam", oracle=_L49_ORACLE, category="pipeline-text")
def split_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-level decontamination — the drop-list a held-out split
    needs before it can be trusted: assign train/eval by the l11 hash
    split (deterministic, append-stable), then report every EVAL
    document sharing at least one exact 8-token window with ANY train
    document, with its distinct-shared-window count. l10 decontaminates
    against an external probe set; this closes the internal leak — at
    100 TB the train and eval shards come from the same crawl and
    boilerplate crosses the split boundary constantly.

    Scale shape: the l44 digest discipline end to end — window text
    never shuffles (16-byte md5s), the train window set is
    distinct-digest (map-side combinable), membership is a left-semi
    probe, and the report is a per-doc count. Fully hash-oracled."""
    from .sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    sp = hash_split(docs.select("doc_id"), "doc_id", {"train": "cccd", "eval": ""})
    base, wins = ngram_window_digests(docs, _L44_K)
    # materialized once: the split join below is consumed by BOTH the
    # train-window set and the eval probe side — unmaterialized, the
    # corpus-scale digest explode runs twice (l44's rationale)
    wins = materialize(wins, eager=False)
    w = wins.join(sp, "doc_id")
    trainw = w.filter(F.col("split") == "train").select("h").distinct()
    leak = (
        w.filter(F.col("split") == "eval")
        .join(trainw, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_shared"))
    )
    return leak.join(base, "doc_id").select(
        "doc_id",
        F.greatest(F.col("n") - (_L44_K - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
        F.col("n_shared").cast("long").alias("n_shared"),
    )


# ---------------------------------------------------------------------------
# L48 — trim token yield: what the exact-substring dedup SAVES, in tokens
# ---------------------------------------------------------------------------


def _l48_oracle() -> str:
    """Training replay + encode chain (the l43/l45 machinery) priced
    over BOTH corpora: the original documents and the l46-trimmed kept
    tokens. Kept words are a subset of the corpus vocabulary, so ONE
    word_tok table prices both sides; the after-count sums per-token
    prices straight off the linear keptrows stream (no kept-array
    rebuild)."""
    ctes, _ = _bpe_train_ctes(_L29_MERGES)
    ctes.extend(_bpe_encode_ctes(_L29_MERGES))
    ctes.append(
        """tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)"""
    )
    ctes.append(_L44_TRIM_CTES)
    ctes.append(
        """wc_b AS (
  SELECT doc_id, w, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY doc_id, w
)"""
    )
    ctes.append(
        """tok_b AS (
  SELECT c.doc_id, CAST(SUM(c.n * wt.n_tok) AS BIGINT) AS t
  FROM wc_b c JOIN word_tok wt ON c.w = wt.w GROUP BY c.doc_id
)"""
    )
    ctes.append(
        """tok_a AS (
  SELECT k.doc_id, CAST(SUM(wt.n_tok) AS BIGINT) AS t
  FROM keptrows k JOIN word_tok wt ON k.w = wt.w
  WHERE k.keep GROUP BY k.doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(tb.t), 0) AS BIGINT) AS tok_before,
       CAST(COALESCE(SUM(ta.t), 0) AS BIGINT) AS tok_after
FROM documents d
LEFT JOIN tok_b tb ON d.doc_id = tb.doc_id
LEFT JOIN tok_a ta ON d.doc_id = ta.doc_id
GROUP BY d.source"""
    )


@query("l48_trim_token_yield", oracle=_l48_oracle(), category="pipeline-text")
def trim_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number that justifies running exact-substring dedup at all:
    per source, the training-token cost of the corpus BEFORE and AFTER
    the l46 trim, priced with the tokenizer the pipeline would ship
    (l29's merges, trained on the full corpus) — the end-to-end
    composite of the round's dedup family the way l45 composes
    curation. tok_before - tok_after is the compute the trim buys back.
    Fully hash-oracled: the oracle chains the training replay, the
    encode chain, and the linear trim stream; the trim never invents
    words, so one word_tok vocabulary prices both sides.

    Scale shape: two bpe_encode_corpus passes (each vocabulary-sized:
    distinct words encoded once, broadcast back) over frames the trim
    already produces map-side; the report is a per-source sum."""
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = _bpe_train(spark, docs, "text", _L29_MERGES)
    before = bpe_encode_corpus(spark, docs, "text", merges).select(
        "doc_id", F.col("n_tokens").alias("tb")
    )
    trimmed = dup_ngram_trim_frame(docs, _L44_K).select(
        "doc_id", F.col("kept_text").alias("text")
    )
    after = bpe_encode_corpus(spark, trimmed, "text", merges).select(
        "doc_id", F.col("n_tokens").alias("ta")
    )
    return (
        docs.select("doc_id", "source")
        .join(before, "doc_id", "left")
        .join(after, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("tb"), F.lit(0)).cast("long").alias("tok_before"),
            F.coalesce(F.sum("ta"), F.lit(0)).cast("long").alias("tok_after"),
        )
    )


# ---------------------------------------------------------------------------
# L30 — quality classifier trained IN the engine (quantized batch GD)
# ---------------------------------------------------------------------------

_L30_ITERS = 12
_L30_LR = 20.0
_L30_NF = 4  # bias + centered-quadratic length + space ratio + alpha ratio
_L30_Q = "1000000.0"  # micro-unit quantization grid (shared literal)


def _l30_z_sql(w: str, f: str) -> str:
    """Left-associated dot product — association order is part of the
    cross-engine contract (float addition is not associative)."""
    expr = f"({w}.w0*{f}.x0)"
    for j in range(1, _L30_NF):
        expr = f"({expr}+({w}.w{j}*{f}.x{j}))"
    return expr


def _l30_p_sql() -> str:
    z = _l30_z_sql("w", "f")
    return f"(0.5 + (0.5 * {z}) / (1.0 + ABS({z})))"


_L30_FEATS_CTE = """feats AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN LENGTH(text) BETWEEN 150 AND 450 THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         ((CAST(LEAST(LENGTH(text), 500) AS DOUBLE) - 300.0) / 200.0)
           * ((CAST(LEAST(LENGTH(text), 500) AS DOUBLE) - 300.0) / 200.0) AS x1,
         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) AS DOUBLE)
           / LENGTH(text) AS x2,
         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
           / LENGTH(text) AS x3
  FROM documents WHERE LENGTH(text) > 0
)"""


def _l30_train_ctes(
    prefix: str, start: str | None, iters: int, grad_where: str = ""
) -> tuple[list[str], str]:
    """Unrolled training-round CTE pairs: gradient aggregate + weight
    update, starting from CTE ``start`` (None → fresh zeros). The
    optional ``grad_where`` restricts which feats rows the GRADIENT sees
    (the training corpus) without touching the shared feats CTE —
    scoring can still run over everything."""
    p = _l30_p_sql()
    ctes: list[str] = []
    if start is None:
        start = f"{prefix}w0"
        ctes.append(
            f"{start} AS (SELECT "
            + ", ".join(f"0.0 AS w{j}" for j in range(_L30_NF))
            + ")"
        )
    prev = start
    where = f" WHERE {grad_where}" if grad_where else ""
    for t in range(1, iters + 1):
        sums = ", ".join(
            f"SUM(CAST(FLOOR((({p} - f.y) * f.x{j}) * {_L30_Q} + 0.5) AS BIGINT))"
            f" AS s{j}"
            for j in range(_L30_NF)
        )
        # MATERIALIZED: DuckDB inlines plain CTEs, and w{t} referencing
        # both g{t} and w{t-1} would re-evaluate the chain exponentially
        ctes.append(
            f"{prefix}g{t} AS MATERIALIZED "
            f"(SELECT COUNT(*) AS n, {sums} FROM feats f CROSS JOIN {prev} w{where})"
        )
        ws = ", ".join(
            f"FLOOR((w.w{j} - {_L30_LR!r} * ((CAST(g.s{j} AS DOUBLE) / {_L30_Q}) / g.n))"
            f" * {_L30_Q} + 0.5) / {_L30_Q} AS w{j}"
            for j in range(_L30_NF)
        )
        ctes.append(
            f"{prefix}w{t} AS MATERIALIZED "
            f"(SELECT {ws} FROM {prefix}g{t} g CROSS JOIN {prev} w)"
        )
        prev = f"{prefix}w{t}"
    return ctes, prev


def _l30_score_sql(wname: str, extra_select: str = "") -> str:
    """Per-label confusion summary of feats scored with the ``wname``
    weight row; ``extra_select`` prepends constant columns (e.g. a model
    version tag)."""
    p = _l30_p_sql()
    return f"""SELECT {extra_select}f.y AS label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN FLOOR({p} * {_L30_Q} + 0.5) / {_L30_Q} >= 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_hi,
       CAST(SUM(CAST(FLOOR({p} * {_L30_Q} + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_score_1e6
FROM feats f CROSS JOIN {wname} w
GROUP BY f.y"""


def _l30_oracle() -> str:
    """Unrolled-CTE mirror of the full training loop: w0 = 0 → twelve
    gradient/update rounds → score. Every per-row gradient contribution
    and every weight is quantized to the micro grid in BOTH engines, so
    the sums are exact integers and the learned weights hash-match. The
    squashing is the RATIONAL logistic 0.5 + z/2(1+|z|), not exp's
    sigmoid, deliberately: +,-,x,/ and abs are IEEE-correctly-rounded in
    both engines, so no transcendental libm difference can ever flip a
    FLOOR boundary — the bit-exact contract holds by arithmetic, not by
    luck."""
    train, final = _l30_train_ctes("", None, _L30_ITERS)
    return (
        "WITH "
        + ",\n".join([_L30_FEATS_CTE, *train])
        + "\n"
        + _l30_score_sql(final)
    )


def l30_features(docs: DataFrame) -> DataFrame:
    """Label + shape features, expressed identically in the DuckDB
    oracle (exact integer counts divided by the length, so the doubles
    agree bit-for-bit). The label is a Gopher-style length-band quality
    gate; the centered-quadratic length feature is what lets a LINEAR
    model express the band (the classic polynomial-expansion trick),
    and it keeps the GD well-conditioned — the raw [len, len²] pair is
    so correlated that plain GD oscillates for tens of rounds."""
    ln = F.length("text")

    def ratio(pattern: str) -> Column:
        return (ln - F.length(F.regexp_replace(F.col("text"), pattern, ""))).cast(
            "double"
        ) / ln

    q = (F.least(ln, F.lit(500)).cast("double") - 300.0) / 200.0
    return docs.filter(ln > 0).select(
        "doc_id",
        F.when(ln.between(150, 450), 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (q * q).alias("x1"),
        ratio(" ").alias("x2"),
        ratio("[A-Za-z]").alias("x3"),
    )


def _l30_z_col(w: list[float]) -> Column:
    z = F.lit(w[0]) * F.col("x0")
    for j in range(1, _L30_NF):
        z = z + F.lit(w[j]) * F.col(f"x{j}")
    return z


def _l30_p_col(w: list[float]) -> Column:
    """Rational logistic (matches the oracle exactly — see _l30_oracle):
    p = 0.5 + z / 2(1 + |z|), IEEE-exact in both engines."""
    z = _l30_z_col(w)
    return F.lit(0.5) + (F.lit(0.5) * z) / (F.lit(1.0) + F.abs(z))


def train_quality_logreg(
    feats: DataFrame,
    iters: int = _L30_ITERS,
    lr: float = _L30_LR,
    w_init: list[float] | None = None,
) -> list[float]:
    """Batch gradient descent where each iteration is ONE map-side-
    combinable aggregate over the corpus — the exact shape spark.ml uses
    (treeAggregate of per-row gradients), written as plain Catalyst so
    the whole loop stays JVM-side and the driver only ever sees a 1-row
    gradient. Per-row contributions are quantized to integer micro-units
    before the SUM, making the gradient independent of partition/thread
    order — the property that lets the oracle replay training exactly.
    At 100 TB: cache/checkpoint ``feats`` once, then each iteration is a
    single scan-free pass over the cached columns."""
    import math

    q = float(_L30_Q)
    w = list(w_init) if w_init is not None else [0.0] * _L30_NF
    for _ in range(iters):
        r = _l30_p_col(w) - F.col("y")
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.floor((r * F.col(f"x{j}")) * q + 0.5).cast("long")).alias(
                    f"s{j}"
                )
                for j in range(_L30_NF)
            ],
        ).first()
        n = row["n"]
        if not n:  # empty corpus: nothing to learn, weights stay put
            return w
        w = [
            math.floor((w[j] - lr * ((row[f"s{j}"] / q) / n)) * q + 0.5) / q
            for j in range(_L30_NF)
        ]
    return w


@query("l30_quality_logreg", oracle=_l30_oracle(), category="pipeline-text")
def quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distillation-style quality classifier trained INSIDE the engine:
    logistic regression distilling the length-band curation gate into a
    smooth score, fit by twelve rounds of quantized batch GD, then
    scored over the corpus — and the DuckDB oracle replays the ENTIRE
    training loop via unrolled CTEs, so even the learned weights are
    value-hash-checked. The output is the per-label confusion summary
    (the model separates the classes — pinned in pytest). Micro-unit
    gradient quantization is what makes distributed training
    reproducible at any partitioning — the same discipline this repo
    uses for money sums, applied to model state."""
    docs = load_table(spark, sf_dir, "documents")
    # the projection feeds 12 gradient passes + scoring: materialize once
    feats = materialize(l30_features(docs), eager=False)
    w = train_quality_logreg(feats)
    sq = F.floor(_l30_p_col(w) * float(_L30_Q) + 0.5)
    return feats.groupBy(F.col("y").alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(sq.cast("double") / float(_L30_Q) >= 0.5, 1).otherwise(0)
        ).cast("long").alias("n_pred_hi"),
        F.sum(sq.cast("long")).alias("sum_score_1e6"),
    )


# ---------------------------------------------------------------------------
# M43 — model registry: versioned weights in the lakehouse, warm-start
# retrain, time-travel scoring (composes the L30 trainer + snapshot log)
# ---------------------------------------------------------------------------


def _m43_oracle() -> str:
    v1, w1 = _l30_train_ctes("v1_", None, _L30_ITERS, grad_where="f.doc_id % 4 <> 0")
    v2, w2 = _l30_train_ctes("v2_", w1, 4)
    return (
        "WITH "
        + ",\n".join([_L30_FEATS_CTE, *v1, *v2])
        + "\n"
        + _l30_score_sql(w1, extra_select="1 AS model_version, ")
        + "\nUNION ALL\n"
        + _l30_score_sql(w2, extra_select="2 AS model_version, ")
    )


@query("m43_model_versioning", oracle=_m43_oracle(), category="maintenance")
def model_versioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model registry on the snapshot log: v1 weights are trained on the
    base corpus (doc_id % 4 <> 0) and COMMITTED as a tiny snapshot-log
    table; after the held-out quarter 'arrives', v2 warm-starts from the
    committed v1 weights for four more rounds over the full corpus and
    lands as a MERGE commit. Scoring then DEPLOYS each model by reading
    its weights back from the table at its version (time travel = model
    rollback for free, the same mechanism as m18/m36) — and the oracle
    replays BOTH trainings (12 base rounds, then 4 warm-start rounds)
    via unrolled CTEs, so every weight that ever lived in the registry
    is value-hash-checked. Warm-start cost is O(delta rounds), not a
    from-scratch refit — the online-learning shape for a corpus that
    grows daily."""
    import shutil

    from ..plans.lakehouse import commit_snapshot, merge_snapshot, read_snapshot
    from ..sources.io import _scratch

    docs = load_table(spark, sf_dir, "documents")
    feats = materialize(l30_features(docs), eager=False)
    w1 = train_quality_logreg(feats.filter(F.col("doc_id") % 4 != 0))

    table = _scratch(sf_dir, "m43_model_table")
    shutil.rmtree(table, ignore_errors=True)
    ddl = "j int, w double"
    commit_snapshot(
        spark.createDataFrame(list(enumerate(w1)), ddl), table, ddl
    )
    w2 = train_quality_logreg(feats, iters=4, w_init=w1)
    merge_snapshot(
        spark,
        table,
        spark.createDataFrame(
            [(j, "U", 1, wj) for j, wj in enumerate(w2)],
            "j int, op string, seq int, w double",
        ),
        "j",
        ddl,
    )

    def deployed(version: int) -> list[float]:
        rows = read_snapshot(spark, table, version=version).collect()
        return [r["w"] for r in sorted(rows, key=lambda r: r["j"])]

    out = None
    for ver in (1, 2):
        sq = F.floor(_l30_p_col(deployed(ver)) * float(_L30_Q) + 0.5)
        part = (
            feats.groupBy(F.col("y").alias("label"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(
                    F.when(
                        sq.cast("double") / float(_L30_Q) >= 0.5, 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_pred_hi"),
                F.sum(sq.cast("long")).alias("sum_score_1e6"),
            )
            .select(F.lit(ver).alias("model_version"), "*")
        )
        out = part if out is None else out.unionByName(part)
    return out
