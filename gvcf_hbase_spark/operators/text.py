"""Text-analysis operators (SURVEY §2B.9 + training-data-pipeline surface):
tokenize/TF, TF-IDF, per-language stats, language-ID heuristic, quality
scoring, token counting, document fingerprinting.

All are JVM-side expression compositions over the ``documents`` table —
explode/groupBy pipelines whose shuffles carry (term) or (doc) keys and
scale horizontally. No Python UDF in any hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.functions.textfns import STOPWORDS, normalize_text, stable_hash32, tokens
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import load_table, spread


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@register(
    "text_tokenize_tf",
    oracle="""
    SELECT term, CAST(count(*) AS BIGINT) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
    WHERE term <> ''
    GROUP BY term
    """,
    tags=("text",),
)
def text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies, two-phase: aggregate to
    (term, doc_id) counts first, then roll up to term level (tf = sum,
    df = row count — each (term, doc) appears exactly once). ~20%% faster
    than count + countDistinct in one agg (measured sf0.1), and the first
    shuffle keys on the FINER (term, doc_id) pair — a hot stopword term
    spreads over many doc partitions instead of landing on one reducer,
    which is the skew property that matters at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("term").agg(
        F.sum("c").cast("bigint").alias("tf"), F.count("*").alias("df")
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 9) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
    tags=("text",),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed sklearn-style idf = ln((N+1)/(df+1)) + 1).

    One pass over the corpus: the token explode feeds the (doc, term)
    aggregation ONCE, and df derives from tf's output — tf already holds
    exactly one row per (doc, term), so df(term) = count of tf rows per
    term. That replaces a second full explode + countDistinct (which
    plans an Expand) with a cheap re-aggregation of the already-shrunk tf
    relation. The N scalar is an explicit broadcast (always 1 row); the
    df side is deliberately NOT hinted — df is vocabulary-sized, and a
    web-scale vocabulary (10^8+ junk tokens) overflows a forced
    broadcast, while AQE picks broadcast on its own whenever df measures
    small (asserted by a plan test at fixture scale). The only
    corpus-sized shuffle is the (doc, term) aggregation."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 9
            ).alias("tfidf"),
        )
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    tags=("text",),
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


_LANG_SCORE_SQL = ",\n".join(
    f"           len(list_filter(string_split(lower(text), ' '), t -> t IN ({_sql_list(ws)}))) AS s_{lang}"
    for lang, ws in STOPWORDS.items()
)


def _lang_vote():
    """The stopword-lexicon language vote over ``text``: ``(scores,
    pred)``, the per-language hit counts ``s_<lang>`` to select and the
    prediction over those selected columns — argmax with a fixed
    precedence order (en > de > es > fr) so ties are deterministic on
    both engines, 'unknown' with no hit. Pure expressions — no UDF."""
    toks = tokens(F.lower(F.col("text")))

    def _in_list(ws):
        # closure factory: F.filter inspects lambda arity, so the word
        # list must not appear as a second parameter
        return lambda t: t.isin(ws)

    scores = [
        F.size(F.filter(toks, _in_list(ws))).alias(f"s_{lang}")
        for lang, ws in STOPWORDS.items()
    ]
    best = F.greatest(*[F.col(f"s_{lang}") for lang in STOPWORDS])
    pred = (
        F.when(best == 0, "unknown")
        .when(F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr"), "en")
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr"), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    return scores, pred


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
{_LANG_SCORE_SQL}
      FROM documents
    )
    SELECT doc_id, s_en, s_de, s_es, s_fr,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
                WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scored
    """,
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon language-ID heuristic: count stopword hits per language,
    argmax with a fixed precedence order (en > de > es > fr) so ties are
    deterministic on both engines. Pure expressions — no UDF."""
    scores, pred = _lang_vote()
    s = load_table(spark, sf_dir, "documents").select("doc_id", *scores)
    return s.withColumn("lang_pred", pred)


_EN_LIST = _sql_list(STOPWORDS["en"])

@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
           round(CAST(len(list_filter(toks, x -> x IN ({_EN_LIST}))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
           round(CAST(length(text) AS DOUBLE) / len(toks), 6) AS avg_token_span,
           (len(toks) BETWEEN 5 AND 1000
             AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) > 0.6) AS quality_ok
    FROM t
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length, alphabetic ratio, stopword
    ratio, mean token span, and a pass/fail gate — the standard cheap
    pre-filter stage of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double") / F.length("text")
    en = STOPWORDS["en"]
    stop = F.size(F.filter(toks, lambda t: t.isin(en))).cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / F.size(toks), 6).alias("avg_token_span"),
        (F.size(toks).between(5, 1000) & (alpha > 0.6)).alias("quality_ok"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, regex word tokens, and
    the chars/4 BPE-budget approximation LLM pipelines use for sizing."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("bigint").alias("re_tokens"),
        F.ceil(F.length("text") / 4.0).alias("approx_bpe_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS toks
               FROM documents),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(toks, x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))) AS h,
             unnest(range(1, len(toks) + 1)) AS i
      FROM t
    )
    SELECT p.doc_id,
           CAST(sum(p.h * p.i) AS BIGINT) AS poly_fingerprint,
           md5(lower(trim(regexp_replace(d.text, ' +', ' ', 'g')))) AS md5_fingerprint
    FROM pos p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY p.doc_id, d.text
    """,
    tags=("text", "hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: a position-weighted rolling hash (order-
    sensitive — reorderings change it, unlike bag-of-words md5) plus the
    md5 of the normalized text. Both engine-portable by construction."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    toks = d.select("doc_id", norm.alias("norm"), tokens(norm).alias("toks"))
    pos = toks.select(
        "doc_id",
        F.col("norm"),
        F.posexplode("toks").alias("p", "tok"),
    ).select(
        "doc_id",
        "norm",
        ((F.col("p") + 1) * stable_hash32(F.col("tok"))).alias("weighted"),
    )
    return pos.groupBy("doc_id").agg(
        F.sum("weighted").alias("poly_fingerprint"),
        F.md5(F.first("norm")).alias("md5_fingerprint"),
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, concat(t[i], ' ', t[i+1]) AS g
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    stats AS (
      SELECT doc_id, sum(cnt) AS total,
             count(*) AS distinct_grams,
             max(cnt) AS top_cnt
      FROM (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT doc_id,
           round(1.0 - CAST(distinct_grams AS DOUBLE) / total, 4) AS dup_gram_frac,
           round(CAST(top_cnt AS DOUBLE) / total, 4) AS top_gram_frac
    FROM stats
    """,
    tags=("text",),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of word
    bigrams that are repeats (1 - distinct/total) and the share taken by
    the single most frequent bigram. High values mark boilerplate/spam for
    the quality filter. Plan: one explode, then a (doc, gram) partial+final
    count and a per-doc rollup — both shuffles key on doc_id so the second
    is a cheap re-aggregation of the first's output; no window, no sort.
    (The inner GROUP BY output is ~distinct grams per doc, so the rollup
    input is already shrunk map-side at 100 TB.)"""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.round(
            1.0 - F.countDistinct("g").cast("double") / F.sum("cnt"), 4
        ).alias("dup_gram_frac"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 4).alias("top_gram_frac"),
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ),
    tok_ne AS (SELECT * FROM tok WHERE term <> ''),
    lm AS (
      SELECT term,
             ln(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM tok_ne)) AS logp
      FROM tok_ne GROUP BY term
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lm.logp), 6) AS avg_logprob
    FROM tok_ne t JOIN lm USING (term)
    GROUP BY t.doc_id
    """,
    tags=("text",),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: train corpus-level token
    probabilities (one aggregate), then score every document by its mean
    token log-probability — the cheap perplexity proxy quality filters
    use to flag gibberish (very negative = tokens the corpus has rarely
    seen). Self-trained on the scored corpus itself here; in production
    the LM side is a frozen reference corpus and the join is identical.

    Plan shape: ONE token explode feeds both the LM aggregate and the
    scoring join (same shuffle key ``term``, co-partitioned); the corpus
    total is a 1-row broadcast. The per-doc rollup keys on doc_id. No
    smoothing needed when scoring the training corpus (every scored
    token was seen); a frozen-LM deployment adds the usual +1 smoothing
    on the LM side only."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    total = tok.agg(F.count("*").alias("n_corpus"))
    lm = (
        tok.groupBy("term")
        .agg(F.count("*").alias("tc"))
        .crossJoin(F.broadcast(total))
        .select("term", F.log(F.col("tc") / F.col("n_corpus")).alias("logp"))
    )
    return (
        tok.join(lm, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )


_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (16-token overlap)

_CHUNK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0,
               CAST(ceil(greatest(len(toks) - {_CHUNK_W}, 0) / {_CHUNK_S}.0) AS BIGINT)
             )) AS ci
      FROM d
    )
    SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           CAST(least({_CHUNK_W}, n - ci * {_CHUNK_S}) AS INT) AS n_tokens,
           md5(array_to_string(
             list_slice(toks, ci * {_CHUNK_S} + 1, ci * {_CHUNK_S} + {_CHUNK_W}), ' '
           )) AS chunk_md5
    FROM g
"""


@register("text_chunk_sliding", oracle=_CHUNK_ORACLE, tags=("text", "curation"))
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for training-sequence prep: split each
    document into 64-token windows with stride 48 (16-token overlap),
    emitting (doc_id, chunk_idx, token count, md5 of the chunk text).
    The md5 stands in for the chunk payload in the hash compare so the
    verified surface covers the exact token slicing, not just counts.

    All array arithmetic (split → sequence of chunk starts → slice →
    join) is JVM-side whole-stage codegen; the only shuffle-free explode
    expands each doc by ~n/stride — bounded, data-independent expansion,
    same contract as ``gvcf_combine``'s block explode. At 100 TB this is
    a pure map stage: no shuffle at all, chunks stream straight to the
    sink, and Spark's split-per-file parallelism applies unchanged."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_chunks_last_idx = F.ceil(
        F.greatest(F.size("toks") - F.lit(_CHUNK_W), F.lit(0)) / F.lit(float(_CHUNK_S))
    ).cast("bigint")
    start = (F.col("ci") * _CHUNK_S).cast("int")
    return (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n"),
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks_last_idx)).alias("ci"),
        )
        .select(
            "doc_id",
            F.col("ci").cast("int").alias("chunk_idx"),
            F.least(F.lit(_CHUNK_W), F.col("n") - F.col("ci") * _CHUNK_S)
            .cast("int")
            .alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), start + 1, _CHUNK_W))
            ).alias("chunk_md5"),
        )
    )


_BIGRAM_ORACLE = """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d
      WHERE len(toks) >= 2
    ),
    counts AS (
      SELECT toks[i] || ' ' || toks[i + 1] AS bigram, count(*) AS n
      FROM g GROUP BY 1
    )
    SELECT bigram, CAST(n AS BIGINT) AS n
    FROM counts ORDER BY n DESC, bigram LIMIT 100
"""


@register("text_ngram_counts", oracle=_BIGRAM_ORACLE, tags=("text",))
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequency, top 100 (count desc, bigram asc —
    the tie-break makes the LIMIT boundary deterministic). The building
    block of n-gram LM training, contamination n-gram indexes
    (curate_decontaminate), and phrase-mining.

    The bigram array is built by zipping the token array with its own
    tail (two ``slice`` calls + ``arrays_zip`` — pure codegen, no
    Python, no second explode pass); one explode then feeds a standard
    count aggregate with map-side partial aggregation, so the shuffle
    carries one (bigram, partial-count) row per distinct bigram per
    task — Zipf's law makes that tiny relative to the corpus. The top-k
    is TakeOrdered on the aggregated set, never a global sort of the
    raw pairs."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    pairs = F.arrays_zip(
        F.slice(F.col("toks"), 1, F.size("toks") - 1),
        F.slice(F.col("toks"), 2, F.size("toks") - 1),
    )
    return (
        d.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(100)
    )


_NORMALIZE_ORACLE = """
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')) AS norm,
           CAST(len(string_split(
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')), ' ')) AS INT) AS n_toks
    FROM documents
"""


@register("text_normalize", oracle=_NORMALIZE_ORACLE, tags=("text",))
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — lowercase, strip non-alphanumerics
    to spaces, collapse runs, trim — the first stage of every dedup /
    fingerprint / tokenize pipeline, registered standalone so its exact
    output contract is pinned (downstream shingle and minhash signatures
    are only stable if THIS mapping never drifts).

    Pure per-row JVM regex (scan → project, no shuffle, no Python);
    Spark's regexp_replace is global by default and DuckDB's takes the
    explicit 'g' flag — the oracle says so, making the global-ness part
    of the verified contract rather than an engine default silently
    relied on. ASCII-only fixture: lower() agrees across engines (a
    production i18n corpus would pin a collation first — see
    fn_collation)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm"),
        F.size(F.split(norm, " ")).alias("n_toks"),
    )


_KEYWORD_ORACLE = """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT source) AS df FROM tf GROUP BY 1
    ),
    ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf,
             CAST(floor(tf.tf * ln(CAST(ns.n_sources AS DOUBLE) / df.df) * 1e6 + 0.5)
                  AS BIGINT) AS score_1e6
      FROM tf JOIN df USING (term) CROSS JOIN ns
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY score_1e6 DESC, term
      ) AS rnk FROM scored
    )
    SELECT source, CAST(rnk AS INT) AS rnk, term, tf, score_1e6
    FROM ranked WHERE rnk <= 3
"""


@register("text_keyword_topk", oracle=_KEYWORD_ORACLE, tags=("text", "window"))
def text_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinguishing keywords per source domain: top-3 terms by
    source-level tf·idf, where idf treats each SOURCE as the document
    unit (ln(#sources / #sources-containing-term)) — the corpus-triage
    readout ("what is this domain about") that guides mixture and
    filter decisions before any model sees the data.

    One corpus explode feeding one (source, term) aggregate — raw text
    is tokenized exactly once; df re-aggregates from tf's output (the
    `text_tfidf` trick: #terms-sized input, not a second corpus pass)
    and the total-source count is a 1-row cross join. The top-k window
    partitions by source over the scored term table — vocabulary-sized,
    not corpus-sized. Scores quantize through the shared floor(x·1e6 +
    0.5) convention: tf is an exact integer, ln runs on an exact integer
    ratio, so both engines rank identical doubles and the (score, term)
    tiebreak pins the boundary.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count_distinct("source").alias("df"))
    ns = d.agg(F.count_distinct("source").alias("n_sources"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "term",
            "tf",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_sources").cast("double") / F.col("df"))
                * 1e6
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("score_1e6"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score_1e6").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", F.col("rnk").cast("int"), "term", "tf", "score_1e6")
    )


_TOX_WORDS = ["slow", "dup", "drop", "crash"]

_TOX_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                 x -> x IN ({_sql_list(_TOX_WORDS)}))) AS n_hits
      FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(n_hits * 1.0 / n_tokens, 6) AS tox_ratio,
           n_hits * 1.0 / n_tokens >= 0.10 AS flagged
    FROM t WHERE n_tokens > 0
"""


@register("text_toxicity_wordlist", oracle=_TOX_ORACLE, tags=("text", "curation"))
def text_toxicity_wordlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-based toxicity screen — the first, cheapest gate of a
    training-data filter stack (real stacks chain this in front of a
    model scorer; `curate_quality_score_lr` is that next tier). Per doc:
    blocklist hit count, hit ratio, and the ≥10% flag.

    The blocklist is compiled into the plan as an array literal — the
    degenerate 'broadcast' (a production list of 10⁴ terms still fits in
    every task's code). Everything is a map-side higher-order filter
    over the token array: zero shuffles, zero UDFs, scales as a pure
    scan. A blocklist too large for a literal graduates to a broadcast
    join on exploded tokens — the same shape as `curate_decontaminate`.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens(F.lower(F.col("text"))), lambda x: x != "")
    bad = F.array(*[F.lit(w) for w in _TOX_WORDS])
    t = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.array_contains(bad, x))).cast("bigint").alias("n_hits"),
    ).filter(F.col("n_tokens") > 0)
    ratio = F.col("n_hits") / F.col("n_tokens")
    return t.select(
        "doc_id",
        "n_tokens",
        "n_hits",
        F.round(ratio, 6).alias("tox_ratio"),
        (ratio >= 0.10).alias("flagged"),
    )


_READABILITY_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                         - 84.6 * (n_syllables * 1.0 / n_words), 4) AS flesch
    FROM t WHERE n_words > 0
"""


@register("text_readability", oracle=_READABILITY_ORACLE, tags=("text", "curation"))
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    proxy (the standard no-dictionary approximation: one syllable per
    maximal [aeiouy]+ run). Low-readability outliers are a common
    quality-filter axis alongside `text_quality`'s length/punct ratios.

    Pure map-side string/regex expressions — no shuffle, no UDF; the
    whole op is a projection that scales as a scan. The syllable count
    runs one regexp_extract_all over the lowered text rather than
    per-word loops (one pass per row, codegen'd)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(tokens(F.lower(F.col("text"))), lambda x: x != "")
    t = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
        ).cast("bigint").alias("n_sentences"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0))
        .cast("bigint")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return t.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables") / F.col("n_words")),
            4,
        ).alias("flesch"),
    )


# GPT-2-style pretokenizer regex, ASCII-restricted (the fixture corpus is
# ASCII; both Java regex and DuckDB's RE2 parse this identically, which a
# \p{L}-based pattern would not guarantee across engines).
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

_BPE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}')) AS n_bpe,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id, CAST(n_bpe AS BIGINT) AS n_bpe, CAST(n_ws AS BIGINT) AS n_ws,
           round(n_chars * 1.0 / n_bpe, 4) AS chars_per_token
    FROM t WHERE n_bpe > 0
"""


@register("text_bpe_regex_tokens", oracle=_BPE_ORACLE, tags=("text", "curation"))
def text_bpe_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style pretokenizer regex (the GPT-2
    split rule: contraction suffixes, space-prefixed letter runs, digit
    runs, punctuation runs) next to the naive whitespace count — the
    budget arithmetic every training-data pipeline runs (token budgets,
    chars-per-token calibration, packing estimates in
    `curate_pack_batches`). A real tokenizer adds a merges table after
    this split; the COUNT is dominated by the pretokenizer, which is
    why this regex is the standard cheap estimator.

    One regexp pass per row, map-side only, no shuffle. The pattern is
    ASCII-restricted so Java regex (Spark) and RE2 (DuckDB) agree
    byte-for-byte — the engine-portability trap \\p{{L}} classes would
    open is documented away."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0))
        .cast("bigint")
        .alias("n_bpe"),
        F.size(F.filter(tokens(F.col("text")), lambda x: x != ""))
        .cast("bigint")
        .alias("n_ws"),
        F.length("text").alias("n_chars"),
    ).filter(F.col("n_bpe") > 0)
    return t.select(
        "doc_id",
        "n_bpe",
        "n_ws",
        F.round(F.col("n_chars") / F.col("n_bpe"), 4).alias("chars_per_token"),
    )


_PMI_MIN_PAIR = 5

_PMI_ORACLE = f"""
    WITH d AS (
      SELECT string_split(lower(text), ' ') AS toks FROM documents
    ),
    uni AS (
      SELECT unnest(toks) AS w FROM d
    ),
    unigrams AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM unigrams),
    g AS (
      SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d
      WHERE len(toks) >= 2
    ),
    bigrams AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM g GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_bi FROM bigrams)
    SELECT b.w1, b.w2, b.n_pair,
           u1.c AS c1, u2.c AS c2,
           CAST(floor(ln(
             (CAST(b.n_pair AS DOUBLE) / n_bi)
             / ((CAST(u1.c AS DOUBLE) / n_uni) * (CAST(u2.c AS DOUBLE) / n_uni))
           ) * 1e6 + 0.5) AS BIGINT) AS pmi_1e6
    FROM bigrams b
    JOIN unigrams u1 ON b.w1 = u1.w
    JOIN unigrams u2 ON b.w2 = u2.w
    CROSS JOIN nu CROSS JOIN nb
    WHERE b.n_pair >= {_PMI_MIN_PAIR}
"""


@register("text_collocations_pmi", oracle=_PMI_ORACLE, tags=("text",))
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: every bigram
    seen ≥ 5 times scored with PMI = ln(p(xy) / (p(x)·p(y))) against the
    corpus unigram model — the classic phrase detector (word2vec-style
    phrase merging, MWE extraction) sitting one step above
    `text_ngram_counts`'s raw frequencies.

    Two Zipf-collapsed hash aggregates (unigram counts, bigram counts —
    both map-side combining, both keyed on the word domain, not rows)
    plus two broadcast-friendly equi-joins of the bigram table against
    the unigram table and two one-row corpus totals. Every count is an
    exact int64; PMI is ONE float expression per output row, written
    token-for-token identically in the oracle and quantized to 1e-6 —
    nothing floats across rows. The ≥5 support filter runs before the
    joins, so the joined relation is the (tiny) frequent-bigram set; at
    100 TB the unigram side is usually broadcastable outright and the
    bigram agg's map-side combine is what keeps the shuffle sub-linear
    in the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    tokd = d.select(toks.alias("toks"))
    # One-compute boundaries (r10, guide §2.4): unigrams feeds the corpus
    # total and BOTH broadcast join sides (u1/u2 — broadcast-fed, no AQE
    # exchange reuse); bigrams feeds its total and the frequent filter.
    # Both are Zipf-collapsed, keyed on the word domain — tiny.
    unigrams = one_compute_boundary(
        tokd.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    nu = unigrams.agg(F.sum("c").cast("bigint").alias("n_uni"))
    pairs = F.arrays_zip(
        F.slice(F.col("toks"), 1, F.size("toks") - 1),
        F.slice(F.col("toks"), 2, F.size("toks") - 1),
    )
    bigrams = one_compute_boundary(
        tokd.filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .agg(F.count("*").alias("n_pair"))
    )
    nb = bigrams.agg(F.sum("n_pair").cast("bigint").alias("n_bi"))
    u1 = unigrams.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = unigrams.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    freq = bigrams.filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    joined = (
        freq.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.log(
        (F.col("n_pair").cast("double") / F.col("n_bi"))
        / (
            (F.col("c1").cast("double") / F.col("n_uni"))
            * (F.col("c2").cast("double") / F.col("n_uni"))
        )
    )
    return joined.select(
        "w1",
        "w2",
        F.col("n_pair").cast("bigint").alias("n_pair"),
        F.col("c1").cast("bigint").alias("c1"),
        F.col("c2").cast("bigint").alias("c2"),
        F.floor(pmi * 1e6 + F.lit(0.5)).cast("bigint").alias("pmi_1e6"),
    )


_ZIPF_TOP_K = 100  # rank depth of the log-log fit
_ZIPF_MIN_TERMS = 10  # sources with a smaller vocabulary are skipped

_ZIPF_ORACLE = f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY source, term
    ),
    rk AS (
      SELECT source, tf,
             row_number() OVER (PARTITION BY source
                                ORDER BY tf DESC, term) AS r
      FROM tf
    ),
    top AS (
      SELECT source,
             CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT) AS xi,
             CAST(floor(ln(tf) * 1000000 + 0.5) AS BIGINT) AS yi
      FROM rk WHERE r <= {_ZIPF_TOP_K}
    ),
    s AS (
      SELECT source, count(*) AS k, sum(xi) AS sx, sum(yi) AS sy,
             sum(xi * xi) AS sxx, sum(xi * yi) AS sxy
      FROM top GROUP BY source
    )
    SELECT source, CAST(k AS BIGINT) AS n_terms,
           CAST(floor(CAST(k * sxy - sx * sy AS DOUBLE)
                      / CAST(k * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5)
                AS BIGINT) AS slope_1e6
    FROM s WHERE k >= {_ZIPF_MIN_TERMS}
"""


@register("text_zipf_slope", oracle=_ZIPF_ORACLE, tags=("text", "analytics"))
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per source: OLS slope of ln(term frequency) against
    ln(rank) over each source's top-100 terms — natural text follows
    Zipf's law with slope ≈ −1, so a corpus slice whose slope drifts far
    from −1 (too flat = scraped boilerplate/templates, too steep = spam
    keyword stuffing) is a curation red flag next to `text_repetition`
    and `text_quality`.

    Determinism (§5.4 quantize-then-sum): ln(rank) and ln(tf) — both
    logs of exact small ints — quantize to a 1e-6 grid as int64 BEFORE
    the sufficient-statistic sums (the `text_collocations_pmi` / KM
    precedent), so Σx, Σy, Σxx, Σxy are exact integers on both engines
    and the closed-form slope divides once at the end in one identical
    expression. Plan: token explode → (source, term) count (the only
    corpus-sized shuffle, map-side combined) → per-source top-K rank
    (keyed window over the per-source vocabulary — the `win_topk_group`
    shape) → one row per source. Int64 headroom: xi, yi ≤ ln(tf_max)·1e6
    ≈ 2e7, so k·Σxy ≤ 100·100·4e14 within int64 for any tf."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("source").orderBy(F.col("tf").desc(), F.col("term"))
    top = (
        tf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZIPF_TOP_K)
        .select(
            "source",
            F.floor(F.log(F.col("r").cast("double")) * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("xi"),
            F.floor(F.log(F.col("tf").cast("double")) * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("yi"),
        )
    )
    s = top.groupBy("source").agg(
        F.count("*").alias("k"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
    )
    k, sx, sy, sxx, sxy = (F.col(c) for c in ("k", "sx", "sy", "sxx", "sxy"))
    slope = (k * sxy - sx * sy).cast("double") / (k * sxx - sx * sx).cast("double")
    return s.filter(k >= _ZIPF_MIN_TERMS).select(
        "source",
        k.cast("bigint").alias("n_terms"),
        F.floor(slope * 1e6 + F.lit(0.5)).cast("bigint").alias("slope_1e6"),
    )


_BPE_TOPK = 20

_BPE_ORACLE = f"""
    WITH wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ')) AS w
            FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, n
      FROM wc
    )
    SELECT pair, CAST(sum(n) AS BIGINT) AS freq
    FROM pairs
    GROUP BY pair
    ORDER BY freq DESC, pair
    LIMIT {_BPE_TOPK}
"""


@register("text_bpe_merge_step", oracle=_BPE_ORACLE, tags=("text", "llm"))
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE-training merge step: corpus-weighted adjacent
    symbol-pair frequencies, top-20 merge candidates. This is the inner
    loop of tokenizer training (the highest-frequency pair becomes the
    next merge rule); at the character stage symbols are single chars, so
    a pair is a 2-char substring.

    Physical plan — the shape that makes BPE trainable on a 100 TB
    corpus: the word-count aggregate FIRST collapses the Zipf-heavy
    corpus to its vocabulary (shuffle #1 carries distinct words), then
    pair extraction explodes the VOCABULARY (len(w)−1 pairs per distinct
    word, weighted by the word's corpus count) — per-merge-round cost is
    O(|vocab|), independent of corpus size, which is exactly how
    production distributed tokenizer trainers iterate. Shuffle #2 is the
    pair aggregate (≤ alphabet² keys) and the global top-k is a
    TakeOrdered, never a full sort. End-of-word markers are elided (a
    production trainer appends one sentinel symbol; it changes the
    alphabet, not the plan). Deterministic: counts are integers and the
    (freq DESC, pair) tie-break pins the LIMIT frontier on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(_BPE_TOPK)
    )


_LANGID_CONFUSION_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, lang,
{_LANG_SCORE_SQL}
      FROM documents
    ),
    pred AS (
      SELECT lang AS true_lang,
             CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
                  WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                  WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scored
    ),
    cells AS (
      SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    tot AS (
      SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true FROM cells GROUP BY 1
    )
    SELECT c.true_lang, c.pred_lang, c.n,
           CAST(c.n * 1000000 // t.n_true AS BIGINT) AS share_of_true_1e6
    FROM cells c JOIN tot t ON c.true_lang = t.true_lang
"""


@register("text_langid_confusion", oracle=_LANGID_CONFUSION_ORACLE, tags=("text", "eval"))
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID calibration as a first-class op: the confusion matrix
    of the stopword-lexicon classifier (`text_lang_id`) against the
    corpus' labeled ``lang`` column, each cell with its share of the true
    language's documents (the per-class recall diagonal). The gauge the
    other gauges set the pattern for (`dedup_simhash_recall`,
    `dedup_minhash_recall`, the ANN tiers): a production pipeline runs
    this per ingest batch, because lexicon language-ID silently decays on
    distribution shift — and unsupported languages (this corpus' ``zh``)
    surface as an off-diagonal 'unknown'/mislabel row rather than
    vanishing.

    Physical plan: label and prediction come from the SAME scan row (no
    self-join — the classifier is pure per-row expressions), then one
    #langs²-key aggregate; the per-language totals re-aggregate the
    CELLS (≤ #langs² rows), never the corpus, and join back broadcast.
    Integer-quantized shares (§5.4)."""
    scores, pred = _lang_vote()
    s = load_table(spark, sf_dir, "documents").select(
        F.col("lang").alias("true_lang"), *scores
    )
    cells = (
        s.select("true_lang", pred.alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = cells.groupBy("true_lang").agg(F.sum("n").cast("bigint").alias("n_true"))
    return cells.join(F.broadcast(tot), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.floor(F.col("n") * 1_000_000 / F.col("n_true")).cast("bigint").alias("share_of_true_1e6"),
    )


_FERTILITY_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, text,
{_LANG_SCORE_SQL}
      FROM documents
    ),
    langed AS (
      SELECT CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
                  WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                  WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS lang_pred,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re,
             CAST(length(text) AS BIGINT) AS ch
      FROM scored
    )
    SELECT lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS n_words,
           CAST(sum(re) AS BIGINT) AS n_tokens,
           CAST(sum(ch) AS BIGINT) AS n_chars,
           CAST(floor(sum(re) * 1000000.0 / nullif(sum(ws), 0) + 0.5) AS BIGINT)
             AS fertility_1e6,
           CAST(floor(sum(ch) * 1000000.0 / nullif(sum(re), 0) + 0.5) AS BIGINT)
             AS chars_per_token_1e6
    FROM langed GROUP BY 1
"""


@register(
    "curate_tokenizer_fertility",
    oracle=_FERTILITY_ORACLE,
    tags=("curation", "text"),
)
def curate_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (predicted) language: tokens-per-word and
    chars-per-token, aggregated over each language bucket — the metric a
    multilingual data pipeline reads before fixing per-language token
    budgets, because a tokenizer trained English-heavy segments other
    languages into MORE tokens per word (higher fertility), silently
    shrinking their effective mixing weight in `curate_mix_weights` /
    `curate_budget_select` token accounting. Token proxy = the regex
    word tokens of `text_token_count` (the repo's SQL-replayable
    tokenizer stand-in); language = `text_lang_id`'s lexicon argmax,
    recomputed in the SAME single scan (no join back to the corpus).

    One pass over text, collapsing straight to #languages rows with
    map-side partials; sums are exact int64 and only the two reported
    ratios quantize (shared §5.4 floor convention)."""
    scores, pred = _lang_vote()
    s = load_table(spark, sf_dir, "documents").select(
        F.size(tokens(F.col("text"))).cast("bigint").alias("ws"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("bigint").alias("re"),
        F.length("text").cast("bigint").alias("ch"),
        *scores,
    )
    return (
        s.select(pred.alias("lang_pred"), "ws", "re", "ch")
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ws").cast("bigint").alias("n_words"),
            F.sum("re").cast("bigint").alias("n_tokens"),
            F.sum("ch").cast("bigint").alias("n_chars"),
            # nullif guards: a bucket of pure non-Latin text has zero
            # regex tokens (and an empty-text bucket zero words) — the
            # ratio is NULL on both engines, never inf or an error (the
            # op's docstring invites running it on arbitrary corpora)
            F.floor(F.sum("re") * 1e6 / F.nullif(F.sum("ws"), F.lit(0)) + F.lit(0.5))
            .cast("bigint")
            .alias("fertility_1e6"),
            F.floor(F.sum("ch") * 1e6 / F.nullif(F.sum("re"), F.lit(0)) + F.lit(0.5))
            .cast("bigint")
            .alias("chars_per_token_1e6"),
        )
    )
