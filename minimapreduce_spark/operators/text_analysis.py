"""Text-analysis operators for LLM data pipelines (north-star surface).

Absent from the reference (SURVEY §2c) but required by the project's
north star: language ID, quality scoring, token counting, document
fingerprinting and tokenizer training over the ``documents`` table.
The plans are built-in functions, codegen'd and partitionable by doc
(embarrassingly parallel at 100 TB: no shuffle except the final
rollups), with two exceptions that run Python in the data path, each a
``mapInPandas`` pass over the vocabulary (distinct words), never the
corpus: the unigram tokenizer's Viterbi segmentation
(``unigram_train_pieces``, ``unigram_apply_token_stats``) and the
WordPiece greedy longest-match server (``wordpiece_apply_token_stats``,
``wordpiece_apply_marked_stats``). The pair-merge trainers (BPE and
both WordPiece forms) run their merge rounds in the driver when the
vocabulary fits ``catalog.DRIVER_LOCAL_ROWS_MAX``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark import catalog
from minimapreduce_spark.catalog import fan_out, load_table
from minimapreduce_spark.registry import register

# BPE-ish tokenizer: letter runs | single digits | single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

EN_STOP = ("the", "a", "and", "of", "to", "in")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: regex token/feature extraction dominates; see catalog.fan_out.
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


def _tokens(col):
    return F.filter(F.split(col, r"[^A-Za-z]+"), lambda w: w != "")


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws,
             length(text) AS n_chars_txt,
             length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_clean
      FROM documents
    )
    SELECT doc_id, lang, source,
           len(ws)                                                   AS n_tokens,
           len(list_distinct(ws))                                    AS n_distinct,
           round(len(list_filter(ws, w -> w IN {EN_STOP!r}))
                 * 1.0 / len(ws), 6)                                 AS stop_ratio,
           round((n_chars_txt - n_clean) * 1.0 / n_chars_txt, 6)     AS punct_ratio,
           round(0.5 * least(len(ws) / 100.0, 1.0)
                 + 0.3 * (1.0 - len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws))
                 + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)), 6) AS quality
    FROM toks
    WHERE len(ws) > 0
    """,
    bench=True,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token counts, distinct ratio,
    stopword ratio, punctuation ratio, and a blended [0,1] quality score
    (the length/stopword/diversity heuristic used to filter pretraining
    corpora)."""
    docs = _docs(spark, sf_dir)
    ws = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOP])
    n_tokens = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_distinct = F.size(F.array_distinct(ws))
    n_chars_txt = F.length("text")
    n_clean = F.length(F.regexp_replace("text", r"[^A-Za-z0-9 ]", ""))
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    quality = (
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * (n_distinct * F.lit(1.0) / n_tokens)
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            n_tokens.cast("bigint").alias("n_tokens"),
            n_distinct.cast("bigint").alias("n_distinct"),
            F.round(stop_ratio, 6).alias("stop_ratio"),
            F.round((n_chars_txt - n_clean) * F.lit(1.0) / n_chars_txt, 6).alias("punct_ratio"),
            F.round(quality, 6).alias("quality"),
        )
        .where(F.col("n_tokens") > 0)
    )


@register(
    "text_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, len(ws) AS n_tokens,
        len(list_filter(ws, w -> w IN ('the','a','and','of')))  * 1.0 / len(ws) AS r_en,
        len(list_filter(ws, w -> w IN ('der','die','das','und'))) * 1.0 / len(ws) AS r_de,
        len(list_filter(ws, w -> w IN ('le','la','les','et')))  * 1.0 / len(ws) AS r_fr,
        len(list_filter(ws, w -> w IN ('el','los','las','y')))  * 1.0 / len(ws) AS r_es
      FROM toks WHERE len(ws) > 0
    )
    SELECT doc_id, lang AS actual_lang, n_tokens,
           round(r_en, 6) AS r_en,
           CASE WHEN r_en >= greatest(r_de, r_fr, r_es) AND r_en > 0 THEN 'en'
                WHEN r_de >= greatest(r_fr, r_es) AND r_de > 0 THEN 'de'
                WHEN r_fr >= r_es AND r_fr > 0 THEN 'fr'
                WHEN r_es > 0 THEN 'es'
                ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language ID heuristic: stopword-hit ratio per
    candidate language, argmax with a fixed tie-break order (en > de >
    fr > es > und). On this synthetic corpus (shared English-ish vocab
    for every ``lang`` label) the predictions skew 'en'/'und' — the
    operator demonstrates the shape, not corpus realism."""
    docs = _docs(spark, sf_dir)
    ws = _tokens(F.col("text"))
    stop = {
        "en": ("the", "a", "and", "of"),
        "de": ("der", "die", "das", "und"),
        "fr": ("le", "la", "les", "et"),
        "es": ("el", "los", "las", "y"),
    }

    def ratio(words):
        arr = F.array(*[F.lit(s) for s in words])
        return F.size(F.filter(ws, lambda w: F.array_contains(arr, w))) * F.lit(1.0) / F.size(ws)

    r_en, r_de, r_fr, r_es = (ratio(stop[k]) for k in ("en", "de", "fr", "es"))
    predicted = (
        F.when((r_en >= F.greatest(r_de, r_fr, r_es)) & (r_en > 0), "en")
        .when((r_de >= F.greatest(r_fr, r_es)) & (r_de > 0), "de")
        .when((r_fr >= r_es) & (r_fr > 0), "fr")
        .when(r_es > 0, "es")
        .otherwise("und")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.round(r_en, 6).alias("r_en"),
        predicted.alias("predicted_lang"),
    ).where(F.col("n_tokens") > 0)


@register(
    "token_count_stats",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(list_filter(regexp_split_to_array(text, ' '), w -> w <> ''))) AS BIGINT)
             AS total_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{BPE_RE}'))) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(length(text)) AS BIGINT)                              AS total_chars,
           round(avg(len(regexp_extract_all(text, '{BPE_RE}'))), 4)       AS avg_bpe_tokens
    FROM documents
    GROUP BY source
    """,
)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens, BPE-ish
    regex tokens (letter runs / digits / punctuation), chars. The
    pretraining "how many tokens do we have" query."""
    docs = _docs(spark, sf_dir)
    ws_tokens = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    bpe_tokens = F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws_tokens).cast("bigint").alias("total_ws_tokens"),
        F.sum(bpe_tokens).cast("bigint").alias("total_bpe_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.round(F.avg(bpe_tokens), 4).alias("avg_bpe_tokens"),
    )


@register(
    "doc_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS word FROM toks
    )
    SELECT doc_id,
           CAST(sum(pos * (ascii(substr(word, 1, 1)) * 131 + length(word)))
                % 1000000007 AS BIGINT) AS fingerprint
    FROM pos
    GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: position-weighted rolling
    word hash mod 1e9+7. Same token sequence → same fingerprint;
    reordering or editing tokens changes it (unlike a bag-of-words
    hash). Products stay < 2^31 so the bigint sum never overflows."""
    docs = _docs(spark, sf_dir)
    ws = _tokens(F.col("text"))
    exploded = docs.select("doc_id", F.posexplode(ws).alias("pos0", "word"))
    wval = F.ascii(F.substring("word", 1, 1)) * 131 + F.length("word")
    return (
        exploded.groupBy("doc_id")
        .agg(
            (F.sum((F.col("pos0") + 1) * wval) % F.lit(1000000007))
            .cast("bigint")
            .alias("fingerprint")
        )
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, word, round(tf * ln(n.n * 1.0 / df.df), 6) AS score
      FROM tf JOIN df USING (word), n
    ),
    ranked AS (
      SELECT doc_id, word, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rnk
      FROM scored
    )
    SELECT doc_id, word, score, rnk FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic content-signature
    feature for corpus exploration and keyword-based dedup triage.

    Document frequency comes from the already-aggregated (doc, word)
    frame (no second tokenize pass); the corpus size is a 1-row agg
    broadcast into the scoring join. Scores are rounded to 6 dp BEFORE
    ranking in both engines so FP noise cannot flip a rank; remaining
    ties break lexicographically. Shuffles: tokenize→(doc,word) agg,
    word-keyed df join, doc-keyed ranking window — all on natural keys."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.select("doc_id", "word", "score", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@register(
    "text_top_bigrams",
    oracle="""
    WITH words AS (
      SELECT lang,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (SELECT lang, ws, generate_subscripts(ws, 1) AS i FROM words),
    bg AS (
      SELECT lang, array_to_string(ws[i:i+1], ' ') AS bigram
      FROM pos WHERE i <= len(ws) - 1
    ),
    counts AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram),
    ranked AS (
      SELECT lang, bigram, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
      FROM counts
    )
    SELECT lang, bigram, cnt, rn FROM ranked WHERE rn <= 5
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — collocation mining. The bigram
    explode shuffles once on (lang, bigram) with map-side partial
    counts; the tiny per-lang count frame then ranks in a window.
    Ties break lexicographically so the cut is deterministic."""
    docs = _docs(spark, sf_dir)
    ws = _tokens(F.col("text"))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        docs.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.select("lang", "bigram", "cnt", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    freq AS (
      SELECT word,
             count(*) AS cnt,
             sum(count(*)) OVER () AS total
      FROM toks GROUP BY word
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)                       AS n_tokens,
           round(avg(-ln(f.cnt / CAST(f.total AS DOUBLE))), 4) AS avg_neg_logprob
    FROM toks t JOIN freq f USING (word)
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language scoring: per-document mean negative log
    probability under the corpus's own unigram model — the classic
    cheap perplexity proxy that separates natural text from gibberish
    or boilerplate. Two passes expressed as one plan: corpus word
    frequencies (agg on word), then tokens ⋈ frequencies (a word-keyed
    shuffle join — NO broadcast hint: a 100 TB corpus has a 100M+-row
    vocabulary, so whether to broadcast is AQE's runtime call) and a
    per-doc average. The corpus token total is a 1-row scalar agg
    attached via crossJoin(broadcast(...)) — not an empty-partition
    window, which would squeeze the whole vocabulary through one task.
    The unigram probability is an exact int/int division; only ln()
    differs at the last ulp between engines, absorbed by the 4-decimal
    round of a per-doc mean."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    freq = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    freq = freq.crossJoin(F.broadcast(total))
    neg_logprob = -F.log(F.col("cnt") / F.col("total").cast("double"))
    return (
        toks.join(freq, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(neg_logprob), 4).alias("avg_neg_logprob"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "table", "query")
BM25_TOPK = 20


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    doclen AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM doclen
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf FROM toks
      WHERE word IN {BM25_TERMS!r}
      GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, count(*) AS df FROM tf GROUP BY word
    ),
    scored AS (
      SELECT tf.doc_id,
             sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
               tf * ({BM25_K1} + 1) /
               (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
             ) AS score
      FROM tf
      JOIN df USING (word)
      JOIN doclen USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) AS score
    FROM scored
    ORDER BY round(score, 4) DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed term set — the
    dataset-curation search primitive (find documents about X in a
    100 TB corpus). Everything is aggregation algebra: doc lengths and
    corpus stats are 1-row/broadcastable aggregates, term frequencies
    shuffle on (doc, word), and the final top-k orders by the ROUNDED
    score with doc_id tiebreak so ranking is identical across engines
    (raw ln() differs in the last ulp). No Python in the plan."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = doclen.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    tf = (
        toks.where(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (
        F.col("tf") * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_part).alias("score"))
        .select("doc_id", F.round("score", 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25_TOPK)


@register(
    "doc_pair_cosine_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    tfw AS (
      SELECT doc_id, word,
             tf * CAST(round(ln(n.n * 1.0 / dfreq.df) * 10000) AS BIGINT) AS w
      FROM tf JOIN dfreq USING (word), n
      WHERE dfreq.df * 2 <= n.n
    ),
    norms AS (SELECT doc_id, sum(w * w) AS nsq FROM tfw GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, sum(a.w * b.w) AS dot
      FROM tfw a JOIN tfw b USING (word)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE))),
                 6) AS cosine
    FROM dots
    JOIN norms n1 ON doc1 = n1.doc_id
    JOIN norms n2 ON doc2 = n2.doc_id
    WHERE CAST(dot AS DOUBLE)
          / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE))) > 0.2
    """,
    bench=True,
)
def doc_pair_cosine_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with TF-IDF cosine similarity > 0.2, computed
    as a term-partitioned sparse dot product — the scale path for
    content similarity (the dense-embedding twin is ann_cosine_topk).

    No doc×doc cross join anywhere: the self-join runs on `word`, so
    only pairs sharing a surviving term ever meet, and the per-term
    fanout is capped by dropping corpus-stopwords (df > N/2) — the
    terms that would otherwise both dominate the skew AND contribute
    near-zero IDF weight. That is the standard pruning that keeps
    sparse all-pairs similarity sub-quadratic on real corpora.

    Cross-engine exactness: IDF is quantized once to BIGINT
    ten-thousandths (one ln + one round per term), after which weights,
    dots, and squared norms are all exact integer arithmetic —
    order-independent sums — and the final cosine is one identical IEEE
    sqrt/divide on both engines (see events_rolling_zscore for the
    pattern).

    Scale posture: shuffles on (doc, word), word, and (doc1, doc2) —
    all natural keys with map-side partial aggregation. Norms join by
    doc key; nothing is collected to the driver.
    """
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    iw = F.round(F.log(F.col("n") / F.col("df")) * 10000).cast("bigint")
    tfw = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .where(F.col("df") * 2 <= F.col("n"))
        .select("doc_id", "word", (F.col("tf") * iw).alias("w"))
        .localCheckpoint(eager=False)  # read 3x: both join sides + norms
    )
    norms = tfw.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nsq"))
    a, b = tfw.alias("a"), tfw.alias("b")
    dots = (
        a.join(b, "word")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    n1 = norms.select(F.col("doc_id").alias("doc1"), F.col("nsq").alias("nsq1"))
    n2 = norms.select(F.col("doc_id").alias("doc2"), F.col("nsq").alias("nsq2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("nsq1").cast("double")) * F.sqrt(F.col("nsq2").cast("double"))
    )
    return (
        dots.join(n1, "doc1")
        .join(n2, "doc2")
        .where(cos > 0.2)
        .select("doc1", "doc2", F.round(cos, 6).alias("cosine"))
    )


POS_WORDS = ("fast", "small")
NEG_WORDS = ("slow", "big")


@register(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    )
    SELECT doc_id, lang,
           len(list_filter(ws, w -> w IN {POS_WORDS!r})) AS n_pos,
           len(list_filter(ws, w -> w IN {NEG_WORDS!r})) AS n_neg,
           round((len(list_filter(ws, w -> w IN {POS_WORDS!r}))
                  - len(list_filter(ws, w -> w IN {NEG_WORDS!r})))
                 * 1.0 / len(ws), 6) AS polarity
    FROM toks
    WHERE len(ws) > 0
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the large-scale-sentiment shape
    from PAPERS.md, with a deliberately tiny demo lexicon — swap in
    AFINN/VADER lists for real corpora): per-document positive/negative
    hit counts and a token-normalized polarity in [−1, 1].

    Pure higher-order array expressions over one tokenize — no Python,
    no shuffle (per-row projection; any rollup downstream is the
    caller's). Counts are exact; polarity is one identical division.
    The same filter-count shape as text_quality_score's stopword ratio
    — lexicon scoring IS quality scoring with a different word list.
    """
    docs = _docs(spark, sf_dir)
    ws = _tokens(F.col("text"))
    n_pos = F.size(F.filter(ws, lambda w: w.isin(*POS_WORDS)))
    n_neg = F.size(F.filter(ws, lambda w: w.isin(*NEG_WORDS)))
    return (
        docs.select("doc_id", "lang", n_pos.alias("n_pos"), n_neg.alias("n_neg"),
                    F.size(ws).alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "lang",
            "n_pos",
            "n_neg",
            F.round((F.col("n_pos") - F.col("n_neg")) * 1.0 / F.col("n_tokens"), 6).alias(
                "polarity"
            ),
        )
    )


PHRASE = ("hash", "join")


@register(
    "phrase_search_positional",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS p, ws AS arr FROM words
    ),
    tokens AS (SELECT doc_id, p, arr[p] AS word FROM pos)
    SELECT a.doc_id, count(*) AS n_hits,
           min(a.p) AS first_pos
    FROM tokens a JOIN tokens b
      ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.word = '{PHRASE[0]}' AND b.word = '{PHRASE[1]}'
    GROUP BY a.doc_id
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("hash join") via a positional index — the IR
    primitive ranked-retrieval (text_bm25_topk) can't express: a match
    requires word₁ at position p AND word₂ at p+1 in the SAME document.

    Both sides of the positional join are pre-filtered to their own
    phrase term BEFORE joining, so the join input is |postings(w₁)| +
    |postings(w₂)| rows, never the full token stream — the inverted-
    index discipline that makes phrase queries cheap at corpus scale
    (longer phrases chain the same p+k join). Exact integer positions.

    Scale posture: one tokenize scan, two tiny filtered projections,
    one equi-join on (doc, adjacent-position) that shuffles only the
    postings of the two phrase terms.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(_tokens(F.col("text"))).alias("p0", "word"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "word")
    a = toks.where(F.col("word") == PHRASE[0]).select("doc_id", "p")
    b = toks.where(F.col("word") == PHRASE[1]).select(
        "doc_id", (F.col("p") - 1).alias("p")
    )
    hits = a.join(b, ["doc_id", "p"])
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"), F.min("p").alias("first_pos")
    )


@register(
    "text_collocations_pmi",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM words),
    uni AS (
      SELECT arr_w AS w, count(*) AS c FROM (
        SELECT unnest(ws) AS arr_w FROM words
      ) GROUP BY 1
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c12
      FROM pos WHERE i <= len(ws) - 1
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT w1, w2, c12,
             round(ln(CAST(c12 AS DOUBLE) * n.n
                      / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
      FROM bg JOIN uni u1 ON w1 = u1.w JOIN uni u2 ON w2 = u2.w, n
      WHERE c12 >= 5
    ),
    ranked AS (
      SELECT w1, w2, c12, pmi,
             row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk
      FROM scored
    )
    SELECT w1, w2, c12, pmi, rnk FROM ranked WHERE rnk <= 10
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 collocations by pointwise mutual information — bigrams
    that co-occur far above chance (text_top_bigrams ranks by raw
    count, which surfaces common-word pairs; PMI surfaces BOUND pairs).
    Support threshold c ≥ 5 applies the standard PMI low-count
    correction.

    PMI = ln(c₁₂·N / (c₁·c₂)): the argument is a ratio of exact
    integer counts, evaluated with the identical expression shape on
    both engines, rounded to 6 dp BEFORE ranking so a last-ulp ln
    difference cannot flip a rank (the text_tfidf_top_terms
    discipline); remaining ties break lexicographically.

    Scale posture: bigram + unigram aggs shuffle on their word keys
    (map-side partials), the corpus size broadcasts, ranking windows
    run over the thresholded collocation set only.
    """
    docs = _docs(spark, sf_dir)
    ws = _tokens(F.col("text"))
    toks = docs.select("doc_id", F.posexplode(ws).alias("i", "w"))
    uni = toks.groupBy(F.col("w")).agg(F.count("*").alias("c"))
    n = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bg = (
        docs.select(
            F.explode(
                F.when(
                    F.size(ws) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(ws) - 1),
                        lambda i: F.struct(
                            F.element_at(ws, i).alias("w1"),
                            F.element_at(ws, i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .where(F.col("c12") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    F.col("c12").cast("double") * F.col("n")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    # TakeOrdered top-10 first, THEN the 10-row rank window — never a
    # global row_number over the full qualifying-bigram table.
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(10)
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    # 10 rows post-limit
    return with_bounded_rank(
        top, F.desc("pmi"), F.asc("w1"), F.asc("w2"), out="rnk"
    ).select("w1", "w2", "c12", "pmi", "rnk")


@register(
    "text_readability_flesch",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                             w -> w <> '')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             greatest(len(regexp_extract_all(text, '[aeiouAEIOU]+')), 1) AS n_syll
      FROM documents
    )
    SELECT doc_id, lang, n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syll AS BIGINT) AS n_syllables,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
    FROM m WHERE n_words > 0
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with the standard cheap
    proxies: sentences = terminal-punctuation runs, syllables = vowel
    groups (the dictionary-free approximation every large-corpus
    readability pass uses — swap in a hyphenation dict offline for
    precision). A quality-filtering feature alongside
    text_quality_score: very low ease flags run-on machine text, very
    high flags fragmentary text.

    All three counts are exact integers from codegen'd regex; the
    formula is one identical double expression (greatest(…, 1) guards
    the empty-sentence/vowel degenerate cases on both engines).

    Scale posture: pure per-row projection — embarrassingly parallel,
    no shuffle.
    """
    docs = _docs(spark, sf_dir)
    n_words = F.size(_tokens(F.col("text")))
    n_sents = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_syll = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[aeiouAEIOU]+"), F.lit(0))),
        F.lit(1),
    )
    m = docs.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_sents.cast("bigint").alias("n_sents"),
        n_syll.cast("bigint").alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
        - 84.6 * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sents",
        "n_syllables",
        F.round(flesch, 4).alias("flesch"),
    )


@register(
    "corpus_source_profile",
    oracle="""
    WITH per_lang AS (
      SELECT source, lang, count(*) AS n,
             sum(CAST(n_chars AS BIGINT)) AS chars_l
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(chars_l) AS BIGINT) AS total_chars,
           round(sum(chars_l) / (sum(n) * 1.0), 4) AS avg_chars,
           CAST(count(*) AS BIGINT) AS n_langs,
           arg_max(lang, lpad(CAST(n AS VARCHAR), 12, '0') || lang) AS top_lang
    FROM per_lang GROUP BY source
    """,
)
def corpus_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: document count, exact character
    volume, mean length, language diversity, and the dominant language
    (arg-max over a fixed-width packed (count, lang) string key so ties
    break lexicographically — the agg_arg_extremes unique-key
    discipline, string-packed because DuckDB's arg_max takes no
    composite) — the first table a data-sourcing review reads.

    Scale posture: one (source, lang) hash agg then a per-source
    rollup; the max_by runs over |langs| rows per source.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n"), F.sum(F.col("n_chars").cast("bigint")).alias("chars_l")
    )
    return per_lang.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("chars_l").cast("bigint").alias("total_chars"),
        F.round(F.sum("chars_l") / (F.sum("n") * 1.0), 4).alias("avg_chars"),
        F.count("*").cast("bigint").alias("n_langs"),
        F.max_by(
            "lang", F.concat(F.lpad(F.col("n").cast("string"), 12, "0"), F.col("lang"))
        ).alias("top_lang"),
    )


@register(
    "text_ttr_hapax",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, word, count(*) AS c FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)     AS n_tokens,
           CAST(count(*) AS BIGINT)   AS n_types,
           round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS ttr,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4)       AS hapax_frac
    FROM wc GROUP BY doc_id
    """,
)
def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document: type-token ratio and
    hapax-legomenon fraction (share of word types occurring exactly
    once) — the cheap vocabulary-richness signals quality filters use
    to separate natural prose from templated or keyword-stuffed text
    (low TTR → heavy repetition; very high TTR + low hapax → word-salad
    generators).

    Both ratios are exact integer counts divided once — one identical
    double op per row, no float accumulation.

    Scale posture: one (doc, word)-keyed hash agg with map-side partial
    counts, then a per-doc rollup that reuses the same doc_id
    partitioning. No corpus-wide state.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
    wc = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 4).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("hapax_frac"),
    )


BIGRAM_LAMBDA_NUM, BIGRAM_LAMBDA_DEN = 7, 10  # interpolation λ = 0.7


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT word, count(*) AS c1, sum(count(*)) OVER () AS total
      FROM (SELECT unnest(ws) AS word FROM toks) GROUP BY word
    ),
    bg AS (
      SELECT doc_id, ws[i.i] AS w1, ws[i.i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) i
    ),
    bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(
             {BIGRAM_LAMBDA_NUM}.0 / {BIGRAM_LAMBDA_DEN} * bgc.c12 / u1.c1
             + (1.0 - {BIGRAM_LAMBDA_NUM}.0 / {BIGRAM_LAMBDA_DEN}) * u2.c1
               / CAST(u2.total AS DOUBLE))), 4) AS avg_neg_logprob
    FROM bg
    JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
    JOIN uni u1 ON u1.word = bg.w1
    JOIN uni u2 ON u2.word = bg.w2
    GROUP BY bg.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring: per-document mean
    negative log probability under the corpus's own bigram model with
    unigram back-off, p(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·c(w2)/N,
    λ = 0.7 — the step up from ``text_unigram_logprob`` that catches
    scrambled/gibberish word ORDER, which a unigram model scores
    identically to natural text. (A corpus whose documents are
    word-permutations of each other — exactly what shuffling-based
    data poisoning or naive word-dedup produces — separates cleanly
    here and not at all under unigrams.)

    Plan: bigrams are built per row with a higher-order transform over
    the token array (no positional self-join); the model tables are
    word- and bigram-keyed hash aggs; scoring joins shuffle on those
    same keys — no broadcast hint, since a 100 TB corpus's bigram
    vocabulary dwarfs driver memory and whether to broadcast is AQE's
    runtime call. Probability terms are exact int/int divisions; only
    ln() differs at the last ulp, absorbed by the 4-dp round of the
    per-doc mean (the unigram query's proven discipline).
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    uni = (
        toks.select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c1"))
    )
    total = uni.agg(F.sum("c1").alias("total"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    lam = F.lit(BIGRAM_LAMBDA_NUM / BIGRAM_LAMBDA_DEN)
    u1 = uni.select(F.col("word").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c1").alias("c1_w2"))
    p = lam * F.col("c12") / F.col("c1_w1") + (F.lit(1.0) - lam) * F.col(
        "c1_w2"
    ) / F.col("total").cast("double")
    return (
        bg.join(bgc, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 4).alias("avg_neg_logprob"),
        )
    )


BOILER_NGRAM_K = 8  # word-window size
BOILER_MIN_DOCS = 5  # recurring in ≥ this many distinct docs of a source


@register(
    "boilerplate_ngram_sources",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             ('0x' || substr(md5(array_to_string(ws[i.i:i.i + {BOILER_NGRAM_K - 1}], ' ')),
                             1, 15))::BIGINT AS g
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - {BOILER_NGRAM_K - 1})) AS i) i
    ),
    counts AS (
      SELECT source, g, count(*) AS n_docs FROM grams GROUP BY source, g
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_distinct_ngrams,
           CAST(sum(CASE WHEN n_docs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate_ngrams,
           CAST(max(n_docs) AS BIGINT) AS max_doc_count
    FROM counts GROUP BY source
    """,
)
def boilerplate_ngram_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection, the C4/CCNet cleaning primitive: within
    each source, find 8-word windows recurring across
    many DISTINCT documents — headers, footers, navigation chrome,
    license blurbs — and report per-source how much of the n-gram
    space is boilerplate (the input a line/span-removal pass consumes).
    ``dedup_span_repeats`` asks "which docs copy each other"; this
    asks "which CONTENT recurs per source", the removal-side view.

    Exactness: windows are hashed with the portable md5-prefix integer
    (the simhash discipline) so the oracle reproduces buckets exactly;
    counts are distinct-doc integers.

    Scale posture: explode to (doc, gram-hash) → per-doc distinct →
    (source, gram) hash agg → |sources|-row rollup. Shuffles key on
    16-byte hashes, never window text; nothing is pairwise.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    k = BOILER_NGRAM_K
    gram = F.when(
        F.size(ws) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        docs.select("doc_id", "source", F.explode(gram).alias("gram"))
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint").alias("g"),
        )
        .distinct()
    )
    counts = grams.groupBy("source", "g").agg(F.count("*").alias("n_docs"))
    return counts.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_distinct_ngrams"),
        F.sum((F.col("n_docs") >= BOILER_MIN_DOCS).cast("int"))
        .cast("bigint")
        .alias("n_boilerplate_ngrams"),
        F.max("n_docs").cast("bigint").alias("max_doc_count"),
    )


BPE_TOP_PAIRS = 20


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH wf AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    chars AS (SELECT word, freq, string_split(word, '') AS cs FROM wf),
    pairs AS (
      SELECT cs[i.i] AS c1, cs[i.i + 1] AS c2, sum(freq) AS weight
      FROM chars, LATERAL (SELECT unnest(generate_series(1, len(cs) - 1)) AS i) i
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c1, c2, CAST(weight AS BIGINT) AS weight,
             row_number() OVER (ORDER BY weight DESC, c1, c2) AS rnk
      FROM pairs
    )
    SELECT c1, c2, weight, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {BPE_TOP_PAIRS}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer TRAINING: over the corpus's word
    frequency table, count every adjacent character pair weighted by
    word frequency and rank the top merge candidates — exactly the
    statistic the BPE loop greedily merges each round. (Full training
    is a driver loop re-running this stage on the re-segmented vocab;
    one verified iteration is the honest distributed unit — the same
    decomposition Sentencepiece's MR-style trainers use.)

    Plan: the pair counting runs on the VOCABULARY (post word-count
    agg), not the corpus — at 100 TB the vocab is millions of rows
    while the corpus is trillions, so the expensive explode happens
    after the first agg collapses the scale. Top-k is takeOrdered-first
    (parallel partial top-k), then a bounded rank stamp.
    """
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    docs = _docs(spark, sf_dir)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # Spark's split(word, '') appends a trailing '' element (DuckDB's
    # string_split does not) — filter it, and guard 1-char words, whose
    # descending sequence(0, -1) would index out of bounds.
    chars = wf.select(
        "freq", F.filter(F.split("word", ""), lambda c: c != "").alias("cs")
    ).where(F.size("cs") >= 2)
    pairs = chars.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(0, size(cs) - 2), "
                "i -> struct(cs[i] AS c1, cs[i + 1] AS c2))"
            )
        ).alias("p"),
    ).groupBy("p.c1", "p.c2").agg(F.sum("freq").cast("bigint").alias("weight"))
    top = pairs.orderBy(F.desc("weight"), F.asc("c1"), F.asc("c2")).limit(BPE_TOP_PAIRS)
    return with_bounded_rank(
        top, F.desc("weight"), F.asc("c1"), F.asc("c2"), out="rnk"
    ).select("c1", "c2", "weight", "rnk")


@register(
    "token_histogram_zipf",
    oracle="""
    WITH wf AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk FROM wf
    ),
    qs AS (
      SELECT CAST(round(ln(rnk) * 1000000000) AS BIGINT) AS xq,
             CAST(round(ln(cnt) * 1000000000) AS BIGINT) AS yq
      FROM ranked
    ),
    sums AS (
      SELECT count(*) AS n,
             sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
             sum(CAST(xq AS HUGEINT) * CAST(yq AS HUGEINT)) AS sxy,
             sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS sxx
      FROM qs
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / n / 1000000000, 6) AS zipf_intercept
    FROM sums
    """,
)
def token_histogram_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostics of the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) — natural corpora slope ≈ -1, and a
    drifting slope is an early signal of template spam, dedup failures,
    or synthetic contamination in a pretraining mix.

    Exactness discipline for a REGRESSION to hash-match across engines:
    each term's logs are quantized to integer nano-nats (the
    events_user_entropy trick), so Σx, Σy, Σxy, Σx² are
    order-independent exact integer sums (decimal(38,0) in Spark,
    HUGEINT in DuckDB — Σxy reaches ~10²⁵); the two closed-form
    divisions at the end are the only float ops, identical on both
    sides. Rank comes from the two-phase global row_number — the
    vocabulary is corpus-scale, so no single-partition window.
    """
    from minimapreduce_spark.operators.ordered import with_global_row_number

    docs = _docs(spark, sf_dir)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = with_global_row_number(
        wf, [F.desc("cnt"), F.asc("word")], out="rnk"
    )
    dec = "decimal(38,0)"
    qs = ranked.select(
        F.round(F.log("rnk") * 1e9).cast("bigint").cast(dec).alias("xq"),
        F.round(F.log("cnt") * 1e9).cast("bigint").cast(dec).alias("yq"),
    )
    sums = qs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    n = F.col("n").cast(dec)
    slope_num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    slope_den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = slope_num / slope_den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n")
        / 1e9
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# Pair-merge tokenizer TRAINING — BPE, WordPiece and marked WordPiece
# ---------------------------------------------------------------------------
#
# One greedy loop serves three tokenizer families: count adjacent symbol
# pairs over the vocabulary, take the argmax under the (score DESC, c1,
# c2) total order, fold the merge left to right, repeat. Two things vary:
#
# - the score rule: BPE ranks a pair by its weight w; WordPiece
#   (``likelihood``) by round(w·WP_SCORE_SCALE/(f1·f2)), the unigram-model
#   likelihood gain of the merge (Schuster & Nakajima 2012), f1/f2 the
#   symbols' current weighted corpus frequencies;
# - the marking: plain pieces, or (``marked``, the published WordPiece
#   alphabet) every non-initial character prefixed with '##', so "a"
#   word-initial and "##a" mid-word are distinct units with independent
#   frequencies, and a merge keeps c1's marking and drops c2's (always
#   present: a right neighbour is mid-word), writing c1 + c2[2:].
#
# Symbol separator for segmentation strings: words are split on ' ' so
# symbols can never contain a space-split artifact, and chr(31) (ASCII
# unit separator) never occurs in the corpus (filtered defensively
# anyway, mirrored in the oracle). A segmentation is stored as
# "\x1fs1\x1fs2..." — separator BEFORE each symbol — so the merge fold
# can test "last symbol == c1" as endswith(acc, SEP||c1) without ever
# matching a symbol suffix.
BPE_SEP = "\x1f"
BPE_MERGE_ROUNDS = 8
WP_MERGE_ROUNDS = 8
WP_SCORE_SCALE = 10**12  # quantized likelihood-score grid (BIGINT)
WP_WALK_STEPS = 24  # static unroll bound for the serving oracle's greedy walk
WP_MARK = "##"


def _words(docs: DataFrame, *cols: str, marked: bool = False) -> DataFrame:
    """Corpus words the tokenizers train and account on, one row per
    occurrence, with ``cols``: non-empty and free of BPE_SEP; when
    ``marked``, also free of '#', the marking character (a word
    starting with '#' could mint an unmarked piece string-identical to
    a marked one and corrupt the position classes)."""
    word = F.col("word")
    ok = (word != "") & ~F.contains(word, F.lit(BPE_SEP))
    if marked:
        ok &= ~F.contains(word, F.lit("#"))
    return docs.select(*cols, F.explode(F.split("text", " ")).alias("word")).where(ok)


def _words_sql(marked: bool = False, cols: str = "") -> str:
    """The FROM/WHERE clause of ``_words`` over ``documents``."""
    mark = " AND NOT contains(word, '#')" if marked else ""
    return f"""FROM (SELECT {cols}unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> '' AND NOT contains(word, chr(31)){mark}"""


def _word_freqs(docs: DataFrame, marked: bool = False) -> DataFrame:
    """(word, freq): the training vocabulary — the one corpus-scale
    aggregation a tokenizer trainer runs."""
    return _words(docs, marked=marked).groupBy("word").agg(F.count("*").alias("freq"))


def _token_stats(
    spark: SparkSession, sf_dir: str, vt: DataFrame, n_tokens: str, marked: bool = False
) -> DataFrame:
    """Per-source token budget under a trained tokenizer, given ``vt``
    (word, n_tok) over the vocabulary: the corpus contributes only a
    per-(source, word) count broadcast-joined to it (vocab smaller than
    corpus by the Zipf factor; at 100 TB the join key set still fits
    the broadcast budget or falls back to a shuffle join on the same
    plan). Ratios are 6-dp rounds of exact-BIGINT quotients."""
    sw = (
        _words(_docs(spark, sf_dir), "source", marked=marked)
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    chars = F.sum(F.col("cnt") * F.length("word"))
    toks = F.sum(F.col("cnt") * F.col("n_tok"))
    return sw.join(F.broadcast(vt), "word").groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        chars.cast("bigint").alias("n_chars"),
        toks.cast("bigint").alias(n_tokens),
        F.round(chars * 1.0 / toks, 6).alias("chars_per_token"),
        F.round(toks * 1.0 / F.sum("cnt"), 6).alias("tokens_per_word"),
    )


def _token_stats_sql(n_tokens: str, marked: bool = False) -> str:
    """The oracle of ``_token_stats``: the tail of a WITH chain that
    defines ``vt(word, n_tok)``."""
    return f""",
    sw AS MATERIALIZED (
      SELECT source, word, count(*) AS cnt
      {_words_sql(marked, "source, ")}
      GROUP BY 1, 2
    )
    SELECT sw.source AS source,
           CAST(sum(sw.cnt) AS BIGINT)                   AS n_words,
           CAST(sum(sw.cnt * length(sw.word)) AS BIGINT) AS n_chars,
           CAST(sum(sw.cnt * vt.n_tok) AS BIGINT)        AS {n_tokens},
           round(sum(sw.cnt * length(sw.word)) * 1.0
                 / sum(sw.cnt * vt.n_tok), 6)            AS chars_per_token,
           round(sum(sw.cnt * vt.n_tok) * 1.0
                 / sum(sw.cnt), 6)                       AS tokens_per_word
    FROM sw JOIN vt USING (word)
    GROUP BY 1
    """


def _chain_sql(k: int, upto_seg: int, likelihood: bool, marked: bool) -> str:
    """WITH-clause chain for a pair-merge training oracle: word-frequency
    table, initial char segmentation, then per round r: adjacent-pair
    weights (and, for ``likelihood``, the symbol frequencies syms{r})
    -> argmax merge m{r} -> re-segmented seg{r}. ``upto_seg`` controls
    how many re-segmentations are emitted (k-1 suffices for the merge
    table; k for BPE's apply stage). Every multiply-referenced CTE is
    AS MATERIALIZED — the MMR octave's DuckDB CTE-inlining lesson
    (SCALING.md): a greedy chain where hop r references hop r-1
    re-expands exponentially without the hint."""
    mark = WP_MARK if marked else ""
    tail = "substr(m.c2, 3)" if marked else "m.c2"
    parts = [
        f"""
    WITH wf AS MATERIALIZED (
      SELECT word, count(*) AS freq
      {_words_sql(marked)}
      GROUP BY word
    ),
    seg0 AS MATERIALIZED (
      SELECT word, freq,
             chr(31) || list_reduce(string_split(word, ''),
                                    (a, b) -> a || chr(31) || '{mark}' || b) AS seg
      FROM wf
    )"""
    ]
    for r in range(1, k + 1):
        if likelihood:
            syms = f""",
    syms{r} AS MATERIALIZED (
      SELECT s.sym, CAST(sum(freq) AS BIGINT) AS f
      FROM csr{r}, LATERAL (SELECT unnest(cs) AS sym) s
      GROUP BY 1
    )"""
            best = f"""w AS pair_weight,
             CAST(round(CAST(w AS DOUBLE) * {WP_SCORE_SCALE}
                        / (CAST(s1.f AS DOUBLE) * CAST(s2.f AS DOUBLE)))
                  AS BIGINT) AS score_u
      FROM pairs{r}
      JOIN syms{r} s1 ON s1.sym = c1
      JOIN syms{r} s2 ON s2.sym = c2
      ORDER BY score_u DESC"""
        else:
            syms, best = "", f"w AS weight FROM pairs{r} ORDER BY w DESC"
        parts.append(
            f""",
    csr{r} AS MATERIALIZED (
      SELECT string_split(substr(seg, 2), chr(31)) AS cs, freq
      FROM seg{r - 1}
    ){syms},
    pairs{r} AS (
      SELECT cs[i.i] AS c1, cs[i.i + 1] AS c2, CAST(sum(freq) AS BIGINT) AS w
      FROM csr{r},
           LATERAL (SELECT unnest(generate_series(1, len(cs) - 1)) AS i) i
      GROUP BY 1, 2
    ),
    m{r} AS MATERIALIZED (
      SELECT {r} AS rnd, c1, c2, {best}, c1, c2 LIMIT 1
    )"""
        )
        if r <= upto_seg:
            parts.append(
                f""",
    seg{r} AS MATERIALIZED (
      SELECT s.word, s.freq,
             list_reduce(
               list_transform(string_split(substr(s.seg, 2), chr(31)),
                              t -> chr(31) || t),
               (acc, x) -> CASE
                             WHEN ends_with(acc, chr(31) || m.c1)
                              AND x = chr(31) || m.c2
                             THEN acc || {tail}
                             ELSE acc || x
                           END) AS seg
      FROM seg{r - 1} s, m{r} m
    )"""
            )
    return "".join(parts)


def _train_oracle(k: int, likelihood: bool, marked: bool) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, k + 1))
    cols = "pair_weight, score_u" if likelihood else "weight"
    return (
        _chain_sql(k, k - 1, likelihood, marked)
        + f"""
    SELECT CAST(rnd AS INT) AS rnd, c1, c2, {cols}
    FROM ({union}) ORDER BY rnd
    """
    )


def _apply_oracle(k: int, likelihood: bool, marked: bool) -> str:
    """Serving oracle. BPE serves its trained segmentation: vt counts
    the symbols of seg{k}. WordPiece serves GREEDY LONGEST MATCH over
    the trained vocabulary (the alphabet + the k merged pieces) —
    the maximal-munch algorithm BERT's tokenizer runs. Each vocab row
    is a position class (``cont``: matches at pos > 0) and the surface
    it consumes: a marked piece serves only in its class ('##' pieces
    after pos 0, by their unmarked surface; the '#'-word exclusion
    makes LIKE '##%' an unambiguous continuation test), a flat piece
    in both. ``ml`` is the per-(word, pos) greedy matched length, a
    pure join — position-independent, so it is computed set-wise even
    though the walk itself is sequential.

    The walk is UNROLLED to WP_WALK_STEPS static join steps instead of
    a recursive CTE: each greedy step consumes at least one character,
    so max-word-length steps always terminate (the fixture max is 8;
    the unroll carries 3× margin), and — the reason for the shape —
    DuckDB silently evaluates chain-derived CTEs as EMPTY inside a
    recursive CTE's recursive term (measured: a hardcoded vocab
    recursed fine, any vocab referencing the merge chain yielded zero
    matches), so a recursive walk over the trained vocab cannot be
    expressed. A word needing more steps would miss pos = len(word) and
    drop from the join — a visible row-count/hash break, never a
    silent wrong answer."""
    if not likelihood:
        return (
            _chain_sql(k, k, likelihood, marked)
            + f""",
    vt AS MATERIALIZED (
      SELECT word, len(string_split(substr(seg, 2), chr(31))) AS n_tok
      FROM seg{k}
    )"""
            + _token_stats_sql("n_tokens_bpe", marked)
        )
    tail = "substr(c2, 3)" if marked else "c2"
    merged = " UNION ALL ".join(f"SELECT c1, c2 FROM m{r}" for r in range(1, k + 1))
    if marked:
        classes = """SELECT piece LIKE '##%' AS cont,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS surf
      FROM pieces"""
    else:
        classes = "SELECT c.cont, piece AS surf FROM pieces, (VALUES (false), (true)) c(cont)"
    steps = "".join(
        f""",
    s{i} AS MATERIALIZED (
      SELECT s.word, s.pos + ml.l AS pos, s.n + 1 AS n
      FROM s{i - 1} s JOIN ml ON ml.word = s.word AND ml.pos = s.pos
      WHERE s.pos < len(s.word)
    )"""
        for i in range(1, WP_WALK_STEPS + 1)
    )
    allsteps = " UNION ALL ".join(
        f"SELECT word, pos, n FROM s{i}" for i in range(0, WP_WALK_STEPS + 1)
    )
    return (
        _chain_sql(k, k - 1, likelihood, marked)
        + f""",
    pieces AS MATERIALIZED (
      SELECT DISTINCT sym AS piece FROM syms1
      UNION
      SELECT c1 || {tail} FROM ({merged})
    ),
    vocab AS MATERIALIZED (
      {classes}
    ),
    ml AS MATERIALIZED (
      SELECT wf.word, p.pos, max(len(v.surf)) AS l
      FROM wf,
           LATERAL (SELECT unnest(generate_series(0, len(word) - 1)) AS pos) p,
           vocab v
      WHERE v.cont = (p.pos > 0)
        AND v.surf = substr(wf.word, p.pos + 1, len(v.surf))
      GROUP BY 1, 2
    ),
    s0 AS (SELECT word, 0 AS pos, 0 AS n FROM wf){steps},
    vt AS MATERIALIZED (
      SELECT word, n AS n_tok FROM ({allsteps}) WHERE pos = len(word)
    )"""
        + _token_stats_sql("n_tokens_wp", marked)
    )


def _symbols():
    """Column: the symbol list of the current segmentation string."""
    return F.split(
        F.col("seg").substr(F.lit(2), F.length("seg")), BPE_SEP
    )


def _likelihood(w, f1, f2):
    """WordPiece's merge score before rounding, on the WP_SCORE_SCALE
    grid. One expression for the Spark Column (BIGINTs cast to double)
    and the driver-local rounds (Python floats), so both evaluate the
    same doubles in the same order."""
    return w * WP_SCORE_SCALE / (f1 * f2)


def _merge_local(syms: list[str], c1: str, c2: str, tail: str) -> list[str]:
    """Driver-side twin of ``_merge_fold``: apply ONE (c1, c2) merge
    left-to-right over a symbol list, writing c1 + ``tail``. Comparing
    whole symbols (not string suffixes) is exactly what the
    separator-prefixed fold's endswith test computes, so the two
    produce identical segmentations — including the shared-boundary
    repeat case ("a a a a" merges positions 1-2 and 3-4, never the
    overlapping 2-3)."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == c1 and s == c2:
            out[-1] = c1 + tail
        else:
            out.append(s)
    return out


def _merge_fold(cs, c1: str, c2: str, tail: str):
    """Column: apply ONE (c1, c2) merge left-to-right over the symbol
    list, writing c1 + ``tail`` (string replace is WRONG on
    shared-boundary repeats; see bpe_train_merges)."""
    return F.aggregate(
        F.transform(cs, lambda s: F.concat(F.lit(BPE_SEP), s)),
        F.lit(""),
        lambda acc, x: F.when(
            F.endswith(acc, F.lit(BPE_SEP + c1)) & (x == F.lit(BPE_SEP + c2)),
            F.concat(acc, F.lit(tail)),
        ).otherwise(F.concat(acc, x)),
    )


def _pair_train(
    spark: SparkSession, sf_dir: str, k: int, likelihood: bool, marked: bool
):
    """Run k greedy merge rounds; returns (merge_rows, final_seg_df,
    pieces). A merge row is (rnd, c1, c2, w) for BPE and (rnd, c1, c2,
    w, score_u) for WordPiece; pieces is the trained vocabulary (the
    initial alphabet plus the k merged tokens).

    Driver loop carries ONE merge pair per round (the k-means/k-center
    pattern — bounded by contract); all per-round work is vocabulary-
    scale: the corpus is touched exactly once, by the word-frequency
    aggregation."""
    mark = WP_MARK if marked else ""
    chars = F.filter(F.split("word", ""), lambda c: c != "")
    seg = (
        _word_freqs(_docs(spark, sf_dir), marked)
        .select(
            "word",
            "freq",
            F.concat(F.lit(BPE_SEP), F.array_join(chars, BPE_SEP + mark)).alias("seg"),
        )
        .localCheckpoint(eager=False)
    )

    rows = []
    # ADAPTIVE KERNEL DISPATCH (the dedup_clusters_adaptive pattern):
    # the k merge rounds run over the VOCABULARY, and when that frame is
    # small enough to collect (bounded by catalog.DRIVER_LOCAL_ROWS_MAX
    # — the driver-bounded-by-contract rule every tokenizer trainer in
    # practice uses: HF/SentencePiece collect word counts before
    # merging), the greedy loop runs in the driver with the identical
    # integer weights and frequencies, the same score expression, the
    # same total-order argmax and left-to-right fold — bit-identical
    # merges, zero per-round Spark jobs. The fixture's 31-word vocab
    # spent 8 BPE rounds of pure job scheduling on 31 rows (measured:
    # 2.9 s warm → ~0.7 s, one corpus scan + driver arithmetic). Above
    # the threshold the distributed loop below runs — the 100 TB path,
    # where the vocab is millions of rows and per-round jobs are the
    # right shape.
    n_vocab = seg.count()  # one bounded job; materializes the checkpoint
    if n_vocab <= catalog.DRIVER_LOCAL_ROWS_MAX:
        vocab = [
            (row.word, int(row.freq), row.seg.split(BPE_SEP)[1:])
            for row in seg.collect()
        ]
        pieces = {s for _w, _f, syms in vocab for s in syms}
        for r in range(1, k + 1):
            weights: dict[tuple[str, str], int] = {}
            freqs: dict[str, int] = {}
            for _w, freq, syms in vocab:
                for s in syms:
                    freqs[s] = freqs.get(s, 0) + freq
                for pair in zip(syms, syms[1:]):
                    weights[pair] = weights.get(pair, 0) + freq
            if not weights:  # vocab fully merged
                break
            score = weights
            if likelihood:  # the engines round half away from zero
                score = {
                    (c1, c2): math.floor(
                        _likelihood(float(w), float(freqs[c1]), float(freqs[c2])) + 0.5
                    )
                    for (c1, c2), w in weights.items()
                }
            c1, c2 = min(score, key=lambda p: (-score[p], p))
            w = weights[c1, c2]
            rows.append((r, c1, c2, w, score[c1, c2]) if likelihood else (r, c1, c2, w))
            tail = c2[len(mark):]
            pieces.add(c1 + tail)
            vocab = [
                (word, freq, _merge_local(syms, c1, c2, tail))
                for word, freq, syms in vocab
            ]
        seg = spark.createDataFrame(
            [(w, f, "".join(BPE_SEP + s for s in syms)) for w, f, syms in vocab],
            "word string, freq bigint, seg string",
        )
        return rows, seg, sorted(pieces)

    pieces = {
        r.sym
        for r in seg.select(F.explode(_symbols()).alias("sym")).distinct().collect()
    }  # bounded: the (marked) character alphabet
    for r in range(1, k + 1):
        cs = _symbols()
        pairs = (
            seg.where(F.size(cs) >= 2)  # guard descending sequence(0,-1)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(cs) - 2),
                        lambda i: F.struct(
                            F.get(cs, i).alias("c1"),
                            F.get(cs, i + 1).alias("c2"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.c1", "p.c2")
            .agg(F.sum("freq").cast("bigint").alias("w"))
        )
        if likelihood:
            # the bounded symbol-frequency table broadcast onto the pairs
            syms = (
                seg.select("freq", F.explode(cs).alias("sym"))
                .groupBy("sym")
                .agg(F.sum("freq").cast("bigint").alias("f"))
            )
            score = F.round(
                _likelihood(*(F.col(c).cast("double") for c in ("w", "f1", "f2")))
            ).cast("bigint")
            pairs = (
                pairs.join(F.broadcast(syms.withColumnRenamed("sym", "c1")), "c1")
                .withColumnRenamed("f", "f1")
                .join(F.broadcast(syms.withColumnRenamed("sym", "c2")), "c2")
                .withColumnRenamed("f", "f2")
            )
        else:
            score = F.col("w")
        top = (
            pairs.select("c1", "c2", "w", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("c1"), F.asc("c2"))
            .limit(1)
            .collect()  # bounded: 1 row per round
        )
        if not top:  # vocab fully merged — cannot happen at fixture scale
            break
        c1, c2, w, s = top[0]
        rows.append((r, c1, c2, int(w), int(s)) if likelihood else (r, c1, c2, int(w)))
        tail = c2[len(mark):]
        pieces.add(c1 + tail)
        seg = seg.select(
            "word", "freq", _merge_fold(cs, c1, c2, tail).alias("seg")
        ).localCheckpoint(eager=False)  # round r never recomputes 1..r-1
    return rows, seg, sorted(pieces)


def _greedy_token_counts(spark: SparkSession, words: DataFrame, pieces, marked: bool):
    """(word, n_tok) by GREEDY LONGEST MATCH (maximal munch, BERT's
    inference tokenizer): per word, repeatedly take the longest piece
    that prefixes the remaining suffix. A marked vocabulary is
    position-aware — at position 0 only unmarked pieces match, later
    only '##' pieces, by their unmarked surface; a flat vocabulary is
    the same walk with the one piece set at every position. Runs as a
    mapInPandas pass over ``words`` against the broadcast piece sets.
    The walk never strands: serving re-tokenizes the training corpus's
    own vocabulary, so every character occurs in its position class in
    the alphabet (a real deployment adds [UNK] for unseen bytes)."""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    mark = WP_MARK if marked else ""
    init = frozenset(p for p in pieces if not (mark and p.startswith(mark)))
    cont = frozenset(p[len(mark):] for p in pieces if p.startswith(mark))
    bc = spark.sparkContext.broadcast(
        (init, cont, max(map(len, init), default=0), max(map(len, cont), default=0))
    )

    def tokenize(batches):
        import pandas as pd

        init_v, cont_v, mi, mc = bc.value
        for pdf in batches:
            n_toks = []
            for word in pdf["word"]:
                pos, n = 0, 0
                while pos < len(word):
                    vs, cap = (init_v, mi) if pos == 0 else (cont_v, mc)
                    pos += next(
                        (
                            L
                            for L in range(min(cap, len(word) - pos), 0, -1)
                            if word[pos : pos + L] in vs
                        ),
                        1,  # unreachable on the training corpus's vocab
                    )
                    n += 1
                n_toks.append(n)
            yield pd.DataFrame({"word": pdf["word"], "n_tok": n_toks})

    return words.mapInPandas(tokenize, "word string, n_tok long")


def _train_merges(
    spark: SparkSession, sf_dir: str, k: int, likelihood: bool, marked: bool
) -> DataFrame:
    rows, _, _ = _pair_train(spark, sf_dir, k, likelihood, marked)
    weights = "pair_weight bigint, score_u bigint" if likelihood else "weight bigint"
    return spark.createDataFrame(rows, f"rnd int, c1 string, c2 string, {weights}")


def _apply_token_stats(
    spark: SparkSession, sf_dir: str, k: int, likelihood: bool, marked: bool
) -> DataFrame:
    """Per-source token budget under the trained tokenizer. BPE serves
    its trained segmentation; WordPiece serves greedy longest match
    over its trained pieces. Either way tokenization runs on the
    VOCABULARY (the trainer's distinct words), never the corpus."""
    _, seg, pieces = _pair_train(spark, sf_dir, k, likelihood, marked)
    if likelihood:
        vt = _greedy_token_counts(spark, seg.select("word"), pieces, marked)
    else:
        vt = seg.select("word", F.size(_symbols()).alias("n_tok"))
    n_tokens = "n_tokens_wp" if likelihood else "n_tokens_bpe"
    return _token_stats(spark, sf_dir, vt, n_tokens, marked)


@register(
    "bpe_train_merges",
    oracle=_train_oracle(BPE_MERGE_ROUNDS, likelihood=False, marked=False),
    bench=True,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training — the iterative greedy merge loop,
    not just one statistic: k rounds of (count adjacent symbol pairs
    over the vocabulary, weighted by word frequency) -> (merge the
    argmax pair everywhere) -> repeat on the re-segmented vocab. The
    output is the learned merge table (rnd, c1, c2, weight) — the
    tokenizer itself, in training order. `bpe_merge_candidates` ledgered
    ONE iteration; this is the loop that makes it a trained artifact —
    the text twin of `embedding_kmeans_lloyd`'s Lloyd rounds.

    Exactness: weights are BIGINT sums of word frequencies; the argmax
    tie-breaks (weight DESC, c1, c2) — a total order, so every round is
    integer-identical cross-engine and the whole k-round trajectory
    hash-matches DuckDB replaying the same chain. Merge application is
    a left-to-right fold over the symbol list (string replace is WRONG
    here: on shared-boundary repeats like "a a a a" a sentinel-delimited
    replace skips every second merge site), with the segmentation kept
    as a separator-prefixed string so "last symbol == c1" is a pure
    endswith test that can never match a symbol suffix.

    Scale posture: the corpus is read ONCE (the word-frequency agg —
    at 100 TB this is the wordcount shuffle and nothing more); every
    round after runs on the VOCABULARY (millions of rows vs trillions),
    per-round driver traffic is one merge pair, and each round's frame
    is lineage-checkpointed so round r never replays rounds 1..r-1."""
    return _train_merges(spark, sf_dir, BPE_MERGE_ROUNDS, likelihood=False, marked=False)


@register(
    "bpe_apply_token_stats",
    oracle=_apply_oracle(BPE_MERGE_ROUNDS, likelihood=False, marked=False),
)
def bpe_apply_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving path of the trained BPE tokenizer: apply the k learned
    merges and report per-source corpus token accounting — token count
    under the trained segmentation, chars-per-token (the compression
    the tokenizer buys), and tokens-per-word. The pretraining-budget
    question ("how many tokens is this source under OUR tokenizer?")
    answered in-engine, with the tokenizer trained in the same plan.

    The trick that makes serving cheap: tokenization is applied to the
    VOCABULARY (distinct words), never the corpus — the corpus touches
    only a per-(source, word) count and a broadcast join against the
    segmented vocab (`_token_stats`)."""
    return _apply_token_stats(
        spark, sf_dir, BPE_MERGE_ROUNDS, likelihood=False, marked=False
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (SentencePiece / Kudo 2018, hard-EM variant)
# ---------------------------------------------------------------------------

UNI_MAX_PIECE = 4  # candidate pieces: substrings up to this length
UNI_SEED_MULTI = 48  # multi-char seeds kept (plus ALL single chars)
UNI_EM_ROUNDS = 2
UNI_LP_SCALE = 10**6  # quantized log-prob grid (BIGINT millionths)

_UNI_WF_SQL = f"""
    wf AS MATERIALIZED (
      SELECT word, count(*) AS freq
      {_words_sql()}
      GROUP BY 1
    ),
    pw AS MATERIALIZED (
      SELECT word, i.i, l.l, substr(word, i.i, l.l) AS piece
      FROM wf,
           LATERAL (SELECT unnest(generate_series(1, len(word))) AS i) i,
           LATERAL (SELECT unnest(generate_series(1, {UNI_MAX_PIECE})) AS l) l
      WHERE i.i + l.l - 1 <= len(word)
    ),
    pf AS MATERIALIZED (
      SELECT p.piece, sum(w.freq) AS pfreq
      FROM pw p JOIN wf w USING (word) GROUP BY 1
    ),
    v0 AS MATERIALIZED (
      SELECT piece, pfreq FROM pf WHERE len(piece) = 1
      UNION ALL
      SELECT piece, pfreq FROM (
        SELECT piece, pfreq,
               row_number() OVER (ORDER BY pfreq DESC, piece) AS rn
        FROM pf WHERE len(piece) > 1
      ) WHERE rn <= {UNI_SEED_MULTI}
    ),
    lp0 AS MATERIALIZED (
      SELECT piece,
             CAST(round(ln(pfreq * 1.0 / (SELECT sum(pfreq) FROM v0))
                        * {UNI_LP_SCALE}) AS BIGINT) AS lp
      FROM v0
    )
"""


def _uni_em_round_sql(r: int) -> str:
    """One hard-EM round as SQL: enumerate EVERY segmentation of every
    word over the current vocab by a recursive path walk (bounded by
    piece length 4 and word length — the oracle pays the
    exponential so the engine's DP can be checked against a ground
    truth that provably considered all paths), pick the per-word argmax
    with the total-order tie-break (score DESC, then the segmentation
    string ASC — chr(31) sorts below every letter), then re-estimate
    Laplace-smoothed piece log-probs from the winning segmentations."""
    prev = f"lp{r - 1}"
    return f""",
    paths{r}(word, pos, score, seg) AS (
      SELECT word, 0, CAST(0 AS BIGINT), '' FROM wf
      UNION ALL
      SELECT p.word, p.pos + e.l, p.score + lp.lp,
             p.seg || chr(31) || e.piece
      FROM paths{r} p
      JOIN pw e ON e.word = p.word AND e.i = p.pos + 1
      JOIN {prev} lp ON lp.piece = e.piece
    ),
    best{r} AS MATERIALIZED (
      SELECT word, seg FROM (
        SELECT word, seg,
               row_number() OVER (
                 PARTITION BY word ORDER BY score DESC, seg
               ) AS rn
        FROM paths{r} p WHERE pos = len(word)
      ) WHERE rn = 1
    ),
    cnt{r} AS MATERIALIZED (
      SELECT piece, sum(freq) AS c FROM (
        SELECT b.word,
               unnest(list_transform(string_split(substr(b.seg, 2), chr(31)),
                                     t -> t)) AS piece
        FROM best{r} b
      ) s JOIN wf USING (word) JOIN v0 USING (piece)
      GROUP BY 1
    ),
    lp{r} AS MATERIALIZED (
      SELECT v0.piece,
             COALESCE(cnt{r}.c, 0) AS c,
             CAST(round(ln((COALESCE(cnt{r}.c, 0) + 1) * 1.0
                           / ((SELECT sum(c) FROM cnt{r})
                              + (SELECT count(*) FROM v0)))
                        * {UNI_LP_SCALE}) AS BIGINT) AS lp
      FROM v0 LEFT JOIN cnt{r} ON v0.piece = cnt{r}.piece
    )"""


def _uni_train_oracle() -> str:
    rounds = "".join(_uni_em_round_sql(r) for r in range(1, UNI_EM_ROUNDS + 1))
    return (
        "WITH RECURSIVE " + _UNI_WF_SQL.strip() + rounds + """
    SELECT v0.piece,
           CAST(len(v0.piece) AS INT) AS plen,
           CAST(v0.pfreq AS BIGINT) AS seed_cnt,
           CAST(lp1.c AS BIGINT) AS cnt_r1,
           CAST(lp2.c AS BIGINT) AS cnt_r2,
           lp2.lp AS lp_final
    FROM v0
    JOIN lp1 ON v0.piece = lp1.piece
    JOIN lp2 ON v0.piece = lp2.piece
    """
    )


def _uni_viterbi_batches(lp_bc, max_piece: int):
    """mapInPandas kernel: exact-integer Viterbi over quantized BIGINT
    log-probs with the path-lexicographic tie-break (max score, then
    lexicographically smallest segmentation string — valid as a DP
    because the suffix appended to two equal-score prefixes is
    identical, so prefix order decides full-string order)."""

    def run(batches):
        import pandas as pd

        lp = lp_bc.value
        sep = "\x1f"
        for pdf in batches:
            segs = []
            for word in pdf["word"]:
                n = len(word)
                best: list = [None] * (n + 1)
                best[0] = (0, "")
                for j in range(1, n + 1):
                    cand = None
                    for L in range(1, min(max_piece, j) + 1):
                        piece = word[j - L : j]
                        v = lp.get(piece)
                        if v is None or best[j - L] is None:
                            continue
                        s = best[j - L][0] + v
                        t = best[j - L][1] + sep + piece
                        if (
                            cand is None
                            or s > cand[0]
                            or (s == cand[0] and t < cand[1])
                        ):
                            cand = (s, t)
                    best[j] = cand
                segs.append(best[n][1])
            yield pd.DataFrame(
                {"word": pdf["word"], "freq": pdf["freq"], "seg": segs}
            )

    return run


def _uni_train(spark: SparkSession, sf_dir: str):
    """Shared hard-EM training core: returns (wf, v0, per-round count
    frames, final lp frame) — consumed by the train query (piece table)
    and the apply query (a final Viterbi pass under the trained lp)."""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()

    # corpus touched once; reused per round
    wf = _word_freqs(_docs(spark, sf_dir)).localCheckpoint(eager=False)
    pw = (
        wf.select("word", F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"))
        .select("word", "i", F.explode(F.sequence(F.lit(1), F.lit(UNI_MAX_PIECE))).alias("l"))
        .where(F.col("i") + F.col("l") - 1 <= F.length("word"))
        .select("word", F.col("word").substr(F.col("i"), F.col("l")).alias("piece"))
    )
    pf = pw.join(wf, "word").groupBy("piece").agg(F.sum("freq").alias("pfreq"))
    singles = pf.where(F.length("piece") == 1)
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    multis = (
        with_bounded_rank(
            pf.where(F.length("piece") > 1),
            F.desc("pfreq"),
            F.asc("piece"),
            out="rn",
        )
        .where(F.col("rn") <= UNI_SEED_MULTI)
        .drop("rn")
    )
    v0 = singles.unionByName(multis).localCheckpoint(eager=False)
    tot0 = v0.agg(F.sum("pfreq").alias("t"))
    lp = (
        v0.crossJoin(F.broadcast(tot0))
        .select(
            "piece",
            F.round(F.log(F.col("pfreq") * 1.0 / F.col("t")) * UNI_LP_SCALE)
            .cast("bigint")
            .alias("lp"),
        )
    )

    n_vocab = v0.count()  # bounded: ≤ |chars| + UNI_SEED_MULTI
    counts = []
    for _ in range(UNI_EM_ROUNDS):
        seg = _uni_segment(spark, wf, lp)
        cnt = (
            seg.select(
                "freq",
                F.explode(
                    F.split(F.col("seg").substr(F.lit(2), F.length("seg")), BPE_SEP)
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("c"))
            .join(v0.select("piece"), "piece")  # guard: vocab pieces only
        )
        cnt = (
            v0.select("piece")
            .join(cnt, "piece", "left")
            .select("piece", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
            .localCheckpoint(eager=False)
        )
        counts.append(cnt)
        ctot = cnt.agg(F.sum("c").alias("ct"))
        lp = (
            cnt.crossJoin(F.broadcast(ctot))
            .select(
                "piece",
                F.round(
                    F.log((F.col("c") + 1) * 1.0 / (F.col("ct") + F.lit(n_vocab)))
                    * UNI_LP_SCALE
                )
                .cast("bigint")
                .alias("lp"),
            )
        )
    return wf, v0, counts, lp


def _uni_segment(spark: SparkSession, wf: DataFrame, lp: DataFrame) -> DataFrame:
    """(word, freq, seg): one Viterbi E-step pass — the ≤vocab-sized lp
    table collected (bounded by contract), broadcast, and applied in
    Arrow batches."""
    lp_map = {r.piece: int(r.lp) for r in lp.collect()}  # bounded
    lp_bc = spark.sparkContext.broadcast(lp_map)
    return wf.mapInPandas(
        _uni_viterbi_batches(lp_bc, UNI_MAX_PIECE),
        "word string, freq long, seg string",
    )


@register("unigram_train_pieces", oracle=_uni_train_oracle(), bench=True)
def unigram_train_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece algorithm, Kudo
    2018) in its hard-EM form — the second in-engine-trained tokenizer,
    next to the greedy bottom-up `bpe_train_merges`: seed a candidate
    vocabulary from substring statistics, then alternate (E) Viterbi
    segmentation of every word under the current piece log-probs with
    (M) re-estimating Laplace-smoothed piece probabilities from the
    winning segmentations, for 2 rounds. Output: every
    vocab piece with its seed count, per-round hard counts, and final
    quantized log-prob.

    Exactness: log-probs are quantized ONCE per (piece, round) as
    round(ln(p)·10⁶) BIGINT — computed by the ENGINE's ln on each side
    (the TF-IDF/BM25 quantize-once discipline) — after which the whole
    Viterbi objective is exact integer addition, and the per-word
    argmax carries a total-order tie-break: max score, then the
    lexicographically smallest segmentation string (chr(31) sorts
    below every letter, and prefix order decides full-string order
    because equal-score prefixes share their optimal suffix — the DP
    invariant the docstring of `_uni_viterbi_batches` states). The
    DuckDB oracle does NOT replay the DP: it enumerates EVERY
    segmentation of every word by a recursive path walk and takes the
    same argmax — an independent ground truth that provably considered
    all paths (bounded: pieces ≤ 4 chars, vocabulary
    words ≤ ~12 chars → ≤ ~2k paths/word).

    Scale posture: the corpus is touched ONCE (the word-frequency
    aggregation — identical posture to BPE training); everything after
    is vocabulary-scale. The E-step ships the ≤48+|chars|
    piece table as an explicit broadcast and runs the per-word DP in
    Arrow batches (`mapInPandas` — the per-group-sequential-algorithm
    pattern); the M-step is one combinable agg over exploded
    segmentations. Driver loop = 2 bounded rounds, the
    k-means/BPE pattern. No reference analog (closest: the wc app's
    word counting, mrapps/wc.go:21-44).
    """
    wf, v0, counts, lp = _uni_train(spark, sf_dir)

    c1 = counts[0].select("piece", F.col("c").alias("cnt_r1"))
    c2 = counts[1].select("piece", F.col("c").alias("cnt_r2"))
    return (
        v0.join(c1, "piece")
        .join(c2, "piece")
        .join(lp, "piece")
        .select(
            "piece",
            F.length("piece").cast("int").alias("plen"),
            F.col("pfreq").cast("bigint").alias("seed_cnt"),
            F.col("cnt_r1").cast("bigint").alias("cnt_r1"),
            F.col("cnt_r2").cast("bigint").alias("cnt_r2"),
            F.col("lp").cast("bigint").alias("lp_final"),
        )
    )


def _uni_apply_oracle() -> str:
    rounds = "".join(_uni_em_round_sql(r) for r in range(1, UNI_EM_ROUNDS + 1))
    final = UNI_EM_ROUNDS + 1
    return (
        "WITH RECURSIVE " + _UNI_WF_SQL.strip() + rounds + f""",
    paths{final}(word, pos, score, seg) AS (
      SELECT word, 0, CAST(0 AS BIGINT), '' FROM wf
      UNION ALL
      SELECT p.word, p.pos + e.l, p.score + lp.lp,
             p.seg || chr(31) || e.piece
      FROM paths{final} p
      JOIN pw e ON e.word = p.word AND e.i = p.pos + 1
      JOIN lp{UNI_EM_ROUNDS} lp ON lp.piece = e.piece
    ),
    best{final} AS MATERIALIZED (
      SELECT word, seg FROM (
        SELECT word, seg,
               row_number() OVER (
                 PARTITION BY word ORDER BY score DESC, seg
               ) AS rn
        FROM paths{final} p WHERE pos = len(word)
      ) WHERE rn = 1
    ),
    vt AS MATERIALIZED (
      SELECT word, len(string_split(substr(seg, 2), chr(31))) AS n_tok
      FROM best{final}
    )"""
        + _token_stats_sql("n_tokens_uni")
    )


@register("unigram_apply_token_stats", oracle=_uni_apply_oracle())
def unigram_apply_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram tokenizer's SERVING path, mirroring
    `bpe_apply_token_stats`: train (2 hard-EM rounds),
    then segment the VOCABULARY once more under the final piece
    log-probs (a third Viterbi pass — the trained model applied), and
    join the per-word token counts against per-(source, word)
    frequencies for per-source token budgets. The two tokenizer
    families produce comparable frames (n_tokens_bpe vs n_tokens_uni)
    — the compression trade a data pipeline actually evaluates.

    Scale posture identical to the BPE twin: the corpus is read exactly
    once per corpus-touching aggregation (word frequencies for
    training, (source, word) counts for serving); every other stage is
    vocabulary-scale, and the trained piece table broadcasts."""
    wf, v0, counts, lp = _uni_train(spark, sf_dir)
    seg = _uni_segment(spark, wf, lp)
    vt = seg.select("word", F.size(_symbols()).alias("n_tok"))
    return _token_stats(spark, sf_dir, vt, "n_tokens_uni")


# ---------------------------------------------------------------------------
# WordPiece tokenizer training (Schuster & Nakajima 2012; BERT's tokenizer)
# ---------------------------------------------------------------------------


@register(
    "wordpiece_train_merges",
    oracle=_train_oracle(WP_MERGE_ROUNDS, likelihood=True, marked=False),
)
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORDPIECE tokenizer training — the third published tokenizer
    family trained in-engine, completing the set next to greedy
    frequency-merge BPE (`bpe_train_merges`) and hard-EM unigram-LM
    (`unigram_train_pieces`): k rounds of (count adjacent symbol pairs
    AND current symbol frequencies over the vocabulary) → merge the
    pair maximizing the LIKELIHOOD score w/(f1·f2) — not BPE's raw w —
    → re-segment. The score is the unigram-model likelihood gain of
    the merge (Schuster & Nakajima 2012 §III: "choose the unit pair
    that increases the likelihood the most"), which is why WordPiece
    prefers a moderately-frequent pair of RARE symbols over a frequent
    pair of ubiquitous ones — the trajectory-divergence pytest plants
    exactly that corpus and checks both trainers' choices. This variant
    trains on ONE flat alphabet (word-initial and mid-word occurrences
    of a character share a symbol); the published position-marked form
    is `wordpiece_train_marked`.

    Exactness: pair weights and symbol frequencies are BIGINT sums;
    the score quantizes once per candidate as
    round(w·10¹²/(f1·f2)) — ONE double expression from three BIGINTs,
    identically parenthesized cross-engine (`_likelihood`) — and the
    argmax tie-breaks (score_u DESC, c1, c2), a total order, so the
    whole k-round trajectory hash-matches DuckDB replaying the same
    chain.

    Scale posture: BPE's loop and dispatch (`_pair_train`) — the corpus
    is read ONCE (the word-frequency shuffle); the rounds run in the
    driver when the vocabulary fits catalog.DRIVER_LOCAL_ROWS_MAX, and
    otherwise as vocabulary-scale Spark rounds with the bounded
    symbol-frequency table broadcast onto the pair frame, one merge
    pair of driver traffic and one lineage checkpoint per round. No
    reference analog (the closest reference surface is wc's tokenize
    loop, mrapps/wc.go:21-44)."""
    return _train_merges(spark, sf_dir, WP_MERGE_ROUNDS, likelihood=True, marked=False)


@register(
    "wordpiece_apply_token_stats",
    oracle=_apply_oracle(WP_MERGE_ROUNDS, likelihood=True, marked=False),
)
def wordpiece_apply_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving path of the trained WordPiece tokenizer — GREEDY
    LONGEST-MATCH (maximal munch), the algorithm BERT's tokenizer runs
    at inference and the published WordPiece serving rule: per word,
    repeatedly emit the longest vocabulary piece that prefixes the
    remaining suffix (vocab = the character alphabet + the k trained
    merges, so the walk never strands). Position-BLIND over the flat
    vocab — the position-aware published form (unmarked pieces at
    position 0, '##' pieces after) is `wordpiece_apply_marked_stats`.
    Reports per-source corpus token accounting under that segmentation
    — the same budget readout as the BPE/unigram apply twins, so the
    three tokenizer families are directly comparable on
    chars-per-token over the same corpus.

    Tokenization runs on the VOCABULARY (distinct words) via one
    mapInPandas greedy matcher against the broadcast trained pieces
    (`_greedy_token_counts`); the corpus contributes only a
    per-(source, word) count joined against it. The oracle replays
    maximal munch as a statically unrolled walk — one successor per
    (word, pos) — so the greedy semantics, not just the counts, are
    cross-checked."""
    return _apply_token_stats(
        spark, sf_dir, WP_MERGE_ROUNDS, likelihood=True, marked=False
    )


@register(
    "wordpiece_train_marked",
    oracle=_train_oracle(WP_MERGE_ROUNDS, likelihood=True, marked=True),
)
def wordpiece_train_marked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece training with POSITION-MARKED continuation symbols —
    the published algorithm's full fidelity (Schuster & Nakajima 2012;
    the BERT tokenizer's trainer), closing the one documented gap in
    the unmarked `wordpiece_train_merges`: there, word-initial and
    mid-word occurrences of a character share one symbol; here "a" and
    "##a" are DISTINCT vocabulary units with independent corpus
    frequencies, so the likelihood argmax w/(f1·f2) prices them
    separately — a pair frequent only mid-word no longer borrows
    word-initial mass (and vice versa). Merges keep the left symbol's
    marking and strip the right's ('##' by construction): ("##i",
    "##ng") → "##ing", ("k", "##i") → "ki".

    Exactness: identical discipline to the unmarked twin — BIGINT pair
    weights and symbol frequencies, ONE double expression
    round(w·10¹²/(f1·f2)) per candidate, (score_u DESC, c1, c2) total
    order — so the k-round trajectory hash-matches DuckDB replaying the
    same chain. Words containing '#' are excluded on both engines: '#'
    is the marking character, and an unmarked piece starting with '#'
    would be indistinguishable from a marked one.

    Scale posture: unchanged from the twin; the marked alphabet is ≤2×
    the raw one — a constant factor on bounded frames."""
    return _train_merges(spark, sf_dir, WP_MERGE_ROUNDS, likelihood=True, marked=True)


@register(
    "wordpiece_apply_marked_stats",
    oracle=_apply_oracle(WP_MERGE_ROUNDS, likelihood=True, marked=True),
)
def wordpiece_apply_marked_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving path of the MARKED WordPiece vocabulary — position-aware
    greedy longest match, exactly BERT's inference tokenizer: at word
    position 0 only unmarked pieces are candidates; at every later
    position only '##' continuation pieces are, consuming their
    unmarked surface. The same surface string therefore tokenizes
    differently word-initial vs mid-word (vocab "##ing" does not let
    the word "ing" tokenize as one piece — the position pytest plants
    exactly that), which the unmarked twin `wordpiece_apply_token_stats`
    cannot express. Reports the same per-source token accounting as the
    other tokenizer-family apply queries, so marked WordPiece is
    directly comparable on chars-per-token over the same corpus.

    Same server and oracle walk as the unmarked twin, with the position
    classes enforced (`_greedy_token_counts`, `_apply_oracle`)."""
    return _apply_token_stats(spark, sf_dir, WP_MERGE_ROUNDS, likelihood=True, marked=True)
