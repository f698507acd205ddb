"""Training-data pipeline operators (north-star surface).

What a 100 TB LLM-data pipeline needs beyond queries: deterministic
dataset splitting, stratified sampling, PII scrubbing, repetition-based
quality filtering (Gopher-rule style), dimension upserts (MERGE INTO
semantics), exact percentile profiling, and histogram profiling. The
reference engine (Go MapReduce) could express each only as a bespoke
mapf/reducef pair (mr/worker.go:55-157); here each is a declarative
plan over the `documents` / `orders` / `customer` tables.

Determinism and portability notes:

- Splits and samples use a *portable content hash*: the first hex chars
  of md5(key) compared lexicographically. Spark and DuckDB both emit
  lowercase-hex md5, so assignment is reproducible across engines,
  across runs, and across cluster sizes — the property a training
  pipeline needs so that re-running a 100 TB split never migrates a
  document between train and test. (Same trick as dedup_simhash's
  portable token hash.)
- Monetary sums use the exact scaled-integer trick (see
  tpch_rest._exact_sum) so upsert outputs hash-match bit-for-bit.
- Quality ratios are integer/integer divisions — bit-identical in both
  engines, so threshold flags never flip.

Scale posture: every operator is a pure per-row projection or a
single-key aggregation — no driver-side state, no collect(); the md5
split/sample predicates push into the scan stage and the PII scrub is
whole-stage-codegen'd JVM regex, not a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _hash2(col):
    """First two hex chars of md5(key) — a uniform 0..255 bucket that
    both engines compute identically (lowercase hex in Spark and
    DuckDB)."""
    return F.substring(F.md5(col.cast("string")), 1, 2)


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------


@register(
    "split_train_test",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by content-key
    hash (md5 of doc_id): 'cd' = 205/256 ≈ 80.1 %, 'e6' = 230/256 ≈
    89.8 %. Pure projection — no shuffle, assignment is stable under
    any partitioning or cluster size."""
    h = _hash2(F.col("doc_id"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test").alias("split"),
    )


def _leakage_split_oracle() -> str:
    from minimapreduce_spark.operators.dedup import _CLUSTER_ORACLE

    return (
        """
    WITH cc AS ("""
        + _CLUSTER_ORACLE
        + """
    ),
    g AS (
      SELECT d.doc_id, d.lang, coalesce(cc.cluster_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
    )
    SELECT doc_id, lang, group_id,
           CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """
    )


@register("split_leakage_safe", oracle=_leakage_split_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash-split by NEAR-DUP
    CLUSTER, not by document. `split_train_test` hashes each doc_id
    independently, so the two sides of a near-duplicate pair land in
    different splits ~1/3 of the time — the canonical eval-
    contamination leak (a test doc whose near-copy was trained on).
    Here every doc inherits its dedup cluster's id (`dedup_clusters`'
    min-label connected component over the Jaccard ≥ 0.8 pair graph;
    singletons fall back to their own doc_id via a left join), and the
    80/10/10 hash CASE is applied to that group id — so a whole
    near-dup cluster moves between splits as one unit, structurally:
    split is a pure function of group_id. The planted-pair pytest
    shows the capability is not vacuous (clusters exist whose members
    the per-doc split DOES separate).

    Scale posture: the split itself is the same zero-shuffle hash
    projection as `split_train_test`; the cluster labels come from the
    dedup pass a 100 TB pipeline has already run (content-grouped,
    banded, candidate-bounded — see dedup.py), plus one shuffle join
    docs⋈labels on doc_id. The left join keeps singleton docs (the
    overwhelming majority) flowing through untouched — at cluster
    scale the label side is only the docs that participate in some
    near-dup component."""
    from minimapreduce_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    g = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
    )
    h = _hash2(F.col("group_id"))
    return g.select(
        "doc_id",
        "lang",
        "group_id",
        F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test").alias("split"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '1a' ELSE '4d' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: down-sample the dominant
    stratum ('en' ≈ 10 %, '1a' = 26/256) and keep more of the rare ones
    (≈ 30 %, '4d' = 77/256) — the language-rebalancing step of a
    pretraining mix. The hash predicate evaluates in the scan stage;
    no shuffle, no RNG state."""
    h = _hash2(F.col("doc_id"))
    thresh = F.when(F.col("lang") == "en", "1a").otherwise("4d")
    return (
        _t(spark, sf_dir, "documents")
        .where(h < thresh)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\d{3}[-.]\d{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM (
      SELECT doc_id,
             'reach user' || CAST(doc_id AS VARCHAR) || '@mail' ||
             CAST(doc_id % 7 AS VARCHAR) || '.example.com or 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' ||
             substr(text, 1, 40) AS contact
      FROM documents
    )
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as a codegen'd regex projection: emails and
    phone-shaped tokens replaced with typed placeholders. The corpus
    itself contains no PII, so a deterministic contact line is
    synthesized per doc — the operator under test is the scrub chain
    (JVM regexp_replace, global replacement), which at 100 TB runs
    entirely inside whole-stage codegen with zero Python."""
    docs = _t(spark, sf_dir, "documents")
    contact = F.concat(
        F.lit("reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(contact, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select("doc_id", scrubbed.alias("scrubbed"))


# ---------------------------------------------------------------------------
# Gopher-style repetition quality filter
# ---------------------------------------------------------------------------


@register(
    "text_quality_repetition",
    oracle="""
    SELECT doc_id,
           n_words,
           n_distinct,
           n_distinct / CAST(n_words AS DOUBLE)  AS distinct_ratio,
           top_cnt    / CAST(n_words AS DOUBLE)  AS top_word_share,
           (n_distinct / CAST(n_words AS DOUBLE) >= 0.3
            AND top_cnt / CAST(n_words AS DOUBLE) <= 0.12) AS keep
    FROM (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT)  AS n_words,
             CAST(count(*) AS BIGINT)  AS n_distinct,
             CAST(max(cnt) AS BIGINT)  AS top_cnt
      FROM (
        SELECT doc_id, word, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word
      )
      GROUP BY doc_id
    )
    """,
    bench=True,
)
def text_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule-style repetition filter: drop documents whose
    vocabulary is too repetitive (low distinct-word ratio) or dominated
    by a single token (high top-word share). Two aggs that both
    hash-partition on doc_id — AQE coalesces them into one exchange;
    the ratios are int/int divisions so the keep flag is bit-stable
    across engines. Complements text_quality_score (length/punct/
    stopword heuristics) with the repetition dimension."""
    docs = _t(spark, sf_dir, "documents")
    per_word = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = per_word.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_words").cast("double")
    top_share = F.col("top_cnt") / F.col("n_words").cast("double")
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_distinct",
        distinct_ratio.alias("distinct_ratio"),
        top_share.alias("top_word_share"),
        ((distinct_ratio >= 0.3) & (top_share <= 0.12)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO (upsert) semantics
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_customers",
    oracle="""
    WITH updates AS (
      SELECT o_custkey AS u_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS spend
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      GROUP BY o_custkey
    ),
    source AS (
      SELECT u_custkey, spend FROM updates
      UNION ALL
      SELECT u_custkey + 1000000, spend FROM updates WHERE u_custkey % 100 = 0
    )
    SELECT coalesce(c_custkey, u_custkey)    AS custkey,
           coalesce(c_name, 'NEW')           AS name,
           coalesce(c_acctbal, 0.0) + coalesce(spend, 0.0) AS balance,
           CASE WHEN c_custkey IS NULL THEN 'insert'
                WHEN u_custkey IS NULL THEN 'keep'
                ELSE 'update' END            AS action
    FROM customer
    FULL OUTER JOIN source ON c_custkey = u_custkey
    """,
    bench=True,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: WHEN MATCHED →
    update (balance += recent spend), WHEN NOT MATCHED → insert (the
    synthetic u_custkey+1000000 rows), WHEN NOT MATCHED BY SOURCE →
    keep. Expressed as one full-outer shuffle join on the key — the
    same plan Delta/Iceberg MERGE lowers to — with exact-cents spend
    sums so balances hash-match bit-for-bit."""
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    updates = orders.groupBy(F.col("o_custkey").alias("u_custkey")).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("spend")
    )
    # Emit the synthetic insert keys by exploding 1-or-2 structs per
    # update row instead of a UNION of two branches: Catalyst does not
    # share subplans across union branches, so the union form would
    # scan + aggregate orders TWICE.
    row = F.struct(F.col("u_custkey"), F.col("spend"))
    extra = F.struct(
        (F.col("u_custkey") + 1000000).alias("u_custkey"), F.col("spend")
    )
    source = (
        updates.select(
            F.explode(
                F.when(F.col("u_custkey") % 100 == 0, F.array(row, extra)).otherwise(
                    F.array(row)
                )
            ).alias("r")
        )
        .select("r.u_custkey", "r.spend")
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(source, cust.c_custkey == source.u_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "u_custkey").alias("custkey"),
            F.coalesce("c_name", F.lit("NEW")).alias("name"),
            (
                F.coalesce("c_acctbal", F.lit(0.0)) + F.coalesce("spend", F.lit(0.0))
            ).alias("balance"),
            F.when(F.col("c_custkey").isNull(), "insert")
            .when(F.col("u_custkey").isNull(), "keep")
            .otherwise("update")
            .alias("action"),
        )
    )


@register(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_type, ts, event_id, value
    FROM (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-version-per-key dedup: of all events a user emitted
    of a given type, retain only the most recent (ties broken by
    event_id so the winner is deterministic). The CDC-compaction /
    snapshot-from-changelog primitive — distinct from merge_upsert
    (which folds a delta into a base) and from dedup_exact (which keys
    on content).

    row_number over (key ORDER BY ts DESC) + rn=1 filter is one shuffle
    on the key and streams each group without materializing it; at
    100 TB this beats groupBy(max(ts)) + self-join (two shuffles and a
    join) and is skew-safe to the size of the largest single key group.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Profiling: exact percentiles + histogram
# ---------------------------------------------------------------------------


@register(
    "percentile_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (type-7 linear interpolation — the
    same definition as DuckDB's quantile_cont) per group. l_quantity is
    integer-valued, so the interpolated quartiles are exact binary
    fractions and bit-identical across engines. The scale path for
    100 TB is agg_approx_sketch's approx_percentile; this is the exact
    profiling twin."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25D)").alias("p25"),
            F.expr("percentile(l_quantity, 0.50D)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75D)").alias("p75"),
        )
    )


@register(
    "histogram_order_prices",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           count(*)             AS cnt,
           min(o_totalprice)    AS lo,
           max(o_totalprice)    AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram profile of order totals (25 k buckets over
    the ~[1 k, 500 k] price range). The bucket id is floor of the same
    double division in both engines, so edge values never straddle
    bins; min/max are comparison-only (no summation drift). One
    map-side-combinable agg on a ~20-value key."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 25000.0).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Document chunking (rows-out > rows-in)
# ---------------------------------------------------------------------------

CHUNK_WORDS = 32
CHUNK_STRIDE = 24  # 8-word overlap between consecutive chunks


@register(
    "doc_chunks",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    starts AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws), {CHUNK_STRIDE})) AS start
      FROM words
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(ws[start : start + {CHUNK_WORDS} - 1]) AS BIGINT) AS n_words,
           array_to_string(ws[start : start + {CHUNK_WORDS} - 1], ' ') AS chunk_text
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the tokenize-and-pack step of
    a pretraining pipeline: 32-word chunks every 24 words (8-word
    overlap), final partial chunk kept. One row in → ~n_words/stride
    rows out via sequence + explode + slice, all codegen'd array ops;
    no shuffle, no Python, memory bounded per row (never materializes
    the cross product of a doc with its chunks)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return (
        docs.select("doc_id", words.alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("ws"), F.lit(CHUNK_STRIDE))
            ).alias("start"),
            "ws",
        )
        .select(
            "doc_id",
            F.floor((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(F.slice("ws", F.col("start"), CHUNK_WORDS)).cast("bigint").alias("n_words"),
            F.array_join(F.slice("ws", F.col("start"), CHUNK_WORDS), " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history (gaps-and-islands)
# ---------------------------------------------------------------------------


@register(
    "scd2_customer_tier_history",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey AS custkey,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
      FROM orders
      GROUP BY o_custkey, year(o_orderdate)
    ),
    tiers AS (
      SELECT custkey, yr,
             CASE WHEN spend_c >= 50000000 THEN 'gold'
                  WHEN spend_c >= 20000000 THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM yearly
    ),
    islands AS (
      SELECT custkey, yr, tier,
             yr - ROW_NUMBER() OVER (PARTITION BY custkey, tier ORDER BY yr) AS grp
      FROM tiers
    )
    SELECT custkey, tier,
           min(yr) AS from_year,
           max(yr) AS to_year,
           count(*) AS n_years
    FROM islands
    GROUP BY custkey, tier, grp
    """,
)
def scd2_customer_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: per-customer
    yearly spend → tier → consecutive same-tier years collapsed into
    validity ranges (gaps-and-islands via the yr − row_number trick).
    Tier thresholds compare exact integer cents so assignments never
    flip between engines. Shuffles: one for the (custkey, year) agg,
    one for the custkey-partitioned window + island agg."""
    orders = _t(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_c"))
    tiers = yearly.select(
        "custkey",
        "yr",
        F.when(F.col("spend_c") >= 50_000_000, "gold")
        .when(F.col("spend_c") >= 20_000_000, "silver")
        .otherwise("bronze")
        .alias("tier"),
    )
    from pyspark.sql.window import Window as W

    grp = F.col("yr") - F.row_number().over(
        W.partitionBy("custkey", "tier").orderBy("yr")
    )
    return (
        tiers.withColumn("grp", grp)
        .groupBy("custkey", "tier", "grp")
        .agg(
            F.min("yr").alias("from_year"),
            F.max("yr").alias("to_year"),
            F.count("*").alias("n_years"),
        )
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (algebraic re-aggregation)
# ---------------------------------------------------------------------------


@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT date_trunc('day', ts)   AS day,
           event_type,
           count(*)                AS n_events,
           sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance: the daily rollup is kept as
    algebraic partials (count, exact-scaled sum) so a new slice of the
    stream can be folded in WITHOUT rescanning history — merge =
    re-aggregate the partials (sum of counts, sum of sums). Here the
    events table is split into two time slices, each rolled up
    independently, then merged; the oracle is the single-pass rollup
    over everything, proving merge(partial(a), partial(b)) ==
    full(a ∪ b). This is the 100 TB pattern for daily pipeline runs:
    O(new data) per day, not O(history)."""
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def rollup(slice_df: DataFrame) -> DataFrame:
        return slice_df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("sum_e6"),
        )

    old = rollup(ev.where(F.col("ts") < cutoff))
    new = rollup(ev.where(F.col("ts") >= cutoff))
    # The merge step: same code path would fold tomorrow's partial into
    # the stored rollup. Slices are disjoint so counts/sums add.
    return (
        old.unionByName(new)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum("sum_e6") / 1_000_000.0).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Pipeline evaluation + quality-weighted sampling
# ---------------------------------------------------------------------------


@register(
    "langid_confusion_matrix",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
        len(list_filter(ws, w -> w IN ('the','a','and','of')))  * 1.0 / len(ws) AS r_en,
        len(list_filter(ws, w -> w IN ('der','die','das','und'))) * 1.0 / len(ws) AS r_de,
        len(list_filter(ws, w -> w IN ('le','la','les','et')))  * 1.0 / len(ws) AS r_fr,
        len(list_filter(ws, w -> w IN ('el','los','las','y')))  * 1.0 / len(ws) AS r_es
      FROM toks WHERE len(ws) > 0
    ),
    pred AS (
      SELECT lang AS actual_lang,
             CASE WHEN r_en >= greatest(r_de, r_fr, r_es) AND r_en > 0 THEN 'en'
                  WHEN r_de >= greatest(r_fr, r_es) AND r_de > 0 THEN 'de'
                  WHEN r_fr >= r_es AND r_fr > 0 THEN 'fr'
                  WHEN r_es > 0 THEN 'es'
                  ELSE 'und' END AS predicted_lang
      FROM scored
    )
    SELECT actual_lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY actual_lang, predicted_lang
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation rollup: actual × predicted language counts
    from the text_langid heuristic — the accuracy-audit query every
    labeling stage of a data pipeline needs. Reuses the registered
    langid plan and adds one small-domain aggregate."""
    from minimapreduce_spark.registry import REGISTRY

    pred = REGISTRY["text_langid"].fn(spark, sf_dir)
    return pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )


@register(
    "sample_quality_weighted",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(count(DISTINCT word) AS BIGINT) * 1.0
               / CAST(count(*) AS BIGINT) AS distinct_ratio
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN p.distinct_ratio >= 0.5  THEN 'high'
                WHEN p.distinct_ratio >= 0.35 THEN 'mid'
                ELSE 'low' END AS quality_bucket
    FROM documents d JOIN per_doc p USING (doc_id)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN p.distinct_ratio >= 0.5  THEN 'cd'
               WHEN p.distinct_ratio >= 0.35 THEN '67'
               ELSE '1a' END
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mix sampling: keep-probability rises with the
    document's repetition-quality score (~80 % of high-quality docs,
    ~40 % mid, ~10 % low) — the pretraining-mix upsampling step, fully
    deterministic via the portable content hash, so re-running the mix
    at any cluster size selects the same documents. The ratio is an
    int/int division, so bucket boundaries never flip between
    engines."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id")
        .agg(
            (
                F.countDistinct("word").cast("bigint") * 1.0
                / F.count("*").cast("bigint")
            ).alias("distinct_ratio")
        )
    )
    joined = docs.select("doc_id", "lang").join(per_doc, "doc_id")
    bucket = (
        F.when(F.col("distinct_ratio") >= 0.5, "high")
        .when(F.col("distinct_ratio") >= 0.35, "mid")
        .otherwise("low")
    )
    thresh = (
        F.when(F.col("distinct_ratio") >= 0.5, "cd")
        .when(F.col("distinct_ratio") >= 0.35, "67")
        .otherwise("1a")
    )
    return (
        joined.where(_hash2(F.col("doc_id")) < thresh)
        .select("doc_id", "lang", bucket.alias("quality_bucket"))
    )


# ---------------------------------------------------------------------------
# Fuzzy entity resolution (blocked edit-distance join)
# ---------------------------------------------------------------------------


@register(
    "fuzzy_join_blocked",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a
    JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey // 100 = b.c_custkey // 100
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy join: candidate pairs come
    from equality on a blocking key (nation + custkey bucket) so the
    edit-distance predicate runs on O(block²) pairs, never corpus² —
    the standard record-linkage shape (blocking → pairwise scorer →
    threshold). levenshtein is a codegen'd JVM function; the join
    itself is a plain hash join on the block key."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", (F.col("c_custkey") / 100).cast("bigint").alias("blk")
    )
    a = cust.select(
        F.col("c_custkey").alias("cust_a"), F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"), F.col("blk").alias("blk_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("cust_b"), F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"), F.col("blk").alias("blk_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("nat_a") == F.col("nat_b")) & (F.col("blk_a") == F.col("blk_b")))
        .where(F.col("cust_a") < F.col("cust_b"))
        .where(dist <= 2)
        .select("cust_a", "cust_b", dist.cast("bigint").alias("edit_dist"))
    )


@register(
    "dq_constraint_audit",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  WHEN o_orderkey % 101 = 0 THEN 9999999
                  ELSE o_custkey END AS custkey,
             o_totalprice,
             CASE WHEN o_orderkey % 103 = 0 THEN 2 ELSE 1 END AS copies
      FROM orders
    ),
    staged AS (
      SELECT o_orderkey, custkey, o_totalprice,
             unnest(generate_series(1, copies)) AS _i
      FROM base
    )
    SELECT count(*)                                     AS n_rows,
           count(*) FILTER (custkey IS NULL)            AS n_null_custkey,
           count(*) FILTER (custkey IS NOT NULL
                            AND c_custkey IS NULL)      AS n_orphan_custkey,
           count(*) - count(DISTINCT o_orderkey)        AS n_dup_orderkey,
           count(*) FILTER (o_totalprice < 0)           AS n_negative_price
    FROM staged LEFT JOIN customer ON custkey = c_custkey
    """,
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate data-quality audit: NOT NULL, foreign-key, primary-key
    uniqueness, and value-range constraints checked in ONE pass, emitted
    as violation counts. The input simulates a dirty staged batch by
    deterministically corrupting orders (key%97 → NULL custkey, key%101
    → orphan custkey, key%103 → duplicated row) — both engines derive
    the identical batch, so the audit numbers are exact, and the
    negative-price check proves a passing constraint reports 0 rather
    than being skipped.

    Scale posture: corruption + explode are narrow; the FK probe is a
    broadcast left join against the dimension's key column only; all
    five counts fold into a single global aggregate (partial map-side,
    one exchange of a handful of counters). Auditing 100 TB costs one
    scan — the pattern that replaces five separate validation queries.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    custkey = (
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None).cast("bigint"))
        .when(F.col("o_orderkey") % 101 == 0, F.lit(9999999))
        .otherwise(F.col("o_custkey"))
    )
    base = o.select(
        "o_orderkey",
        custkey.alias("custkey"),
        "o_totalprice",
        F.when(F.col("o_orderkey") % 103 == 0, F.lit(2)).otherwise(F.lit(1)).alias(
            "copies"
        ),
    )
    staged = base.withColumn(
        "_i", F.explode(F.sequence(F.lit(1), F.col("copies")))
    ).drop("_i", "copies")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    j = staged.join(F.broadcast(cust), staged.custkey == cust.c_custkey, "left")
    return j.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("custkey").isNull()).alias("n_null_custkey"),
        F.count_if(F.col("custkey").isNotNull() & F.col("c_custkey").isNull()).alias(
            "n_orphan_custkey"
        ),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("n_dup_orderkey"),
        F.count_if(F.col("o_totalprice") < 0).alias("n_negative_price"),
    )


@register(
    "scd2_asof_lookup",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey AS custkey,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
      FROM orders
      GROUP BY o_custkey, year(o_orderdate)
    ),
    tiers AS (
      SELECT custkey, yr,
             CASE WHEN spend_c >= 50000000 THEN 'gold'
                  WHEN spend_c >= 20000000 THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM yearly
    ),
    islands AS (
      SELECT custkey, yr, tier,
             yr - ROW_NUMBER() OVER (PARTITION BY custkey, tier ORDER BY yr) AS grp
      FROM tiers
    ),
    hist AS (
      SELECT custkey, tier, min(yr) AS from_year, max(yr) AS to_year
      FROM islands GROUP BY custkey, tier, grp
    )
    SELECT h.tier,
           count(*) AS n_orders,
           round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total_price
    FROM orders o
    JOIN hist h
      ON o.o_custkey = h.custkey
     AND CAST(year(o.o_orderdate) AS BIGINT) BETWEEN h.from_year AND h.to_year
    GROUP BY h.tier
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: each order is
    joined to the customer-tier version VALID AT its order date
    (equality on custkey + validity-range predicate), then rolled up
    per tier — the temporal-join read side of the SCD2 history that
    ``scd2_customer_tier_history`` builds.

    Every order lands in exactly one validity island, so the join
    neither drops nor duplicates facts (the pytest pins n_orders ==
    count(orders)). The equality key keeps this a plain hash/SMJ join
    with the BETWEEN as a cheap residual — never an interval cross
    join.

    Scale posture: shuffle both sides on custkey (or broadcast the
    dimension — SCD2 dims are small relative to facts); exact integer
    cents through the rollup.
    """
    hist = scd2_customer_tier_history(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("bigint").alias("o_yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    joined = orders.join(
        hist,
        (orders.o_custkey == hist.custkey)
        & (orders.o_yr >= hist.from_year)
        & (orders.o_yr <= hist.to_year),
    )
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("price_c") / 100.0, 2).alias("total_price"),
    )


PACK_CAPACITY = 512


@register(
    "pack_token_batches",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                             w -> w <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT CAST((cum - n_tokens) // {PACK_CAPACITY} AS BIGINT) AS batch_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1
    """,
)
def pack_token_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training batches: documents in doc_id
    order are streamed into fixed-capacity token batches (512
    tokens) by the start-offset rule — a document belongs to the batch
    its first token falls in, so every batch except possibly the last
    spans >= capacity tokens and documents are never reordered (the
    concat-then-chunk packing used for pretraining, batch boundaries
    only; doc_chunks does the within-doc split).

    The global running token count does NOT use a single-partition
    window: same two-phase shape as surrogate_keys_documents —
    range-partition by doc_id, cumsum within each partition, add
    broadcast per-partition offsets. Exact integers end-to-end.
    """
    from pyspark.sql.window import Window as W

    from minimapreduce_spark.operators.text_analysis import _docs, _tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    parted = docs.repartitionByRange(8, "doc_id")
    staged = parted.select(
        "doc_id",
        "n_tokens",
        F.spark_partition_id().alias("pid"),
        F.sum("n_tokens")
        .over(
            W.partitionBy(F.spark_partition_id())
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("local_cum"),
    )
    from minimapreduce_spark.operators.ordered import bounded_ordered

    totals = staged.groupBy("pid").agg(F.sum("n_tokens").alias("n"))
    one, wb = bounded_ordered(totals, "pid")
    offsets = one.select(
        "pid",
        F.sum("n")
        .over(wb.rowsBetween(W.unboundedPreceding, -1))
        .alias("offset"),
    ).fillna({"offset": 0})
    c = staged.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "n_tokens",
        (F.col("local_cum") + F.col("offset")).alias("cum"),
    )
    # exact floor even when the corpus-wide cumulative token count
    # passes 2^53 (oracle uses integer //; a truncated double quotient
    # diverges there — the same class as the PSI bin floor)
    from minimapreduce_spark.operators.ordered import exact_floor_div

    batch = exact_floor_div(
        F.col("cum") - F.col("n_tokens"), F.lit(PACK_CAPACITY).cast("bigint")
    )
    return c.groupBy(batch.alias("batch_id")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "gdpr_erase_cascade",
    oracle="""
    WITH victims AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    o_gone AS (
      SELECT o_orderkey FROM orders JOIN victims ON o_custkey = c_custkey
    )
    SELECT 'customer' AS table_name,
           (SELECT count(*) FROM customer) AS n_before,
           (SELECT count(*) FROM victims) AS n_erased
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM o_gone)
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem JOIN o_gone ON l_orderkey = o_orderkey)
    """,
)
def gdpr_erase_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact report: for a deterministic erasure
    set (custkey % 97 = 0 stands in for the legal request list), the
    rows that must disappear from every table reachable through the
    foreign-key cascade — customer → orders → lineitem. The erasure
    itself is the anti-join of each table against the propagated key
    set; this operator reports the audit counts a deletion job must
    reconcile before and after.

    Scale posture: the victim set is small (broadcast to both fact
    scans); orders propagates the cascade one level with a broadcast
    semi join and lineitem probes the resulting orderkey set the same
    way. No fact-to-fact shuffle anywhere — deletion audits must not
    cost more than the deletion.

    Reference note: an erasure sweep is the one maintenance job the
    reference's immutable file model (mr/worker.go O_APPEND outputs)
    cannot express at all — rewriting data in place is new surface.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    victims = cust.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o_gone = orders.join(
        F.broadcast(victims), orders.o_custkey == victims.c_custkey
    ).select("o_orderkey")
    rows = [
        cust.agg(
            F.lit("customer").alias("table_name"),
            F.count("*").alias("n_before"),
        ).crossJoin(victims.agg(F.count("*").alias("n_erased"))),
        orders.agg(
            F.lit("orders").alias("table_name"), F.count("*").alias("n_before")
        ).crossJoin(o_gone.agg(F.count("*").alias("n_erased"))),
        li.agg(
            F.lit("lineitem").alias("table_name"), F.count("*").alias("n_before")
        ).crossJoin(
            li.join(
                F.broadcast(o_gone), li.l_orderkey == o_gone.o_orderkey
            ).agg(F.count("*").alias("n_erased"))
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "snapshot_diff_customers",
    oracle="""
    WITH staged AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0
                  THEN CAST(round(c_acctbal * 100) AS BIGINT) + 500
                  ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal_c
      FROM customer WHERE c_custkey % 13 <> 0
    ),
    base AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ),
    joined AS (
      SELECT b.c_custkey AS bk, s.c_custkey AS sk,
             b.bal_c AS bb, s.bal_c AS sb
      FROM base b FULL OUTER JOIN staged s ON b.c_custkey = s.c_custkey
    )
    SELECT CASE WHEN sk IS NULL THEN 'removed'
                WHEN bk IS NULL THEN 'added'
                WHEN bb <> sb THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_rows
    FROM joined GROUP BY 1
    """,
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff the customer table against a
    staged next-version (derived deterministically: every 13th key
    removed, every 7th balance bumped) and report added / removed /
    changed / unchanged counts — the table-diff audit that validates
    any CDC or backfill before it ships (dedup_keep_latest compacts a
    changelog; this verifies one).

    One full-outer join on the key, comparisons on exact integer
    cents, one tiny agg. Scale posture: the join shuffles both
    snapshots on the key — the unavoidable cost of a full diff — and
    everything downstream is O(|statuses|).
    """
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c")
    )
    staged = (
        base.where(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("bal_c") + 500
            ).otherwise(F.col("bal_c")).alias("bal_c"),
        )
    )
    b = base.select(F.col("c_custkey").alias("bk"), F.col("bal_c").alias("bb"))
    s = staged.select(F.col("c_custkey").alias("sk"), F.col("bal_c").alias("sb"))
    joined = b.join(s, b.bk == s.sk, "full_outer")
    status = (
        F.when(F.col("sk").isNull(), "removed")
        .when(F.col("bk").isNull(), "added")
        .when(F.col("bb") != F.col("sb"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(F.count("*").alias("n_rows"))


@register(
    "tier_migration_matrix",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey AS custkey,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
      FROM orders GROUP BY 1, 2
    ),
    tiers AS (
      SELECT custkey, yr,
             CASE WHEN spend_c >= 50000000 THEN 'gold'
                  WHEN spend_c >= 20000000 THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM yearly
    )
    SELECT a.tier AS from_tier, b.tier AS to_tier,
           count(*) AS n_customers
    FROM tiers a JOIN tiers b
      ON a.custkey = b.custkey AND b.yr = a.yr + 1
    GROUP BY 1, 2
    """,
)
def tier_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer tier migration: for every customer with
    consecutive active years, the (tier → next-year tier) cell counts —
    the upgrade/downgrade/retention matrix a lifecycle team reads off
    the SCD2 dimension (same tier rule as scd2_customer_tier_history;
    events_markov_transitions is the event-level analog of this
    entity-level transition matrix).

    The consecutive-year pairing is a self-join on (custkey, yr+1) —
    an equi-join, partitioned on custkey; tiers come from exact
    integer-cent thresholds, so the matrix is exact.

    Scale posture: one (cust, yr) rollup, one custkey-keyed self-join
    (both sides the same tiny tier frame), one |tiers|² agg.
    """
    orders = _t(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_c"))
    tiers = yearly.select(
        "custkey",
        "yr",
        F.when(F.col("spend_c") >= 50_000_000, "gold")
        .when(F.col("spend_c") >= 20_000_000, "silver")
        .otherwise("bronze")
        .alias("tier"),
    ).localCheckpoint(eager=False)  # both self-join sides
    a = tiers.select("custkey", "yr", F.col("tier").alias("from_tier"))
    b = tiers.select(
        "custkey", (F.col("yr") - 1).alias("yr"), F.col("tier").alias("to_tier")
    )
    return (
        a.join(b, ["custkey", "yr"])
        .groupBy("from_tier", "to_tier")
        .agg(F.count("*").alias("n_customers"))
    )


N_SHARDS_EXPORT = 8
MIX_TEMP_NUM, MIX_TEMP_DEN = 7, 10  # temperature 0.7 as an exact rational


@register(
    "assign_training_shards",
    oracle=f"""
    WITH sharded AS (
      SELECT doc_id, source,
             length(text) AS n_bytes,
             len(list_filter(regexp_split_to_array(text, ' '), w -> w <> ''))
               AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                  % {N_SHARDS_EXPORT} AS shard_id
      FROM documents
    )
    SELECT shard_id,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_bytes) AS BIGINT)  AS total_bytes,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM sharded GROUP BY shard_id
    """,
)
def assign_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding: every document lands in one of
    N_SHARDS_EXPORT shards by content-key hash (first 4 md5 hex chars
    mod N) — stable under any partitioning, cluster size, or re-run,
    which is what makes training-data exports reproducible. Output is
    the shard manifest (docs, tokens, bytes, source spread) a writer
    job would use to size and balance its output files.

    Scale posture: hash assignment is a pure projection (no shuffle);
    the manifest is one hash agg on a tiny key domain. The actual
    export would be ``df.write.partitionBy("shard_id")`` — hive layout
    with per-shard pruning (pytest-covered in the sources suite).
    """
    docs = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % N_SHARDS_EXPORT
    )
    tokens = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    sharded = docs.select(
        "doc_id",
        "source",
        F.length("text").alias("n_bytes"),
        tokens.alias("n_tokens"),
        shard.alias("shard_id"),
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.count_distinct("source").alias("n_sources"),
    )


@register(
    "source_mixture_weights",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(sum(len(list_filter(regexp_split_to_array(text, ' '),
                                      w -> w <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    pow AS (
      SELECT source, n_tokens,
             CAST(round(power(CAST(n_tokens AS DOUBLE),
                              {MIX_TEMP_NUM}.0 / {MIX_TEMP_DEN}) * 1000000)
                  AS BIGINT) AS w_fp
      FROM tok
    )
    SELECT source, n_tokens,
           round(w_fp / 1000000.0, 4) AS raw_weight,
           round(CAST(w_fp AS DOUBLE) / (SELECT sum(w_fp) FROM pow), 6)
             AS mixture_weight
    FROM pow
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights — the data-mixing
    primitive of LLM pretraining: sampling weight ∝ tokens^T (T = 0.7),
    which up-weights small high-value sources relative to raw
    proportional sampling. The power term is quantized to BIGINT
    millionths BEFORE normalization, so the weight ratios are exact
    integer arithmetic on both engines and only the two final
    divisions are (identical) double expressions. Residual risk: the
    quantization itself is round(pow(n, 0.7) * 1e6), and pow() is libm,
    not IEEE-exact — if the two engines' pow() ever disagree in the
    last ulp AND that ulp lands a product exactly on a .5 rounding
    boundary, w_fp flips by 1 and the hash fails. That is a
    cross-engine tolerance property of the oracle protocol, not
    exactness-by-construction like the integer operators.

    Scale posture: one hash agg to the |sources| rollup, one broadcast
    scalar for the normalizer. Nothing touches row-level data twice.
    """
    docs = _t(spark, sf_dir, "documents")
    tokens = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    tok = docs.groupBy("source").agg(
        F.sum(tokens).cast("bigint").alias("n_tokens")
    )
    w_fp = F.round(
        F.pow(F.col("n_tokens").cast("double"), MIX_TEMP_NUM / MIX_TEMP_DEN)
        * 1000000
    ).cast("bigint")
    powd = tok.select("source", "n_tokens", w_fp.alias("w_fp"))
    total = powd.agg(F.sum("w_fp").alias("_tw"))
    return powd.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        F.round(F.col("w_fp") / 1000000.0, 4).alias("raw_weight"),
        F.round(F.col("w_fp").cast("double") / F.col("_tw"), 6).alias(
            "mixture_weight"
        ),
    )


MIX_BUDGET_DEN = 2  # sample down to a token budget of total_tokens / 2
_HASH60 = 1152921504606846976.0  # 2^60 as an exact double


@register(
    "mixture_token_budget_sample",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, ' '), w -> w <> ''))
               AS n_tok
      FROM documents
    ),
    tok AS (
      SELECT source, CAST(sum(n_tok) AS BIGINT) AS t_s
      FROM per_doc GROUP BY source
    ),
    pow AS (
      SELECT source, t_s,
             CAST(round(power(CAST(t_s AS DOUBLE),
                              {MIX_TEMP_NUM}.0 / {MIX_TEMP_DEN}) * 1000000)
                  AS BIGINT) AS w_fp
      FROM tok
    ),
    rates AS (
      SELECT source,
             least(1.0,
                   CAST((SELECT sum(t_s) FROM tok) // {MIX_BUDGET_DEN} AS DOUBLE)
                   * w_fp / (SELECT sum(w_fp) FROM pow) / t_s) AS rate
      FROM pow
    )
    SELECT d.doc_id, d.source, d.n_tok
    FROM per_doc d JOIN rates r ON d.source = r.source
    WHERE CAST(CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS DOUBLE) < r.rate * {_HASH60!r}
    """,
    bench=True,
)
def mixture_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a data MIXTURE: sample each source down so the
    corpus hits a global token budget (total/2) in the proportions of
    the temperature-scaled weights (``source_mixture_weights``, T=0.7)
    — the step that turns mixing WEIGHTS into an actual training set.
    Per-source rate = min(1, budget·w_s/Σw / T_s) (a source too small
    to fill its allocation keeps everything — the standard single-pass
    capping; production reruns the waterfall to redistribute the
    slack); each doc keeps iff its 60-bit md5 hash < rate·2^60 —
    deterministic Bernoulli THRESHOLD sampling, the 100 TB shape: a
    pure per-row predicate, stable under repartitioning, re-runs, and
    engines, with NO shuffle anywhere in the selection (the only
    aggregation is the |sources|-row rate table, broadcast back).

    Exactness: token sums and w_fp are exact integers; rate is one
    identical left-associative double expression on both engines;
    the hash compare has a ~2^60/n_docs expected margin vs a 2^8 ulp
    at that magnitude (margin-pinned in tests/test_pipeline.py, the
    embedding-LSH discipline). The hash→double conversion rounds
    identically (IEEE nearest) in both engines. At rate = 1.0 a doc
    whose hash rounds UP to exactly 2^60 would drop on both engines
    equally (P ≈ 2^-53 per doc; the margin pytest would catch it)."""
    docs = _t(spark, sf_dir, "documents")
    tokens = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    per_doc = docs.select("doc_id", "source", tokens.alias("n_tok"))
    tok = per_doc.groupBy("source").agg(F.sum("n_tok").cast("bigint").alias("t_s"))
    w_fp = F.round(
        F.pow(F.col("t_s").cast("double"), MIX_TEMP_NUM / MIX_TEMP_DEN) * 1000000
    ).cast("bigint")
    powd = tok.select("source", "t_s", w_fp.alias("w_fp"))
    totals = powd.agg(
        F.sum("t_s").alias("_tt"), F.sum("w_fp").alias("_sw")
    )
    rate = F.least(
        F.lit(1.0),
        F.expr(f"_tt DIV {MIX_BUDGET_DEN}").cast("double")
        * F.col("w_fp")
        / F.col("_sw")
        / F.col("t_s"),
    )
    rates = powd.crossJoin(F.broadcast(totals)).select("source", rate.alias("rate"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        per_doc.join(F.broadcast(rates), "source")
        .where(h.cast("double") < F.col("rate") * F.lit(_HASH60))
        .select("doc_id", "source", "n_tok")
    )


@register(
    "curriculum_quality_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws,
             length(text) AS n_chars_txt,
             length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_clean
      FROM documents
    ),
    scored AS (
      SELECT doc_id, len(ws) AS n_tokens,
             round(0.5 * least(len(ws) / 100.0, 1.0)
                   + 0.3 * (1.0 - len(list_filter(ws, w -> w IN ('the','a','and','of','to','in'))) * 1.0 / len(ws))
                   + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)), 6) AS quality
      FROM toks WHERE len(ws) > 0
    ),
    bucketed AS (
      SELECT doc_id, n_tokens, quality,
             ntile(10) OVER (ORDER BY quality, doc_id) AS bucket
      FROM scored
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT)      AS n_docs,
           round(min(quality), 6)        AS q_lo,
           round(max(quality), 6)        AS q_hi,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM bucketed GROUP BY bucket
    """,
)
def curriculum_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning deciles: documents ranked by the engine's
    quality score and cut into 10 equal-count buckets (easy→hard
    schedule input), with per-bucket quality range and token budget —
    what a curriculum sampler consumes to schedule training phases.

    The decile is the two-phase exact NTILE (operators/ordered.py) over
    (quality, doc_id) — the quality score is rounded to 6 dp on both
    engines BEFORE ranking, so bucket edges cannot wobble on float
    noise, and no single-partition window exists at any corpus size.

    Scale posture: score = pure projection; rank = one range shuffle +
    broadcast offsets; rollup = 10-group agg.
    """
    from minimapreduce_spark.operators.ordered import (
        ntile_expr,
        with_global_row_number,
        with_scalars,
    )
    from minimapreduce_spark.operators.text_analysis import text_quality_score

    scored = text_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality"
    )
    rn = with_global_row_number(
        scored, [F.asc("quality"), F.asc("doc_id")], out="rn"
    )
    n = scored.agg(F.count(F.lit(1)).alias("_n"))
    b = with_scalars(rn, n).select(
        "n_tokens", "quality", ntile_expr(F.col("rn"), F.col("_n"), 10).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality"), 6).alias("q_lo"),
        F.round(F.max("quality"), 6).alias("q_hi"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


QUOTA_K = 50  # kept documents per source
QUOTA_SALTS = 8  # phase-1 fan-out inside each source


@register(
    "per_source_quota_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             round(0.5 * least(len(ws) / 100.0, 1.0)
                   + 0.3 * (1.0 - len(list_filter(ws, w -> w IN ('the','a','and','of','to','in'))) * 1.0 / len(ws))
                   + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)), 6) AS quality
      FROM toks WHERE len(ws) > 0
    ),
    ranked AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT doc_id, source, quality, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {QUOTA_K}
    """,
)
def per_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quota — the head-heavy-source downsampler of
    corpus curation: keep only the top 50 documents of each
    source by quality score, so one crawl dump can't drown the mixture.

    The scale problem this solves PROPERLY: the textbook
    ``row_number() OVER (PARTITION BY source ...)`` puts one source =
    one task — a 10 TB crawl source becomes a straggler that OOMs.
    This plan is the two-phase salted grouped top-k: phase 1 ranks
    within (source, doc_id % 8) — bounded partitions — and
    keeps each salt's top 50; phase 2 ranks the surviving
    ≤ 8·50 rows per source. The union of per-salt
    top-k provably contains the global per-source top-k, so the result
    is exactly the single-window answer the oracle computes — at any
    source skew.

    Quality is the engine's text_quality_score, rounded to 6 dp before
    ranking on both engines so edges can't wobble on float noise;
    ties break on doc_id.
    """
    from minimapreduce_spark.operators.text_analysis import text_quality_score

    scored = text_quality_score(spark, sf_dir).select("doc_id", "source", "quality")
    salt = F.pmod("doc_id", F.lit(QUOTA_SALTS))
    w1 = W.partitionBy("source", "salt").orderBy(F.desc("quality"), F.asc("doc_id"))
    phase1 = (
        scored.withColumn("salt", salt)
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= QUOTA_K)
    )
    w2 = W.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        phase1.select("doc_id", "source", "quality")
        .withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= QUOTA_K)
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: a linear probe trained in-engine
# ---------------------------------------------------------------------------

PROBE_GRID = 1_000_000_000  # 1e-9 fixed-point grid for order-free moment sums
PROBE_RIDGE = "0.000001"    # ridge added to the normal-equation diagonal
PROBE_QUALITY_CUT = "0.72"  # weak-label threshold on the blended heuristic


def _probe_det(mat: list[list[str]]) -> str:
    """Laplace expansion of det(mat) as ONE deterministic expression
    string — the same text is parsed by Spark SQL and DuckDB, so both
    engines evaluate the identical IEEE +,-,* tree and produce
    bit-identical doubles (no libm, no summation-order freedom)."""
    n = len(mat)
    if n == 1:
        return mat[0][0]
    terms = []
    for c in range(n):
        minor = [row[:c] + row[c + 1 :] for row in mat[1:]]
        sign = "+" if c % 2 == 0 else "-"
        terms.append((sign, f"{mat[0][c]} * ({_probe_det(minor)})"))
    out = terms[0][1] if terms[0][0] == "+" else f"-{terms[0][1]}"
    for sign, t in terms[1:]:
        out += f" {'+' if sign == '+' else '-'} {t}"
    return out


def _probe_solve_exprs() -> tuple[list[str], list[str]]:
    """(a_exprs, w_exprs): mean-moment/ridge columns from the BIGINT
    grid sums, then Cramer's-rule weights — all as shared SQL text."""
    a_exprs = []
    for i in range(4):
        for j in range(i, 4):
            e = (
                f"CAST(s{i}{j} AS DOUBLE) / {PROBE_GRID}.0"
                f" / CAST(n AS DOUBLE)"
            )
            if i == j:
                e += f" + {PROBE_RIDGE}"
            a_exprs.append(f"{e} AS a{i}{j}")
    for i in range(4):
        a_exprs.append(
            f"CAST(t{i} AS DOUBLE) / {PROBE_GRID}.0 / CAST(n AS DOUBLE) AS b{i}"
        )
    amat = [[f"a{min(i, j)}{max(i, j)}" for j in range(4)] for i in range(4)]
    det_a = _probe_det(amat)
    w_exprs = []
    for j in range(4):
        repl = [
            [f"b{r}" if c == j else amat[r][c] for c in range(4)]
            for r in range(4)
        ]
        w_exprs.append(f"({_probe_det(repl)}) / ({det_a}) AS w{j}")
    return a_exprs, w_exprs


_PROBE_SCORE = "w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3"


def _probe_oracle() -> str:
    from minimapreduce_spark.operators.text_analysis import EN_STOP

    a_exprs, w_exprs = _probe_solve_exprs()
    pairs = ", ".join(
        f"sum(CAST(round(x{i} * x{j} * {PROBE_GRID}.0) AS BIGINT)) AS s{i}{j}"
        for i in range(4)
        for j in range(i, 4)
    )
    tgts = ", ".join(
        f"sum(CAST(round(x{i} * y * {PROBE_GRID}.0) AS BIGINT)) AS t{i}"
        for i in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CASE WHEN 0.5 * least(len(ws) / 100.0, 1.0)
                     + 0.3 * (1.0 - len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws))
                     + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)) >= {PROBE_QUALITY_CUT}
                  THEN 1 ELSE 0 END AS y,
             1.0 AS x0,
             least(len(ws), 200) / 200.0 AS x1,
             len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws) AS x2,
             len(list_distinct(ws)) * 1.0 / len(ws) AS x3
      FROM toks WHERE len(ws) > 0
    ),
    mom AS (SELECT {pairs}, {tgts}, count(*) AS n FROM feats),
    amat AS (SELECT {", ".join(a_exprs)}, n FROM mom),
    wts AS (SELECT {", ".join(w_exprs)} FROM amat)
    SELECT f.doc_id, f.y,
           round({_PROBE_SCORE}, 6) AS score,
           CASE WHEN {_PROBE_SCORE} >= 0.5 THEN 1 ELSE 0 END AS keep
    FROM feats f, wts
    """


@register("quality_linear_probe", oracle=_probe_oracle(), bench=True)
def quality_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality filtering, trained in-engine — the rung the
    pipeline family was missing above the fixed heuristics
    (`text_quality_score`, `text_quality_repetition`): a least-squares
    linear probe fit by closed-form ridge normal equations against a
    weak label (the blended quality heuristic thresholded at 0.72 —
    the classic weak-supervision shape: cheap rule labels train a
    model that generalizes the rule), then applied as a per-document
    keep/drop score. Accuracy vs the weak label is pinned in pytest
    (~0.98 at sf0.01, vs 0.72 majority).

    Exactness discipline — this query is deliberately 100% rounding-
    free in its float path:
      * moments X'X and X'y accumulate on a 1e-9 fixed-point grid as
        BIGINT sums (the q1/`money.exact_sum` order-free discipline);
      * the normal-equation solve is Cramer's rule over the 4x4 system,
        generated ONCE as expression text (`_probe_solve_exprs`) and
        parsed by BOTH engines — every weight is the identical IEEE
        +,-,*,/ tree, so the weights are bit-identical doubles with no
        libm and no summation-order freedom anywhere;
      * scores reuse the same shared text; the 0.5 keep threshold and
        6-dp display rounding therefore can never flip cross-engine.

    Scale posture: training is ONE map-side-combinable aggregation to
    15 numbers (10 moments + 4 targets + count) — at 100 TB this is a
    single narrow all-reduce, the cheapest distributed model fit that
    exists; the solve is O(1); scoring is a pure per-row projection
    with the 4 weights broadcast via cross join. No shuffle touches
    the corpus at all (compare: even `embedding_kmeans_lloyd` shuffles
    (cid, pos) partials). Swapping richer features or a held-out label
    column changes neither the plan shape nor the exactness argument.
    """
    from minimapreduce_spark.operators.text_analysis import EN_STOP

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"[^A-Za-z]+"), lambda w: w != "")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOP])
    n_tokens = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_distinct = F.size(F.array_distinct(ws))
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    quality = (
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * (n_distinct * F.lit(1.0) / n_tokens)
    )
    feats = (
        docs.select(
            "doc_id",
            F.when(quality >= float(PROBE_QUALITY_CUT), 1).otherwise(0).alias("y"),
            F.lit(1.0).alias("x0"),
            (F.least(n_tokens, F.lit(200)) / F.lit(200.0)).alias("x1"),
            stop_ratio.alias("x2"),
            (n_distinct * F.lit(1.0) / n_tokens).alias("x3"),
            n_tokens.alias("_nt"),
        )
        .where(F.col("_nt") > 0)
        .drop("_nt")
        # two consumers (moment agg + scoring scan) over an expensive
        # regex tokenization; the checkpointed frame is doc_id + five
        # numbers — far narrower than the corpus it derives from
        .localCheckpoint(eager=False)
    )
    grid = float(PROBE_GRID)
    moms = [
        F.sum(
            F.round(F.col(f"x{i}") * F.col(f"x{j}") * grid).cast("bigint")
        ).alias(f"s{i}{j}")
        for i in range(4)
        for j in range(i, 4)
    ] + [
        F.sum(F.round(F.col(f"x{i}") * F.col("y") * grid).cast("bigint")).alias(f"t{i}")
        for i in range(4)
    ] + [F.count(F.lit(1)).alias("n")]
    a_exprs, w_exprs = _probe_solve_exprs()
    wts = feats.agg(*moms).selectExpr(*a_exprs, "n").selectExpr(*w_exprs)
    return feats.crossJoin(F.broadcast(wts)).selectExpr(
        "doc_id",
        "y",
        f"round({_PROBE_SCORE}, 6) AS score",
        f"CASE WHEN {_PROBE_SCORE} >= 0.5 THEN 1 ELSE 0 END AS keep",
    )


# ---------------------------------------------------------------------------
# Token-lottery sampling — exact-k, weight ∝ token mass, integer-exact
# ---------------------------------------------------------------------------

LOTTERY_K = 50


def _lottery_ticket(doc_id, pos):
    """Portable 60-bit ticket for one token position — md5 of
    'lot:<doc_id>:<pos>', identical in Spark and DuckDB (the
    ``kmv_hash60`` discipline)."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("lot:"),
                    doc_id.cast("string"),
                    F.lit(":"),
                    pos.cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def lottery_tickets(docs: DataFrame) -> DataFrame:
    """(doc_id, ticket, n_tokens): each document's best lottery ticket —
    min over one portable hash PER TOKEN POSITION — plus its token
    count. Per-shard frames merge by min(ticket)/sum is unnecessary:
    doc rows are disjoint across doc-sharded inputs, so merging is
    union + re-top-k, and each shard needs to ship only its own top-K
    rows (pytest-proven)."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).where(F.col("word") != "")
    return (
        toks.select(
            "doc_id", _lottery_ticket(F.col("doc_id"), F.col("pos")).alias("t")
        )
        .groupBy("doc_id")
        .agg(F.min("t").alias("ticket"), F.count("*").cast("bigint").alias("n_tokens"))
    )


@register(
    "sample_token_lottery_topk",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, i.i - 1 AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) i
      WHERE ws[i.i] <> ''
    ),
    per_doc AS (
      SELECT doc_id,
             min(CAST(('0x' || substr(md5('lot:' || CAST(doc_id AS VARCHAR)
                                      || ':' || CAST(pos AS VARCHAR)), 1, 15))
                      AS BIGINT)) AS ticket,
             count(*) AS n_tokens
      FROM toks GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, ticket, CAST(n_tokens AS BIGINT) AS n_tokens,
             row_number() OVER (ORDER BY ticket, doc_id) AS rnk
      FROM per_doc
    )
    SELECT CAST(rnk AS INT) AS rnk, doc_id, ticket, n_tokens
    FROM ranked WHERE rnk <= {LOTTERY_K}
    """,
)
def sample_token_lottery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k sampling with inclusion probability ∝ TOKEN MASS — the
    right weighting for a token-budget subset — via a token lottery:
    every token position gets a portable 60-bit hash ticket, a document
    keeps its best (minimum) ticket, and the k documents with the
    smallest tickets win. P(a doc holds the global minimum) is exactly
    w_d/W for token counts w_d (up to 2^-60 ticket collisions — each of
    the W distinct tickets is equally likely to be the unique minimum)
    — the weighted-without-replacement race,
    discretized so there is NO float anywhere: no -ln(u)/w exponential
    keys whose libm ulp could flip a rank cross-engine (the ranking key
    IS the integer ticket, and it appears in the output, hash-compared
    exactly).

    Distinct from every other sampling op in the ledger: the mixture /
    quality / stratified samplers are Bernoulli (rate-based, output size
    varies); the quota sampler is per-group unweighted; this is the
    global exact-k weighted draw.

    Scale posture: one corpus-linear hash pass (the same cost as
    tokenizing), a map-side-combinable min/count agg, then a global
    bottom-k — TakeOrdered, never a full sort. Mergeable the KMV way:
    doc rows are disjoint across doc-sharded inputs, so each shard
    ships only its own top-K (doc_id, ticket, n_tokens) rows and the
    union re-takes bottom-k — pytest-proven, including the
    only-top-K-per-shard bounded-state form."""
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    docs = load_table(spark, sf_dir, "documents")
    per_doc = lottery_tickets(docs)
    top = per_doc.orderBy(F.asc("ticket"), F.asc("doc_id")).limit(LOTTERY_K)
    return with_bounded_rank(
        top, F.asc("ticket"), F.asc("doc_id"), out="rnk"
    ).select("rnk", "doc_id", "ticket", "n_tokens")


# ---------------------------------------------------------------------------
# DSIR importance selection — hashed-ngram importance weights to a target
# ---------------------------------------------------------------------------

DSIR_B = 512  # hashed feature buckets — the estimator's whole state
DSIR_TOPK = 50
DSIR_LR_SCALE = 10**6
# the "curated target sample": English docs from the first four sources
_DSIR_TGT_SQL = "(lang = 'en' AND source IN ('src0', 'src1', 'src2', 'src3'))"

_DSIR_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('dsir:' || word), 1, 15)) AS BIGINT)"
    f" % {DSIR_B}"
)


def dsir_bucket(word) -> "F.Column":
    """Portable hashed-ngram feature bucket (the kmv_hash60 discipline):
    60-bit md5 prefix mod B, identical in Spark and DuckDB."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), word)), 1, 15), 16, 10
        ).cast("bigint")
        % DSIR_B
    )


@register(
    "sample_dsir_importance_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DSIR_TGT_SQL} AS is_tgt,
             unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                w -> w <> '')) AS word
      FROM documents
    ),
    docbkt AS MATERIALIZED (
      SELECT doc_id, is_tgt, {_DSIR_BUCKET_SQL} AS bucket, count(*) AS c
      FROM toks GROUP BY 1, 2, 3
    ),
    t AS (SELECT bucket, sum(c) AS tb FROM docbkt WHERE is_tgt GROUP BY 1),
    r AS (SELECT bucket, sum(c) AS rb FROM docbkt WHERE NOT is_tgt GROUP BY 1),
    tot AS (
      SELECT (SELECT coalesce(sum(tb), 0) FROM t) AS tt,
             (SELECT coalesce(sum(rb), 0) FROM r) AS rt
    ),
    lr AS MATERIALIZED (
      SELECT COALESCE(t.bucket, r.bucket) AS bucket,
             CAST(round(ln(
               ((COALESCE(t.tb, 0) + 1) * 1.0 * (tot.rt + {DSIR_B}))
               / ((COALESCE(r.rb, 0) + 1) * 1.0 * (tot.tt + {DSIR_B}))
             ) * {DSIR_LR_SCALE}) AS BIGINT) AS lr
      FROM t FULL JOIN r ON t.bucket = r.bucket, tot
    ),
    w AS (
      SELECT d.doc_id, sum(d.c * lr.lr) AS weight, sum(d.c) AS n_tokens
      FROM docbkt d JOIN lr USING (bucket)
      WHERE NOT d.is_tgt
      GROUP BY 1
    ),
    ranked AS (
      SELECT doc_id, weight, n_tokens,
             row_number() OVER (ORDER BY weight DESC, doc_id) AS rnk
      FROM w
    )
    SELECT CAST(rk.rnk AS INT) AS rnk, rk.doc_id,
           CAST(rk.weight AS BIGINT) AS weight,
           CAST(rk.n_tokens AS BIGINT) AS n_tokens,
           dd.lang, dd.source
    FROM ranked rk JOIN documents dd ON rk.doc_id = dd.doc_id
    WHERE rk.rnk <= {DSIR_TOPK}
    """,
    bench=True,
)
def sample_dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., "Data Selection for Language
    Models via Importance Resampling"): rank the RAW pool by importance
    toward a TARGET distribution, estimated over hashed unigram feature
    buckets — the curation step that picks target-like documents out of
    a mixed crawl. Target = the curated English sample
    (lang = 'en' AND source IN src0..src3); raw pool = everything else. On this synthetic
    corpus every lang label shares one 31-word vocabulary (the same
    caveat text_langid documents), so the registered run demonstrates
    the machinery — hash-exact bucket counts, quantized log-ratios,
    BIGINT weights — while the SELECTION behavior is proven on a
    planted corpus in pytest: target-vocabulary raw docs must occupy
    the top ranks and off-vocabulary docs must carry negative weights.

    Estimator: per-bucket Laplace-smoothed log-likelihood ratio
    lr(b) = round(ln( ((t_b+1)·(R+B)) / ((r_b+1)·(T+B)) )·10⁶) — ONE ln
    of an exact integer rational per bucket (products < 2⁵³, so the
    double operand is identical cross-engine; same quantize-once
    discipline as the TF-IDF weights), then every document's weight is
    the exact BIGINT sum Σ c_b·lr(b), so ranking and output hash-match
    DuckDB with doc_id tie-break.

    Scale posture: one tokenize pass into a (doc, bucket) aggregation;
    the estimator state is ≤ 512 buckets per side (broadcast as a
    512-row log-ratio table — the DSIR artifact a 100 TB run
    trains once and ships); per-doc weights are one combinable agg +
    broadcast join; TakeOrdered top-50. Linear in tokens,
    nothing pairwise. No reference analog (closest surface: the wc app,
    mrapps/wc.go:21-44, counts words; this weighs them).
    """
    from minimapreduce_spark.catalog import fan_out
    from minimapreduce_spark.operators.ordered import with_bounded_rank
    from minimapreduce_spark.operators.text_analysis import _tokens

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    is_tgt = (F.col("lang") == "en") & F.col("source").isin(
        "src0", "src1", "src2", "src3"
    )
    toks = docs.select(
        "doc_id", is_tgt.alias("is_tgt"), F.explode(_tokens(F.col("text"))).alias("word")
    )
    # hash once per DISTINCT word, not per token occurrence: the
    # portable md5+conv expression priced ~20 s on 10.8M tokens at the
    # 40x octave, vs a vocabulary-sized broadcast join (the oracle
    # hashes per row — bucket is a pure function of word, so the
    # result is identical; this is purely the engine-side plan).
    vocab = toks.select("word").distinct().withColumn(
        "bucket", dsir_bucket(F.col("word"))
    )
    docbkt = (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "is_tgt", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds both side aggs + the weights
    )
    t = docbkt.where("is_tgt").groupBy("bucket").agg(F.sum("c").alias("tb"))
    r = docbkt.where(~F.col("is_tgt")).groupBy("bucket").agg(F.sum("c").alias("rb"))
    tot = (
        t.agg(F.coalesce(F.sum("tb"), F.lit(0)).alias("tt"))
        .crossJoin(r.agg(F.coalesce(F.sum("rb"), F.lit(0)).alias("rt")))
    )
    lr = (
        t.join(r, "bucket", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce("tb", F.lit(0)) + 1) * 1.0 * (F.col("rt") + DSIR_B))
                    / ((F.coalesce("rb", F.lit(0)) + 1) * 1.0 * (F.col("tt") + DSIR_B))
                )
                * DSIR_LR_SCALE
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    w = (
        docbkt.where(~F.col("is_tgt"))
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("lr")).alias("weight"),
            F.sum("c").alias("n_tokens"),
        )
    )
    top = w.orderBy(F.desc("weight"), F.asc("doc_id")).limit(DSIR_TOPK)
    ranked = with_bounded_rank(top, F.desc("weight"), F.asc("doc_id"), out="rnk")
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return (
        ranked.join(meta, "doc_id")
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            F.col("weight").cast("bigint").alias("weight"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "lang",
            "source",
        )
    )


# ---------------------------------------------------------------------------
# Data valuation: per-source leave-one-out influence on the probe
# ---------------------------------------------------------------------------


def _influence_sql_parts() -> tuple[str, str, list[str], str]:
    """(pairs, tgts, sub_terms, a_cols): the per-source moment
    aggregates, the LOO subtraction terms (total − source) as a LIST so
    Spark callers consume them structurally (a single string would be
    re-split on ", ", silently fragile), and the
    moment column list — shared text between Spark plans and oracles."""
    pairs = ", ".join(
        f"sum(CAST(round(x{i} * x{j} * {PROBE_GRID}.0) AS BIGINT)) AS s{i}{j}"
        for i in range(4)
        for j in range(i, 4)
    )
    tgts = ", ".join(
        f"sum(CAST(round(x{i} * y * {PROBE_GRID}.0) AS BIGINT)) AS t{i}"
        for i in range(4)
    )
    names = [f"s{i}{j}" for i in range(4) for j in range(i, 4)] + [
        f"t{i}" for i in range(4)
    ] + ["n"]
    sub = [f"t.{c} - p.{c} AS {c}" for c in names]
    return pairs, tgts, sub, ", ".join(names)


def _influence_oracle() -> str:
    from minimapreduce_spark.operators.text_analysis import EN_STOP

    a_exprs, w_exprs = _probe_solve_exprs()
    pairs, tgts, sub, _ = _influence_sql_parts()
    correct = (
        f"CASE WHEN (CASE WHEN {_PROBE_SCORE} >= 0.5 THEN 1 ELSE 0 END) = f.y"
        " THEN 1 ELSE 0 END"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source,
             CASE WHEN 0.5 * least(len(ws) / 100.0, 1.0)
                     + 0.3 * (1.0 - len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws))
                     + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)) >= {PROBE_QUALITY_CUT}
                  THEN 1 ELSE 0 END AS y,
             1.0 AS x0,
             least(len(ws), 200) / 200.0 AS x1,
             len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws) AS x2,
             len(list_distinct(ws)) * 1.0 / len(ws) AS x3
      FROM toks WHERE len(ws) > 0
    ),
    psrc AS (SELECT source, {pairs}, {tgts}, count(*) AS n FROM feats GROUP BY source),
    tot AS (SELECT {pairs}, {tgts}, count(*) AS n FROM feats),
    loo AS (SELECT p.source, p.n AS nd, {", ".join(sub)} FROM psrc p, tot t),
    aloo AS (SELECT source, nd, {", ".join(a_exprs)}, n FROM loo),
    wloo AS (SELECT source, nd, {", ".join(w_exprs)} FROM aloo),
    afull AS (SELECT {", ".join(a_exprs)}, n FROM tot),
    wfull AS (SELECT {", ".join(w_exprs)} FROM afull),
    accf AS (
      SELECT CAST(sum({correct}) AS DOUBLE) / count(*) AS acc_full
      FROM feats f, wfull
    ),
    accl AS (
      SELECT w.source, w.nd,
             CAST(sum({correct}) AS DOUBLE) / count(*) AS acc_loo
      FROM feats f, wloo w GROUP BY w.source, w.nd
    )
    SELECT l.source,
           CAST(l.nd AS BIGINT) AS n_docs,
           round(a.acc_full, 6) AS acc_full,
           round(l.acc_loo, 6) AS acc_loo,
           round(a.acc_full - l.acc_loo, 6) AS influence
    FROM accl l, accf a
    """


@register("source_influence_loo", oracle=_influence_oracle(), bench=True)
def source_influence_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA VALUATION — per-source leave-one-out influence on the
    in-engine quality probe (the Data-Shapley idea at its cheapest
    useful point; Ghorbani & Zou's LOO baseline): for every source s,
    retrain `quality_linear_probe` WITHOUT s's documents and measure
    how corpus-wide accuracy moves. influence(s) = acc(full model) −
    acc(model trained without s), evaluated on the full corpus against
    the weak label — positive influence = the source's removal HURTS
    (valuable data), negative = removal helps (noisy data, the thing
    curation wants to find). The retrain-equivalence pytest pins the
    whole shortcut: for sampled sources, PHYSICALLY dropping the
    source's rows and retraining from scratch yields the exact same
    acc_loo the moment-subtraction computes (BIGINT moments of a
    subset ≡ total − source; identical Cramer text ⇒ bit-identical
    weights ⇒ identical per-doc keep decisions).

    Why LOO is FREE here when it costs S retrainings elsewhere: the
    probe's training state is 15 BIGINT grid moments, which are
    decomposable — per-source moments aggregate once (map-side
    combinable), and source s's LOO moments are total − s, EXACT
    integer subtraction. Every LOO solve is then the same shared
    Cramer expression text over its own 15 numbers (bit-identical
    doubles on both engines), so S models cost ONE corpus aggregation
    plus S O(1) solves. Scoring all S models is one corpus scan
    against an S-row broadcast (S×N bounded projections).

    Exactness: moments/subtractions are BIGINT; weights and scores are
    the probe's shared-text IEEE trees; accuracies are one INT/COUNT
    division; influence is one subtraction of those doubles, rounded
    once — the whole row hash-matches DuckDB.

    Scale posture: one tokenize pass → per-source 15-number partials
    (S×15 longs of state), one scoring scan with S broadcast weight
    rows, no corpus shuffle anywhere — at 100 TB this prices every
    crawl dump's marginal value in a single pass. No reference analog
    (the reference cannot even express the probe's training agg).
    """
    from minimapreduce_spark.operators.text_analysis import EN_STOP

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"[^A-Za-z]+"), lambda w: w != "")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOP])
    n_tokens = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_distinct = F.size(F.array_distinct(ws))
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    quality = (
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * (n_distinct * F.lit(1.0) / n_tokens)
    )
    feats = (
        docs.select(
            "doc_id",
            "source",
            F.when(quality >= float(PROBE_QUALITY_CUT), 1).otherwise(0).alias("y"),
            F.lit(1.0).alias("x0"),
            (F.least(n_tokens, F.lit(200)) / F.lit(200.0)).alias("x1"),
            stop_ratio.alias("x2"),
            (n_distinct * F.lit(1.0) / n_tokens).alias("x3"),
            n_tokens.alias("_nt"),
        )
        .where(F.col("_nt") > 0)
        .drop("_nt")
        .localCheckpoint(eager=False)  # moment agg + two scoring scans
    )
    grid = float(PROBE_GRID)
    moms = [
        F.sum(
            F.round(F.col(f"x{i}") * F.col(f"x{j}") * grid).cast("bigint")
        ).alias(f"s{i}{j}")
        for i in range(4)
        for j in range(i, 4)
    ] + [
        F.sum(F.round(F.col(f"x{i}") * F.col("y") * grid).cast("bigint")).alias(f"t{i}")
        for i in range(4)
    ] + [F.count(F.lit(1)).alias("n")]

    a_exprs, w_exprs = _probe_solve_exprs()
    pairs_, tgts_, sub, _names = _influence_sql_parts()
    psrc = feats.groupBy("source").agg(*moms)
    tot = feats.agg(*moms)
    loo = (
        psrc.alias("p")
        .crossJoin(F.broadcast(tot.alias("t")))
        .selectExpr("p.source AS source", "p.n AS nd", *sub)
    )
    wloo = (
        loo.selectExpr("source", "nd", *a_exprs, "n")
        .selectExpr("source", "nd", *w_exprs)
    )
    wfull = tot.selectExpr(*a_exprs, "n").selectExpr(*w_exprs)
    correct = (
        f"CASE WHEN (CASE WHEN {_PROBE_SCORE} >= 0.5 THEN 1 ELSE 0 END) = y"
        " THEN 1 ELSE 0 END"
    )
    accf = (
        feats.crossJoin(F.broadcast(wfull))
        .selectExpr(f"{correct} AS c")
        .agg((F.sum("c").cast("double") / F.count(F.lit(1))).alias("acc_full_raw"))
    )
    accl = (
        feats.drop("source")
        .crossJoin(F.broadcast(wloo.withColumnRenamed("source", "wsrc")))
        .selectExpr("wsrc", "nd", f"{correct} AS c")
        .groupBy("wsrc", "nd")
        .agg((F.sum("c").cast("double") / F.count(F.lit(1))).alias("acc_loo_raw"))
    )
    return accl.crossJoin(F.broadcast(accf)).select(
        F.col("wsrc").alias("source"),
        F.col("nd").cast("bigint").alias("n_docs"),
        F.round("acc_full_raw", 6).alias("acc_full"),
        F.round("acc_loo_raw", 6).alias("acc_loo"),
        F.round(F.col("acc_full_raw") - F.col("acc_loo_raw"), 6).alias("influence"),
    )


# ---------------------------------------------------------------------------
# Privacy audit: k-anonymity / l-diversity over quasi-identifiers
# ---------------------------------------------------------------------------

KANON_K = 5   # minimum group size for k-anonymity
KANON_L = 3   # minimum distinct sensitive values for l-diversity


@register(
    "privacy_k_anonymity",
    oracle=f"""
    SELECT c_nationkey,
           c_mktsegment,
           count(*) AS n_rows,
           count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l_distinct,
           count(*) >= {KANON_K} AS k_ok,
           count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= {KANON_L}
             AS l_ok
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIVACY AUDIT — k-anonymity and l-diversity (Sweeney; Machanavajjhala
    et al.) over the release-candidate quasi-identifier combination
    (nation, market segment): a record is k-anonymous when at least k−1
    other records share its quasi-identifier tuple (group size ≥ k,
    here 5), and a group is l-diverse when its SENSITIVE attribute
    (account balance, generalized to $1000 bands — the generalization
    step of the framework) takes ≥ l distinct values (here 3), so
    membership in the group doesn't reveal the sensitive value. The
    audit that must PASS before a per-group aggregate release of this
    table — the governance sibling of `text_pii_scrub` (row-level
    redaction) and `gdpr_erase_cascade` (subject erasure): those
    remove/forget, this PROVES a release shape safe.

    Exactness: group sizes and distinct band counts are integers;
    banding is exact floor division on both engines; the pass/fail
    booleans compare those integers to literal thresholds.

    Scale posture: ONE partial+final aggregation over the table
    (count + distinct-band per group — the distinct collapses map-side
    to the band set, bounded by the banding grid, never the row
    count); output is bounded by the quasi-identifier domain
    (|nations| × |segments|), a broadcast-sized audit report at any
    corpus size. Violating groups feed straight into a suppression/
    generalization loop (coarsen a quasi-identifier, re-audit) — each
    pass is the same single aggregation. No reference analog."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(band).alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("l_distinct").cast("bigint").alias("l_distinct"),
            (F.col("n_rows") >= KANON_K).alias("k_ok"),
            (F.col("l_distinct") >= KANON_L).alias("l_ok"),
        )
    )


DP_EPSILON_LN2 = 0.693147  # ε = ln 2 of the α=1/2 geometric mechanism, 6 dp

# Portable 60-bit salted hashes of the GROUP KEY: the seeded-randomness
# discipline shared with the LSH planes / mixture sampler — identical
# text in both engines, so the drawn noise is cross-engine exact.
_DPG_HASH = (
    "CAST(('0x' || substr(md5('dpg{i}:' || event_type), 1, 15)) AS BIGINT)"
)
# leading-zero count of a 60-bit hash = Geometric(1/2) draws (P(k) =
# 2^-(k+1)): the HLL rho machinery reused as an exact sampler
_DPG_GEO = "CASE WHEN h{i} = 0 THEN 60 ELSE 60 - length(bin(h{i})) END"


@register(
    "privacy_dp_geometric_release",
    oracle=f"""
    WITH g AS (
      SELECT event_type, count(*) AS n_true FROM events GROUP BY 1
    ),
    h AS (
      SELECT event_type, n_true,
             {_DPG_HASH.format(i=1)} AS h1,
             {_DPG_HASH.format(i=2)} AS h2
      FROM g
    ),
    z AS (
      SELECT event_type, n_true,
             CAST(({_DPG_GEO.format(i=1)}) - ({_DPG_GEO.format(i=2)})
                  AS BIGINT) AS noise
      FROM h
    )
    SELECT event_type,
           CAST(n_true AS BIGINT)          AS n_true,
           noise,
           CAST(n_true + noise AS BIGINT)  AS n_noisy,
           {DP_EPSILON_LN2}                AS epsilon
    FROM z
    """,
)
def privacy_dp_geometric_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIAL-PRIVACY RELEASE — the geometric mechanism (Ghosh,
    Roughgarden & Sundararajan 2009: the universally-optimal discrete
    mechanism for count queries) over per-type event counts: noisy =
    true + Z where Z = G₁ − G₂ with G₁, G₂ independent Geometric(1/2)
    draws, i.e. the two-sided geometric (discrete Laplace) with
    α = 1/2, giving ε = ln 2 per unit sensitivity (a count's
    sensitivity is 1). Completes the privacy family's release side:
    `privacy_k_anonymity` PROVES a release shape safe, this PERTURBS
    the release itself with a calibrated mechanism.

    The sampler is exact and engine-portable: a Geometric(1/2) draw is
    the leading-zero count of a uniform bit string, so each group draws
    two salted portable 60-bit md5 hashes and counts leading zeros via
    the HLL family's length(bin(h)) rank machinery — pure integer
    arithmetic, hash-matching DuckDB bit for bit (the tail caps at 60,
    a 2⁻⁶⁰ event). The ε constant is Python-computed and inlined as the
    same 6-dp literal in both engines (no cross-engine libm ln).

    Honest caveat (docstring-pinned, as with every seeded-randomness
    operator here): the noise is a deterministic function of the group
    key BY DESIGN so the release is cross-engine verifiable and
    idempotent under recomputation; a production release draws the two
    bit strings from fresh entropy per release (same mechanism, same
    distribution — swap the salt for a release nonce). n_true is
    emitted for the verification harness; the actual release ships
    only (event_type, n_noisy, epsilon).

    Scale posture: ONE partial+final count aggregation over the fact
    table; the mechanism runs on the GROUP frame (bounded by the type
    domain), so noise work is O(|groups|) at any corpus size. No
    reference analog."""
    ev = load_table(spark, sf_dir, "events")

    def h(i: int):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"dpg{i}:"), F.col("event_type"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")

    def geo(col):
        return F.when(col == 0, F.lit(60)).otherwise(
            F.lit(60) - F.length(F.bin(col))
        )

    g = ev.groupBy("event_type").agg(F.count("*").alias("n_true"))
    z = g.select(
        "event_type",
        "n_true",
        (geo(h(1)) - geo(h(2))).cast("bigint").alias("noise"),
    )
    return z.select(
        "event_type",
        F.col("n_true").cast("bigint").alias("n_true"),
        "noise",
        (F.col("n_true") + F.col("noise")).cast("bigint").alias("n_noisy"),
        F.lit(DP_EPSILON_LN2).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# Model evaluation: ROC-AUC of the in-engine probe, exact tied ranks
# ---------------------------------------------------------------------------

# Shared final-expression text over the exact BIGINT aggregates
# (r2 = Σ pos·(2·rank_sum numerator), n_pos, n_neg): the tied-rank
# Mann-Whitney identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), carried in
# DOUBLED integer units so every rank arithmetic stays in BIGINT and
# the only doubles are one shared-text division (plus the Gini affine).
_AUC_EXPR = (
    "((CAST(r2 AS DOUBLE) - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0))"
    " / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))"
)
_AUC_OUT = (
    "CAST(n_pos AS BIGINT) AS n_pos",
    "CAST(n_neg AS BIGINT) AS n_neg",
    "CAST(r2 AS BIGINT) AS rank_sum_x2",
    f"CASE WHEN n_pos > 0 AND n_neg > 0 THEN round({_AUC_EXPR}, 6) END AS auc",
    f"CASE WHEN n_pos > 0 AND n_neg > 0 THEN round(2.0 * {_AUC_EXPR} - 1.0, 6) END"
    " AS gini",
)


def _probe_scored_oracle_cte() -> str:
    """The quality_linear_probe oracle as a named CTE body (doc_id, y,
    score) — evaluation composes on the probe's own registered output."""
    probe = _probe_oracle().strip()
    return f"(\n{probe}\n)"


@register(
    "probe_auc_roc",
    oracle=f"""
    WITH probe AS {_probe_scored_oracle_cte()},
    g AS (
      SELECT score, count(*) AS cnt, sum(y) AS pos
      FROM probe GROUP BY score
    ),
    c AS (
      SELECT score, cnt, pos,
             sum(cnt) OVER (ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_le
      FROM g
    ),
    tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * (cum_le - cnt) + cnt + 1)) AS BIGINT) AS r2
      FROM c
    )
    SELECT {", ".join(_AUC_OUT)} FROM tot
    """,
)
def probe_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL EVALUATION readout — exact tied-rank ROC-AUC of the
    in-engine trained quality probe against its weak label, closing the
    train → value → EVALUATE loop (`quality_linear_probe` trains,
    `source_influence_loo` attributes, THIS grades): AUC is THE
    threshold-free metric for a filtering classifier, and at 100 TB it
    must come out of the engine, not a sklearn sample.

    The Mann-Whitney identity with ties, made integer-exact: group the
    scored corpus by (6-dp) score, take the cumulative count over the
    ascending distinct-score frame (two-phase running sum — no
    single-partition window), and give every member of a tie cluster
    the cluster's AVERAGE rank. Doubling removes the halves:
    r2 = Σ_clusters pos·(2·cum_before + cnt + 1) is a pure BIGINT sum,
    and AUC = (r2 − n⁺(n⁺+1)) / (2·n⁺·n⁻) is ONE shared-text division
    of exactly-representable integers — Spark and DuckDB compute the
    identical double, so the metric itself hash-matches (the Welch
    discipline applied to ranking metrics). Gini = 2·AUC − 1 rides the
    same expression. Empty classes yield NULL, not a crash.

    Scale posture: one corpus-sized group-by collapses to the
    distinct-score frame (≤ 10⁶·score-range clusters by the 6-dp grid,
    corpus-independent), the prefix sum runs two-phase over that frame,
    and the readout is a 3-number aggregation. The probe's scores are
    recomputed by its registered plan — broadcast weights, one scan.
    Pytests: numpy replay of the tied-rank AUC on the fixture, plus
    planted perfect / inverted / constant scorers pinning AUC = 1, 0,
    exactly 0.5. No reference analog."""
    scored = quality_linear_probe(spark, sf_dir).select("y", "score")
    return auc_from_scores(scored)


def auc_from_scores(scored: DataFrame) -> DataFrame:
    """Exact tied-rank ROC-AUC over a (y ∈ {0,1}, score) frame — the
    reusable evaluation kernel behind ``probe_auc_roc`` (and the unit
    the planted-scorer pytests drive directly)."""
    from minimapreduce_spark.operators.ordered import with_global_running_sum

    g = scored.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    c = with_global_running_sum(g, [F.col("score")], F.col("cnt"), out="cum_le")
    tot = c.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos")
            * (2 * (F.col("cum_le") - F.col("cnt")) + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r2"),
    )
    return tot.selectExpr(*_AUC_OUT)


# ---------------------------------------------------------------------------
# Model evaluation II: reliability bins and k-fold cross-validation
# ---------------------------------------------------------------------------

CALIB_BINS = 10


@register(
    "probe_calibration_bins",
    oracle=f"""
    WITH probe AS {_probe_scored_oracle_cte()},
    b AS (
      SELECT least(greatest(CAST(floor(score * {CALIB_BINS}) AS BIGINT), 0),
                   {CALIB_BINS - 1}) AS bin,
             y,
             CAST(round(score * 1000000) AS BIGINT) AS s6
      FROM probe
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(s6) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
           round(CAST(sum(s6) AS DOUBLE) / count(*) / 1000000.0
                 - CAST(sum(y) AS DOUBLE) / count(*), 6) AS calib_gap
    FROM b GROUP BY bin
    """,
)
def probe_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL EVALUATION — the reliability diagram for the in-engine
    probe: decile score bins vs observed positive rate, the
    calibration companion to `probe_auc_roc` (AUC says the RANKING is
    good; calibration says the SCORES mean what they claim — the
    property that lets a filtering threshold be chosen on the score
    scale). Per bin: count, positives, mean score, empirical positive
    rate, and the calibration gap (mean_score − frac_pos; the per-bin
    term of Expected Calibration Error).

    Exactness: scores enter on their 6-dp grid (s6 BIGINT), bins are
    integer floor(score·10) clamped to [0, 9] (probe scores can leave
    [0, 1] — it's a ridge regression, not a sigmoid), and every output
    is a shared-text division of exact integer sums — the whole table
    hash-matches DuckDB. Scale posture: ONE partial+final aggregation
    to ≤ 10 rows; the probe's scoring scan is the only corpus pass.
    No reference analog."""
    s6 = F.round(F.col("score") * 1_000_000).cast("bigint")
    binc = F.least(
        F.greatest(F.floor(F.col("score") * CALIB_BINS).cast("bigint"), F.lit(0)),
        F.lit(CALIB_BINS - 1),
    )
    scored = quality_linear_probe(spark, sf_dir).select(
        binc.alias("bin"), "y", s6.alias("s6")
    )
    g = scored.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum("s6").alias("ss6"),
    )
    return g.selectExpr(
        "bin",
        "CAST(n AS BIGINT) AS n",
        "CAST(n_pos AS BIGINT) AS n_pos",
        "round(CAST(ss6 AS DOUBLE) / n / 1000000.0, 6) AS mean_score",
        "round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos",
        "round(CAST(ss6 AS DOUBLE) / n / 1000000.0"
        " - CAST(n_pos AS DOUBLE) / n, 6) AS calib_gap",
    )


CV_FOLDS = 5


def _kfold_oracle() -> str:
    from minimapreduce_spark.operators.text_analysis import EN_STOP

    a_exprs, w_exprs = _probe_solve_exprs()
    pairs, tgts, sub, _ = _influence_sql_parts()
    correct = (
        f"CASE WHEN (CASE WHEN {_PROBE_SCORE} >= 0.5 THEN 1 ELSE 0 END) = f.y"
        " THEN 1 ELSE 0 END"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id, doc_id % {CV_FOLDS} AS fold,
             CASE WHEN 0.5 * least(len(ws) / 100.0, 1.0)
                     + 0.3 * (1.0 - len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws))
                     + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)) >= {PROBE_QUALITY_CUT}
                  THEN 1 ELSE 0 END AS y,
             1.0 AS x0,
             least(len(ws), 200) / 200.0 AS x1,
             len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws) AS x2,
             len(list_distinct(ws)) * 1.0 / len(ws) AS x3
      FROM toks WHERE len(ws) > 0
    ),
    pfold AS (SELECT fold AS source, {pairs}, {tgts}, count(*) AS n
              FROM feats GROUP BY fold),
    tot AS (SELECT {pairs}, {tgts}, count(*) AS n FROM feats),
    train AS (SELECT p.source AS fold, p.n AS n_test, t.n - p.n AS n_train, {", ".join(sub)}
              FROM pfold p, tot t),
    atr AS (SELECT fold, n_test, n_train, {", ".join(a_exprs)}, n FROM train),
    wtr AS (SELECT fold, n_test, n_train, {", ".join(w_exprs)} FROM atr)
    SELECT w.fold,
           CAST(w.n_train AS BIGINT) AS n_train,
           CAST(w.n_test AS BIGINT) AS n_test,
           round(CAST(sum({correct}) AS DOUBLE) / count(*), 6) AS acc_holdout
    FROM feats f JOIN wtr w ON f.fold = w.fold
    GROUP BY w.fold, w.n_train, w.n_test
    """


@register("probe_kfold_cv", oracle=_kfold_oracle())
def probe_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL EVALUATION — k-fold cross-validation of the in-engine
    probe, the honest generalization estimate `probe_auc_roc` and the
    full-corpus accuracy cannot give (they evaluate on training data):
    5 folds by doc_id mod 5, each fold's model trained on the OTHER
    four folds and scored ONLY on its held-out fold.

    Why 5 retrainings cost one aggregation (the `source_influence_loo`
    decomposition applied to folds): training state is 15 BIGINT grid
    moments, so fold f's training moments are total − fold_f by EXACT
    integer subtraction, each solve is the same shared Cramer text
    over its own 15 numbers, and scoring all K held-out models is one
    corpus scan joined to a K-row broadcast weight table on fold id.
    At 100 TB: proper CV for the price of two passes, no shuffles of
    the corpus anywhere.

    Exactness: moments/subtractions BIGINT, weights/scores shared-text
    IEEE trees, accuracy one INT/COUNT division rounded once — the
    table hash-matches DuckDB. The retrain-equivalence pytest pins the
    shortcut: physically dropping a fold and retraining through the
    same pipeline yields the identical held-out accuracy. No reference
    analog."""
    from minimapreduce_spark.operators.text_analysis import EN_STOP

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"[^A-Za-z]+"), lambda w: w != "")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOP])
    n_tokens = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_distinct = F.size(F.array_distinct(ws))
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    quality = (
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * (n_distinct * F.lit(1.0) / n_tokens)
    )
    feats = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % CV_FOLDS).alias("fold"),
            F.when(quality >= float(PROBE_QUALITY_CUT), 1).otherwise(0).alias("y"),
            F.lit(1.0).alias("x0"),
            (F.least(n_tokens, F.lit(200)) / F.lit(200.0)).alias("x1"),
            stop_ratio.alias("x2"),
            (n_distinct * F.lit(1.0) / n_tokens).alias("x3"),
            n_tokens.alias("_nt"),
        )
        .where(F.col("_nt") > 0)
        .drop("_nt")
        .localCheckpoint(eager=False)  # moment agg + held-out scoring scan
    )
    grid = float(PROBE_GRID)
    moms = [
        F.sum(
            F.round(F.col(f"x{i}") * F.col(f"x{j}") * grid).cast("bigint")
        ).alias(f"s{i}{j}")
        for i in range(4)
        for j in range(i, 4)
    ] + [
        F.sum(F.round(F.col(f"x{i}") * F.col("y") * grid).cast("bigint")).alias(f"t{i}")
        for i in range(4)
    ] + [F.count(F.lit(1)).alias("n")]

    a_exprs, w_exprs = _probe_solve_exprs()
    _pairs, _tgts, sub, _names = _influence_sql_parts()
    pfold = feats.groupBy("fold").agg(*moms)
    tot = feats.agg(*moms)
    train = (
        pfold.alias("p")
        .crossJoin(F.broadcast(tot.alias("t")))
        .selectExpr(
            "p.fold AS fold",
            "p.n AS n_test",
            "t.n - p.n AS n_train",
            *sub,
        )
    )
    wtr = (
        train.selectExpr("fold", "n_test", "n_train", *a_exprs, "n")
        .selectExpr("fold", "n_test", "n_train", *w_exprs)
        .withColumnRenamed("fold", "wfold")
    )
    correct = (
        f"CASE WHEN (CASE WHEN {_PROBE_SCORE} >= 0.5 THEN 1 ELSE 0 END) = y"
        " THEN 1 ELSE 0 END"
    )
    return (
        feats.join(F.broadcast(wtr), feats["fold"] == wtr["wfold"])
        .selectExpr("wfold", "n_train", "n_test", f"{correct} AS c")
        .groupBy("wfold", "n_train", "n_test")
        .agg((F.sum("c").cast("double") / F.count(F.lit(1))).alias("acc_raw"))
        .select(
            F.col("wfold").alias("fold"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_test").cast("bigint").alias("n_test"),
            F.round("acc_raw", 6).alias("acc_holdout"),
        )
    )


# ---------------------------------------------------------------------------
# Model evaluation III: Weight-of-Evidence / Information Value screening
# ---------------------------------------------------------------------------

WOE_BINS = 10

# Shared-text WOE/IV over the exact integer bin counts (pos_b, neg_b)
# and totals (POS, NEG): the DSIR-style add-one/add-B smoothing keeps
# every ln() argument a strictly positive rational of integers, and the
# IV term rides the same two share expressions. The ln() site is
# midpoint-margin-pinned from the registered output's own counts by
# test_feature_woe_iv (the pattern-(b) discipline).
_WOE_PS = f"((CAST(n_pos AS DOUBLE) + 1.0) / (CAST(tot_pos AS DOUBLE) + {WOE_BINS}.0))"
_WOE_NS = f"((CAST(n_neg AS DOUBLE) + 1.0) / (CAST(tot_neg AS DOUBLE) + {WOE_BINS}.0))"
_WOE_EXPR = f"ln({_WOE_PS} / {_WOE_NS})"
_WOE_OUT = (
    "bin",
    "CAST(n_pos + n_neg AS BIGINT) AS n",
    "CAST(n_pos AS BIGINT) AS n_pos",
    "CAST(n_neg AS BIGINT) AS n_neg",
    f"round({_WOE_EXPR}, 6) AS woe",
    f"round(({_WOE_PS} - {_WOE_NS}) * {_WOE_EXPR}, 6) AS iv_term",
)


@register(
    "feature_woe_iv",
    oracle=f"""
    WITH probe AS {_probe_scored_oracle_cte()},
    feats AS (
      SELECT doc_id, y,
             least(greatest(CAST(floor(x1 * {WOE_BINS}) AS BIGINT), 0),
                   {WOE_BINS - 1}) AS bin
      FROM (
        SELECT p.doc_id, p.y,
               least(len(list_filter(regexp_split_to_array(d.text, '[^A-Za-z]+'),
                                     w -> w <> '')), 200) / 200.0 AS x1
        FROM probe p JOIN documents d USING (doc_id)
      )
    ),
    b AS (
      SELECT bin, sum(y) AS n_pos, count(*) - sum(y) AS n_neg
      FROM feats GROUP BY bin
    ),
    t AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM b)
    SELECT {", ".join(_WOE_OUT)} FROM b, t
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE SCREENING — Weight of Evidence / Information Value of
    the probe's length feature against its label, the credit-scoring
    readout that ranks features BEFORE a model is trained (IV < 0.02
    useless, > 0.3 strong — the corpus-curation analog: does document
    length actually separate keep from drop?). Per decile bin of x1:
    WOE_b = ln(smoothed positive share / smoothed negative share) and
    the bin's IV contribution (share gap × WOE); Σ iv_term is the
    feature's IV.

    Exactness: bins are integer floor(x1·10) clamps, counts exact
    BIGINTs, shares/WOE/IV one shared expression text over them with
    DSIR-style add-one/add-B smoothing (no empty-bin ±∞); the only
    libm site is ln over count rationals, midpoint-margin-pinned from
    the output's own counts (the pattern-(b) ln discipline). Scale
    posture: the probe label scan + ONE partial+final agg to ≤ 10
    rows; totals ride a 1-row broadcast. No reference analog."""
    labeled = quality_linear_probe(spark, sf_dir).select("doc_id", "y")
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"[^A-Za-z]+"), lambda w: w != "")
    x1 = F.least(F.size(ws), F.lit(200)) / F.lit(200.0)
    binc = F.least(
        F.greatest(F.floor(x1 * WOE_BINS).cast("bigint"), F.lit(0)),
        F.lit(WOE_BINS - 1),
    )
    feats = labeled.join(docs.select("doc_id", binc.alias("bin")), "doc_id")
    b = feats.groupBy("bin").agg(
        F.sum("y").alias("n_pos"),
        (F.count("*") - F.sum("y")).alias("n_neg"),
    )
    t = b.agg(
        F.sum("n_pos").alias("tot_pos"), F.sum("n_neg").alias("tot_neg")
    )
    return b.crossJoin(F.broadcast(t)).selectExpr(*_WOE_OUT)
