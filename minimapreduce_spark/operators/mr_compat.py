"""Compat-layer queries: the reference apps run through ``run_job``.

These prove the MapReduce surface end-to-end against the same DuckDB
oracles as the DataFrame-native queries — the modern equivalent of
main/test-mr.sh's distributed-vs-sequential diff. The DataFrame-native
versions in operators/text.py are the fast path; these exist for parity
with the reference's UDF programming model (arbitrary Python mapf /
reducef), which is the slow path by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimapreduce_spark import mrapps
from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.mapreduce import run_job
from minimapreduce_spark.registry import register


def _docs_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text) plays the reference's (filename, contents)."""
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


@register(
    "mr_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wc via the compat layer (mrapps/wc.go semantics, run_job engine)."""
    out = run_job(spark, _docs_source(spark, sf_dir), mrapps.wc_map, mrapps.wc_reduce)
    return out.select(F.col("key").alias("word"), F.col("value").cast("bigint").alias("cnt"))


@register(
    "mr_inverted_index",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
      FROM documents
    ),
    pairs AS (
      SELECT DISTINCT doc_id, word FROM words WHERE word <> ''
    )
    SELECT word,
           CAST(count(*) AS VARCHAR) || ' ' ||
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR))
             AS index_entry
    FROM pairs
    GROUP BY word
    """,
)
def mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indexer via the compat layer — note the reference sorts doc names
    as STRINGS (mrapps/indexer.go:37), so the oracle orders by the varchar
    cast, unlike the numeric sort in the native inverted_index query."""
    out = run_job(spark, _docs_source(spark, sf_dir), mrapps.indexer_map, mrapps.indexer_reduce)
    return out.select(F.col("key").alias("word"), F.col("value").alias("index_entry"))


def _join_map(name: str, contents: str) -> list[tuple[str, str]]:
    """Reduce-side join, map phase: tag each record with its relation
    and emit under the join key — the classic MapReduce join pattern the
    reference supports by construction (SURVEY §2: 'reduce-side joins
    etc., by construction, not by implementation')."""
    if name == "region":
        regionkey, r_name = contents.split("|", 1)
        return [(regionkey, f"R|{r_name}")]
    nationkey_region, n_name = contents.rsplit("|", 1)
    regionkey = nationkey_region.split("|", 1)[0]
    return [(regionkey, f"N|{n_name}")]


def _join_reduce(key: str, values: list[str]) -> str:
    """Reduce phase: pair every N record with the single R record for
    the key; emit the sorted space-joined 'nation:region' matches."""
    regions = sorted(v[2:] for v in values if v.startswith("R|"))
    nations = sorted(v[2:] for v in values if v.startswith("N|"))
    return " ".join(f"{n}:{r}" for r in regions for n in nations)


@register(
    "mr_reduce_side_join",
    oracle="""
    SELECT CAST(r_regionkey AS VARCHAR) AS key,
           string_agg(n_name || ':' || r_name, ' ' ORDER BY n_name) AS value
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def mr_reduce_side_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation ⋈ region executed purely through the Map/Reduce UDF
    contract: map tags rows by relation under the join key, the shuffle
    co-locates each key's rows, reduce pairs them. This is the pattern a
    reference user writes today; operators/relational.py is the engine's
    fast path for the same semantics (broadcast/SMJ chosen by Catalyst).
    """
    region = load_table(spark, sf_dir, "region").select(
        F.lit("region").alias("name"),
        F.concat_ws("|", "r_regionkey", "r_name").alias("contents"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.lit("nation").alias("name"),
        F.concat_ws("|", "n_regionkey", "n_name").alias("contents"),
    )
    out = run_job(spark, region.unionByName(nation), _join_map, _join_reduce)
    return out
