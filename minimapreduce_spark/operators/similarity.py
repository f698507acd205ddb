"""Similarity search over the ``embeddings`` table (north-star surface).

Every query is composed from a few vector-search steps, each written
once as a Spark plan and once as its DuckDB oracle SQL:

- query side: ``_queries`` (vec_id < N_QUERIES as ``q_vec_id``);
- route to a partition: the float coarse quantizer ``_ivf_centroids``
  (per-``label`` mean centroids) and one router, ``_ivf_route`` /
  ``_ivf_route_sql``, that sends each point to its ``nprobe`` nearest
  cells — queries (``_ivf_cell_sims`` / ``_ivf_sims_sql``, which also
  score inside the routed cells) and corpus vectors (``_ivf_assign``)
  alike;
- cut the per-query top-k: ``_top_k`` / ``_top_k_sql``, row_number over
  (partition, score desc, id asc) <= k — every rank window of the
  module; ``_brute_topk`` / ``_brute_sims_sql`` are the exact float
  baseline;
- the integer grid: ``_grid`` / ``_EQ_SQL`` put vectors on the 1e-4
  grid, ``_dim_mean`` / ``_floor_mean_sql`` take exact-floor means
  (Lloyd updates, IVF-PQ cell centroids) and ``_lloyd_sql`` unrolls
  the Lloyd rounds;
- PQ/ADC: ``_split`` / ``_split_sql`` (PQ_M subvectors), the BIGINT
  folds (``_fold_sum``, ``_dot_i``, ``_n2_i``, ``_code_fold``), the
  per-query LUT (``_lut``) and the exact-integer cosine ``_int_cos``.

The rounding rule holds for every query: float similarities are
rounded to 6 dp before any ranking, ties break on ``vec_id`` (the
row's id), and integer math runs on the 1e-4 grid, where it is exact
in both engines. FP summation-order noise therefore cannot flip a
rank, and the oracles hash-match rather than approximate.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark import catalog
from minimapreduce_spark.artifacts import (
    FAMILIES,
    append_suffix,
    fixture_root,
    link_parent_files,
    publish,
    publish_derived,
)
from minimapreduce_spark.catalog import load_table
from minimapreduce_spark.registry import register

N_QUERIES = 20  # vec_id < 20 are the query vectors
TOP_K = 10
IVF_TOP_K = 5
KMEANS_SCALE = 10000  # fixed-point 1e-4 grid for exact cross-engine math


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a codegen'd fold — no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Σaᵢbᵢ / (√Σaᵢaᵢ · √Σbᵢbᵢ) as left-to-right folds — the summation
    order of DuckDB's list_cosine_similarity, so the double is
    bit-identical across engines."""
    return dot(a, b) / (norm(a) * norm(b))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with the float32 vector widened to array<double> —
    exact widening, matching the oracle's ::DOUBLE[] cast."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


# the oracles' twin of `_emb`; MATERIALIZED because most read it twice
_E_SQL = (
    "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb, label"
    " FROM embeddings)"
)


def _queries(frame: DataFrame, n: int = N_QUERIES, **cols: str | Column) -> DataFrame:
    """The query side of ``frame``: rows with vec_id < ``n`` as
    ``q_vec_id``, plus each ``cols`` entry (output name = source column
    or Column)."""
    return frame.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_vec_id"),
        *[(F.col(c) if isinstance(c, str) else c).alias(a) for a, c in cols.items()],
    )


def _top_k(
    df: DataFrame,
    k: int,
    score: str | Column | list,
    tie: str = "vec_id",
    by: str | tuple = "q_vec_id",
    rn: str = "rn",
) -> DataFrame:
    """``df``'s rows ranked 1..k within each ``by`` group on (``score``
    desc, ``tie`` asc), the rank kept as ``rn`` — every rank cut of the
    module. ``score`` is a column name or Column, or a list of them
    ranked in turn, each descending (an ascending rank negates)."""
    scores = score if isinstance(score, list) else [score]
    w = W.partitionBy(*((by,) if isinstance(by, str) else by)).orderBy(
        *[F.desc(s) if isinstance(s, str) else s.desc() for s in scores], F.asc(tie)
    )
    return df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) <= k)


def _top_k_sql(
    src: str,
    k: int,
    score: str,
    tie: str = "vec_id",
    by: str = "q_vec_id",
    rn: str = "rn",
    cols: str = "*",
) -> str:
    """The SQL twin of `_top_k`, as a relation: ``cols`` of ``src``
    ranked 1..k within ``by`` on (``score`` DESC, ``tie``), rank ``rn``.
    A multi-key ``score`` carries its own directions except the last's
    ("margin DESC, cos_u" ranks both descending)."""
    return f"""(
      SELECT * FROM (
        SELECT {cols},
               row_number() OVER (PARTITION BY {by} ORDER BY {score} DESC, {tie}) AS {rn}
        FROM {src}
      ) WHERE {rn} <= {k}
    )"""


def _neighbors(sims: DataFrame, k: int, score: str, *extra: str) -> DataFrame:
    """The top-k result rows (q_vec_id, neighbor_id, extra…, score, rn)
    of a (q_vec_id, vec_id, score, …) frame."""
    return _top_k(sims, k, score).select(
        "q_vec_id", F.col("vec_id").alias("neighbor_id"), *extra, score, "rn"
    )


def _neighbors_sql(src: str, k: int, score: str, extra: str = "") -> str:
    """The SQL twin of `_neighbors` (``extra`` ends with a comma)."""
    return (
        f"SELECT q_vec_id, vec_id AS neighbor_id, {extra}{score}, rn"
        f" FROM {_top_k_sql(src, k, score)}"
    )


def _brute_topk(emb: DataFrame, k: int) -> DataFrame:
    """(q_vec_id, vec_id, cosine_sim, rn): the exact float cosine top-k
    of every query. The small query side broadcasts, every corpus
    partition scores its own vectors, and only the (n_queries × corpus)
    score rows reach the per-query window — the corpus never shuffles."""
    sims = emb.join(
        F.broadcast(_queries(emb, q_emb="emb")), F.col("vec_id") != F.col("q_vec_id")
    ).select(
        "q_vec_id",
        "vec_id",
        F.round(cosine(F.col("q_emb"), F.col("emb")), 6).alias("cosine_sim"),
    )
    return _top_k(sims, k, "cosine_sim")


def _brute_sims_sql(n: int = N_QUERIES) -> str:
    """(q_vec_id, vec_id, cosine_sim) of every query (vec_id < ``n``)
    against every other vector, as a relation."""
    return f"""(
      SELECT q.vec_id AS q_vec_id, c.vec_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6) AS cosine_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {n}
    )"""


_BRUTE_FORCE_ORACLE = _neighbors_sql(_brute_sims_sql(), TOP_K, "cosine_sim")


@register("ann_cosine_topk", oracle=_BRUTE_FORCE_ORACLE, bench=True)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 20 query vectors
    (`_brute_topk`): the corpus never shuffles, only (n_queries × k)
    result rows do."""
    return _brute_topk(_emb(spark, sf_dir), TOP_K).select(
        "q_vec_id", F.col("vec_id").alias("neighbor_id"), "cosine_sim", "rn"
    )


BQ_CAND = 32  # hamming candidates per query before the exact rescore


@register(
    "ann_bq_hamming_topk",
    bench=True,
    oracle=f"""
    WITH {_E_SQL},
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN s.i <= 32 AND emb[s.i] > 0
                           THEN (CAST(1 AS BIGINT) << (s.i - 1))
                           ELSE 0 END) AS BIGINT) AS w0,
             CAST(sum(CASE WHEN s.i > 32 AND emb[s.i] > 0
                           THEN (CAST(1 AS BIGINT) << (s.i - 33))
                           ELSE 0 END) AS BIGINT) AS w1
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i) s
      GROUP BY vec_id
    ),
    ham AS (
      SELECT q.vec_id AS q_vec_id, c.vec_id,
             CAST(bit_count(xor(q.w0, c.w0))
                  + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
      FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    rescored AS (
      SELECT cand.q_vec_id, cand.vec_id, cand.hamming,
             round(list_cosine_similarity(qe.emb, ce.emb), 6) AS cosine_sim
      FROM {_top_k_sql("ham", BQ_CAND, "-hamming", rn="crn")} cand
      JOIN e qe ON qe.vec_id = cand.q_vec_id
      JOIN e ce ON ce.vec_id = cand.vec_id
    )
    {_neighbors_sql("rescored", TOP_K, "cosine_sim", "hamming, ")}
    """,
)
def ann_bq_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY QUANTIZATION + exact rescore — the 64× compression rung
    below scalar int8 (4×, `ann_ivf_int8_topk`) and product codes
    (32×, `ann_pq_adc_topk`), and the modern default in production
    vector stores (sign-bit BQ with oversampled rescoring): each
    64-dim vector collapses to 64 SIGN BITS packed into two 32-bit
    BIGINT words (the fixture's embeddings are zero-centered, so v > 0
    is the canonical threshold; two words because DuckDB's checked
    shift caps at 1<<61 — the Bloom family's discipline), candidate
    generation ranks by HAMMING distance (two xor + bit_count per
    pair — pure integer, hash-exact), and the top-BQ_CAND candidates
    are RESCORED with the exact float cosine (round-before-rank) to
    produce the final top-K — the oversample-then-rescore serving
    pattern that recovers most of the recall BQ's 1-bit codes give up.

    Exactness: the candidate stage is integers end to end ((hamming,
    vec_id) total order); the rescore rounds to 6 dp before ranking
    with the family's vec_id tie-break — so the whole chain
    hash-matches the unrolled SQL.

    Recall note: on this near-isotropic fixture sign bits carry little
    structure (the PQ family's documented worst case) — the pytest
    pins recall@10 vs exact cosine against a floor measured honestly,
    plus a planted-cluster case where BQ keeps precision 1.0, and the
    rescore-dominance property (rescored top-K cosine ≥ raw-hamming
    top-K cosine, per query).

    Scale posture: the scan reads 16 BYTES per corpus vector (vs 512
    for float64, 128 for int8) — at 100 TB that is the difference
    between a memory-resident candidate index and an I/O-bound one;
    queries broadcast, the corpus never shuffles for candidates (only
    q×N narrow hamming rows reach the per-query window — at real
    query volumes the per-partition TakeOrdered pre-cut applies
    unchanged), and the rescore touches ≤ BQ_CAND float vectors per
    query. Signature build is one posexplode aggregation, persistable
    exactly like the IVFPQ codes artifact."""
    emb = _emb(spark, sf_dir)

    def word(lo: int):
        # bits for dims lo..lo+31 (0-indexed), LSB = dim lo: fold the
        # dims HIGH→LOW as acc·2 + bit — a pure per-row projection, so
        # signature building needs ZERO shuffle (the first cut's
        # posexplode + groupBy shuffled a 64×-exploded frame; plan
        # audit caught it)
        return F.aggregate(
            F.sequence(F.lit(lo + 31), F.lit(lo), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.get(F.col("emb"), i) > 0, 1).otherwise(0),
        ).cast("long")

    sig = emb.select("vec_id", word(0).alias("w0"), word(32).alias("w1"))
    ham = sig.join(
        F.broadcast(_queries(sig, qw0="w0", qw1="w1")),
        F.col("vec_id") != F.col("q_vec_id"),
    ).select(
        "q_vec_id",
        "vec_id",
        (
            F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
            + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
        ).cast("long").alias("hamming"),
    )
    # nearest first: the (hamming asc, vec_id) rank as −hamming desc
    cand = _top_k(ham, BQ_CAND, -F.col("hamming"), rn="crn").drop("crn")
    rescored = (
        cand.join(F.broadcast(_queries(emb, q_emb="emb")), "q_vec_id")
        .join(emb.select("vec_id", "emb"), "vec_id")
        .select(
            "q_vec_id",
            "vec_id",
            "hamming",
            F.round(cosine(F.col("q_emb"), F.col("emb")), 6).alias("cosine_sim"),
        )
    )
    return _neighbors(rescored, TOP_K, "cosine_sim", "hamming")


def _brute_sims_numpy(spark: SparkSession, emb: DataFrame, n_queries: int) -> DataFrame:
    """(q_vec_id, vec_id, cosine_sim) for every query (vec_id <
    n_queries) × corpus row, Arrow/numpy path: the query matrix is
    collected (bounded — the query set is small by contract at any
    corpus scale) and shipped as an EXPLICIT SparkContext broadcast:
    the matrix serializes once per executor instead of once per task
    closure, and the mapInPandas stage scores each Arrow batch with one
    BLAS matmul (batch × queries) — the shape to prefer when the vector
    math outgrows codegen'd folds (high dims, many queries); per-batch
    matmul amortizes the Python boundary to one call per ~10k rows.
    Self-pairs are dropped. The cosine is rounded to 6 dp JVM-side
    (HALF_UP, matching the oracle's round) — numpy's half-even np.round
    would disagree with SQL round at exact .5 ulps."""
    import numpy as np

    q_rows = _queries(emb, n_queries, emb="emb").collect()
    if not q_rows:
        # Degenerate-input policy: an empty embeddings table (or one
        # with no query rows) must yield an empty result frame, not a
        # np.stack ValueError at plan-build time.
        return spark.createDataFrame([], "q_vec_id long, vec_id long, cosine_sim double")
    q_ids = np.array([r.q_vec_id for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    bc = spark.sparkContext.broadcast(
        (q_ids, Q / np.linalg.norm(Q, axis=1, keepdims=True))
    )

    def score(batches):
        q_ids, Qn = bc.value
        for pdf in batches:
            E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            En = E / np.linalg.norm(E, axis=1, keepdims=True)
            S = En @ Qn.T  # (batch, n_queries)
            n, m = S.shape
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            import pandas as pd

            out = pd.DataFrame(
                {
                    "q_vec_id": np.tile(q_ids, n),
                    "vec_id": np.repeat(vec_ids, m),
                    "cosine_sim_raw": S.ravel(),
                }
            )
            yield out[out["q_vec_id"] != out["vec_id"]]

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    return emb.select("vec_id", "emb").mapInPandas(
        score, "q_vec_id long, vec_id long, cosine_sim_raw double"
    ).select("q_vec_id", "vec_id", F.round("cosine_sim_raw", 6).alias("cosine_sim"))


@register("ann_cosine_topk_numpy", oracle=_BRUTE_FORCE_ORACLE)
def ann_cosine_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the Arrow/numpy batch scorer
    (``_brute_sims_numpy``). Same answer as ann_cosine_topk."""
    sims = _brute_sims_numpy(spark, _emb(spark, sf_dir), N_QUERIES)
    return _neighbors(sims, TOP_K, "cosine_sim")


def _by_pos(pos: str, val: str) -> Column:
    """Aggregate: the group's ``val`` values as an array ordered by
    ``pos``."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(pos, val))), lambda s: s[val]
    )


def _dim_mean(
    points: DataFrame, keys: list[str], arr: str, out: str, exact: bool = True
) -> DataFrame:
    """(keys…, out): the position-wise mean of the ``arr`` arrays within
    each ``keys`` group — posexplode → per-(keys, position) aggregate →
    rebuild the ordered array. ``exact``: floor(Σv / n) as BIGINT, the
    exact-floor mean on the 1e-4 grid (Lloyd updates, IVF-PQ cell
    centroids; |Σv| ≤ corpus × grid magnitude ≈ 1e8 is double-exact,
    so the plain floor is identical in both engines). Otherwise the
    float average (the IVF coarse quantizer)."""
    v = F.col("v")
    mu = F.floor(F.sum(v).cast("double") / F.count(F.lit(1))).cast("bigint")
    return (
        points.select(*keys, F.posexplode(arr).alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg((mu if exact else F.avg(v)).alias("mu"))
        .groupBy(*keys)
        .agg(_by_pos("pos", "mu").alias(out))
    )


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """(label, centroid): the coarse quantizer — per-label mean
    centroids, trained once per query by every IVF-routed query."""
    return _dim_mean(emb, ["label"], "emb", "centroid", exact=False)


def _ivf_route(
    emb: DataFrame,
    points: DataFrame,
    nprobe: int = 1,
    by: str = "q_vec_id",
    vec: str = "q_emb",
    cell: str = "q_label",
) -> DataFrame:
    """The router: each ``points`` row (id ``by``, vector ``vec``) sent
    to its ``nprobe`` nearest cells of the coarse quantizer trained on
    ``emb`` — round(cosine, 6) desc, label asc — one row per routed
    cell, the cell's label as ``cell``. The centroid table broadcasts;
    the points never shuffle to meet it."""
    scored = points.crossJoin(F.broadcast(_ivf_centroids(emb))).select(
        *points.columns,
        F.col("label").alias(cell),
        F.round(cosine(F.col(vec), F.col("centroid")), 6).alias("c_sim"),
    )
    return _top_k(scored, nprobe, "c_sim", tie=cell, by=by, rn="crn").drop(
        "c_sim", "crn"
    )


def _ivf_cell_sims(
    emb: DataFrame, n_queries: int = N_QUERIES, nprobe: int = 1
) -> DataFrame:
    """(q_vec_id, vec_id, cosine_sim) restricted to each query's routed
    IVF cells: `_ivf_route` the queries, then exact cosines within the
    routed cells only. The candidate stage of every float IVF query
    (top-K, nprobe, MMR pool, hybrid semantic channel, retrieval eval)."""
    routed = _ivf_route(emb, _queries(emb, n_queries, q_emb="emb"), nprobe)
    return emb.join(
        F.broadcast(routed),
        (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_vec_id")),
    ).select(
        "q_vec_id",
        "vec_id",
        F.round(cosine(F.col("q_emb"), F.col("emb")), 6).alias("cosine_sim"),
    )


def _ivf_route_sql(
    points: str, nprobe: int = 1, by: str = "q_vec_id", vec: str = "qe"
) -> str:
    """The SQL twin of `_ivf_route`: CTE ``cent`` (the coarse quantizer
    over ``e``) and CTE ``routed`` — ``points``' rows, each once per
    routed cell, with the cell's label as ``cell``."""
    route = _top_k_sql(
        f"{points} p, cent c",
        nprobe,
        f"round(list_cosine_similarity(p.{vec}, c.centroid), 6)",
        tie="c.label",
        by=f"p.{by}",
        rn="crn",
        cols="p.*, c.label AS cell",
    )
    return f"""
    cent AS MATERIALIZED (
      SELECT label, list(av ORDER BY dim) AS centroid FROM (
        SELECT label, dim, avg(v) AS av FROM (
          SELECT label, generate_subscripts(emb, 1) AS dim, unnest(emb) AS v FROM e
        ) GROUP BY label, dim
      ) GROUP BY label
    ),
    routed AS MATERIALIZED (SELECT * EXCLUDE (crn) FROM {route})"""


def _ivf_sims_sql(n: int = N_QUERIES, nprobe: int = 1) -> str:
    """The SQL twin of `_ivf_cell_sims`: CTEs e, q, cent, routed and
    ``sims``(q_vec_id, vec_id, cosine_sim)."""
    return f"""{_E_SQL},
    q AS (SELECT vec_id AS q_vec_id, emb AS qe FROM e WHERE vec_id < {n}),
    {_ivf_route_sql("q", nprobe).strip()},
    sims AS (
      SELECT r.q_vec_id, e.vec_id,
             round(list_cosine_similarity(r.qe, e.emb), 6) AS cosine_sim
      FROM routed r JOIN e ON e.label = r.cell AND e.vec_id <> r.q_vec_id
    )"""


@register(
    "ann_ivf_topk",
    oracle=f"WITH {_ivf_sims_sql()} {_neighbors_sql('sims', IVF_TOP_K, 'cosine_sim')}",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: per-label mean centroids, route each
    query to its single nearest centroid, exact top-5 within that
    partition only. At scale the corpus is bucketed (or bucketBy-
    written) on the partition id, so a query touches 1/n_partitions of
    the data; recall vs brute force is checked in pytest."""
    return _neighbors(_ivf_cell_sims(_emb(spark, sf_dir)), IVF_TOP_K, "cosine_sim")


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label,
           CAST(dim AS BIGINT) AS dim,
           round(avg(CAST(val AS DOUBLE)), 4) AS centroid
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS val
      FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, flattened to (label, dim, value) —
    the training step of IVF partitioning (ann_ivf_topk consumes
    centroids like these) and the class-prototype primitive for
    embedding analytics. posexplode fans each vector into 64 rows keyed
    (label, dim): the agg shuffles on a high-cardinality composite key,
    so centroid computation scales out instead of bottlenecking on one
    reducer per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 4).alias("centroid"))
    )


def _int8_codes(emb: DataFrame, *keep: str) -> DataFrame:
    """(pos, keep…, v, lo, hi, c): every embedding value ``v`` with its
    int8 code c = floor((v − lo)·255/(hi − lo)) under the per-position
    min/max calibration (lo, hi) over the corpus; positions with no
    range (hi = lo) drop. The calibration is one posexplode + a
    |dims|-group min/max whose table broadcasts back."""
    x = emb.select(*keep, F.posexplode("emb").alias("pos", "v"))
    dims = x.groupBy("pos").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    v, lo, hi = F.col("v"), F.col("lo"), F.col("hi")
    return (
        x.join(F.broadcast(dims), "pos")
        .where(hi > lo)
        .withColumn("c", F.floor((v - lo) * 255 / (hi - lo)).cast("bigint"))
    )


# the SQL twin of `_int8_codes` over a CTE x(…, pos, v): CTE codes
_INT8_SQL = """
    dims AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM x GROUP BY pos),
    codes AS (
      SELECT *, CAST(floor((v - lo) * 255 / (hi - lo)) AS BIGINT) AS c
      FROM x JOIN dims USING (pos)
      WHERE hi > lo
    )"""

# CTE x: every embedding value with its position
_X_SQL = f"""{_E_SQL},
    x AS (
      SELECT vec_id, label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v
      FROM e
    ),{_INT8_SQL}"""


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH {_X_SQL}
    SELECT vec_id,
           count(*) AS n_dims,
           CAST(sum(c) AS BIGINT) AS code_checksum,
           min(c) AS min_code, max(c) AS max_code,
           round(max(abs(v - (lo + c * (hi - lo) / 255))), 6) AS max_abs_err
    FROM codes GROUP BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column: per-dimension
    min-max calibration over the corpus, each float mapped to a 0..255
    code — the 4× compression every 100 TB vector store applies before
    ANN (the IVF path in ann_ivf_topk would scan these codes, not
    floats). Emits per-vector code stats and the max absolute
    reconstruction error, i.e. the quantization quality report.

    Exactness: float32 inputs widen to identical doubles on both
    engines; code and reconstruction are the same IEEE expression
    shape, and only order-independent aggregates (count/sum-of-int/
    min/max) touch the results — no float accumulation anywhere.

    Scale posture: calibration is one posexplode + per-dimension
    min/max (map-side combinable, |dims| groups); the dim table
    broadcasts back. At 100 TB the posexplode never materializes — the
    quantize step fuses into the scan projection.
    """
    recon = F.col("lo") + F.col("c") * (F.col("hi") - F.col("lo")) / 255
    return (
        _int8_codes(_emb(spark, sf_dir), "vec_id")
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_dims"),
            F.sum("c").alias("code_checksum"),
            F.min("c").alias("min_code"),
            F.max("c").alias("max_code"),
            F.round(F.max(F.abs(F.col("v") - recon)), 6).alias("max_abs_err"),
        )
    )


def _int_cos(dot_: str | Column, n2a: str, n2b: str) -> Column:
    """round(dot / (√n2a · √n2b), 6) from exact integer parts — one
    sqrt/divide, identical in both engines."""
    d = F.col(dot_) if isinstance(dot_, str) else dot_
    return F.round(
        d.cast("double")
        / (F.sqrt(F.col(n2a).cast("double")) * F.sqrt(F.col(n2b).cast("double"))),
        6,
    )


def _int_cos_sql(dot_: str, n2a: str, n2b: str) -> str:
    """The SQL twin of `_int_cos`."""
    return (
        f"round(CAST({dot_} AS DOUBLE)"
        f" / (sqrt(CAST({n2a} AS DOUBLE)) * sqrt(CAST({n2b} AS DOUBLE))), 6)"
    )


@register(
    "ann_ivf_int8_topk",
    oracle=f"""
    WITH {_X_SQL},
    nsq AS (SELECT vec_id, sum(c * c) AS n2 FROM codes GROUP BY vec_id),
    q AS (SELECT vec_id AS q_vec_id, emb AS qe FROM e WHERE vec_id < {N_QUERIES}),
    {_ivf_route_sql("q").strip()},
    dots AS (
      SELECT r.q_vec_id, c.vec_id, sum(qc.c * c.c) AS dot
      FROM routed r
      JOIN codes qc ON qc.vec_id = r.q_vec_id
      JOIN codes c
        ON c.pos = qc.pos AND c.label = r.cell AND c.vec_id <> r.q_vec_id
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT d.q_vec_id, d.vec_id, {_int_cos_sql("d.dot", "nq.n2", "nc.n2")} AS q_sim
      FROM dots d
      JOIN nsq nq ON nq.vec_id = d.q_vec_id
      JOIN nsq nc ON nc.vec_id = d.vec_id
    )
    {_neighbors_sql("sims", IVF_TOP_K, "q_sim")}
    """,
)
def ann_ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production vector-search path in one plan: IVF routing
    (query → nearest label centroid, exact float, round-before-rank) +
    int8-quantized scoring inside the routed partition
    (embedding_quantize_int8's codes; the dot product and squared
    norms are exact integer sums, the final cosine one identical
    sqrt/divide) + top-5 with vec_id tie-break.

    This composes the engine's two ANN accelerations the way a real
    100 TB vector store does — partition pruning cuts the scan by
    |partitions|, code scoring cuts bytes/vector 4× and keeps SIMD-
    friendly integer math; a float refine of the int8 top-k (compare
    ann_ivf_topk) is the optional last stage. Recall vs the float path
    is measured in pytest.

    Scale posture: quantization calibration is one tiny broadcast;
    codes join on (pos, label) — at scale the long format becomes a
    code-array column and the dot a codegen'd fold, same semantics.
    """
    emb = _emb(spark, sf_dir)
    codes = _int8_codes(emb, "vec_id", "label").select("vec_id", "label", "pos", "c")
    nsq = codes.groupBy("vec_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    routed = _ivf_route(emb, _queries(emb, q_emb="emb")).select("q_vec_id", "q_label")
    qcodes = routed.join(
        codes.select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("pos").alias("qpos"),
            F.col("c").alias("qc"),
        ),
        "q_vec_id",
    )
    dots = (
        qcodes.join(
            codes,
            (codes.pos == qcodes.qpos)
            & (codes.label == qcodes.q_label)
            & (codes.vec_id != qcodes.q_vec_id),
        )
        .groupBy("q_vec_id", "vec_id")
        .agg(F.sum(F.col("qc") * F.col("c")).alias("dot"))
    )
    nq = nsq.select(F.col("vec_id").alias("q_vec_id"), F.col("n2").alias("nq2"))
    nc = nsq.select("vec_id", F.col("n2").alias("nc2"))
    sims = (
        dots.join(nq, "q_vec_id")
        .join(nc, "vec_id")
        .select("q_vec_id", "vec_id", _int_cos("dot", "nq2", "nc2").alias("q_sim"))
    )
    return _neighbors(sims, IVF_TOP_K, "q_sim")


KMEANS_K = 4
KMEANS_ITERS = 2


def _grid(arr: str | Column) -> Column:
    """A float vector on the 1e-4 integer grid: round(x·KMEANS_SCALE)
    per element, as BIGINT (Spark's HALF_UP round, DuckDB's round)."""
    return F.transform(
        arr, lambda x: F.round(x.cast("double") * KMEANS_SCALE).cast("bigint")
    )


# the SQL twin of `_grid`, as CTE eq(vec_id, label, eq)
_EQ_SQL = f"""eq AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)) AS eq
      FROM embeddings
    )"""


def _grid_emb(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """(vec_id, keep…, eq): the embeddings on the 1e-4 grid."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", *keep, _grid("embedding").alias("eq")
    )


def _fold_sum(arr: str | Column) -> Column:
    """Σ of a BIGINT array as an exact BIGINT fold."""
    return F.aggregate(arr, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _dot_i(a: str, b: str) -> Column:
    """Exact BIGINT dot product of two grid arrays."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def _n2_i(a: str) -> Column:
    """Exact BIGINT squared norm of a grid array."""
    return _fold_sum(F.transform(a, lambda x: x * x))


def _dot_sql(a: str, b: str, n: int) -> str:
    """The SQL twin of `_dot_i` over arrays of length ``n``."""
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {n}),"
        f" i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _n2_sql(a: str) -> str:
    """The SQL twin of `_n2_i`."""
    return f"CAST(list_sum(list_transform({a}, x -> x * x)) AS BIGINT)"


def _floor_mean_sql(src: str, keys: str, arr: str, out: str) -> str:
    """The SQL twin of `_dim_mean` (exact): per ``keys`` group of
    ``src``, the position-wise exact-floor mean of the ``arr`` arrays as
    ``out``."""
    return f"""
      SELECT {keys}, list(mu ORDER BY pos) AS {out} FROM (
        SELECT {keys}, pos,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS mu
        FROM (SELECT {keys}, generate_subscripts({arr}, 1) AS pos,
                     unnest({arr}) AS v FROM {src})
        GROUP BY {keys}, pos
      ) GROUP BY {keys}"""


def _assign_sql(points: str, cb: str, dims: int, by: str = "") -> str:
    """Each ``points``(vec_id, [by,] sq) row's nearest ``cb``(cid, [by,]
    ce) entry — exact BIGINT squared distance d2, (d2, cid) argmin taken
    as the top-1 of −d2 — as (vec_id, [by,] cid, sq, d2)."""
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dims}),"
        " i -> (s.sq[i] - c.ce[i]) * (s.sq[i] - c.ce[i])))"
    )
    ids = f"s.vec_id, s.{by}" if by else "s.vec_id"
    best = _top_k_sql(
        f"{points} s JOIN {cb} c ON {f'c.{by} = s.{by}' if by else 'TRUE'}",
        1,
        f"-{d2}",
        tie="c.cid",
        by=ids,
        cols=f"{ids}, c.cid, s.sq, {d2} AS d2",
    )
    return f"SELECT * EXCLUDE (rn) FROM {best}"


def _lloyd_sql(points: str, k: int, dims: int, iters: int, by: str = "") -> str:
    """Unrolled Lloyd rounds as CTEs over ``points``(vec_id, [by,] sq):
    seeds (the vectors with vec_id < ``k``, numbered by vec_id over the
    whole table, so an id absent from ``points`` leaves a gap), c0 (their
    vectors), then per round a{n} (`_assign_sql`) and c{n} (the
    exact-floor mean update; an entry that loses all members drops)."""
    keys = f"{by}, cid" if by else "cid"
    parts = [
        f"""
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cid, vec_id
      FROM eq WHERE vec_id < {k}
    ),
    c0 AS (
      SELECT {f's.{by}, ' if by else ''}d.cid, s.sq AS ce
      FROM {points} s JOIN seeds d USING (vec_id)
    )"""
    ]
    for n in range(1, iters + 1):
        parts.append(f"""
    a{n} AS ({_assign_sql(points, f"c{n - 1}", dims, by)}),
    c{n} AS ({_floor_mean_sql(f"a{n}", keys, "sq", "ce")})""")
    return ",".join(parts)


def _lloyd_points_fit_driver(sf_dir: str) -> bool:
    """Whether the embeddings table fits the driver-local Lloyd twins:
    a footer-only row count (no Spark job) against
    catalog.DRIVER_LOCAL_ROWS_MAX."""
    rows = catalog.parquet_rowcount(catalog.table_path(sf_dir, "embeddings"))
    return rows <= catalog.DRIVER_LOCAL_ROWS_MAX


def _lloyd_local(X, ids, cids, C, iters: int):
    """Driver-side Lloyd rounds over int64 grid points — the numpy twin
    of the (_km_assign → _dim_mean) / (_pq_assign → _dim_mean)
    iteration, bit-identical by construction:

      - assign: exact int64 squared distance (the ‖x−c‖² expansion the
        distributed assigner uses; terms ≤ ~1e12, exact), argmin over
        cid-ASCENDING entries — numpy's first-occurrence argmin IS the
        (d2, cid) tie-break;
      - update: per-entry mu = floor(float64(Σx) / n) — the identical
        IEEE divide-then-floor the distributed update computes; entries
        that lose all members drop (np.unique over surviving labels).

    Returns (labels, d2min, cids, C) where labels/d2min are the LAST
    assignment and cids/C the codebook AFTER the last update."""
    import numpy as np

    lab = d2min = None
    for _ in range(iters):
        d2 = (
            (X * X).sum(axis=1, keepdims=True)
            - 2 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        arg = d2.argmin(axis=1)
        lab = cids[arg]
        d2min = d2[np.arange(len(X)), arg]
        keep = np.unique(lab)
        C = np.stack(
            [
                np.floor(
                    X[lab == c].sum(axis=0).astype(np.float64)
                    / int((lab == c).sum())
                ).astype(np.int64)
                for c in keep
            ]
        )
        cids = keep
    return lab, d2min, cids, C


def _km_assign(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K centroids, exact
    integer squared distance, deterministic (d2, cid) argmin."""
    d2 = _fold_sum(F.zip_with("eq", "ce", lambda x, y: (x - y) * (x - y)))
    scored = points.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "eq", "cid", d2.alias("d2")
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cid", "eq")).alias("b")
    )
    return best.select(
        "vec_id", F.col("b.eq").alias("eq"), F.col("b.cid").alias("cid"),
        F.col("b.d2").alias("d2"),
    )


@register(
    "embedding_kmeans_lloyd",
    oracle=f"""
    WITH {_EQ_SQL},
    pts AS (SELECT vec_id, eq AS sq FROM eq),
    {_lloyd_sql("pts", KMEANS_K, 64, KMEANS_ITERS).strip()}
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d2) AS BIGINT)  AS inertia_q,
           CAST(min(vec_id) AS BIGINT) AS min_member
    FROM a{KMEANS_ITERS} GROUP BY cid
    """,
    bench=True,
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding corpus — Lloyd's algorithm,
    K=4, two unrolled iterations, deterministic seeding (the first K
    vectors by vec_id) — the curation primitive behind diversity
    sampling, topic bucketing, and domain mixing of training corpora.

    Exactness discipline: vectors quantize onto a 1e-4 integer grid up
    front; distances are exact BIGINT sums; the argmin tie-breaks on
    (d2, cid); centroid updates floor exact per-dimension integer means
    back onto the same grid. Every arithmetic step is integer-identical
    cross-engine, so the full iterate→assign→update chain — unrolled as
    plain SQL in the oracle — hash-matches, not just approximately
    agrees. Output: per-cluster size, exact quantized inertia, and the
    minimum member id (a canonical representative).

    Scale posture: each iteration is one broadcast of K×64 ints + one
    (cid, pos)-keyed hash agg — embeddings are never shuffled; the
    iteration count is fixed (production would loop to convergence via
    the same stages, a driver-side loop over narrow jobs). K-means at
    100 TB is exactly this shape in Spark MLlib too; here it is pure
    DataFrame ops with an oracle.
    """
    pts = _grid_emb(spark, sf_dir)
    # ADAPTIVE KERNEL DISPATCH (the bpe_train_merges pattern):
    # the Lloyd rounds are driver-synchronous anyway (each assignment
    # broadcasts the previous round's K×64-int codebook), so when the
    # point set fits the bounded-collect ceiling the whole
    # seed → assign → update → re-assign trajectory runs in the driver
    # on the identical int64 grid (_lloyd_local — bit-identical
    # assignments, means and tie-breaks; pinned by the twin-equality
    # pytest) and only the K-row result frame is created. Above the
    # ceiling the distributed loop below runs unchanged — the 100 TB
    # path. Measured at sf0.1 (2000 points): 1.03 → ~0.45 s.
    if _lloyd_points_fit_driver(sf_dir):
        import numpy as np

        rows = pts.collect()
        if not rows:  # empty corpus → empty frame (the distributed
            # loop's degenerate result, preserved)
            return spark.createDataFrame(
                [],
                "cluster_id bigint, n_members bigint, inertia_q bigint, "
                "min_member bigint",
            )
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        X = np.array([r["eq"] for r in rows], dtype=np.int64)
        order = np.argsort(ids[ids < KMEANS_K])
        seed_rows = np.flatnonzero(ids < KMEANS_K)[order]
        cids = np.arange(1, len(seed_rows) + 1, dtype=np.int64)
        lab, d2min, _, _ = _lloyd_local(X, ids, cids, X[seed_rows], KMEANS_ITERS)
        out = [
            (
                int(c),
                int((lab == c).sum()),
                int(d2min[lab == c].sum()),
                int(ids[lab == c].min()),
            )
            for c in np.unique(lab)
        ]
        return spark.createDataFrame(
            out,
            "cluster_id bigint, n_members bigint, inertia_q bigint, "
            "min_member bigint",
        )

    seeds = (
        pts.where(F.col("vec_id") < KMEANS_K)
        .select(F.col("vec_id").alias("seed_id"), F.col("eq").alias("ce"))
    )
    # The seed table is ≤ K rows by construction — a bounded rank
    # window beats the two-phase helper here (no range shuffle, no
    # checkpoint, and no log-noise from the helper's offset pass).
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    cents = with_bounded_rank(seeds, "seed_id", out="_rn").select(
        F.col("_rn").cast("bigint").alias("cid"), "ce"
    )
    assigned = None
    for _ in range(KMEANS_ITERS):
        assigned = _km_assign(pts, cents)
        cents = _dim_mean(assigned, ["cid"], "eq", "ce")
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia_q"),
        F.min("vec_id").alias("min_member"),
    )


IVF_NPROBE = 2


@register(
    "ann_ivf_nprobe_topk",
    oracle=f"""WITH {_ivf_sims_sql(nprobe=IVF_NPROBE)}
    {_neighbors_sql('sims', IVF_TOP_K, 'cosine_sim')}""",
)
def ann_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with nprobe=2 — the standard recall/cost dial: route
    each query to its TWO nearest centroids and scan both partitions.
    Cost doubles (2/n_partitions of the corpus), recall rises strictly
    vs nprobe=1 because every nprobe=1 candidate is still scanned (the
    monotonicity pytest pins this). Same exact-rerank discipline:
    6-dp-rounded cosine, vec_id tie-break.

    Scale posture: identical to ann_ivf_topk — a broadcast of K
    centroids, candidate scan bounded by nprobe/n_partitions, per-query
    top-k window over the candidate rows only.
    """
    sims = _ivf_cell_sims(_emb(spark, sf_dir), nprobe=IVF_NPROBE)
    return _neighbors(sims, IVF_TOP_K, "cosine_sim")


PCA_OUT_SCALE = 1_000_000  # direction reported in integer millionths


def _pca_oracle() -> str:
    """Unrolled SQL twin of the two exact power-iteration steps —
    HUGEINT where the Spark side runs decimal(38,0)."""
    return f"""
    WITH {_EQ_SQL},
    comp AS (
      SELECT vec_id, d.d AS pos, eq[d.d] AS x
      FROM eq, (SELECT unnest(generate_series(1, 64)) AS d) d
    ),
    s1 AS (SELECT vec_id, sum(x) AS s FROM comp GROUP BY vec_id),
    u1 AS (
      SELECT pos, sum(comp.x * s1.s) AS u
      FROM comp JOIN s1 USING (vec_id) GROUP BY pos
    ),
    s2 AS (
      SELECT vec_id, sum(comp.x * u1.u) AS s
      FROM comp JOIN u1 USING (pos) GROUP BY vec_id
    ),
    u2 AS (
      SELECT pos, sum(CAST(comp.x AS HUGEINT) * CAST(s2.s AS HUGEINT)) AS u
      FROM comp JOIN s2 USING (vec_id) GROUP BY pos
    ),
    norm AS (
      SELECT m, sgn FROM (
        SELECT max(abs(u)) OVER () AS m,
               CASE WHEN u >= 0 THEN 1 ELSE -1 END AS sgn,
               row_number() OVER (ORDER BY abs(u) DESC, pos) AS rn
        FROM u2
      ) WHERE rn = 1
    )
    SELECT CAST(u2.pos AS BIGINT) AS dim,
           CAST(CASE WHEN norm.sgn * u2.u >= 0 THEN 1 ELSE -1 END
                * ((abs(u2.u) * {PCA_OUT_SCALE}) // norm.m) AS BIGINT) AS dir_fp
    FROM u2, norm
    """


@register("embedding_pca_power_iteration", oracle=_pca_oracle())
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO exact power-iteration steps toward the dominant eigenvector
    of the (uncentered) embedding Gram matrix — the spectral primitive
    behind embedding whitening, anisotropy diagnosis, and ABTT-style
    postprocessing of a corpus's vector space. What is verified here is
    the ITERATION, exactly: on this fixture's near-flat spectrum
    (λ₁/λ₂ ≈ 1.07) two steps are nowhere near converged — as any
    fixed-step run on such data would be — and production loops these
    same stages (convergence rate (λ₂/λ₁)^k); the pytest cross-checks
    the two steps against an independent float64 computation of G²·1
    instead of pretending they reach the eigenvector.

    Exactness discipline (how an eigensolver hash-matches SQL): vectors
    quantize to the 1e-4 integer grid; v₀ = all-ones; every matvec
    u = Σᵢ xᵢ(xᵢ·v) is an exact integer sum — int64 through the first
    step by the algebraic bound |u₁| ≤ N·X·64·X < 2^43, decimal(38,0)
    (HUGEINT in the oracle) for the second where per-row terms reach
    ~10²². No normalization happens BETWEEN steps — the rescale to
    integer millionths (canonically sign-oriented by the dominant
    component, floor-corrected against decimal quotient rounding)
    happens once at the end, so there is no float anywhere.

    Scale posture: each step is one fold per row + a posexplode to 64
    (pos, partial) rows + a 64-group hash agg, with the 64-int iterate
    re-attached via broadcast — embeddings never shuffle, exactly the
    iterated broadcast-matvec shape MLlib's SVD uses. Iteration count
    is fixed (2); production loops the same stages to convergence.
    """
    pts = _grid_emb(spark, sf_dir)
    comp = pts.select("vec_id", F.posexplode("eq").alias("pos0", "x")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "x"
    )
    s1 = pts.select("vec_id", _fold_sum("eq").alias("s"))
    u1 = (
        comp.join(s1, "vec_id")
        .groupBy("pos")
        .agg(F.sum(F.col("x") * F.col("s")).alias("u"))
    )
    s2 = (
        comp.join(F.broadcast(u1), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("u")).alias("s"))
    )
    dec = "decimal(38,0)"
    u2 = (
        comp.join(s2, "vec_id")
        .groupBy("pos")
        .agg(F.sum(F.col("x").cast(dec) * F.col("s").cast(dec)).alias("u"))
    )
    norm = u2.agg(
        F.max(F.abs("u")).alias("m"),
        # sign of the dominant component, lowest pos on ties: min struct
        # over (-|u|, pos) picks max |u| first, then smallest pos
        F.min(F.struct((-F.abs(F.col("u"))).alias("na"), F.col("pos").alias("p"),
                       F.signum("u").cast("int").alias("sg"))).alias("b"),
    ).select("m", F.when(F.col("b.sg") >= 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"))
    # magnitude division with corrected decimal floor (normalized_dim's
    # discipline — decimal quotients round at scale >= 6, so propose +
    # fix ±1), then apply the sign explicitly: integer '//' semantics
    # for negatives differ cross-engine (floor vs truncate), so neither
    # side ever divides a negative number.
    a = F.abs(F.col("u")) * F.lit(PCA_OUT_SCALE).cast(dec)
    q0 = F.floor(a / F.col("m")).cast(dec)
    r = a - q0 * F.col("m").cast(dec)
    q = (
        q0
        + F.when(r < 0, F.lit(-1))
        .when(r >= F.col("m").cast(dec), F.lit(1))
        .otherwise(F.lit(0))
        .cast(dec)
    )
    signed = F.when(F.col("sgn").cast(dec) * F.col("u") >= 0, q).otherwise(-q)
    return (
        u2.crossJoin(F.broadcast(norm))
        .select(
            F.col("pos").cast("bigint").alias("dim"),
            signed.cast("bigint").alias("dir_fp"),
        )
    )


KNN_GRAPH_K = 5


def _knn_edges_sql() -> str:
    """(vec_id, neighbor_id, cosine_sim, rn): every vector's
    within-label top-KNN_GRAPH_K cosine neighbors over CTE e, as a
    relation."""
    return _top_k_sql(
        """(SELECT a.vec_id, b.vec_id AS neighbor_id,
                   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine_sim
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)""",
        KNN_GRAPH_K,
        "cosine_sim",
        tie="neighbor_id",
        by="vec_id",
    )


@register(
    "ann_knn_graph_edges",
    oracle=f"WITH {_E_SQL} SELECT vec_id, neighbor_id, cosine_sim, rn"
    f" FROM {_knn_edges_sql()}",
)
def ann_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide kNN GRAPH construction (every vector × its top-5
    cosine neighbors within its IVF partition) — the edge list that
    graph-based dedup, diversity sampling, and HNSW-style index builds
    consume. Unlike ``ann_cosine_topk`` (20 external queries), every
    corpus vector is a query here, so the all-pairs trap is corpus² —
    the IVF routing (self-join ON label) bounds candidates to
    Σ|partition|², the standard within-cell kNN of an IVF build.

    Plan: one shuffle groups each IVF cell onto an executor
    (applyInPandas on label — the cell-fits-in-memory contract IS the
    IVF design contract: nlist is chosen so cells are bounded), where
    ONE BLAS matmul scores the whole cell and each vector keeps its
    top-K plus a 2e-6 raw-cosine safety margin; the margin rows then
    get the canonical JVM-side round(…, 6) and rank, so round-then-rank
    ties break exactly as the oracle's (numpy must not rank raw floats
    the oracle ranks rounded — the ann_cosine_topk_numpy discipline).
    A first cut expressed the cell scoring as a per-pair zip_with/
    aggregate fold: higher-order functions evaluate interpreted, and
    40M cell-pairs at 10× took 11 minutes against the matmul's
    seconds — vector math past a few million pairs belongs in Arrow
    batches. At 100 TB the label comes from the coarse quantizer
    (embedding_kmeans_lloyd's assignment) instead of the fixture's
    label column — same plan shape.
    """
    import numpy as np
    import pandas as pd

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    emb = _emb(spark, sf_dir)

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        S = En @ En.T
        np.fill_diagonal(S, -np.inf)
        n = len(ids)
        k = min(KNN_GRAPH_K, n - 1)
        if k <= 0:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "cosine_sim_raw": []}
            ).astype({"vec_id": np.int64, "neighbor_id": np.int64, "cosine_sim_raw": np.float64})
        kth = np.partition(S, n - 1 - k, axis=1)[:, n - 1 - k]
        keep = S >= (kth - 2e-6)[:, None]  # top-k plus round-boundary margin
        src, dst = np.nonzero(keep)
        return pd.DataFrame(
            {
                "vec_id": ids[src],
                "neighbor_id": ids[dst],
                "cosine_sim_raw": S[src, dst],
            }
        )

    sims = (
        emb.select("vec_id", "emb", "label")
        .groupBy("label")
        .applyInPandas(cell_topk, "vec_id long, neighbor_id long, cosine_sim_raw double")
        .select("vec_id", "neighbor_id", F.round("cosine_sim_raw", 6).alias("cosine_sim"))
    )
    return _top_k(sims, KNN_GRAPH_K, "cosine_sim", tie="neighbor_id", by="vec_id")


GREEDY_HOPS = 3
COARSE_K = 3  # coarse-layer kNN degree over the cell representatives
COARSE_HOPS = 2  # unrolled greedy hops on the coarse layer

# the walk oracles' shared prefix: the per-cell kNN graph g and queries q
_WALK_CTE = f"""{_E_SQL},
    g AS (SELECT vec_id, neighbor_id FROM {_knn_edges_sql()}),
    q AS (
      SELECT vec_id AS qid, emb AS qe, label AS qlabel
      FROM e WHERE vec_id < {N_QUERIES}
    )"""


def _entry_sql(cells: str) -> str:
    """CTE s0, the layer-0 walk state at its entry: each query's cell
    (``cells``(qid, cell)) entered at its min vertex that is not the
    query."""
    return f"""
    s0 AS (
      SELECT q.qid, ent.cur,
             round(list_cosine_similarity(q.qe, ee.emb), 6) AS cur_cos
      FROM q
      JOIN (
        SELECT d.qid, min(e2.vec_id) AS cur
        FROM {cells} d JOIN e e2 ON e2.label = d.cell AND e2.vec_id <> d.qid
        GROUP BY d.qid
      ) ent ON ent.qid = q.qid
      JOIN e ee ON ee.vec_id = ent.cur
    )"""


def _hop_sql(i: int, layer: str, graph: str, exclude_query: bool) -> str:
    """Greedy hop ``i`` over ``graph``(vec_id, neighbor_id), the SQL
    twin of one `_greedy_walk` step: state {layer}{i−1} → {layer}{i},
    best candidate by (round(cos, 6) DESC, id), strict-ascent advance.
    ``exclude_query`` drops the query vertex from the candidates."""
    p, c, b = f"{layer}{i - 1}", f"{layer}{i}", f"{layer}b{i}"
    cos = "round(list_cosine_similarity(q.qe, ce.emb), 6)"
    excl = f" AND g.neighbor_id <> {p}.qid" if exclude_query else ""
    best = _top_k_sql(
        f"""{p}
        JOIN q ON q.qid = {p}.qid
        JOIN {graph} g ON g.vec_id = {p}.cur{excl}
        JOIN e ce ON ce.vec_id = g.neighbor_id""",
        1,
        cos,
        tie="g.neighbor_id",
        by=f"{p}.qid",
        cols=f"{p}.qid, g.neighbor_id AS cand, {cos} AS cand_cos",
    )
    adv = (
        f"{b}.cand IS NOT NULL AND ({b}.cand_cos > {p}.cur_cos"
        f" OR ({b}.cand_cos = {p}.cur_cos AND {b}.cand < {p}.cur))"
    )
    return f"""
    {b} AS (SELECT qid, cand, cand_cos FROM {best}),
    {c} AS (
      SELECT {p}.qid,
             CASE WHEN {adv} THEN {b}.cand ELSE {p}.cur END AS cur,
             CASE WHEN {adv} THEN {b}.cand_cos ELSE {p}.cur_cos END AS cur_cos
      FROM {p} LEFT JOIN {b} USING (qid)
    )"""


def _walk_sql(*ctes: str) -> str:
    """A walk oracle: the shared prefix, ``ctes`` ending in the layer-0
    entry s0, then GREEDY_HOPS query-excluding hops over g."""
    hops = [_hop_sql(i, "s", "g", True) for i in range(1, GREEDY_HOPS + 1)]
    return (
        "WITH "
        + ",".join([_WALK_CTE, *ctes, *hops])
        + f"""
    SELECT qid AS q_vec_id, cur AS found_id, cur_cos AS cosine_sim
    FROM s{GREEDY_HOPS}
    """
    )


_GREEDY_ORACLE = _walk_sql(_entry_sql("(SELECT qid, qlabel AS cell FROM q)"))

# layer 1: one representative per cell (its min vec_id), a COARSE_K-NN
# graph rg over them and the walk state t0 at the globally-minimal rep;
# the layer-0 entry is in the cell the coarse walk reaches (dest), not
# the query's stored label
_HIER_ORACLE = _walk_sql(
    f"""
    reps AS (SELECT label, min(vec_id) AS rep FROM e GROUP BY label),
    re AS (
      SELECT r.rep, r.label, e2.emb
      FROM reps r JOIN e e2 ON e2.vec_id = r.rep
    ),
    rsims AS (
      SELECT a.rep, b.rep AS nrep,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cs
      FROM re a JOIN re b ON a.rep <> b.rep
    ),
    rg AS (
      SELECT rep AS vec_id, nrep AS neighbor_id
      FROM {_top_k_sql("rsims", COARSE_K, "cs", tie="nrep", by="rep")}
    ),
    gent AS (SELECT min(rep) AS rep0 FROM reps),
    t0 AS (
      SELECT q.qid, gent.rep0 AS cur,
             round(list_cosine_similarity(q.qe, ee.emb), 6) AS cur_cos
      FROM q CROSS JOIN gent JOIN e ee ON ee.vec_id = gent.rep0
    )""",
    *[_hop_sql(i, "t", "rg", False) for i in range(1, COARSE_HOPS + 1)],
    f"""
    dest AS (
      SELECT t{COARSE_HOPS}.qid, r.label AS cell
      FROM t{COARSE_HOPS} JOIN reps r ON r.rep = t{COARSE_HOPS}.cur
    )""",
    _entry_sql("dest"),
)


def _walk_state(qcur: DataFrame, emb: DataFrame) -> DataFrame:
    """(q_vec_id, q_emb, cur, cur_cos): the walk state of each
    ``qcur``(q_vec_id, q_emb, cur) row at vertex ``cur``."""
    return qcur.join(
        emb.select(F.col("vec_id").alias("cur"), F.col("emb").alias("cur_emb")), "cur"
    ).select(
        "q_vec_id",
        "q_emb",
        "cur",
        F.round(cosine(F.col("q_emb"), F.col("cur_emb")), 6).alias("cur_cos"),
    )


def _cell_entry(cells: DataFrame, emb: DataFrame) -> DataFrame:
    """(q_vec_id, cur): each query's cell (``cells``(q_vec_id, cell))
    entered at its min vertex that is not the query — deterministic,
    no similarity computation."""
    return (
        cells.join(
            emb.select(F.col("vec_id").alias("cur"), F.col("label").alias("cell")),
            "cell",
        )
        .where(F.col("cur") != F.col("q_vec_id"))
        .groupBy("q_vec_id")
        .agg(F.min("cur").alias("cur"))
    )


@register("ann_graph_greedy_search", oracle=_GREEDY_ORACLE)
def ann_graph_greedy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed GRAPH search — the ScaNN/HNSW-style serving pattern
    the similarity family was missing: each query routes to its IVF
    cell (at serving time, the coarse quantizer's assignment), enters
    the cell's kNN graph (``ann_knn_graph_edges``) at a deterministic
    entry vertex (the cell's min id), and walks greedily — hopping to
    its best-scoring neighbor while that strictly improves — for
    3 unrolled hops. Search cost is hops x K cosine
    evaluations regardless of corpus size; the graph build was
    corpus-linear.

    A first cut entered the walk AT the query vertex itself (queries
    are corpus members in this fixture) — the walk marched straight
    back to cosine(q, q) = 1. The oracle faithfully replayed the same
    degenerate walk and hash-MATCHED; the invariant pytest (found_id
    may not be the query; multi-hop must beat the entry) is what
    caught it. Candidates now exclude the query vertex on both
    engines.

    Determinism discipline: every comparison runs on round(cos, 6)
    with a min-id tie-break (round-before-rank), the advance rule is a
    strict ascent (cosine up, or id down at equal cosine — the walk
    cannot cycle), and the WALK's cosine is evaluated as left-to-right
    JVM folds with DuckDB's exact summation order — the walk arithmetic
    (fold cosines, argmax, advance rule) is bit-reproducible
    cross-engine; the oracle replays it as 3 unrolled SQL
    hops over the identical edge CTE. The EDGE SET the walk consumes is
    not covered by that guarantee: ``ann_knn_graph_edges`` scores with
    a numpy normalize-then-matmul rounded to 6 dp versus the oracle's
    list_cosine_similarity — the same documented ulp-boundary residual
    as the embedding-LSH verify lane, and a 6-dp boundary flip in edge
    RANKING would cascade into the walk. The margin pytest in
    tests/test_llm_ops.py (knn-edge twin of the LSH lane's)
    asserts every fixture edge's raw score clears both the rounding
    midpoint and its rank-deciding gap by orders of magnitude more
    than a double ulp.

    Scale posture: per hop one broadcast-size state frame (one row per
    query) joins the edge list on the current vertex and the embedding
    table on the candidates — point lookups by join key, no scan is
    ever corpus-wide; the iterative driver loop carries no data (the
    pagerank pattern).
    """
    emb = _emb(spark, sf_dir)
    edges = (
        ann_knn_graph_edges(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=False)  # one graph build serves all hops
    )
    q = _queries(emb, q_emb="emb", q_label="label")
    entry = _cell_entry(q.select("q_vec_id", F.col("q_label").alias("cell")), emb)
    state = _walk_state(q.join(entry, "q_vec_id"), emb)
    state = _greedy_walk(state, edges, emb, GREEDY_HOPS, exclude_query=True)
    return state.select(
        "q_vec_id",
        F.col("cur").alias("found_id"),
        F.col("cur_cos").alias("cosine_sim"),
    )


def _greedy_walk(
    state: DataFrame,
    edges: DataFrame,
    emb: DataFrame,
    hops: int,
    exclude_query: bool,
) -> DataFrame:
    """``hops`` unrolled greedy-ascent steps over ``edges``
    (vec_id → neighbor_id), shared by the flat and hierarchical walks.
    ``state`` carries (q_vec_id, q_emb, cur, cur_cos); the advance rule
    is the strict ascent (cosine up, or id down at equal cosine) on
    round(cosine, 6) — the bit-reproducible walk arithmetic the flat
    query documents. ``exclude_query`` drops the query vertex from
    candidates (layer 0, where found_id must not be the query); the
    coarse layer keeps it — landing on the query's own rep is ideal
    routing, not degeneracy."""
    cand_emb = emb.select(F.col("vec_id").alias("cand"), F.col("emb").alias("cand_emb"))
    for _ in range(hops):
        scored = state.join(
            edges.select(
                F.col("vec_id").alias("cur"), F.col("neighbor_id").alias("cand")
            ),
            "cur",
        )
        if exclude_query:
            scored = scored.where(F.col("cand") != F.col("q_vec_id"))
        scored = scored.join(cand_emb, "cand").select(
            "q_vec_id",
            "cand",
            F.round(cosine(F.col("q_emb"), F.col("cand_emb")), 6).alias("cand_cos"),
        )
        # deterministic argmax: max cosine, then min id — packed so one
        # max struct comparison implements both
        best = scored.groupBy("q_vec_id").agg(
            F.max(F.struct(F.col("cand_cos"), (-F.col("cand")).alias("_negid"))).alias(
                "b"
            )
        ).select(
            "q_vec_id",
            (-F.col("b._negid")).alias("cand"),
            F.col("b.cand_cos").alias("cand_cos"),
        )
        adv = F.col("cand").isNotNull() & (
            (F.col("cand_cos") > F.col("cur_cos"))
            | ((F.col("cand_cos") == F.col("cur_cos")) & (F.col("cand") < F.col("cur")))
        )
        state = (
            state.join(best, "q_vec_id", "left")
            .select(
                "q_vec_id",
                "q_emb",
                F.when(adv, F.col("cand")).otherwise(F.col("cur")).alias("cur"),
                F.when(adv, F.col("cand_cos")).otherwise(F.col("cur_cos")).alias(
                    "cur_cos"
                ),
            )
            .localCheckpoint(eager=False)  # truncate the per-hop lineage
        )
    return state


@register("ann_graph_hierarchical_search", oracle=_HIER_ORACLE)
def ann_graph_hierarchical_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LAYER graph search — the actual HNSW entry shape,
    completing ``ann_graph_greedy_search``:
    that flat walk routes each query by its STORED IVF label (known
    because fixture queries are corpus members); a real serving query
    arrives with no label, so the hierarchy DISCOVERS the cell. Layer 1
    is a 3-NN graph over one representative per cell (the
    cell's min vec_id — deterministic, no similarity computation to
    pick it); every query enters at the globally-minimal rep and walks
    2 greedy hops. The reached rep's cell is the descent
    target: layer 0 enters at that cell's min non-query vertex and
    walks the per-cell kNN graph exactly as the flat query does
    (shared ``_greedy_walk``; the coarse layer keeps the query vertex
    as a valid rep — landing on it is ideal routing, and the layer-0
    exclusion still guarantees found_id != query).

    Cost: layer 1 is |cells| vertices — at 100 TB with nlist = sqrt(N)
    cells the rep graph is millions of rows against billions of
    vectors, broadcast-size; the walk still scores hops x degree
    candidates per query at EACH layer, never a corpus scan. The
    determinism discipline is the flat walk's, verbatim: every
    comparison on round(cos, 6) with min-id (min-rep) tie-break,
    strict-ascent advance at both layers, `cosine` (DuckDB's exact
    summation order) for every score the walk compares, and the oracle
    replays both layers as unrolled SQL hops (`_hop_sql`). The
    same edge-set caveat as the flat walk applies to layer 0 (the kNN
    builder's documented ulp residual, margin-pinned in pytest);
    layer-1 edges (rsims) are fold-exact on both engines.

    The recall pytest asserts the hierarchy is no worse than the flat
    walk against brute-force ground truth on the fixture — the routing
    it discovers must match what the stored labels gave for free."""
    emb = _emb(spark, sf_dir)
    # ---- layer 1: rep per cell, COARSE_K-NN rep graph (fold-exact) ----
    reps = emb.groupBy("label").agg(F.min("vec_id").alias("rep"))
    re = reps.join(
        emb.select(F.col("vec_id").alias("rep"), F.col("emb").alias("rep_emb")),
        "rep",
    ).localCheckpoint(eager=False)  # rep graph + entry + descent reuse it
    rpairs = (
        re.select("rep", "rep_emb")
        .join(
            re.select(
                F.col("rep").alias("nrep"), F.col("rep_emb").alias("nemb")
            ),
            F.col("rep") != F.col("nrep"),
        )
        .select(
            "rep",
            "nrep",
            F.round(cosine(F.col("rep_emb"), F.col("nemb")), 6).alias("cs"),
        )
    )
    rg = _top_k(rpairs, COARSE_K, "cs", tie="nrep", by="rep").select(
        F.col("rep").alias("vec_id"), F.col("nrep").alias("neighbor_id")
    )
    q = _queries(emb, q_emb="emb")
    # coarse entry: the globally-minimal rep, one broadcast row
    rep0 = reps.agg(F.min("rep").alias("cur"))
    tstate = _walk_state(q.crossJoin(F.broadcast(rep0)), emb)
    tstate = _greedy_walk(tstate, rg, emb, COARSE_HOPS, exclude_query=False)
    # ---- descend: reached rep's cell; enter at its min non-query id ----
    dest = tstate.join(
        reps.select(F.col("rep").alias("cur"), F.col("label").alias("cell")),
        "cur",
    ).select("q_vec_id", "cell")
    state = _walk_state(q.join(_cell_entry(dest, emb), "q_vec_id"), emb)
    # ---- layer 0: the flat walk over the per-cell kNN graph ----
    edges = (
        ann_knn_graph_edges(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    state = _greedy_walk(state, edges, emb, GREEDY_HOPS, exclude_query=True)
    return state.select(
        "q_vec_id",
        F.col("cur").alias("found_id"),
        F.col("cur_cos").alias("cosine_sim"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

PQ_M = 8     # subspaces
PQ_SUB = 8   # dims per subspace (PQ_M × PQ_SUB = 64 = embedding dim)
PQ_K = 32    # codebook entries per subspace
PQ_ITERS = 2  # Lloyd refinements per subspace codebook


def _split(frame: DataFrame, arr: str, out: str, *keep: str) -> DataFrame:
    """(keep…, m, out): each ``frame`` row's ``arr`` split into its
    PQ_M subvectors of PQ_SUB elements, m = 0..PQ_M−1."""
    ms = frame.sparkSession.range(PQ_M).select(F.col("id").cast("bigint").alias("m"))
    return frame.crossJoin(F.broadcast(ms)).select(
        *keep, "m", F.expr(f"slice({arr}, m * {PQ_SUB} + 1, {PQ_SUB})").alias(out)
    )


def _split_sql(src: str, arr: str, out: str, keep: str) -> str:
    """The SQL twin of `_split`, as a relation."""
    return f"""(
      SELECT {keep}, m, {arr}[m*{PQ_SUB}+1 : m*{PQ_SUB}+{PQ_SUB}] AS {out}
      FROM {src} CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
    )"""


def _slot(m: Column, cid: Column) -> Column:
    """The LUT key of codebook entry ``cid`` in subspace ``m``."""
    return m * (PQ_K + 1) + cid


def _code_fold(lut: str) -> Column:
    """ADC: Σ_m ``lut``[slot(m, code[m])] over a row's PQ_M-code array
    — an exact BIGINT fold of PQ_M map lookups."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, m: acc
        + F.element_at(F.col(lut), _slot(m.cast("bigint"), F.element_at("code", m + 1))),
    )


def _lut(qsub: DataFrame, cb: DataFrame) -> DataFrame:
    """(q_vec_id, lut): per query, the ADC lookup table slot(m, cid) →
    qsq·ce over every codebook entry, from the query subvectors
    ``qsub``(q_vec_id, m, qsq) and the broadcast codebook ``cb``."""
    return (
        qsub.join(F.broadcast(cb), "m")
        .select(
            "q_vec_id",
            _slot(F.col("m"), F.col("cid")).alias("slot"),
            _dot_i("qsq", "ce").alias("dotq"),
        )
        .groupBy("q_vec_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("slot", "dotq"))).alias("lut"))
    )


def _pq_tables_sql(cb: str, qsub: str) -> str:
    """The PQ oracles' shared CTEs over the codebook ``cb`` and CTE
    sub(vec_id, m, sq): codes (each subvector's nearest entry), cn2
    (each entry's squared norm) and lut (every ``qsub``(q_vec_id, m,
    qsq) query subvector dotted with every entry)."""
    return f"""
    codes AS (SELECT vec_id, m, cid FROM ({_assign_sql("sub", cb, PQ_SUB, "m")})),
    cn2 AS (SELECT m, cid, {_n2_sql("ce")} AS n2 FROM {cb}),
    lut AS (
      SELECT s.q_vec_id, s.m, c.cid, {_dot_sql("s.qsq", "c.ce", PQ_SUB)} AS dotq
      FROM {qsub} s JOIN {cb} c ON c.m = s.m
    )"""


def _pq_oracle() -> str:
    """Unrolled PQ pipeline as DuckDB SQL: grid-quantize → split into
    subvectors → seed per-subspace codebooks → PQ_ITERS Lloyd
    refinements → encode → per-query LUT → exact-integer ADC dot +
    reconstructed norms → cosine rank → top-k."""
    qsub = f"(SELECT vec_id AS q_vec_id, m, sq AS qsq FROM sub WHERE vec_id < {N_QUERIES})"
    return f"""
    WITH {_EQ_SQL},
    sub AS {_split_sql("eq", "eq", "sq", "vec_id")},
    {_lloyd_sql("sub", PQ_K, PQ_SUB, PQ_ITERS, "m").strip()},
    {_pq_tables_sql(f"c{PQ_ITERS}", qsub).strip()},
    xn2 AS (
      SELECT k.vec_id, CAST(sum(c.n2) AS BIGINT) AS n2hat
      FROM codes k JOIN cn2 c ON c.m = k.m AND c.cid = k.cid
      GROUP BY k.vec_id
    ),
    qn2 AS (
      SELECT vec_id AS q_vec_id, {_n2_sql("eq")} AS n2
      FROM eq WHERE vec_id < {N_QUERIES}
    ),
    scores AS (
      SELECT l.q_vec_id, k.vec_id, CAST(sum(l.dotq) AS BIGINT) AS pq_dot
      FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
                             AND k.vec_id <> l.q_vec_id
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT s.q_vec_id, s.vec_id, {_int_cos_sql("s.pq_dot", "q.n2", "x.n2hat")} AS pq_sim
      FROM scores s
      JOIN qn2 q ON q.q_vec_id = s.q_vec_id
      JOIN xn2 x ON x.vec_id = s.vec_id
    )
    {_neighbors_sql("sims", IVF_TOP_K, "pq_sim")}
    """


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sq): the 1e-4-grid vector split into PQ_M
    subvectors of PQ_SUB dims each."""
    return _split(_grid_emb(spark, sf_dir), "eq", "sq", "vec_id")


def _pq_assign(
    sub: DataFrame, cents: DataFrame, keep_sq: bool, extra: tuple = ()
) -> DataFrame:
    """Nearest codebook entry per (vec_id, m): exact integer squared
    distance, (d2, cid) argmin.

    The codebook is bounded by contract (M×K = 256 rows of PQ_SUB
    ints), so it is collected and shipped as an explicit SparkContext
    broadcast, and each Arrow batch scores against it with ONE int64
    numpy matmul per subspace — the `ann_cosine_topk_numpy` /
    kNN-builder pattern. A first cut did this as a broadcast join with
    a zip_with d2 fold; at 40× (80k vectors) the 164M interpreted fold
    evaluations per pass cost ~40 s each — the interpreted
    higher-order-fold cliff, one module over. Exactness is unchanged:
    the expansion ‖x−c‖² = x·x − 2x·c + c·c is exact in int64 (terms
    ≤ ~8e10), and numpy's first-occurrence argmin over cid-ordered
    columns IS the (d2, cid) tie-break."""
    import numpy as np
    import pandas as pd

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()

    by_m: dict[int, tuple] = {}
    for row in cents.collect():  # bounded: M×K rows by contract
        by_m.setdefault(int(row["m"]), []).append(
            (int(row["cid"]), np.asarray(row["ce"], dtype=np.int64))
        )
    packed = {
        m: (
            np.array([cid for cid, _ in sorted(entries)], dtype=np.int64),
            np.stack([ce for _, ce in sorted(entries)]),
        )
        for m, entries in by_m.items()
    }
    sc = sub.sparkSession.sparkContext
    bc = sc.broadcast(packed)

    out_schema = "vec_id bigint, m bigint, cid bigint" + (
        ", sq array<bigint>" if keep_sq else ""
    )
    for name in extra:  # passthrough columns (e.g. the IVF cell id)
        out_schema += f", {name} {dict(sub.dtypes)[name]}"

    def assign(batches):
        cb = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["sq"].to_numpy()).astype(np.int64)
            ms = pdf["m"].to_numpy()
            cid_out = np.empty(len(pdf), dtype=np.int64)
            for m in np.unique(ms):
                cids, C = cb[int(m)]
                mask = ms == m
                Xm = X[mask]
                d2 = (
                    (Xm * Xm).sum(axis=1, keepdims=True)
                    - 2 * (Xm @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                cid_out[mask] = cids[d2.argmin(axis=1)]
            cols = {"vec_id": pdf["vec_id"], "m": pdf["m"], "cid": cid_out}
            if keep_sq:
                cols["sq"] = pdf["sq"]
            for name in extra:
                cols[name] = pdf[name]
            yield pd.DataFrame(cols)

    return sub.mapInPandas(assign, out_schema)


def _pq_train(spark: SparkSession, sf_dir: str, sub: DataFrame) -> DataFrame:
    """Train the per-subspace codebooks: deterministic seeding (first
    PQ_K vectors' subvectors, cid = bounded rank — mirroring the
    oracle's row_number ORDER BY vec_id), PQ_ITERS Lloyd refinements.
    Shared by the query and the codebook-health pytest so the test can
    never drift onto a stale training recipe. Returns the codebook
    lineage-checkpointed: it feeds three downstream branches (encode,
    norm table, LUTs), so the training chain must compute once."""
    from minimapreduce_spark.operators.ordered import with_bounded_rank

    seeds = (
        _grid_emb(spark, sf_dir)
        .where(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("seed_id"))
    )
    seed_cids = with_bounded_rank(seeds, "seed_id", out="_rn").select(
        F.col("seed_id").alias("vec_id"), F.col("_rn").cast("bigint").alias("cid")
    )
    # ADAPTIVE KERNEL DISPATCH (the embedding_kmeans_lloyd /
    # bpe_train_merges pattern): the per-subspace Lloyd rounds are
    # driver-synchronous anyway (_pq_assign collects + broadcasts the
    # previous round's M×K codebook every round), so under the bounded-
    # collect ceiling the refinements run in the driver on the same
    # int64 grid (_lloyd_local per subspace — identical seeds, argmin
    # tie-breaks, floor means and empty-entry drops; twin-equality
    # pytest-pinned) and only the ≤M×K-row codebook frame is created.
    # Seed numbering stays oracle-identical under any train predicate
    # (seed cids come from the full-table rank; absent ids drop out).
    # Above the ceiling the distributed loop runs unchanged.
    if _lloyd_points_fit_driver(sf_dir):
        import numpy as np

        seed_map = {int(r["vec_id"]): int(r["cid"]) for r in seed_cids.collect()}
        rows = sub.select("vec_id", "m", "sq").collect()
        by_m: dict[int, list] = {}
        for r in rows:
            by_m.setdefault(int(r["m"]), []).append((int(r["vec_id"]), r["sq"]))
        out = []
        for m in sorted(by_m):
            ids = np.array([v for v, _ in by_m[m]], dtype=np.int64)
            X = np.array([s for _, s in by_m[m]], dtype=np.int64)
            seed_entries = sorted(
                ((seed_map[int(v)], i) for i, v in enumerate(ids) if int(v) in seed_map),
            )
            cids = np.array([c for c, _ in seed_entries], dtype=np.int64)
            C = X[[i for _, i in seed_entries]]
            _, _, cids, C = _lloyd_local(X, ids, cids, C, PQ_ITERS)
            out.extend(
                (m, int(c), [int(x) for x in ce]) for c, ce in zip(cids, C)
            )
        return spark.createDataFrame(out, "m bigint, cid bigint, ce array<bigint>")

    cb = sub.join(F.broadcast(seed_cids), "vec_id").select(
        "m", "cid", F.col("sq").alias("ce")
    )
    for _ in range(PQ_ITERS):
        cb = _dim_mean(_pq_assign(sub, cb, keep_sq=True), ["m", "cid"], "sq", "ce")
    return cb.localCheckpoint(eager=False)


@register("ann_pq_adc_topk", oracle=_pq_oracle(), bench=True)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the FAISS-PQ serving shape, and the ledger's missing compression
    rung past scalar int8 (`ann_ivf_int8_topk`): instead of quantizing
    each DIMENSION, quantize each SUBVECTOR to one of PQ_K codebook
    entries, so a 64-dim float vector becomes PQ_M=8 codes (one byte
    each at K≤256) — 32× compression — and query-time scoring is M
    table lookups per corpus vector, no arithmetic on the vector at all.

    Pipeline (every step integer-exact on the 1e-4 grid, so the whole
    train→encode→score chain hash-matches the unrolled SQL twin):
      1. codebooks: per-subspace k-means, deterministically seeded
         (first PQ_K vectors' subvectors), PQ_ITERS Lloyd refinements
         with exact-floor integer means (`embedding_kmeans_lloyd`
         discipline; empty entries drop identically on both engines);
      2. encode: (d2, cid)-argmin per (vector, subspace) → a PQ_M-code
         array per vector, plus its exact reconstructed norm²
         Σ_m ‖c_m‖² from a per-entry integer norm table;
      3. ADC: each query stays UNQUANTIZED on the grid (asymmetric) and
         precomputes its M×K dot-product lookup table; the approximate
         dot is an exact BIGINT fold of M broadcast-map lookups;
      4. approximate cosine = dot / (‖q‖·‖x̂‖) — exact integer inputs
         into one identical sqrt/divide, round(…, 6) before ranking
         (the `ann_ivf_int8_topk` float discipline) — then top-5 per
         query, (sim desc, vec_id) tie-break, self excluded.

    Scale posture: codebooks, the per-entry norm table, and per-query
    LUTs are tiny broadcasts (M×K rows; N_QUERIES maps of M×K entries).
    The corpus is touched by exactly two narrow passes — encode
    (one-time; production persists the code column) and the scoring
    scan, whose per-vector cost is M map lookups regardless of
    dimension. The only corpus-sized shuffle is the per-query top-k
    window, same as the brute-force baseline. Recall vs the exact float
    top-k is pinned in pytest with the caveat that this fixture's
    near-isotropic synthetic vectors are PQ's worst case (no cluster
    structure for codebooks to exploit); codebook-health invariants
    (codes span >1 entry per subspace, every vector gets exactly PQ_M
    codes) are pinned alongside.
    """
    sub = _pq_subvectors(spark, sf_dir)
    cb = _pq_train(spark, sf_dir, sub)
    codes = _pq_assign(sub, cb, keep_sq=False)
    # one PQ_M-code array per vector, ordered by subspace, plus the
    # exact reconstructed norm² from the per-entry norm table
    cn2 = cb.select("m", "cid", _n2_i("ce").alias("n2"))
    xn2 = (
        codes.join(F.broadcast(cn2), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("n2").alias("n2hat"))
    )
    code_arr = (
        codes.groupBy("vec_id").agg(_by_pos("m", "cid").alias("code")).join(xn2, "vec_id")
    )
    lut_maps = _lut(_queries(sub, m="m", qsq="sq"), cb).join(
        _queries(_grid_emb(spark, sf_dir), qn2=_n2_i("eq")), "q_vec_id"
    )
    scored = code_arr.join(
        F.broadcast(lut_maps), code_arr["vec_id"] != lut_maps["q_vec_id"]
    ).select(
        "q_vec_id", "vec_id", _int_cos(_code_fold("lut"), "qn2", "n2hat").alias("pq_sim")
    )
    return _neighbors(scored, IVF_TOP_K, "pq_sim")


def _ivfpq_ctes(nprobe: int = 1, train_pred: str | None = None) -> str:
    """Unrolled residual IVF-PQ as DuckDB CTEs ending in
    sims(q_vec_id, vec_id, ivfpq_sim): grid-quantize → per-label grid
    centroids (exact-floor means) → residuals → per-subspace codebooks
    on residuals (`_lloyd_sql`, the _pq_oracle chain over the training
    residual subvectors) → encode → cosine-route each query to its
    top-``nprobe`` cells → ADC over the routed cells' members only,
    with the exact decomposition dot(q, x̂) = dot(q, c_cell) +
    Σ_m LUT_q(m, code_m) and ‖x̂‖² = ‖c‖² + 2·Σ_m c_m·ce + Σ_m ‖ce‖²
    (the constant term is per-cell, so it rides the route rows).

    ``train_pred`` (SQL predicate on vec_id/label) restricts the
    TRAINING population — centroid means, seed membership (seeds are
    numbered over the full id range, absent ones drop out, keeping cid
    numbering engine-identical), and every Lloyd assignment — while
    encoding, routing and serving still cover the full corpus: the
    frozen-index append contract of `ann_ivfpq_append_serve`."""
    tp = train_pred or "TRUE"
    cb = f"c{PQ_ITERS}"
    route = _top_k_sql(
        """q JOIN qn2 qn ON qn.q_vec_id = q.q_vec_id
        CROSS JOIN cg g JOIN celln2 cl ON cl.label = g.label""",
        nprobe,
        _int_cos_sql(_dot_sql("q.qe", "g.cg", 64), "qn.qn2", "cl.cn2cell"),
        tie="g.label",
        by="q.q_vec_id",
        rn="crn",
        cols="q.q_vec_id, g.label",
    )
    return f"""{_EQ_SQL},
    cg AS ({_floor_mean_sql(f"(SELECT * FROM eq WHERE {tp})", "label", "eq", "cg")}),
    res AS (
      SELECT e.vec_id, e.label,
             list_transform(generate_series(1, 64), i -> e.eq[i] - g.cg[i]) AS rq
      FROM eq e JOIN cg g USING (label)
    ),
    sub AS {_split_sql("res", "rq", "sq", "vec_id")},
    sub_t AS (
      SELECT s.vec_id, s.m, s.sq
      FROM sub s JOIN (SELECT vec_id FROM eq WHERE {tp}) t USING (vec_id)
    ),
    {_lloyd_sql("sub_t", PQ_K, PQ_SUB, PQ_ITERS, "m").strip()},
    q AS (SELECT vec_id AS q_vec_id, eq AS qe FROM eq WHERE vec_id < {N_QUERIES}),
    {_pq_tables_sql(cb, _split_sql("q", "qe", "qsq", "q_vec_id")).strip()},
    cdot AS (
      SELECT s.label, s.m, c.cid, {_dot_sql("s.csq", "c.ce", PQ_SUB)} AS cd
      FROM {_split_sql("cg", "cg", "csq", "label")} s JOIN {cb} c ON c.m = s.m
    ),
    celln2 AS (SELECT label, {_n2_sql("cg")} AS cn2cell FROM cg),
    xn2 AS (
      SELECT p.vec_id, p.label,
             CAST(p.part + cl.cn2cell AS BIGINT) AS n2hat
      FROM (
        SELECT k.vec_id, e.label, sum(c.n2) + 2 * sum(d.cd) AS part
        FROM codes k
        JOIN eq e USING (vec_id)
        JOIN cn2 c ON c.m = k.m AND c.cid = k.cid
        JOIN cdot d ON d.label = e.label AND d.m = k.m AND d.cid = k.cid
        GROUP BY k.vec_id, e.label
      ) p JOIN celln2 cl ON cl.label = p.label
    ),
    qn2 AS (SELECT q_vec_id, {_n2_sql("qe")} AS qn2 FROM q),
    route AS (SELECT q_vec_id, label FROM {route}),
    qdotc AS (
      SELECT r.q_vec_id, r.label, {_dot_sql("q.qe", "g.cg", 64)} AS qc
      FROM route r
      JOIN q ON q.q_vec_id = r.q_vec_id
      JOIN cg g ON g.label = r.label
    ),
    scores AS (
      SELECT r.q_vec_id, e.label, k.vec_id,
             CAST(sum(l.dotq) AS BIGINT) AS rdot
      FROM route r
      JOIN eq e ON e.label = r.label AND e.vec_id <> r.q_vec_id
      JOIN codes k ON k.vec_id = e.vec_id
      JOIN lut l ON l.q_vec_id = r.q_vec_id AND l.m = k.m AND l.cid = k.cid
      GROUP BY 1, 2, 3
    ),
    sims AS (
      SELECT s.q_vec_id, s.vec_id,
             {_int_cos_sql("s.rdot + qc.qc", "qn.qn2", "x.n2hat")} AS ivfpq_sim
      FROM scores s
      JOIN qdotc qc ON qc.q_vec_id = s.q_vec_id AND qc.label = s.label
      JOIN qn2 qn ON qn.q_vec_id = s.q_vec_id
      JOIN xn2 x ON x.vec_id = s.vec_id
    )"""


def _ivfpq_oracle(nprobe: int = 1, train_pred: str | None = None) -> str:
    """The residual IVF-PQ top-k as DuckDB SQL (`_ivfpq_ctes`)."""
    return (
        f"WITH {_ivfpq_ctes(nprobe, train_pred)}"
        f" {_neighbors_sql('sims', IVF_TOP_K, 'ivfpq_sim')}"
    )


def _ivfpq_topk_plan(spark: SparkSession, sf_dir: str, nprobe: int = 1) -> DataFrame:
    """Residual IVF-PQ — the composed FAISS-IVFPQ serving shape, and
    the rung the ledger's ANN family was missing between
    `ann_ivf_int8_topk` (cell pruning + scalar codes) and
    `ann_pq_adc_topk` (flat PQ, whole-corpus scan): cell pruning AND
    product-quantized codes, with the codebooks trained on RESIDUALS
    (x − c_cell) so the quantizer spends its entries on within-cell
    variation instead of re-encoding the cell mean — the reason real
    IVFPQ indexes encode residuals (Jégou et al., PQ for nearest
    neighbor search).

    Every step stays integer-exact on the 1e-4 grid, so the full
    centroid→residual→train→encode→route→ADC chain hash-matches the
    unrolled SQL twin:
      1. cell centroids: per-label exact-floor integer means of the
         grid vectors (`embedding_kmeans_lloyd` discipline);
      2. residuals r = eq − c_cell are exact integer arrays; per-
         subspace codebooks train on them via the shared `_pq_train`
         chain (deterministic seeds, PQ_ITERS exact-floor Lloyd
         refinements, empty entries drop identically);
      3. encode: `_pq_assign` (d2, cid)-argmin → PQ_M codes/vector;
      4. reconstructed norm² decomposes exactly:
         ‖x̂‖² = ‖c‖² + 2·Σ_m c_m·ce(m,code_m) + Σ_m ‖ce(m,code_m)‖² —
         the cross term comes from a bounded (label × M × K) integer
         table, so no per-vector arithmetic touches the vector;
      5. routing: cosine(q, c_cell) on the grid (exact integer dot and
         norms into one sqrt/divide, round-before-rank, label
         tie-break), top-``nprobe`` cells — the `ann_ivf_nprobe_topk`
         dial composed into the PQ chain; the ADC constant term
         dot(q, c_cell) is PER-CELL, so it rides the route rows;
      6. ADC on cell members only: dot(q, x̂) = dot(q, c_cell) +
         Σ_m LUT_q(m, code_m), every term BIGINT; approximate cosine =
         round(dot / (‖q‖·‖x̂‖), 6), top-5, (sim desc, vec_id) ties.

    Scale posture: the corpus is touched by the one-time encode pass
    and a scoring scan of ~1/|cells| of the rows (at 100 TB the code
    column is persisted partitioned/bucketed by cell, so routing is
    partition pruning — the scan never reads unrouted cells). Codebook,
    norm, cross-term, and LUT tables are all bounded broadcasts
    (M×K, label×M×K, N_QUERIES×M×K). The only corpus-order shuffle is
    the per-query top-k window over cell members. Recall vs exact
    cosine and vs flat PQ is pinned in pytest alongside
    codebook-health and an exact numpy replay of the norm/dot
    decomposition.
    """
    cg, cb, code_arr = _ivfpq_index_frames(spark, sf_dir)
    return _ivfpq_serve(spark, sf_dir, cg, cb, code_arr, nprobe)


def _ivfpq_rsub(
    spark: SparkSession,
    sf_dir: str,
    cg: DataFrame,
    pred: Column | None = None,
) -> DataFrame:
    """Residual-subvector frame ``(vec_id, label, m, sq)`` for the
    (optionally ``pred``-restricted) embeddings population under FIXED
    cell centroids ``cg`` — the shared residual front end of the
    inline build, the base-artifact build, and the physical append
    path (which residualizes ONLY an arrival batch against the
    artifact's centroids), factored so the three can never drift."""
    embq = _grid_emb(spark, sf_dir, "label")
    if pred is not None:
        embq = embq.where(pred)
    res = embq.join(F.broadcast(cg), "label").select(
        "vec_id", "label",
        F.zip_with("eq", "cg", lambda x, y: x - y).alias("rq"),
    )
    return _split(res, "rq", "sq", "vec_id", "label")


def _ivfpq_index_frames(
    spark: SparkSession,
    sf_dir: str,
    train_pred: Column | None = None,
    encode_pred: Column | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Steps 1-4 of the IVF-PQ chain — the INDEX-BUILD half: returns
    (cell centroids ``cg(label, cg)``, residual codebooks
    ``cb(m, cid, ce)``, encoded corpus ``code_arr(vec_id, label, code,
    n2hat)``). `_ivfpq_topk_plan` composes these inline with
    `_ivfpq_serve`; `ivfpq_index_build` persists them as the parquet
    artifact that `ann_ivfpq_served_topk` serves from.

    ``train_pred`` restricts the TRAINING population (centroid means,
    seed membership, Lloyd assignments) while the encode still covers
    the full corpus — the frozen-index append contract: vectors
    outside the predicate are quantized under codebooks that never saw
    them, exactly what appending a batch to a persisted index does.
    ``encode_pred`` additionally restricts the ENCODED population —
    the base-artifact build (`ivfpq_base_index_build`) passes the same
    predicate for both, so the artifact contains only base-corpus
    codes and the batch's codes arrive later via the physical append
    (`ivfpq_index_append`)."""
    embq = _grid_emb(spark, sf_dir, "label")
    embq_t = embq.where(train_pred) if train_pred is not None else embq
    # 1. per-label grid centroids: exact-floor integer means (TRAIN set);
    # they feed residuals, cell tables and routing
    cg = _dim_mean(embq_t, ["label"], "eq", "cg").localCheckpoint(eager=False)
    # 2. residuals and their subvectors; codebooks via the shared chain
    rsub = _ivfpq_rsub(spark, sf_dir, cg)
    rsub_t = (
        rsub.where(train_pred) if train_pred is not None else rsub
    )
    # seeds are numbered over the full id range inside _pq_train and
    # simply drop out where the train frame lacks them — cid numbering
    # stays oracle-identical under any predicate
    cb = _pq_train(spark, sf_dir, rsub_t.drop("label"))
    rsub_e = rsub.where(encode_pred) if encode_pred is not None else rsub
    return cg, cb, _ivfpq_encode(rsub_e, cg, cb)


def _ivfpq_encode(rsub: DataFrame, cg: DataFrame, cb: DataFrame) -> DataFrame:
    """ENCODE under FROZEN quantizers: (vec_id, label, code, n2hat)
    for the residual-subvector frame ``rsub(vec_id, label, m, sq)``
    given fixed centroids + codebooks. Steps 3-4 of the chain, factored
    so the append path can encode an ARBITRARY frame (a daily arrival
    batch) without touching the corpus — the encode's inputs are the
    batch rows plus two bounded broadcasts, so its cost is ∝ batch at
    any corpus size."""
    # 3. encode, with the cell id riding along (no corpus-side re-join)
    codes = _pq_assign(rsub, cb, keep_sq=False, extra=("label",))
    # 4. exact reconstructed norm², fused into ONE per-label broadcast
    # map: val(label, m, cid) = ‖ce‖² + 2·c_m·ce, so per vector
    # n2hat = ‖c‖² + Σ_m val[slot(m, code_m)]
    cells = (
        _split(cg, "cg", "csq", "label")
        .join(cb, "m")
        .select(
            "label",
            _slot(F.col("m"), F.col("cid")).alias("slot"),
            (_n2_i("ce") + 2 * _dot_i("csq", "ce")).alias("val"),
        )
        .groupBy("label")
        .agg(F.map_from_entries(F.collect_list(F.struct("slot", "val"))).alias("vmap"))
        .join(cg.select("label", _n2_i("cg").alias("cn2cell")), "label")
    )
    return (
        codes.groupBy("vec_id", "label")
        .agg(_by_pos("m", "cid").alias("code"))
        .join(F.broadcast(cells), "label")
        .select(
            "vec_id", "label", "code",
            (F.col("cn2cell") + _code_fold("vmap")).alias("n2hat"),
        )
    )


def _ivfpq_serve(
    spark: SparkSession,
    sf_dir: str,
    cg: DataFrame,
    cb: DataFrame,
    code_arr: DataFrame,
    nprobe: int = 1,
    query_frame: DataFrame | None = None,
) -> DataFrame:
    """Steps 5-6 of the IVF-PQ chain — the SERVING half: route each
    query to its top-``nprobe`` cells by grid cosine, build the
    per-query ADC LUT from the codebooks, and score ONLY routed-cell
    members via the code arrays. Touches the embeddings table only for
    the query vectors; the corpus is represented entirely by the
    (cg, cb, code_arr) index frames — inline-trained in
    `_ivfpq_topk_plan`, artifact-loaded in `ann_ivfpq_served_topk`.

    ``query_frame`` (q_vec_id, qe grid-BIGINT array) overrides the
    default query source (embeddings rows with vec_id < N_QUERIES) —
    the hook that lets the ONLINE serving path
    (`stream_ann_serve_ivfpq`) score each micro-batch of arriving
    queries through the identical routing/LUT/ADC half."""
    # 5. routing: grid cosine to the nearest cell centroid; the routed
    # row KEEPS the exact query·centroid dot (the ADC constant term).
    # The query frame is bounded (N_QUERIES rows) and feeds routing AND
    # the LUT build — checkpoint so the serving plan scans the
    # embeddings table exactly once (plan-pinned for the served twin).
    qsrc = (
        query_frame.select("q_vec_id", "qe")
        if query_frame is not None
        else _queries(_grid_emb(spark, sf_dir), qe="eq")
    )
    q = qsrc.select("q_vec_id", "qe", _n2_i("qe").alias("qn2")).localCheckpoint(
        eager=False
    )
    scored = q.crossJoin(
        F.broadcast(cg.select("label", "cg", _n2_i("cg").alias("cn2cell")))
    ).select("q_vec_id", "label", "qn2", _dot_i("qe", "cg").alias("qc"), "cn2cell")
    routed = _top_k(
        scored.withColumn("c_sim", _int_cos("qc", "qn2", "cn2cell")),
        nprobe,
        "c_sim",
        tie="label",
        rn="crn",
    ).select("q_vec_id", "qn2", "qc", F.col("label").alias("q_label"))
    # 6. ADC: per-query LUT map + the kept query·centroid term
    q_side = _lut(_split(q, "qe", "qsq", "q_vec_id"), cb).join(routed, "q_vec_id")
    scored = code_arr.join(
        F.broadcast(q_side),
        (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_vec_id")),
    ).select(
        "q_vec_id",
        "vec_id",
        _int_cos(_code_fold("lut") + F.col("qc"), "qn2", "n2hat").alias("ivfpq_sim"),
    )
    return _neighbors(scored, IVF_TOP_K, "ivfpq_sim")


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle(), bench=True)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ at nprobe=1 — see ``_ivfpq_topk_plan`` for the
    full centroid→residual→train→encode→route→ADC contract."""
    return _ivfpq_topk_plan(spark, sf_dir, nprobe=1)


@register("ann_ivfpq_nprobe_topk", oracle=_ivfpq_oracle(IVF_NPROBE))
def ann_ivfpq_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ with multi-cell probing (nprobe=2) — the actual
    FAISS serving configuration, composing the `ann_ivf_nprobe_topk`
    recall dial into the `ann_ivfpq_topk` residual-PQ chain: each query
    routes to its top-IVF_NPROBE cells by grid-cosine (round-before-
    rank, label tie-break) and ADC-scores the union of their members.
    Because codebooks are trained on residuals r = x − c_cell, the ADC
    constant term dot(q, c_cell) and the reconstructed norm are both
    per-cell — the probed cells cannot share them — so the route rows
    carry their own qc, and candidates join their OWN cell's terms.

    Recall is monotone in nprobe by construction (the candidate set at
    nprobe=2 is a superset of nprobe=1) — pinned in pytest against the
    exact cosine top-k; scan cost is nprobe/|cells| of the corpus, the
    frontier FAISS tunes per deployment.

    Scale posture: identical to `ann_ivfpq_topk` (bounded broadcast
    codebooks/LUTs, partition-pruned cell scan) with the scan ×nprobe;
    all other stages are query-bounded. Reference-capability anchor:
    the parallel-work-split engine property of main/test-mr.sh:102-129
    applied to the ANN recall/cost frontier.
    """
    return _ivfpq_topk_plan(spark, sf_dir, nprobe=IVF_NPROBE)


def ivfpq_index_root(sf_dir: str) -> str:
    """Deterministic on-disk location of the persisted IVF-PQ index for
    a fixture dir: keyed by the ABSOLUTE fixture path plus the
    embeddings table's CONTENT FINGERPRINT (`content_fingerprint` — the
    `table_stream_sharded` staging-key discipline), so a regenerated
    fixture at the same path gets a fresh root instead of silently
    serving the stale index. NOT session-keyed — the
    whole point is write-once/serve-many across sessions. Concurrency
    is handled by `artifacts.publish`, not by per-session paths
    (contrast `bucketed_join`'s staging, which is rewritten per run and
    therefore session-keyed). Named by `artifacts.fixture_root`."""
    return fixture_root("ivfpq_index", sf_dir, ("embeddings",))


IVFPQ_INDEX_MARKER = FAMILIES["ivfpq_index"][1]


def _write_ivfpq_index(
    stage: str, cg: DataFrame, cb: DataFrame, codes: DataFrame
) -> None:
    """The index's three tables; ``codes`` partitioned by cell, one
    task per cell."""
    cg.write.mode("overwrite").parquet(os.path.join(stage, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(stage, "codebook"))
    _write_ivfpq_codes(stage, codes)


def _write_ivfpq_codes(stage: str, codes: DataFrame) -> None:
    (
        codes.repartition("label")
        .write.mode("overwrite")
        .partitionBy("label")
        .parquet(os.path.join(stage, "codes"))
    )


# explicit artifact-read schemas: a schema-less read runs one Spark
# job per table to infer its schema from the parquet footers
IVFPQ_CENTROID_SCHEMA = "label int, cg array<bigint>"
IVFPQ_CODEBOOK_SCHEMA = "m bigint, cid bigint, ce array<bigint>"
IVFPQ_CODE_SCHEMA = "vec_id bigint, code array<bigint>, n2hat bigint, label int"


def read_ivfpq_index(
    spark: SparkSession, root: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The index under ``root`` read back through the explicit artifact
    schemas: (centroids, codebook, codes as (vec_id, label, code,
    n2hat)) — `_ivfpq_serve`'s inputs."""
    cg = spark.read.schema(IVFPQ_CENTROID_SCHEMA).parquet(
        os.path.join(root, "centroids")
    )
    cb = spark.read.schema(IVFPQ_CODEBOOK_SCHEMA).parquet(
        os.path.join(root, "codebook")
    )
    codes = (
        spark.read.schema(IVFPQ_CODE_SCHEMA)
        .parquet(os.path.join(root, "codes"))
        .select("vec_id", "label", "code", "n2hat")
    )
    return cg, cb, codes


def ivfpq_index_build(spark: SparkSession, sf_dir: str, root: str | None = None) -> str:
    """TRAIN-ONCE: persist the IVF-PQ index as a three-table parquet
    artifact — ``centroids`` (label, cg), ``codebook`` (m, cid, ce),
    ``codes`` (vec_id, label, code, n2hat) — and return its root.

    This is the ANN analog of `write_bucketed`'s write-once contract
    (operators/scale.py): a 100 TB deployment trains centroids and
    codebooks in a build job and SERVES from the persisted artifact —
    it never pays training inline per query, which is exactly what
    every other IVF/PQ query in this module does (they are the
    correctness/composition baselines; this is the deployment shape).
    The ``codes`` table is written partitioned by cell (label), so a
    routed serve scan is partition pruning on disk — the bucketed-by-
    cell layout the IVF posture notes have been naming all along.

    Published by `artifacts.publish`, so concurrent sessions share one
    artifact and never observe a half-written index. Rebuild only
    happens when the root is absent; the artifact content is a
    deterministic pure function of the fixture (integer-grid training,
    deterministic seeds, exact-floor Lloyd), which is what makes serve-from-artifact ≡ inline-train — pinned in
    pytest both frame-by-frame and end-to-end."""

    def write(stage: str) -> None:
        _write_ivfpq_index(stage, *_ivfpq_index_frames(spark, sf_dir))

    return publish(root or ivfpq_index_root(sf_dir), IVFPQ_INDEX_MARKER, write)


@register("ann_ivfpq_served_topk", oracle=_ivfpq_oracle(), bench=True)
def ann_ivfpq_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SERVED FROM THE PERSISTED INDEX — the deployment rung
    after training: `ivfpq_index_build` trains once and
    publishes the parquet artifact (atomic rename, write-once), and
    this query answers top-k from ``centroids``/``codebook``/``codes``
    alone — `_ivfpq_serve`, the identical routing/LUT/ADC half the
    inline twins use — touching the embeddings table ONLY for the
    query vectors (plan-pinned: exactly one embeddings scan vs the
    inline twin's many, and zero codebook-training aggregations in the
    serving plan).

    The oracle is the deterministic recompute (`_ivfpq_oracle`, shared
    with `ann_ivfpq_topk`): the artifact is a pure function of the
    fixture, so artifact-serve ≡ inline-train ≡ unrolled SQL — and the
    artifact-vs-recompute equivalence is additionally pinned frame-by-
    frame in pytest (DuckDB reads the artifact parquet directly).

    Scale posture: the serve plan reads three bounded broadcast tables
    (centroids M-row, codebook M×K-row) plus the codes table —
    partitioned by cell on disk, so the routed scan prunes to
    nprobe/|cells| of the corpus at the storage layer; per-query cost
    is independent of training. Bench note: the first run of a session
    pays the one-time build (artifact absent), every later run serves
    only — the min-of-runs bench protocol therefore reports the
    steady-state serving cost, which is the number a 100 TB deployment
    sees per query batch."""
    return _served_topk(spark, sf_dir, lambda: ivfpq_index_build(spark, sf_dir))


def _served_topk(
    spark: SparkSession, sf_dir: str, publish_index: Callable[[], str]
) -> DataFrame:
    """The lifecycle queries' shared tail: serve top-k from the index
    ``publish_index()`` publishes."""
    # Degenerate-input policy: an empty embeddings table yields an
    # empty result frame (a partitioned parquet write of zero rows
    # produces no readable files, so the artifact path cannot exist)
    if catalog.parquet_rowcount(catalog.table_path(sf_dir, "embeddings")) == 0:
        return spark.createDataFrame(
            [], "q_vec_id bigint, neighbor_id bigint, ivfpq_sim double, rn int"
        )
    frames = read_ivfpq_index(spark, publish_index())
    return _ivfpq_serve(spark, sf_dir, *frames, nprobe=1)


APPEND_MOD = 13  # every 13th corpus vector is the "appended" batch


def _append_batch() -> Column:
    """The appended batch: every ``APPEND_MOD``-th vector that is not a
    query vector."""
    return (F.col("vec_id") % APPEND_MOD == 0) & (F.col("vec_id") >= N_QUERIES)


# `_append_batch` in SQL: training ranges over everything but the batch
_APPEND_ORACLE = _ivfpq_oracle(
    1, train_pred=f"NOT (vec_id % {APPEND_MOD} = 0 AND vec_id >= {N_QUERIES})"
)


@register("ann_ivfpq_append_serve", oracle=_APPEND_ORACLE)
def ann_ivfpq_append_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL INDEX APPEND — the third rung of the index
    lifecycle after build (`ivfpq_index_build`) and serve
    (`ann_ivfpq_served_topk`): a batch of NEW vectors (every
    ``APPEND_MOD``-th corpus id, the `dedup_minhash_incremental`
    batch discipline) is encoded under the FROZEN base-trained
    centroids and codebooks — training never sees the batch — and
    serving answers over base + batch together. This is what appending
    to a persisted IVF-PQ index actually does at 100 TB: quantize the
    new rows with the existing quantizers, write their cell partitions
    into the codes table, never retrain (FAISS `add` after `train`);
    periodic re-trains are a separate offline rebuild.

    The oracle is `_ivfpq_oracle` with the SAME train predicate —
    centroid means, seed membership and every Lloyd assignment range
    over the base only, while encode/route/serve cover the full
    corpus — so the frozen-quantizer contract is hash-checked end to
    end, and the physical-freeze pytest additionally pins that the
    codebook CONTENT equals a from-scratch train on a corpus with the
    batch rows physically absent (cid numbering aside: seeds number
    over the full id range and excluded ones drop out as a gap).

    Recall note: appended vectors are quantized by codebooks that
    never saw their residual distribution — the honest drift cost of
    append-without-retrain that makes production indexes schedule
    periodic rebuilds; on this fixture the batch is distribution-
    identical so the cost is invisible, and the pytest instead pins
    the mechanism (frozen frames).

    Scale posture: identical to the served twin, plus the append cost
    is ONE narrow encode pass over the batch (broadcast codebooks,
    Arrow matmul assign) — independent of base-corpus size, the
    property SCALING.md "append-cost independence for the IVF-PQ
    index" measures (a fixed 500-vector append stays flat under
    16× corpus growth)."""
    if catalog.parquet_rowcount(catalog.table_path(sf_dir, "embeddings")) == 0:
        # Degenerate-input policy: no corpus → no index → empty result
        return spark.createDataFrame(
            [], "q_vec_id bigint, neighbor_id bigint, ivfpq_sim double, rn int"
        )
    cg, cb, code_arr = _ivfpq_index_frames(spark, sf_dir, train_pred=~_append_batch())
    return _ivfpq_serve(spark, sf_dir, cg, cb, code_arr, nprobe=1)


def ivfpq_base_index_build(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> str:
    """BASE-ONLY artifact for the physical-append lifecycle: train AND
    encode on the base population (everything except the
    ``APPEND_MOD`` arrival batch), persisted exactly like
    `ivfpq_index_build` — same three tables, same cell-partitioned
    codes layout, same `artifacts.publish`. The batch's codes are
    deliberately ABSENT: they arrive later via `ivfpq_index_append`,
    which is what makes the appended artifact's content an actual
    fold-in rather than a rebuild in disguise."""

    def write(stage: str) -> None:
        pred = ~_append_batch()
        frames = _ivfpq_index_frames(spark, sf_dir, train_pred=pred, encode_pred=pred)
        _write_ivfpq_index(stage, *frames)

    root = root or f"{ivfpq_index_root(sf_dir)}_base{APPEND_MOD}"
    return publish(root, IVFPQ_INDEX_MARKER, write)


def ivfpq_index_append(
    spark: SparkSession,
    sf_dir: str,
    batch_pred: Column,
    base_root: str,
    root: str | None = None,
    tag: str = "a",
) -> str:
    """PHYSICAL index append — the artifact-level rung the inline
    `ann_ivfpq_append_serve` contract describes but does not persist
    (it recomputes the frozen-training frames per call): encode ONLY
    the arrival batch under the ARTIFACT'S centroids + codebooks (read
    back, never retrained — FAISS ``add`` after ``train``), write the
    batch's code rows into their cell partitions, and fold the base
    artifact in BY HARDLINK (one link per data file, zero corpus bytes
    copied, centroids/codebook linked unchanged — the
    `minhash_index_append` manifest-append discipline), published by
    `artifacts.publish` with the base as the claimed parent.

    Append cost = one narrow encode pass over the batch (two bounded
    broadcasts) + #base-files metadata — independent of base-corpus
    size. Cell-partition pruning survives: batch code files land
    inside the same label=N dirs the base files link into."""

    def write(stage: str) -> None:
        cg, cb, _ = read_ivfpq_index(spark, base_root)
        rsub_b = _ivfpq_rsub(spark, sf_dir, cg, pred=batch_pred)
        _write_ivfpq_codes(stage, _ivfpq_encode(rsub_b, cg, cb))
        link_parent_files(stage, base_root, ("codes", "centroids", "codebook"))

    return publish_derived(
        base_root, append_suffix(tag), IVFPQ_INDEX_MARKER, write, root
    )


def ivfpq_index_compact(
    spark: SparkSession, root: str, out_root: str | None = None
) -> str:
    """COMPACTION for the IVF-PQ artifact — the `minhash_index_compact`
    discipline applied to the ANN family, completing the identical
    lifecycle on both index families (build → serve → APPEND → serve →
    COMPACT): repeated `ivfpq_index_append` calls accumulate one small
    code-file set per day inside each cell partition (hardlink
    fold-ins never rewrite), so the scheduled offline job rewrites
    each label=N partition's files into ONE (centroids/codebook into a
    bounded handful) — content-identical by construction, published by
    `artifacts.publish`. Compaction pays
    the codes-table rewrite (I/O ∝ artifact, the scheduled-job half of
    the LSM contract); the serve path afterwards opens one file per
    routed cell instead of one per append day."""

    def write(stage: str) -> None:
        cg, cb, codes = read_ivfpq_index(spark, root)
        _write_ivfpq_index(stage, cg.repartition(1), cb.repartition(1), codes)

    return publish_derived(root, "compact", IVFPQ_INDEX_MARKER, write, out_root)


def _appended_index(spark: SparkSession, sf_dir: str) -> str:
    """The base-only index with the append batch folded in."""
    return ivfpq_index_append(
        spark,
        sf_dir,
        _append_batch(),
        ivfpq_base_index_build(spark, sf_dir),
        tag=f"m{APPEND_MOD}",
    )


@register("ann_ivfpq_append_served_topk", bench=True, oracle=_APPEND_ORACLE)
def ann_ivfpq_append_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k SERVED FROM THE PHYSICALLY-APPENDED ARTIFACT — the rung
    that joins the two halves of the append story: the inline twin
    (`ann_ivfpq_append_serve`) verifies the frozen-quantizer MATH, and
    this query verifies the PERSISTENCE — base artifact built on the
    base corpus alone (`ivfpq_base_index_build`), the batch's codes
    folded in by `ivfpq_index_append` (encode-batch + hardlink, no
    retrain, no base rewrite), serving reads the appended artifact
    only. Same oracle as the inline twin — served-from-appended ≡
    inline-frozen-frames ≡ unrolled SQL is the chain, the first link
    additionally pytest-pinned frame-by-frame along with the
    hardlink-not-copy layout and re-append idempotence.

    Scale posture: this is the day-N serving shape of a 100 TB ANN
    deployment — yesterday's index is never re-encoded (hardlinked
    manifests), today's batch pays one narrow encode ∝ batch, and the
    routed serve prunes cell partitions on disk exactly as the base
    served twin does."""
    return _served_topk(spark, sf_dir, lambda: _appended_index(spark, sf_dir))


@register("ann_ivfpq_compact_served_topk", oracle=_APPEND_ORACLE)
def ann_ivfpq_compact_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k SERVED FROM THE COMPACTED ARTIFACT — build base → append
    the batch → COMPACT → serve, the final link of the ANN index
    lifecycle chain and the exact mirror of
    `minhash_index_compact_probe` on the dedup side: compaction is
    content-preserving (same oracle as the append-served and inline
    twins; equality additionally pytest-pinned), so a query cannot
    tell the compacted index from the fragmented one — which is
    precisely the claim this registration puts under the driver hash.

    Scale posture: serving inherits the append-served plan with
    better constants — one code file per routed cell partition instead
    of one per append day; the compaction itself paid one
    codes-table-sized rewrite offline (`ivfpq_index_compact`)."""
    return _served_topk(
        spark,
        sf_dir,
        lambda: ivfpq_index_compact(spark, _appended_index(spark, sf_dir)),
    )


KC_K = 6  # coreset size for the registered query


def _kcenter_oracle(k: int = KC_K) -> str:
    """Unrolled greedy k-center as DuckDB SQL: grid-quantize → seed at
    min vec_id → k−1 rounds of (update running min-distance to the
    newest center, pick the farthest point, dmin desc / vec_id asc)."""
    d2 = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> (e.eq[i] - c.ce[i]) * (e.eq[i] - c.ce[i])))"
    )
    parts = [f"""
    {_EQ_SQL},
    c1 AS (SELECT vec_id, eq AS ce FROM eq
           WHERE vec_id = (SELECT min(vec_id) FROM eq))"""]
    prev_d = None
    for r in range(2, k + 1):
        upd = f"CAST({d2} AS BIGINT)"
        if prev_d is None:
            parts.append(f"""
    d1 AS (SELECT e.vec_id, {upd} AS dmin FROM eq e, c1 c)""")
        else:
            parts.append(f"""
    d{r - 1} AS (SELECT p.vec_id, least(p.dmin, {upd}) AS dmin
                 FROM {prev_d} p JOIN eq e ON e.vec_id = p.vec_id, c{r - 1} c)""")
        parts.append(f"""
    pick{r} AS (SELECT vec_id, dmin FROM d{r - 1} WHERE dmin > 0
                ORDER BY dmin DESC, vec_id LIMIT 1),
    c{r} AS (SELECT e.vec_id, e.eq AS ce, p.dmin
             FROM pick{r} p JOIN eq e USING (vec_id))""")
        prev_d = f"d{r - 1}"
    unions = [
        "SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,"
        " CAST(NULL AS BIGINT) AS d2_sel FROM c1"
    ]
    for r in range(2, k + 1):
        unions.append(f"SELECT CAST({r} AS BIGINT), vec_id, dmin FROM c{r}")
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL ".join(unions)


def kcenter_select(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Greedy k-center (farthest-point traversal) over the grid
    vectors; shared by the registered query and the planted-cluster
    pytest so the test can never drift onto a stale recipe.

    The per-round min-distance update runs as a `mapInArrow` int64
    numpy step over the raw Arrow buffers (the `_arrow_norm_batches`
    pattern) — a zip_with fold here would evaluate k·n·64 interpreted
    lambdas (the interpreted-fold cliff), and even a pandas-batched
    update pays an object-materialization tax on the array column every
    round. Exactness is unchanged: ‖x−c‖² in int64 is exact at grid
    magnitudes, and the argmax stays a Spark TakeOrdered on exact
    integers. The driver loop carries one 64-int center per round (the
    pagerank pattern — bounded by contract), and each round's frame is
    checkpointed so round r never recomputes rounds 1..r−1."""
    import numpy as np

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()

    pts = _grid_emb(spark, sf_dir).localCheckpoint(eager=False)
    seed = pts.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 row
    sc = spark.sparkContext
    rows = [(1, int(seed["vec_id"]), None)]
    cur = np.asarray(seed["eq"], dtype=np.int64)
    frame = pts  # gains a dmin column after round 1
    for r in range(2, k + 1):
        bc = sc.broadcast(cur)
        has_dmin = "dmin" in frame.columns

        def upd(batches, _has=has_dmin):
            import pyarrow as pa
            import pyarrow.compute as pc

            c = bc.value
            dim = len(c)
            for batch in batches:
                if not len(batch):
                    continue
                eq_col = batch.column(1)
                flat = (
                    pc.list_flatten(eq_col)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                    .reshape(len(batch), dim)
                )
                diff = flat - c[None, :]
                d = (diff * diff).sum(axis=1)
                if _has:
                    d = np.minimum(
                        batch.column(2).to_numpy(zero_copy_only=False), d
                    )
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), eq_col, pa.array(d, type=pa.int64())],
                    ["vec_id", "eq", "dmin"],
                )

        frame = frame.mapInArrow(
            upd, "vec_id bigint, eq array<bigint>, dmin bigint"
        ).localCheckpoint(eager=False)
        pick = (
            frame.where(F.col("dmin") > 0)
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]  # bounded: 1 row per round
        )
        rows.append((r, int(pick["vec_id"]), int(pick["dmin"])))
        cur = np.asarray(pick["eq"], dtype=np.int64)
    return spark.createDataFrame(
        rows, "sel_rank bigint, vec_id bigint, d2_sel bigint"
    )



@register("embedding_kcenter_coreset", oracle=_kcenter_oracle())
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware coreset selection — greedy k-center
    (farthest-point traversal, Gonzalez' 2-approximation): seed at the
    minimum vec_id, then k−1 rounds of "add the point farthest from
    everything selected so far". THE curation primitive for diverse
    subset selection over a training corpus (pick maximally-spread
    exemplars; the d2_sel column is the shrinking covering-radius
    sequence, the quantity the 2-approximation bounds) — the ledger's
    k-means covers density clustering, but nothing covered
    diversity-maximizing selection.

    Exactness: distances are exact BIGINT squared L2 on the 1e-4 grid
    (`embedding_kmeans_lloyd` discipline); each round's argmax
    tie-breaks (dmin desc, vec_id asc); exact duplicates of selected
    centers (dmin = 0) are excluded — a copy adds no coverage. Every
    round is integer-identical cross-engine, so the full k-round
    traversal hash-matches the unrolled SQL twin.

    Scale posture: each round broadcasts ONE new center (64 ints) and
    runs one narrow scan + a TakeOrdered(1) argmax — a map-side-
    combinable reduction, no corpus shuffle anywhere; the running
    min-distance column is the standard incremental trick that makes
    greedy k-center O(n·k) instead of O(n·k²). The driver-side loop
    carries no data (the pagerank/kmeans pattern); at 100 TB k rounds
    = k cheap narrow jobs over a persisted dmin frame.

    Planted-cluster pytest: on the 10-cluster corpus, k=10 selects
    exactly one center per cluster (the defining k-center property);
    the registered k=6 run pins the monotone covering-radius
    invariant.
    """
    return kcenter_select(spark, sf_dir, KC_K)


MMR_CANDS = 12  # relevance candidates fed to the re-ranker, per query
MMR_K = 5       # re-ranked results returned per query


def _mmr_oracle(sims: str, ctes: str = _E_SQL) -> str:
    """Unrolled MMR as DuckDB SQL over a candidate source: ``ctes``
    (defining e(vec_id, emb, …) and whatever ``sims`` reads) and the
    relation ``sims``(q_vec_id, vec_id, cosine_sim), cut here to the
    top-MMR_CANDS relevance pool per query → pairwise candidate sims →
    MMR_K greedy hops, each one (score = 0.5·rel − 0.5·maxsim-to-
    selected, argmax with vec_id tie-break, running maxsim via
    greatest). The greedy suffix is candidate-source-agnostic, exactly
    like the Spark side, where _mmr_greedy reranks whatever candidate
    frame the serving rung produced.

    Every multiply-referenced CTE is AS MATERIALIZED: DuckDB 1.0
    inlines CTEs by default, so the m1→…→m{{K-1}} greedy chain (each
    hop referencing both its predecessor and `pairs`) re-expands
    `pairs`→`cand`→ the candidate scoring EXPONENTIALLY in MMR_K — ~40
    instantiations of the queries×corpus cosine join, each carrying
    two 64-double lists per row. Invisible at sf0.01 (40k-row join);
    at the 40× scale fixture it spilled >60 GB of DuckDB temp and ran
    >15 min, vs 20 s materialized (same rows, same hash — a pure
    planner hint)."""
    cand = _top_k_sql(
        sims, MMR_CANDS, "cosine_sim", cols="q_vec_id, vec_id, cosine_sim AS rel"
    )
    parts = [ctes + f""",
    cand AS MATERIALIZED (SELECT q_vec_id, vec_id, rel FROM {cand}),
    pairs AS MATERIALIZED (
      SELECT a.q_vec_id, a.vec_id AS va, b.vec_id AS vb,
             round(list_cosine_similarity(ea.emb, eb.emb), 6) AS sim
      FROM cand a
      JOIN cand b ON b.q_vec_id = a.q_vec_id AND b.vec_id <> a.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
    ),
    s1 AS MATERIALIZED (
      SELECT q_vec_id, vec_id, rel AS score FROM {_top_k_sql("cand", 1, "rel")}
    ),
    m1 AS MATERIALIZED (
      SELECT c.q_vec_id, c.vec_id, c.rel, p.sim AS ms
      FROM cand c
      JOIN s1 ON s1.q_vec_id = c.q_vec_id AND c.vec_id <> s1.vec_id
      JOIN pairs p ON p.q_vec_id = c.q_vec_id AND p.va = c.vec_id
                  AND p.vb = s1.vec_id
    )"""]
    score = "0.5 * rel - 0.5 * ms"
    for r in range(2, MMR_K + 1):
        best = _top_k_sql(
            f"m{r - 1}", 1, score, cols=f"q_vec_id, vec_id, {score} AS score"
        )
        parts.append(f"""
    s{r} AS MATERIALIZED (SELECT q_vec_id, vec_id, score FROM {best})""")
        if r < MMR_K:
            parts.append(f"""
    m{r} AS MATERIALIZED (
      SELECT m.q_vec_id, m.vec_id, m.rel, greatest(m.ms, p.sim) AS ms
      FROM m{r - 1} m
      JOIN s{r} ON s{r}.q_vec_id = m.q_vec_id AND m.vec_id <> s{r}.vec_id
      JOIN pairs p ON p.q_vec_id = m.q_vec_id AND p.va = m.vec_id
                  AND p.vb = s{r}.vec_id
    )""")
    unions = [
        "SELECT q_vec_id, CAST(1 AS BIGINT) AS sel_rank,"
        " vec_id AS neighbor_id, round(score, 7) AS mmr_score FROM s1"
    ]
    for r in range(2, MMR_K + 1):
        unions.append(
            f"SELECT q_vec_id, CAST({r} AS BIGINT), vec_id, round(score, 7) FROM s{r}"
        )
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL ".join(unions)


@register("ann_mmr_rerank", oracle=_mmr_oracle(_brute_sims_sql()))
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking — the diversity-aware
    retrieval stage between ANN candidate generation and final results
    (Carbonell & Goldstein's MMR): from each query's exact
    top-MMR_CANDS relevance candidates, greedily select MMR_K results
    maximizing 0.5·rel(q,x) − 0.5·max_{s∈S} sim(x,s) — relevance
    traded against redundancy with what's already selected. Completes
    the retrieval family: k-center maximizes diversity alone, the ANN
    rungs maximize relevance alone, MMR balances both per query.

    Determinism: every similarity is round(cos, 6) BEFORE any
    comparison (the family discipline), so both engines score from
    identical doubles; the MMR score is two IEEE multiplies and a
    subtract on those; argmax ties break on vec_id; the running
    max-to-selected is comparison-only. The greedy loop itself runs as
    a cogrouped `applyInPandas` over (candidates, pairwise-sims) per
    query — the per-group-sequential-algorithm pattern (a 12-candidate
    loop is driver-logic-shaped but belongs on executors, one task per
    query) — and replays bit-identically against the unrolled SQL twin.

    Scale posture: candidate generation is whatever ANN rung serves
    (here the exact baseline, so the oracle is self-contained);
    re-ranking touches ONLY the per-query candidate set — MMR_CANDS
    rows and MMR_CANDS² pair sims per query, grouped and shipped to
    one task per query. Corpus cost is the candidate stage's; the
    rerank is O(queries · C²) regardless of corpus size.
    """
    emb = _emb(spark, sf_dir)
    return _mmr_greedy(_brute_topk(emb, MMR_CANDS), emb)


def _mmr_greedy(ranked: DataFrame, emb: DataFrame) -> DataFrame:
    """The candidate-source-agnostic MMR core: pairwise sims among each
    query's candidates, then the greedy 0.5·rel − 0.5·maxsim selection
    as a cogrouped applyInPandas (one task per query). ``ranked`` is a
    (q_vec_id, vec_id, cosine_sim, …) top-k frame — at most MMR_CANDS
    rows per query, cosine_sim already on the 6-dp grid — whose cosine
    becomes the relevance rel. ``emb`` supplies (vec_id, emb) for the
    pair cosines."""
    import pandas as pd

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    cand = ranked.select(
        "q_vec_id", "vec_id", F.col("cosine_sim").alias("rel")
    ).localCheckpoint(eager=False)  # feeds pairs AND the cogroup

    a, b = cand.alias("a"), cand.alias("b")
    ea = emb.select(F.col("vec_id").alias("va"), F.col("emb").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("vb"), F.col("emb").alias("emb_b"))
    pairs = (
        a.join(
            b,
            (F.col("b.q_vec_id") == F.col("a.q_vec_id"))
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("a.q_vec_id").alias("q_vec_id"),
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
        )
        .join(ea, "va")
        .join(eb, "vb")
        .select(
            "q_vec_id", "va", "vb",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("sim"),
        )
    )

    def mmr(key, cand_it: pd.DataFrame, pair_it: pd.DataFrame) -> pd.DataFrame:
        qid = key[0]
        c = cand_it.sort_values("vec_id").reset_index(drop=True)
        sims = {
            (int(r["va"]), int(r["vb"])): float(r["sim"])
            for _, r in pair_it.iterrows()
        }
        rel = dict(zip(c["vec_id"].astype(int), c["rel"].astype(float)))
        remaining = list(c["vec_id"].astype(int))  # ascending vec_id
        selected: list[int] = []
        out = []
        for rank in range(1, MMR_K + 1):
            best_v, best_s = None, None
            for v in remaining:
                if rank == 1:
                    s = rel[v]
                else:
                    ms = max(sims[(v, u)] for u in selected)
                    s = 0.5 * rel[v] - 0.5 * ms
                # strict > keeps the FIRST (lowest vec_id) max — the
                # SQL (score DESC, vec_id) tie-break over identical
                # doubles
                if best_s is None or s > best_s:
                    best_v, best_s = v, s
            selected.append(best_v)
            remaining.remove(best_v)
            # raw score out; display rounding happens JVM-side
            out.append((qid, rank, best_v, best_s))
        return pd.DataFrame(
            out, columns=["q_vec_id", "sel_rank", "neighbor_id", "mmr_score"]
        )

    return (
        cand.groupBy("q_vec_id")
        .cogroup(pairs.groupBy("q_vec_id"))
        .applyInPandas(
            mmr,
            "q_vec_id bigint, sel_rank bigint, neighbor_id bigint, mmr_score double",
        )
        # 7 dp, NOT the family's 6: the score is 0.5·a − 0.5·b of
        # 6-dp values — an exact multiple of 5e-7, i.e. a 7-dp
        # gridpoint. Rounding it to 6 dp sits exactly ON midpoints,
        # where Spark's BigDecimal HALF_UP (exact binary expansion)
        # and DuckDB's multiply-then-round disagree per ulp; at 7 dp
        # every value is ~1e-17 from its gridpoint and both engines
        # agree on "nearest" with no midpoint in reach. (Caught as a
        # 2-rows-in-100 hash mismatch at sf0.001; neighbors matched.)
        .withColumn("mmr_score", F.round("mmr_score", 7))
    )


@register("ann_ivf_mmr_rerank", oracle=_mmr_oracle("sims", _ivf_sims_sql()), bench=True)
def ann_ivf_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production serving path: IVF-route each query to
    its nearest centroid cell, take the exact top-MMR_CANDS relevance
    pool WITHIN that cell, then MMR-rerank it — candidate generation
    at routed-cell cost (corpus/nlist per query, one bucket scan at
    cluster scale) feeding the corpus-independent O(queries · C²)
    greedy rerank. This is the rung the registered `ann_mmr_rerank`
    deliberately isn't: that query feeds MMR from the exact brute
    baseline so its oracle is self-contained and the rerank arithmetic
    is verified against corpus-exact relevance; THIS query verifies
    the same greedy core composed behind the routing that a real
    vector-serving deployment uses (FAISS-style IVF → rerank).

    Reuses `_ivf_cell_sims` (ann_ivf_topk's routed candidates) and
    `_mmr_greedy` (ann_mmr_rerank's greedy core), so the composition
    adds no new arithmetic — only the new wiring is under test, and the
    oracle mirrors it: `_ivf_sims_sql` chained into the same unrolled
    greedy-hop suffix.

    Scale posture: the candidate stage inherits ann_ivf_topk's
    contract (route via a broadcast centroid join, scan one cell —
    sublinear per query once the corpus is bucketed by cell); the
    rerank ships MMR_CANDS rows + MMR_CANDS² pair sims per query to
    one task per query regardless of corpus size.
    """
    emb = _emb(spark, sf_dir)
    return _mmr_greedy(_top_k(_ivf_cell_sims(emb), MMR_CANDS, "cosine_sim"), emb)


# ---------------------------------------------------------------------------
# Hybrid retrieval — lexical + semantic channels fused by reciprocal rank
# ---------------------------------------------------------------------------

HY_NQ = 8  # doc_id/vec_id < HY_NQ are the query documents
HY_CAND_K = 20  # candidates kept per channel
HY_RRF_K = 60  # the standard RRF dampening constant
HY_RRF_SCALE = 10**12  # integer RRF: contribution = SCALE DIV (K + rank)
HY_TOPK = 10  # fused results returned per query

_HY_LEX_CTES = f"""
    toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    tfw AS MATERIALIZED (
      SELECT doc_id, word,
             tf * CAST(round(ln(n.n * 1.0 / dfreq.df) * 10000) AS BIGINT) AS w
      FROM tf JOIN dfreq USING (word), n
      WHERE dfreq.df * 10 <= n.n * 9
    ),
    norms AS MATERIALIZED (SELECT doc_id, sum(w * w) AS nsq FROM tfw GROUP BY 1),
    ldots AS (
      SELECT q.doc_id AS q_doc_id, c.doc_id AS doc_id, sum(q.w * c.w) AS dot
      FROM tfw q JOIN tfw c USING (word)
      WHERE q.doc_id < {HY_NQ} AND c.doc_id >= {HY_NQ}
      GROUP BY 1, 2
    ),
    lexk AS (SELECT q_doc_id, doc_id, lex_rank FROM {_top_k_sql(
      "ldots JOIN norms nq ON ldots.q_doc_id = nq.doc_id"
      " JOIN norms nc ON ldots.doc_id = nc.doc_id",
      HY_CAND_K,
      _int_cos_sql("dot", "nq.nsq", "nc.nsq"),
      tie="ldots.doc_id",
      by="q_doc_id",
      rn="lex_rank",
      cols="ldots.q_doc_id, ldots.doc_id",
    )})"""

_HY_FUSE_TAIL = f"""
    fused AS (
      SELECT COALESCE(l.q_doc_id, s.q_doc_id) AS q_doc_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             COALESCE({HY_RRF_SCALE} // (l.lex_rank + {HY_RRF_K}), 0)
               + COALESCE({HY_RRF_SCALE} // (s.sem_rank + {HY_RRF_K}), 0)
               AS rrf_score
      FROM lexk l
      FULL JOIN semk s ON l.q_doc_id = s.q_doc_id AND l.doc_id = s.doc_id
    )
    SELECT CAST(q_doc_id AS BIGINT) AS q_doc_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(lex_rank AS INT) AS lex_rank,
           CAST(sem_rank AS INT) AS sem_rank,
           CAST(rrf_score AS BIGINT) AS rrf_score,
           CAST(fused_rank AS INT) AS fused_rank
    FROM {_top_k_sql(
      "fused", HY_TOPK, "rrf_score", tie="doc_id", by="q_doc_id", rn="fused_rank"
    )}"""


def _hy_oracle(sims: str, ctes: str = "") -> str:
    """The hybrid oracle over a semantic source: ``ctes`` (if any)
    define what the relation ``sims``(q_vec_id, vec_id, cosine_sim)
    reads; its non-query docs are cut to the top-HY_CAND_K semantic
    channel, fused with the lexical channel."""
    semk = _top_k_sql(
        f"(SELECT * FROM {sims} WHERE vec_id >= {HY_NQ})",
        HY_CAND_K,
        "cosine_sim",
        rn="sem_rank",
        cols="q_vec_id AS q_doc_id, vec_id AS doc_id, cosine_sim",
    )
    return (
        "WITH "
        + _HY_LEX_CTES.strip()
        + ",\n"
        + (ctes.strip() + ",\n" if ctes else "")
        + f"semk AS (SELECT q_doc_id, doc_id, sem_rank FROM {semk}),\n"
        + _HY_FUSE_TAIL.strip()
    )


def _hybrid_lex_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_doc_id, doc_id, lex_rank): the sparse TF-IDF-cosine channel —
    integer ten-thousandths IDF weights (the doc_pair_cosine_tfidf
    quantization), query term vectors broadcast against the corpus
    posting lists, rounded-cosine-then-id ranking, top-HY_CAND_K."""
    from minimapreduce_spark.catalog import fan_out
    from minimapreduce_spark.operators.text_analysis import _tokens

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)  # tokenize ONCE: feeds dfreq AND tfw
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    iw = F.round(F.log(F.col("n") / F.col("df")) * 10000).cast("bigint")
    tfw = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .where(F.col("df") * 10 <= F.col("n") * 9)
        .select("doc_id", "word", (F.col("tf") * iw).alias("w"))
        .localCheckpoint(eager=False)  # read 3x: query side, corpus side, norms
    )
    norms = tfw.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nsq"))
    qw = tfw.where(F.col("doc_id") < HY_NQ).select(
        F.col("doc_id").alias("q_doc_id"), "word", F.col("w").alias("qw")
    )
    cw = tfw.where(F.col("doc_id") >= HY_NQ)
    ldots = (
        cw.join(F.broadcast(qw), "word")
        .groupBy("q_doc_id", "doc_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dot"))
    )
    nq = norms.select(F.col("doc_id").alias("q_doc_id"), F.col("nsq").alias("nsq_q"))
    nc = norms.select("doc_id", F.col("nsq").alias("nsq_c"))
    lex = (
        ldots.join(F.broadcast(nq), "q_doc_id")
        .join(nc, "doc_id")
        .withColumn("lex_cos", _int_cos("dot", "nsq_q", "nsq_c"))
    )
    return _top_k(
        lex, HY_CAND_K, "lex_cos", tie="doc_id", by="q_doc_id", rn="lex_rank"
    ).select("q_doc_id", "doc_id", "lex_rank")


def _hybrid_fuse(lexk: DataFrame, sims: DataFrame) -> DataFrame:
    """Integer RRF fusion of the lexical channel ``lexk`` with the
    semantic channel — ``sims``(q_vec_id, vec_id, cosine_sim) cut to
    each query's top-HY_CAND_K non-query docs (full-outer on (query,
    doc); a channel miss contributes exactly 0), fused rank by (score
    DESC, doc_id), cut to HY_TOPK."""
    semk = _top_k(
        sims.where(F.col("vec_id") >= HY_NQ), HY_CAND_K, "cosine_sim", rn="sem_rank"
    ).select(
        F.col("q_vec_id").alias("q_doc_id"), F.col("vec_id").alias("doc_id"), "sem_rank"
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.expr(f"CAST({HY_RRF_SCALE} AS BIGINT) DIV (CAST({r} AS BIGINT) + {HY_RRF_K})"),
        F.lit(0).cast("bigint"),
    )
    fused = lexk.join(semk, ["q_doc_id", "doc_id"], "full_outer").withColumn(
        "rrf_score", contrib("lex_rank") + contrib("sem_rank")
    )
    return _top_k(
        fused, HY_TOPK, "rrf_score", tie="doc_id", by="q_doc_id", rn="fused_rank"
    ).select(
        F.col("q_doc_id").cast("bigint").alias("q_doc_id"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("sem_rank").cast("int").alias("sem_rank"),
        F.col("rrf_score").cast("bigint").alias("rrf_score"),
        F.col("fused_rank").cast("int").alias("fused_rank"),
    )


@register("hybrid_rrf_retrieval", oracle=_hy_oracle(_brute_sims_sql(HY_NQ)), bench=True)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard RAG
    serving shape the ledger's two channels feed but never composed:
    a LEXICAL channel (sparse TF-IDF cosine of each query document
    against the corpus, the doc_pair_cosine_tfidf machinery restricted
    to query×corpus pairs) and a SEMANTIC channel (dense embedding
    cosine, the ann_cosine_topk machinery), each producing a per-query
    top-20 ranking, fused by RRF and cut to the final
    top-10. Documents 0..8-1 are the query set (their
    embeddings are id-aligned rows of the embeddings table); the rest
    of the corpus is the search target.

    INTEGER RRF: the textbook score Σ 1/(k+rank) ranks on libm-free but
    still float division; here each channel contributes
    ``10^12 DIV (rank + 60)`` — an exact BIGINT that
    appears in the output and hash-compares cross-engine, with doc_id
    breaking the (rare, and pytest-planted) sum ties. A channel miss
    contributes exactly 0, so single-channel hits compete on half
    strength — the RRF semantics, discretized. Channel ranks use the
    family's rounded-cosine-then-id discipline (6 dp; see module
    docstring), and the lexical weights are the BIGINT ten-thousandths
    IDF quantization of doc_pair_cosine_tfidf, so every ranking input
    is either exact or round-pinned.

    Scale posture: the query side of both channels is tiny by
    construction (8 docs) — the lexical query term vectors and
    the query embeddings both broadcast, so the corpus is scanned once
    per channel and never shuffled pairwise (the lexical join fans out
    only on shared surviving terms; universal terms are pruned at
    df > 0.9N — the fanout/skew knob, set high because the fixture's
    vocabulary is 31 terms with df ~ 0.8N (a crawl corpus would use
    the doc_pair_cosine_tfidf N/2 cut); the
    semantic channel scores Arrow batches with one BLAS matmul against
    the broadcast query matrix — `_brute_sims_numpy`, the
    ann_cosine_topk_numpy scorer — and is the brute-force baseline that
    IVF routing replaces at 100 TB: `hybrid_ivf_rrf_retrieval` IS that
    swap, registered). The fusion stage is bounded at
    8×2×20 rows: full-outer equi-join + one bounded
    window. No reference analog (the reference's closest surface is
    the indexer app, mrapps/indexer.go:15-30).
    """
    sims = _brute_sims_numpy(spark, _emb(spark, sf_dir), HY_NQ)
    return _hybrid_fuse(_hybrid_lex_channel(spark, sf_dir), sims)


@register("hybrid_ivf_rrf_retrieval", oracle=_hy_oracle("sims", _ivf_sims_sql(HY_NQ)))
def hybrid_ivf_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB serving shape of `hybrid_rrf_retrieval`, registered:
    the semantic channel swaps the brute-force scorer for IVF routing —
    `_ivf_cell_sims`, ann_ivf_topk's candidate stage (route each query
    to its nearest centroid via a broadcast join, score only that cell)
    — and everything else reuses the hybrid helpers verbatim
    (`_hybrid_lex_channel`, `_hybrid_fuse`), so only the wiring is new,
    the ann_ivf_mmr_rerank composition discipline. Recall trades exactly
    as IVF always does (candidates come from one cell); the fused output
    schema and all integer-RRF semantics are unchanged, and the oracle
    chains `_ivf_sims_sql` into the same lexical + fusion CTEs.

    Scale posture: the lexical channel is unchanged (query term vectors
    broadcast); the semantic channel now scans 1/n_cells of the corpus
    per query once bucketed by cell — the IVF contract — instead of the
    brute channel's full pass; fusion stays bounded at Q×2K rows.
    """
    sims = _ivf_cell_sims(_emb(spark, sf_dir), HY_NQ)
    return _hybrid_fuse(_hybrid_lex_channel(spark, sf_dir), sims)


# ---------------------------------------------------------------------------
# Bitext margin mining — parallel-corpus pair extraction
# ---------------------------------------------------------------------------

BM_K = 4  # neighborhood size for the margin denominators


def _bitext_tail_sql() -> str:
    """The margin + mutual-argmax CTE tail, shared verbatim between the
    brute and IVF-routed bitext oracles — everything downstream of the
    ``pairs(a_id, b_id, cos_u)`` candidate CTE."""
    ra = _top_k_sql("pairs", BM_K, "cos_u", tie="b_id", by="a_id")
    rb = _top_k_sql("pairs", BM_K, "cos_u", tie="a_id", by="b_id")
    ba = _top_k_sql("m", 1, "margin DESC, cos_u", tie="b_id", by="a_id", rn="ka")
    bb = _top_k_sql("m", 1, "margin DESC, cos_u", tie="a_id", by="b_id", rn="kb")
    return f"""
    ra AS {ra},
    rb AS {rb},
    sx AS (SELECT a_id, CAST(sum(cos_u) AS BIGINT) AS sum_x FROM ra GROUP BY 1),
    sy AS (SELECT b_id, CAST(sum(cos_u) AS BIGINT) AS sum_y FROM rb GROUP BY 1),
    cand AS (
      SELECT a_id, b_id, cos_u FROM ra
      UNION
      SELECT a_id, b_id, cos_u FROM rb
    ),
    m AS (
      SELECT c.a_id, c.b_id, c.cos_u, sx.sum_x, sy.sum_y,
             round(CAST(c.cos_u AS DOUBLE) * {2 * BM_K}
                   / (sx.sum_x + sy.sum_y), 6) AS margin
      FROM cand c JOIN sx USING (a_id) JOIN sy USING (b_id)
    )
    SELECT ba.a_id AS src_vec_id, ba.b_id AS tgt_vec_id,
           round(CAST(ba.cos_u AS DOUBLE) / 1000000, 6) AS cosine_sim,
           ba.margin AS margin,
           ba.sum_x AS sum_x, ba.sum_y AS sum_y
    FROM {ba} ba JOIN {bb} bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id
    """


def _bitext_oracle() -> str:
    """Unrolled margin mining as DuckDB SQL: parity split → all A×B
    integer-quantized cosines → per-side top-K neighborhoods → margin =
    cos·2K / (Σtop-K(a) + Σtop-K(b)) on candidate pairs → mutual
    argmax. Every ranking input is a BIGINT or a double computed from
    the same two BIGINTs on both engines."""
    return f"""
    WITH a AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          WHERE vec_id % 2 = 1),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(round(list_cosine_similarity(a.e, b.e) * 1000000) AS BIGINT)
               AS cos_u
      FROM a, b
    ),{_bitext_tail_sql()}"""


def _bitext_ivf_oracle(nprobe: int = 1) -> str:
    """The IVF-routed bitext oracle: `_ivf_route_sql` assigns EVERY
    vector (both parities) to its ``nprobe`` nearest per-label mean
    centroids, the pairs CTE scores A×B pairs sharing
    at least one routed cell (DISTINCT — a two-shared-cell pair scores
    identically in both), and the margin/mutual tail is
    `_bitext_tail_sql()` verbatim."""
    return f"""
    WITH {_E_SQL},{_ivf_route_sql("e", nprobe, by="vec_id", vec="emb")},
    a AS (SELECT vec_id, emb AS e, cell FROM routed WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id, emb AS e, cell FROM routed WHERE vec_id % 2 = 1),
    pairs AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(round(list_cosine_similarity(a.e, b.e) * 1000000) AS BIGINT)
               AS cos_u
      FROM a JOIN b ON a.cell = b.cell
    ),{_bitext_tail_sql()}"""


@register("bitext_margin_mining", oracle=_bitext_oracle())
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining with the MARGIN criterion (Artetxe & Schwenk,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings"; the LASER/CCMatrix pipeline) — the curation operator
    that EXTRACTS aligned pairs from two unaligned collections, where
    raw cosine fails because some sentences are "hubs" close to
    everything. The corpus splits by vec_id parity into collections A
    and B (the two "languages"); for every cross pair the margin
    rescales cosine by the mean of both endpoints' top-BM_K
    neighborhood cosines:

        margin(a, b) = cos(a, b) · 2K / (Σ topK cos(a, B) +
                                         Σ topK cos(b, A))

    and a pair is MINED iff it is the margin-argmax of BOTH endpoints
    over the candidate union (mutual-best), yielding a partial
    matching — each src and tgt appears at most once (pytest-pinned,
    with a full numpy replay of the algorithm).

    Exactness: cosines quantize once to BIGINT millionths (the family's
    round-before-rank discipline); neighborhood sums are exact BIGINT
    sums of those; the margin is ONE double expression from two BIGINTs
    — identical cross-engine — rounded to 6 dp before the mutual
    ranking, ties broken (cos_u DESC, id ASC). Midpoint margins for
    both quantizations are pinned in pytest next to the hybrid ones.

    Scale posture: the A×B score matrix is brute here (the correctness
    baseline, exactly like `ann_cosine_topk`); candidate pairs after
    the top-K cut are bounded at K·(|A|+|B|) and everything downstream
    is per-endpoint bounded aggregation + two partitioned rank windows.
    At 100 TB the score matrix is the part you replace — and the
    REGISTERED replacement is `bitext_margin_mining_ivf`: both sides
    routed through the IVF machinery (`_ivf_assign`) so each vector
    scores only its cell, the standard CCMatrix sharding; the
    margin/mutual stages (`_bitext_margin_stages`) are shared verbatim
    because they only ever see the bounded candidate frame. No
    reference analog (closest surface: the indexer app's posting
    fan-in, mrapps/indexer.go:20-39 — this is its geometric twin).
    """
    import numpy as np

    emb = _emb(spark, sf_dir)
    # Arrow/numpy matmul scoring — the `_brute_sims_numpy` shape, NOT
    # the zip_with fold: at 1M+ pairs the codegen'd fold pays per-pair
    # boxed-array costs (the hybrid-retrieval fold cliff: 115→13 s at
    # 40×), while one BLAS matmul per Arrow batch amortizes the whole
    # batch. Side A collects and broadcasts once per executor;
    # quantization to millionths stays JVM-side (HALF_UP, matching the
    # oracle's round()).
    a_rows = emb.where(F.col("vec_id") % 2 == 0).select("vec_id", "emb").collect()
    if not a_rows:
        return spark.createDataFrame(
            [],
            "src_vec_id bigint, tgt_vec_id bigint, cosine_sim double, "
            "margin double, sum_x bigint, sum_y bigint",
        )
    a_ids = np.array([r.vec_id for r in a_rows], dtype=np.int64)
    Amat = np.stack([np.asarray(r.emb, dtype=np.float64) for r in a_rows])
    bc = spark.sparkContext.broadcast(
        (a_ids, Amat / np.linalg.norm(Amat, axis=1, keepdims=True))
    )

    def score(batches):
        import pandas as pd

        a_ids, An = bc.value
        for pdf in batches:
            Bm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            Bn = Bm / np.linalg.norm(Bm, axis=1, keepdims=True)
            S = Bn @ An.T  # (batch, |A|)
            n, m = S.shape
            yield pd.DataFrame(
                {
                    "a_id": np.tile(a_ids, n),
                    "b_id": np.repeat(pdf["vec_id"].to_numpy(dtype=np.int64), m),
                    "cos_raw": S.ravel(),
                }
            )

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    pairs = (
        emb.where(F.col("vec_id") % 2 == 1)
        .select("vec_id", "emb")
        .mapInPandas(score, "a_id long, b_id long, cos_raw double")
        .select(
            "a_id", "b_id",
            F.round(F.col("cos_raw") * 1_000_000, 0).cast("bigint").alias("cos_u"),
        )
    )
    return _bitext_margin_stages(pairs)


def _bitext_margin_stages(pairs: DataFrame) -> DataFrame:
    """The margin + mutual-argmax tail of bitext mining, shared
    VERBATIM between the brute scorer (`bitext_margin_mining`) and the
    IVF-routed scorer (`bitext_margin_mining_ivf`): per-side top-BM_K
    neighborhoods, exact BIGINT neighborhood sums, the one-double
    margin expression, and the mutual-best partial matching. Input is
    the (a_id, b_id, cos_u-millionths) candidate frame — bounded by
    construction downstream of the top-K cut, so every stage here is
    per-endpoint bounded aggregation + two rank windows regardless of
    how the pairs were scored."""
    pairs = pairs.localCheckpoint(eager=False)  # scored once; 4 consumers
    ra = _top_k(pairs, BM_K, "cos_u", tie="b_id", by="a_id")
    rb = _top_k(pairs, BM_K, "cos_u", tie="a_id", by="b_id")
    sx = ra.groupBy("a_id").agg(F.sum("cos_u").alias("sum_x"))
    sy = rb.groupBy("b_id").agg(F.sum("cos_u").alias("sum_y"))
    cand = ra.select("a_id", "b_id", "cos_u").union(
        rb.select("a_id", "b_id", "cos_u")
    ).distinct()
    m = (
        cand.join(F.broadcast(sx), "a_id")
        .join(F.broadcast(sy), "b_id")
        .select(
            "a_id", "b_id", "cos_u", "sum_x", "sum_y",
            F.round(
                F.col("cos_u").cast("double") * (2 * BM_K)
                / (F.col("sum_x") + F.col("sum_y")),
                6,
            ).alias("margin"),
        )
        .localCheckpoint(eager=False)  # read by both mutual-rank sides
    )
    ba = _top_k(m, 1, ["margin", "cos_u"], tie="b_id", by="a_id", rn="ka")
    bb = _top_k(m, 1, ["margin", "cos_u"], tie="a_id", by="b_id", rn="kb")
    return (
        ba.join(bb.select("a_id", "b_id"), ["a_id", "b_id"])
        .select(
            F.col("a_id").cast("bigint").alias("src_vec_id"),
            F.col("b_id").cast("bigint").alias("tgt_vec_id"),
            F.round(F.col("cos_u").cast("double") / 1_000_000, 6).alias("cosine_sim"),
            F.col("margin"),
            F.col("sum_x").cast("bigint").alias("sum_x"),
            F.col("sum_y").cast("bigint").alias("sum_y"),
        )
    )


@register(
    "bitext_margin_mining_ivf_nprobe",
    oracle=_bitext_ivf_oracle(IVF_NPROBE),
)
def bitext_margin_mining_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECALL DIAL on routed bitext mining — `ann_ivf_nprobe_topk`'s
    multi-probe composition applied to the CCMatrix shard: every vector
    (both parities) routes to its top-IVF_NPROBE cells, pairs sharing
    ANY routed cell are scored (DISTINCT — a two-shared-cell pair
    scores identically in both cells), and the margin/mutual stages
    run verbatim on the union. A true pair split across two single-
    probe cells — the nprobe=1 twin's documented miss mode — is now
    scored whenever either endpoint's second-nearest centroid is the
    other's cell, at 2× the scan (the standard multi-probe trade; the
    per-cell top-K candidate reduction keeps the shuffled frame
    K-per-(vector, probe)-bounded either way, so the dial moves scan
    cost, never the pipeline's shape).

    Pytests pin the dial's structure by FULL numpy replay of the
    multi-probe candidate union (a superset claim would be wrong:
    replication grows per-cell membership, so per-cell top-K cuts can
    rotate candidates, not just add them — measured on the fixture),
    plus the partial-matching property. Exactness discipline identical
    to the nprobe=1 twin."""
    return _bitext_margin_stages(_bitext_ivf_pairs(_emb(spark, sf_dir), IVF_NPROBE))


def _ivf_assign(emb: DataFrame, nprobe: int = 1) -> DataFrame:
    """(vec_id, emb, cell): EVERY vector routed to its ``nprobe``
    nearest per-label mean centroids — the corpus-side use of the
    router `_ivf_route` that routes `_ivf_cell_sims`' queries (one
    output row per routed cell). At 100 TB this
    is the index-build pass: one scan of the corpus against a
    broadcast centroid table, after which the corpus is written
    bucketed by cell and every cell-local operator (bitext, ANN serve,
    dedup) reads co-located buckets; nprobe > 1 is the multi-probe
    replication dial (each vector lands in nprobe buckets)."""
    return _ivf_route(
        emb, emb.select("vec_id", "emb"), nprobe, by="vec_id", vec="emb", cell="cell"
    )


@register("bitext_margin_mining_ivf", oracle=_bitext_ivf_oracle(), bench=True)
def bitext_margin_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of `bitext_margin_mining`, registered (it was
    the registry's last brute baseline without a routed twin): BOTH
    sides route through the IVF machinery before any scoring, the
    standard CCMatrix sharding. `_ivf_assign` routes every
    vector (both parities) to its nearest per-label mean centroid — the
    router `_ivf_route` that `_ivf_cell_sims` routes queries with — and
    the A×B score matrix is
    computed ONLY within matching cells: an equi-join of the two sides
    on the cell id, so each vector scores |its cell|'s opposite-parity
    members instead of the whole opposite collection, and NOTHING is
    collected to the driver (the brute twin's documented scale-killer:
    it collects side A). The margin + mutual-argmax stages are
    `_bitext_margin_stages` — the brute twin's tail, shared verbatim,
    because they only ever see the bounded candidate frame; the oracle
    likewise chains `_ivf_route_sql` into `_bitext_tail_sql`.

    Recall trades exactly as IVF always does: a true pair split across
    two cells is unmined (the candidate frame never scores it) — the
    price of scanning 1/n_cells, dialable via nprobe routing
    (`ann_ivf_nprobe_topk`'s dial) if the miss rate matters.

    Exactness: unchanged from the brute twin — cosines quantize once to
    BIGINT millionths, neighborhood sums exact BIGINT, margin one
    double from two BIGINTs, 6-dp round before the mutual ranking.

    Scale posture: centroid training is one corpus aggregation; the
    assignment is one scan against a broadcast centroid table; the
    cell join shuffles both sides BY CELL ID exactly once (at 100 TB
    the corpus is written bucketed by cell — `join_bucketed_smb`'s
    contract — and even that shuffle disappears); in-cell pair volume
    is Σ|Aᵢ|·|Bᵢ| ≈ |A|·|B|/n_cells for balanced cells, vs the brute
    twin's |A|·|B|. Everything downstream is bounded. No reference
    analog (mrapps/indexer.go:20-39 is the closest fan-in surface)."""
    return _bitext_margin_stages(_bitext_ivf_pairs(_emb(spark, sf_dir)))


def _bitext_ivf_pairs(emb: DataFrame, nprobe: int = 1) -> DataFrame:
    """(a_id, b_id, cos_u) — the CANDIDATE UNION of same-cell
    cross-parity pairs: for every endpoint, its within-cell top-BM_K
    opposite-parity neighbors (cos_u DESC, id ASC — the shared
    quantized tie-break), deduplicated. The IVF-routed candidate stage
    of `bitext_margin_mining_ivf`, exposed so pytest can pin exact
    equality with a numpy replay of the same reduction.

    Scoring is a COGROUPED per-cell BLAS matmul (cogroup both parities
    on the cell id → one |Aᵢ|×|Bᵢ| dense product per cell), and the
    TOP-K REDUCTION HAPPENS INSIDE THE KERNEL: the score matrix never
    leaves the Python worker — only ≤ K·(|Aᵢ|+|Bᵢ|) candidate rows per
    cell are emitted, so the shuffled frame is K·N-bounded at ANY cell
    size (the first cut emitted all Σ|Aᵢ|·|Bᵢ| in-cell pairs — ~10⁸
    rows at 40× — and paid checkpoint + four windows over them; the
    margin/mutual stages are CLOSED under this union, because every
    stage only ever reads each endpoint's top-K rows and their sums,
    all of which survive the cut). Quantization to BIGINT millionths
    happens in the kernel with SQL HALF_UP semantics
    (sign·floor(|x·10⁶|+0.5) — the brute replay pytest's q_half_away),
    BEFORE ranking, preserving the family's round-before-rank
    discipline bit-for-bit."""
    import numpy as np

    assigned = _ivf_assign(emb, nprobe).localCheckpoint(eager=False)  # both parities read
    # per-side projections with distinct column names: both sides share
    # the `assigned` lineage, and cogroup's analyzer rejects ambiguous
    # self-references on identically-named attributes
    a = assigned.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("a_vid"), F.col("emb").alias("a_emb"), "cell"
    )
    b = assigned.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("b_vid"), F.col("emb").alias("b_emb"),
        F.col("cell").alias("b_cell"),
    )

    def score(a_pdf, b_pdf):
        import pandas as pd

        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_u": []})
        a_ids = a_pdf["a_vid"].to_numpy(dtype=np.int64)
        b_ids = b_pdf["b_vid"].to_numpy(dtype=np.int64)
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a_pdf["a_emb"]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in b_pdf["b_emb"]])
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)

        def quant(S):
            # SQL HALF_UP, the brute replay's q_half_away — quantize
            # BEFORE ranking so ranks/ties are grid-exact
            return (np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5)).astype(np.int64)

        # Blocked top-K per query row over (cos_u DESC, other_id ASC):
        # pack both sort keys into ONE int64 (−cos_u·2⁴¹ + id; |cos_u|
        # ≤ 10⁶ < 2²⁰ and ids < 2⁴¹ by far) and argpartition instead of
        # a full lexsort — the first cut's lexsort materialized an
        # n×m repeated-id tie array PER CELL (gigabytes at 40×·nprobe2)
        # and dominated the wall; blocks bound peak memory to
        # blk×m regardless of cell size.
        BLK = 2048

        def topk_rows(Q, C, c_ids, k):
            iis, jjs, uus = [], [], []
            for lo in range(0, Q.shape[0], BLK):
                S = quant(Q[lo : lo + BLK] @ C.T)
                kk = min(k, S.shape[1])
                if kk < S.shape[1]:
                    key = -S * (1 << 41) + c_ids[None, :]
                    part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
                else:
                    part = np.broadcast_to(
                        np.arange(S.shape[1]), (S.shape[0], S.shape[1])
                    )
                r = np.arange(S.shape[0])
                iis.append(np.repeat(r + lo, part.shape[1]))
                jjs.append(part.ravel())
                uus.append(S[r[:, None], part].ravel())
            return (
                np.concatenate(iis),
                np.concatenate(jjs).astype(np.int64),
                np.concatenate(uus),
            )

        k = min(BM_K, len(b_ids))
        kb = min(BM_K, len(a_ids))
        ai1, bj1, u1 = topk_rows(An, Bn, b_ids, k)
        bj2, ai2, u2 = topk_rows(Bn, An, a_ids, kb)
        ii = np.concatenate([ai1, ai2])
        jj = np.concatenate([bj1, bj2])
        uu = np.concatenate([u1, u2])
        # dedupe on packed (i, j) — both sides score identical cos_u
        packed = ii * (len(b_ids) + 1) + jj
        _, keep = np.unique(packed, return_index=True)
        ii, jj, uu = ii[keep], jj[keep], uu[keep]
        return pd.DataFrame({"a_id": a_ids[ii], "b_id": b_ids[jj], "cos_u": uu})

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    out = (
        a.groupBy("cell")
        .cogroup(b.groupBy("b_cell"))
        .applyInPandas(score, "a_id long, b_id long, cos_u long")
    )
    if nprobe > 1:
        # a pair sharing MORE than one routed cell is scored (with the
        # identical cos_u — same two vectors) once per shared cell
        out = out.distinct()
    return out


# ---------------------------------------------------------------------------
# Hard-negative mining — contrastive-training data construction
# ---------------------------------------------------------------------------

HN_K = 5  # positives and hard negatives kept per query


_HN_ORACLE = f"""
    WITH sims AS (
      SELECT s.*, CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS kind
      FROM {_brute_sims_sql()} s
      JOIN embeddings q ON q.vec_id = s.q_vec_id
      JOIN embeddings c ON c.vec_id = s.vec_id
    )
    SELECT q_vec_id, vec_id AS cand_id, kind, cosine_sim, rn
    FROM {_top_k_sql("sims", HN_K, "cosine_sim", by="q_vec_id, kind")}
    """


@register("ann_hard_negative_mining", oracle=_HN_ORACLE)
def ann_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the contrastive-training data builder
    (the DPR/SBERT recipe: a retriever trains fastest on negatives it
    currently confuses with positives): for each query vector, the
    top-5 most-similar SAME-label vectors (positives) and the
    top-5 most-similar DIFFERENT-label vectors (the hard
    negatives — maximally confusable, the rows a random-negative
    sampler almost never finds). One brute cosine pass (the
    ann_cosine_topk machinery — query side broadcast, corpus scanned
    once, never shuffled pairwise), then ONE window per (query, kind)
    with the family's round-before-rank 6-dp discipline and vec_id
    tie-break.

    Scale posture: linear in the corpus (queries broadcast, one scan,
    (Q × 2K) result rows through the top-k window); at 100 TB the scan
    swaps for IVF routing exactly as ann_ivf_topk does — mining
    negatives from the routed cell is how production systems bound the
    candidate pool, and makes the negatives HARDER (same-cell = more
    confusable), not weaker. No reference analog (the reference has no
    vector surface at all).
    """
    emb = _emb(spark, sf_dir)
    # Arrow matmul scoring (`_brute_sims_numpy`) — the fold path paid
    # 32.6 s at 40× where one BLAS pass is scan-bound; labels join back
    # from two bounded/broadcastable projections
    sims = (
        _brute_sims_numpy(spark, emb, N_QUERIES)
        .join(emb.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(_queries(emb, q_label="label")), "q_vec_id")
        .select(
            "q_vec_id",
            "vec_id",
            F.when(F.col("label") == F.col("q_label"), "pos")
            .otherwise("neg")
            .alias("kind"),
            "cosine_sim",
        )
    )
    return _top_k(sims, HN_K, "cosine_sim", by=("q_vec_id", "kind")).select(
        "q_vec_id", F.col("vec_id").alias("cand_id"), "kind", "cosine_sim", "rn"
    )


# ---------------------------------------------------------------------------
# Matryoshka dimension-truncation recall frontier
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32, 64)  # truncation prefixes; 64 = the full vector


_MRL_ORACLE = f"""
    WITH dims AS (SELECT unnest({list(MRL_DIMS)}) AS dim),
    q AS (
      SELECT vec_id AS q_vec_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
      SELECT d.dim, q.q_vec_id, c.vec_id,
             round(list_cosine_similarity(qe[1:d.dim], ce[1:d.dim]), 6)
               AS cosine_sim
      FROM dims d, q, c
      WHERE c.vec_id <> q.q_vec_id
    ),
    topk AS (
      SELECT dim, q_vec_id, vec_id
      FROM {_top_k_sql("sims", IVF_TOP_K, "cosine_sim", by="dim, q_vec_id")}
    ),
    truth AS (SELECT q_vec_id, vec_id FROM topk WHERE dim = 64),
    hits AS (
      SELECT t.dim, count(*) AS hits
      FROM topk t JOIN truth u
        ON u.q_vec_id = t.q_vec_id AND u.vec_id = t.vec_id
      GROUP BY t.dim
    )
    SELECT h.dim AS dim,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(h.hits AS BIGINT) AS hits,
           round(CAST(h.hits AS DOUBLE) / {N_QUERIES * IVF_TOP_K}, 6) AS recall
    FROM hits h
    """


@register("ann_dim_truncation_recall", oracle=_MRL_ORACLE)
def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA dimension-truncation frontier (Kusupati et al.,
    "Matryoshka Representation Learning" — the eval that decides how
    many leading dimensions a vector store actually needs): for each
    prefix length d ∈ (8, 16, 32, 64), run exact cosine top-5 on the
    TRUNCATED embeddings and report recall against the full-64-dim
    ranking — the storage/recall trade curve, measured in-engine. One
    corpus scan serves all four dims (the dim axis is a 4-row literal
    explode; slicing is free projection), queries broadcast, and the
    per-(dim, query) top-k window is the only shuffle.

    Recall is an exact fraction of integers (hits / Q·K with rounded-
    cosine-then-id ranks fixed on both engines), so the whole frontier
    hash-matches DuckDB. The fixture's embeddings are synthetic and
    near-isotropic, so recall climbs steeply with d (the d=64 row is
    1.0 by construction — a pytest-pinned identity); on MRL-trained
    embeddings the interesting region is the knee.

    Scale posture: linear in the corpus per dim (4 scans' worth of
    flops in one pass); at 100 TB the truncated scan IS the win being
    measured — a d=16 store reads 4× less than d=64 — and this query
    prices the recall cost of that read savings before you commit to
    it. No reference analog.
    """
    import numpy as np

    emb = _emb(spark, sf_dir)
    # Arrow matmul scoring: ONE mapInPandas stage emits all four dims'
    # raw cosines per batch (4 BLAS matmuls on prefix slices — the fold
    # path paid 103 s at 40× for the same numbers); quantization stays
    # JVM-side (HALF_UP, matching the oracle)
    q_rows = _queries(emb, emb="emb").collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "dim int, n_queries bigint, hits bigint, recall double"
        )
    q_ids = np.array([r.q_vec_id for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    bc = spark.sparkContext.broadcast((q_ids, Q))

    def score(batches):
        import pandas as pd

        q_ids, Q = bc.value
        for pdf in batches:
            E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            frames = []
            for d in MRL_DIMS:
                Qd = Q[:, :d] / np.linalg.norm(Q[:, :d], axis=1, keepdims=True)
                Ed = E[:, :d] / np.linalg.norm(E[:, :d], axis=1, keepdims=True)
                S = Ed @ Qd.T  # (batch, n_queries)
                n, m = S.shape
                frames.append(
                    pd.DataFrame(
                        {
                            "dim": np.int32(d),
                            "q_vec_id": np.tile(q_ids, n),
                            "vec_id": np.repeat(vec_ids, m),
                            "cos_raw": S.ravel(),
                        }
                    )
                )
            out = pd.concat(frames, ignore_index=True)
            yield out[out["q_vec_id"] != out["vec_id"]]

    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    sims = (
        emb.select("vec_id", "emb")
        .mapInPandas(score, "dim int, q_vec_id long, vec_id long, cos_raw double")
        .select(
            "dim", "q_vec_id", "vec_id",
            F.round("cos_raw", 6).alias("cosine_sim"),
        )
    )
    topk = (
        _top_k(sims, IVF_TOP_K, "cosine_sim", by=("dim", "q_vec_id"))
        .select("dim", "q_vec_id", "vec_id")
        .localCheckpoint(eager=False)  # read twice: truth + all dims
    )
    truth = topk.where(F.col("dim") == 64).select("q_vec_id", "vec_id")
    return (
        topk.join(truth, ["q_vec_id", "vec_id"])
        .groupBy("dim")
        .agg(F.count("*").alias("hits"))
        .select(
            "dim",
            F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
            F.col("hits").cast("bigint").alias("hits"),
            F.round(
                F.col("hits").cast("double") / (N_QUERIES * IVF_TOP_K), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation — recall@K / MRR / NDCG@K in-engine
# ---------------------------------------------------------------------------

NDCG_SCALE = 10**6


def ndcg_discounts(k: int = IVF_TOP_K) -> list[int]:
    """Integer DCG discount table disc[i] = round(10⁶ / log2(i + 1))
    for positions i = 1..k — computed ONCE here in Python and inlined
    into both engines (the `dft_twiddles` discipline), so no log is
    ever evaluated cross-engine and every DCG sum is exact BIGINT."""
    import math

    return [round(NDCG_SCALE / math.log2(i + 1)) for i in range(1, k + 1)]


def _retrieval_eval_sql(ctes: str, sims: str, score: str) -> str:
    """Per-query recall@K / MRR / NDCG@K as DuckDB SQL, the twin of
    `_retrieval_metrics`: ``ctes`` define the system's scored relation
    ``sims``(q_vec_id, vec_id, ``score``), whose top-IVF_TOP_K is
    scored against the exact float top-IVF_TOP_K truth."""
    disc = ndcg_discounts()
    disc_rows = ", ".join(f"({i + 1}, {d})" for i, d in enumerate(disc))
    return f"""
    WITH {ctes},
    disc(pos, d) AS (VALUES {disc_rows}),
    hits AS (
      SELECT s.q_vec_id, s.rn,
             CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM {_top_k_sql(sims, IVF_TOP_K, score)} s
      LEFT JOIN {_top_k_sql(_brute_sims_sql(), IVF_TOP_K, "cosine_sim")} t
        ON t.q_vec_id = s.q_vec_id AND t.vec_id = s.vec_id
    )
    SELECT h.q_vec_id,
           CAST(sum(h.hit) AS BIGINT) AS n_hits,
           round(CAST(sum(h.hit) AS DOUBLE) / {IVF_TOP_K}, 6) AS recall_at_k,
           CAST(min(CASE WHEN h.hit = 1 THEN h.rn END) AS BIGINT) AS rank_first,
           CASE WHEN sum(h.hit) = 0 THEN 0.0
                ELSE round(1.0 / min(CASE WHEN h.hit = 1 THEN h.rn END), 6)
           END AS mrr,
           round(CAST(sum(CASE WHEN h.hit = 1 THEN d.d ELSE 0 END) AS DOUBLE)
                 / {sum(disc)}, 6) AS ndcg_at_k
    FROM hits h JOIN disc d ON d.pos = h.rn
    GROUP BY h.q_vec_id
    """


@register(
    "retrieval_eval_ivf", oracle=_retrieval_eval_sql(_ivf_sims_sql(), "sims", "cosine_sim")
)
def retrieval_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY EVALUATION in-engine — the IR-metric readout
    the evaluation suite (AUC/CV/calibration/WOE for classifiers) had
    no counterpart for on the retrieval side: per query, recall@K, MRR
    (reciprocal rank of the first relevant result) and binary NDCG@K
    of the IVF-routed system (`ann_ivf_topk`'s plan) against the
    exact-cosine top-K ground truth (`ann_cosine_topk`'s plan) — the
    standard offline eval loop every vector-search deployment runs
    before turning a routing/recall dial (the nprobe/IVFPQ variants
    trade exactly what this measures).

    Exactness discipline: both rankings use the family's
    round-6dp-then-id tie-break, so truth and system sets are
    cross-engine identical; DCG discounts 1/log2(pos+1) are quantized
    ONCE in Python (`ndcg_discounts`, BIGINT millionths — no log
    evaluated cross-engine); DCG sums are exact BIGINT; NDCG and
    recall are one double each from two exact integers, rounded once;
    MRR is 1/rank from a BIGINT rank. The pytest replays all three
    metrics in numpy from the raw frames and pins the
    identity-system sanity (evaluating brute against itself → all
    metrics 1).

    Scale posture: truth is the brute pass (the eval-time cost every
    offline recall measurement pays — ground truth IS exact search,
    run on a query SAMPLE at 100 TB); the system pass is cell-routed;
    metrics are per-query bounded aggregations over Q×K rows. No
    reference analog."""
    emb = _emb(spark, sf_dir)
    return _retrieval_metrics(_top_k(_ivf_cell_sims(emb), IVF_TOP_K, "cosine_sim"), emb)


def _retrieval_metrics(sys_: DataFrame, emb: DataFrame) -> DataFrame:
    """Per-query recall@K / MRR / NDCG@K of the system's ranking
    ``sys_``(q_vec_id, vec_id, rn) against the exact float top-K truth
    of ``emb`` (`_brute_topk`) — the shared metric tail of
    `retrieval_eval_ivf` (routing loss) and `retrieval_eval_ivfpq`
    (routing + quantization loss): exact BIGINT DCG sums over the
    Python-inlined discount table, one rounded double per metric."""
    disc = ndcg_discounts()
    idcg = sum(disc)
    disc_map = F.create_map(
        *[F.lit(x) for i, d in enumerate(disc) for x in (i + 1, d)]
    )
    truth = _brute_topk(emb, IVF_TOP_K).select(
        F.col("q_vec_id").alias("t_q_vec_id"), F.col("vec_id").alias("t_vec_id")
    )
    hits = sys_.join(
        truth,
        (F.col("q_vec_id") == F.col("t_q_vec_id"))
        & (F.col("vec_id") == F.col("t_vec_id")),
        "left",
    ).select(
        "q_vec_id",
        "rn",
        F.when(F.col("t_vec_id").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    rank_first = F.min(F.when(F.col("hit") == 1, F.col("rn")))
    return (
        hits.withColumn("d", disc_map[F.col("rn")])
        .groupBy("q_vec_id")
        .agg(
            F.sum("hit").cast("bigint").alias("n_hits"),
            F.round(F.sum("hit").cast("double") / IVF_TOP_K, 6).alias(
                "recall_at_k"
            ),
            rank_first.cast("bigint").alias("rank_first"),
            F.when(F.sum("hit") == 0, F.lit(0.0))
            .otherwise(F.round(F.lit(1.0) / rank_first, 6))
            .alias("mrr"),
            F.round(
                F.sum(F.when(F.col("hit") == 1, F.col("d")).otherwise(0)).cast(
                    "double"
                )
                / idcg,
                6,
            ).alias("ndcg_at_k"),
        )
    )


@register(
    "retrieval_eval_ivfpq",
    oracle=_retrieval_eval_sql(_ivfpq_ctes(1), "sims", "ivfpq_sim"),
)
def retrieval_eval_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR metrics for the COMPRESSED system — `retrieval_eval_ivf`'s
    twin over the residual-IVFPQ serving chain, so the readout now
    prices routing loss AND quantization loss together (recall@K, MRR,
    binary NDCG@K vs exact-cosine truth): the pair of eval queries is
    the offline dashboard a deployment reads before trading memory
    (PQ codes) or scan cost (nprobe) against quality, and the pytest
    pins the expected dominance direction on the fixture (the
    compressed system cannot beat the uncompressed router it
    approximates in total hits).

    Exactness: the system ranking is the full `_ivfpq_topk_plan`
    (integer-exact ADC chain, round-6dp-then-id); truth and the metric
    tail are shared with the IVF eval (`_retrieval_metrics`, inlined
    integer DCG discounts). The oracle is `_retrieval_eval_sql` over
    the complete IVFPQ SQL chain (`_ivfpq_ctes`) and the brute truth —
    both losses inside one hash.

    Scale posture: system pass = the served IVFPQ cost; truth = the
    exact-search pass every offline recall eval pays (sampled queries
    at 100 TB); metrics bounded at Q×K rows."""
    sys_ = _ivfpq_topk_plan(spark, sf_dir, 1).select(
        "q_vec_id", F.col("neighbor_id").alias("vec_id"), "rn"
    )
    return _retrieval_metrics(sys_, _emb(spark, sf_dir))
