"""Deduplication operators for LLM data pipelines (north-star surface).

Escalating strategies over ``documents`` (plus cluster resolution):

- exact      — content-hash groupBy (normalize → sha256 → keep min id)
- ngram      — exact Jaccard on 5-gram shingles via a shingle inverted
               index self-join (candidate pairs share ≥1 shingle)
- minhash    — MinHash signatures + LSH banding → candidate pairs →
               exact-Jaccard verification (the 100 TB path: candidate
               generation is linear in corpus size, never pairwise)
- simhash    — 60-bit SimHash (portable md5-prefix token hash) +
               banded Hamming search, fingerprint-exact vs the oracle
- embedding  — exact pairwise cosine over the embeddings table
               (broadcast self-join baseline) with a random-hyperplane
               LSH candidate generator as the 100 TB path
- clusters   — connected components over the near-dup pair graph
               (iterative min-label propagation) → canonical doc per
               cluster, the actual keep/drop decision

Scale notes: the inverted-index self-join (ngram) degrades on hot
shingles (a stopword 5-gram shared by millions of docs creates a
quadratic bucket); MinHash-LSH shrinks buckets by construction (bands
of the signature, not raw shingles) and is the one to run at 100 TB.
Both are expressed as pure DataFrame plans — shuffle keys are
shingle/band hashes, all aggregates partial+final.

Banding bounds RANDOM collisions, not SIMILAR-pair collisions: a band
of r minhashes collides for an unrelated pair with p ≈ jaccard^r, so
corpora with heavy ambient cross-document similarity still grow a
quadratic-in-distinct-contents candidate tail (SCALING.md round-5
640× probe: the ~100-word-type synthetic generator gives unrelated
docs enough shared shingles that the tail dominated past 160× and the
verify join developed hot-bucket stragglers). Production bounds for
that regime, in order: widen bands (raise r — the strict 16-bit
embedding regime is the worked example), cap per-bucket candidate
contribution (df-cap the band buckets exactly like the shingle
inverted index), and salt hot buckets across tasks. Real web text
sits far below this fixture's ambient similarity, but a crawl of
boilerplate-heavy pages can reproduce it — which is what
`boilerplate_ngram_sources` measures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

import os

from minimapreduce_spark.artifacts import (
    FAMILIES,
    family_root,
    link_parent_files,
    publish,
)
from minimapreduce_spark.catalog import fan_out, load_table, table_path
from minimapreduce_spark.registry import register

SHINGLE_K = 5
NGRAM_THRESHOLD = 0.8
MINHASH_THRESHOLD = 0.9
MINHASH_PERMS = 32
MINHASH_BANDS = 8  # 8 bands × 4 rows; P(miss | j=0.9) ≈ (1-0.9^4)^8 ≈ 8e-4
SIMHASH_HAMMING_MAX = 3

_JACCARD_ORACLE = """
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM words),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+{kminus1}], ' ') AS shingle
      FROM pos WHERE i <= len(ws) - {kminus1}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {threshold}
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: shingling/tokenizing is the expensive step; never let a
    # one-split local scan serialize it onto a single core.
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


def shingle_hashes(
    spark: SparkSession,
    sf_dir: str,
    k: int = SHINGLE_K,
    distinct: bool = True,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h) pairs, h = 64-bit xxhash of the k-gram word shingle —
    distinct per doc by default.

    Scale posture: dedup never needs the shingle *strings* past this
    projection — hashing before the distinct means the dedup shuffle and
    every downstream join move 16-byte rows instead of 5-word text
    shingles (~10× less shuffle IO). The distinct stays a shuffle (not a
    per-row array_distinct): measured at sf0.1, keeping the explode
    narrow and deduping in one exchange is ~3× faster than any variant
    that materializes the shingle array twice to carry a size column.
    Consumers whose aggregate is duplicate-insensitive (min-hash) pass
    ``distinct=False`` and skip that corpus-wide exchange entirely.
    Pass ``docs`` (doc_id, text) to shingle an alternate frame — e.g.
    the content-group representatives of ``dedup_minhash``.
    """
    if docs is None:
        docs = _docs(spark, sf_dir)
    ws = F.filter(F.split("text", r"[^A-Za-z]+"), lambda w: w != "")
    # Guard short docs: sequence(1, n) with n < 1 would generate a
    # DESCENDING sequence in Spark, fabricating bogus shingles.
    sh = F.when(
        F.size(ws) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = docs.select("doc_id", F.explode(sh).alias("shingle")).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    return out.distinct() if distinct else out


def jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle-hash sets.

    Without ``candidates``: inverted-index self-join on the 64-bit
    shingle hash (both sides shuffle on ``h`` with identical child
    plans, so Spark's ReuseExchange computes the scan once).
    With ``candidates`` (a (doc_a, doc_b) frame from LSH): the
    intersection is computed candidate-driven — explode each candidate
    pair by doc_a's shingles, inner-join doc_b's on (doc_b, h) — so
    cost is linear in candidate volume, never corpus-pairwise.

    The post-aggregation pairs frame is tiny relative to the corpus, so
    AQE turns both size joins into broadcasts at runtime.
    """
    # sh feeds three consumers (sizes, both join sides). ReuseExchange
    # only dedupes the two identical-plan sides; the sizes aggregate is
    # a different subtree and would trigger a full recompute of the
    # shingle scan — checkpoint once, read three times. Callers that
    # already computed a (doc_id, h) distinct-shingle frame (e.g. the
    # minhash path derives it from its checkpointed raw-shingle base)
    # pass ``shingles`` to skip this scan entirely.
    if shingles is None:
        shingles = shingle_hashes(spark, sf_dir).localCheckpoint(eager=False)
    sh = shingles
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    if candidates is None:
        joined = a.join(b, "h").where(F.col("doc_a") < F.col("doc_b"))
    else:
        joined = candidates.join(a, "doc_a").join(b, ["doc_b", "h"])
    pairs = joined.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
    )


def doc_content_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(text, rep, members): one row per DISTINCT document content —
    rep = min doc_id of the group, members = all doc_ids carrying that
    exact text. The content-group front end shared by the text-dedup
    family (see ``dedup_minhash``): byte-identical copies collapse here
    so shingling/banding/verification run over distinct contents only.
    Checkpointed — every caller reads it at least twice (pipeline +
    expansion)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("rep"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .localCheckpoint(eager=False)
    )


_DUP_PROBE_CACHE: dict[tuple[str, int, int], bool] = {}
DUP_GATE_RATIO = 0.01  # ≤1% duplicated rows → the collapse can't pay


def corpus_effectively_dup_free(spark: SparkSession, sf_dir: str) -> bool:
    """One-aggregate duplication probe gating the content-group front
    end (round-4 verdict item 6): ``count(*) vs count(distinct
    sha2(text))`` in a single hash-agg pass. When at most
    ``DUP_GATE_RATIO`` (1%) of rows are byte-duplicates, the text-dedup
    family skips the collapse/expand entirely — the ungrouped pipeline
    is bit-identical at ANY duplication level (identical docs share
    every shingle/fingerprint, so they meet in the same buckets and
    verify at jaccard 1.0 / hamming 0 exactly as the oracle computes),
    the content-group form is purely the optimization that deletes the
    quadratic within-group candidate volume. On a dup-free corpus the
    front end's fixed cost (one full-text groupBy + two expansion
    joins) bought nothing — the measured +0.4-0.8 s per headliner at
    sf0.1 in BENCH_r04 — while on the 40x dup-heavy fixture the probe
    measures ~90% duplication and the collapse stays on (813 → 120 s
    family-wide there).

    The probe shuffles 64-char hashes, not document text (sha2 computes
    map-side inside the partial agg), and the verdict is memoized per
    (path, mtime, size) so repeated plan builds in one session pay it
    once. Nulls hash to null, which count(distinct) skips — a null-text
    corpus therefore reads as duplicated and conservatively keeps the
    grouped path (groupBy treats all nulls as one group, matching)."""
    from minimapreduce_spark.catalog import content_fingerprint

    path = os.path.abspath(table_path(sf_dir, "documents"))
    key = (path, content_fingerprint(path))
    if key not in _DUP_PROBE_CACHE:
        n, nd = (
            load_table(spark, sf_dir, "documents")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct(F.sha2("text", 256)).alias("nd"),
            )
            .first()
        )
        _DUP_PROBE_CACHE[key] = (n - nd) <= int(n * DUP_GATE_RATIO)
    return _DUP_PROBE_CACHE[key]


_EMB_DUP_PROBE_CACHE: dict[tuple[str, str], bool] = {}


def embeddings_effectively_dup_free(spark: SparkSession, sf_dir: str) -> bool:
    """One-aggregate duplication probe over the embeddings table —
    ``corpus_effectively_dup_free``'s discipline applied to the vector
    lane: count(*) vs count(distinct xxhash64(embedding)) in one pass,
    memoized per (path, content fingerprint) so repeated plan builds in
    one session pay the probe once (round-11: the per-invocation probe
    was ~0.3 s of every dedup_embedding_lsh call). A 64-bit collision
    only UNDERcounts distinct, which reads as more duplication and
    conservatively keeps the grouped path."""
    from minimapreduce_spark.catalog import content_fingerprint

    path = os.path.abspath(table_path(sf_dir, "embeddings"))
    key = (path, content_fingerprint(path))
    if key not in _EMB_DUP_PROBE_CACHE:
        n, nd = (
            load_table(spark, sf_dir, "embeddings")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct(F.xxhash64("embedding")).alias("nd"),
            )
            .first()
        )
        _EMB_DUP_PROBE_CACHE[key] = (n - nd) <= int(n * DUP_GATE_RATIO)
    return _EMB_DUP_PROBE_CACHE[key]


def content_group_frontend(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame | None]:
    """(doc_frame, groups) for the text-dedup family, duplication-gated:
    a dup-heavy corpus gets (distinct-content reps, groups) and callers
    expand verified content pairs back to members; an effectively
    dup-free one gets (all docs, None) and callers skip the collapse,
    expansion, and self-pair lanes — same output either way (see
    ``corpus_effectively_dup_free``). The returned doc frame is NOT yet
    fanned out; callers apply ``fan_out`` where the expensive stage
    needs it."""
    if corpus_effectively_dup_free(spark, sf_dir):
        return load_table(spark, sf_dir, "documents").select("doc_id", "text"), None
    groups = doc_content_groups(spark, sf_dir)
    return groups.select(F.col("rep").alias("doc_id"), "text"), groups


def expand_doc_pairs(content_hits: DataFrame, groups: DataFrame) -> DataFrame:
    """Expand content-level pairs (doc_a, doc_b = rep ids, plus any
    value columns) to member-level doc pairs through two narrow
    (rep, doc_id) joins: cross-content pairs yield every member combo
    exactly once, self-pairs (rep, rep) yield the within-group i<j
    combos. Values carry over unchanged — members are byte-identical,
    so every expanded pair's metrics equal its representative pair's."""
    extra = [c for c in content_hits.columns if c not in ("doc_a", "doc_b")]
    mem = groups.select("rep", F.explode("members").alias("did"))
    return (
        content_hits.join(
            mem.select(F.col("rep").alias("doc_a"), F.col("did").alias("ida")), "doc_a"
        )
        .join(
            mem.select(F.col("rep").alias("doc_b"), F.col("did").alias("idb")), "doc_b"
        )
        .where((F.col("doc_a") != F.col("doc_b")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            *extra,
        )
    )


def jaccard_self_pairs(groups: DataFrame, distinct_sh: DataFrame) -> DataFrame:
    """(rep, rep, n_common, jaccard=1.0) for every multi-member content
    group whose content has at least one shingle — the oracle's exact
    values for a byte-identical pair (its shingle equi-join can never
    pair zero-shingle docs, however identical, so those are excluded)."""
    sizes = distinct_sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return (
        groups.where(F.size("members") >= 2)
        .join(sizes, groups.rep == sizes.doc_id)
        .select(
            F.col("rep").alias("doc_a"),
            F.col("rep").alias("doc_b"),
            F.col("n").alias("n_common"),
            F.lit(1.0).alias("jaccard"),
        )
    )


@register(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT doc_id,
             sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash
      FROM documents
    )
    SELECT content_hash,
           min(doc_id) AS keep_doc_id,
           count(*)    AS n_copies
    FROM hashed
    GROUP BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: whitespace-normalized lowercase sha256, keep the
    min doc_id per hash group. One hash-shuffle, no pairwise work —
    the first pass of any corpus dedup at any scale."""
    docs = _docs(spark, sf_dir)
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return (
        docs.select("doc_id", F.sha2(norm, 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=NGRAM_THRESHOLD),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 5-gram Jaccard ≥ 0.8 via shingle
    inverted-index self-join over DISTINCT CONTENTS (the content-group
    front end, see ``dedup_minhash``) — byte-identical copies never
    enter the inverted index, which also shrinks every hot-shingle
    bucket by the duplication factor (Σ bucket² drops quadratically in
    it). Still: at 100 TB prefer dedup_minhash — the bucket bound here
    is the shingle's document frequency, not the band's."""
    doc_src, groups = content_group_frontend(spark, sf_dir)
    rep_docs = fan_out(spark, doc_src)
    sh = shingle_hashes(spark, sf_dir, docs=rep_docs).localCheckpoint(eager=False)
    rep_pairs = jaccard_pairs(spark, sf_dir, NGRAM_THRESHOLD, shingles=sh)
    if groups is None:  # duplication gate: pairs are already doc-level
        return rep_pairs
    return expand_doc_pairs(
        rep_pairs.unionByName(jaccard_self_pairs(groups, sh)), groups
    )


def minhash_signatures(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    """doc_id → MINHASH_PERMS min-hash values, one groupBy over the RAW
    shingle-hash frame: min() is insensitive to duplicate shingles, so
    the per-doc distinct shuffle is skipped — the 32 mins combine
    map-side as partial aggregates and only (docs × 32 longs) of partial
    state crosses the wire, never the shingles themselves. Pass a
    pre-computed (doc_id, h) frame via ``shingles`` to share the corpus
    scan with other consumers."""
    sh = shingles if shingles is not None else shingle_hashes(spark, sf_dir, distinct=False)
    aggs = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"s{i}") for i in range(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bh): LSH band-bucket assignment of a MinHash
    signature frame — MINHASH_BANDS rows per doc, bh = xxhash of the
    band's r signature slots (band index salted in so identical slot
    values in different bands never collide). Shared by the full
    self-join dedup (``dedup_minhash``) and the incremental batch-vs-
    index probe (``dedup_minhash_incremental``)."""
    r = MINHASH_PERMS // MINHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(*[F.col(f"s{j * r + i}") for i in range(r)], F.lit(j)).alias("bh"),
            )
            for j in range(MINHASH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", "b.band", "b.bh"
    )


@register(
    "dedup_minhash",
    oracle=_JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=MINHASH_THRESHOLD),
    bench=True,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, exact-verified:

    1. 32 min-hash values per doc over 5-gram shingles
    2. 8 bands × 4 rows → band-bucket hash; docs sharing any bucket
       become candidate pairs (linear candidate generation)
    3. exact Jaccard on candidates only, threshold 0.9

    The oracle is the plain exact-Jaccard SQL: with these parameters a
    true pair at j ≥ 0.9 is missed with P ≈ 8e-4 (deterministic hashes,
    so verified-stable on the fixture data). This is the 100 TB dedup
    path — no step is pairwise over the corpus.

    CONTENT-GROUP front end (the embedding-LSH fix, applied to text),
    DUPLICATION-GATED (round 5): a one-aggregate probe measures the
    corpus's byte-duplication rate and skips the collapse/expand
    entirely when it is effectively dup-free — see
    ``corpus_effectively_dup_free`` for why both plans are
    bit-identical. When the corpus IS dup-heavy: byte-identical
    documents — the dominant duplicate shape in a web
    corpus — collapse via one groupBy on the text itself before any
    shingling; the whole shingle → signature → band → verify pipeline
    runs over DISTINCT CONTENTS only, and verified content pairs expand
    back to doc pairs through narrow (rep, doc_id) joins. Within-group
    pairs are emitted directly with jaccard = 1.0 and n_common = the
    content's distinct-shingle count (exactly what the oracle computes
    for a byte-identical pair; zero-shingle contents are excluded
    because the oracle's shingle equi-join can never pair them).
    Outputs are bit-identical to the ungrouped plan — group members are
    byte-equal, so every expanded pair's (n_common, jaccard) equals its
    representative pair's."""
    doc_src, groups = content_group_frontend(spark, sf_dir)
    # fan_out: AQE coalesces the small post-groupBy output to ~1
    # partition, which would serialize the expensive shingling stage
    # onto one core (measured 5.5 s vs 1.0 s at sf0.1)
    rep_docs = fan_out(spark, doc_src)
    # One rep-corpus scan for the whole query: the raw shingle base is
    # checkpointed and feeds BOTH the signature aggregate (min() is
    # duplicate-insensitive, so no distinct needed) and, deduped, the
    # exact-Jaccard verification. The signature frame (docs × 32 longs)
    # is checkpointed too since the band self-join reads it twice.
    base = shingle_hashes(
        spark, sf_dir, distinct=False, docs=rep_docs
    ).localCheckpoint(eager=False)
    sigs = minhash_signatures(spark, sf_dir, shingles=base).localCheckpoint(eager=False)
    buckets = minhash_band_buckets(sigs)
    left = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    right = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    distinct_sh = base.distinct().localCheckpoint(eager=False)
    rep_pairs = jaccard_pairs(
        spark,
        sf_dir,
        MINHASH_THRESHOLD,
        candidates=candidates,
        shingles=distinct_sh,
    )
    if groups is None:  # duplication gate: pairs are already doc-level
        return rep_pairs
    return expand_doc_pairs(
        rep_pairs.unionByName(jaccard_self_pairs(groups, distinct_sh)), groups
    )


INCR_BATCH_MOD = 10  # doc_id % 10 == 0 → "today's increment" (~10% of docs)


def minhash_incremental_pairs(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame,
    is_batch: Column,
    threshold: float = MINHASH_THRESHOLD,
) -> DataFrame:
    """Verified near-dup pairs TOUCHING a new-arrival batch: the
    operational shape of dedup at 100 TB, where the corpus was already
    deduped yesterday and only today's increment needs checking —
    against the existing index AND within itself — so the pairwise
    stages must cost ∝ batch, never ∝ corpus.

    Plan: signatures/band buckets build for all docs (one map-side
    linear pass — in production the corpus side is the PERSISTED index,
    amortized across days; recomputing it here changes wall, not the
    join shape), then candidates come from ``batch_buckets ⋈ all_buckets
    on (band, bh)`` — the corpus side NEVER self-joins, so candidate
    volume is Σ_batch-bucket |bucket|, linear in the batch at fixed
    collision rate, and a 100× larger corpus with the same daily
    increment pays the same pairwise work (pinned by the
    corpus-growth pytest in tests/test_llm_ops.py). Batch-internal
    pairs fall out of the same join (both sides present in the
    all-buckets frame); exact-Jaccard verification runs candidate-driven
    as in ``dedup_minhash``.

    BATCH-SIDE content-group gate: a real arrival batch is often
    dup-heavy (recrawls fetch the same page many times), and probing
    with every copy multiplies candidate volume by the batch's
    duplication factor. When a one-aggregate probe over the BATCH ONLY
    measures > DUP_GATE_RATIO byte-duplication, identical batch
    contents collapse to their min-id representative before the probe
    and verified pairs expand back afterwards (the
    ``content_group_frontend`` design, applied to the batch side only —
    the corpus side is an already-deduped index by contract, so it
    never needs collapsing, and at 100 TB one full-text groupBy over
    the corpus would be exactly the cost this operator exists to
    avoid). Both paths are bit-identical for the same reason the
    full-dedup gate's are: byte-equal docs share every shingle, so a
    representative's matches and scores ARE its members'. The gate
    cuts candidate volume to ∝ DISTINCT batch contents; note that on
    the 40× scale fixture, whose CORPUS is also ~90% duplicated —
    out of this operator's contract — the wall stays ~20 s because
    corpus-side copies inflate the index and every bucket 10×; a
    corpus in that state needs the full ``dedup_minhash`` (whose
    global collapse is exactly the index build this operator assumes
    already happened). SCALING.md's incremental probe measures the
    in-contract regime: candidates exactly constant under 16× corpus
    growth.

    ``is_batch`` is a boolean Column over ``docs``'s columns; the
    registered query uses doc_id % INCR_BATCH_MOD == 0."""
    batch = docs.where(is_batch).select("doc_id", "text")
    n, nd = batch.agg(
        F.count("*").alias("n"),
        F.count_distinct(F.sha2("text", 256)).alias("nd"),
    ).first()
    if (n - nd) <= int(n * DUP_GATE_RATIO):
        candidates, distinct_sh = minhash_incremental_candidates(
            spark, sf_dir, docs, is_batch
        )
        return jaccard_pairs(
            spark, sf_dir, threshold, candidates=candidates, shingles=distinct_sh
        )
    groups = (
        batch.groupBy("text")
        .agg(
            F.min("doc_id").alias("rep"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .localCheckpoint(eager=False)
    )
    # reps carry a real batch doc's (doc_id, text), so the caller's
    # row-wise is_batch predicate still identifies them in the union
    corpus = docs.where(~is_batch).select("doc_id", "text")
    docs_rep = corpus.unionByName(groups.select(F.col("rep").alias("doc_id"), "text"))
    candidates, distinct_sh = minhash_incremental_candidates(
        spark, sf_dir, docs_rep, is_batch
    )
    rep_pairs = jaccard_pairs(
        spark, sf_dir, threshold, candidates=candidates, shingles=distinct_sh
    )
    # within-group pairs: the oracle's exact values for byte-identical
    # docs (jaccard 1.0, n_common = the content's distinct-shingle
    # count; zero-shingle contents excluded — its shingle equi-join
    # can never pair them)
    sizes = distinct_sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    self_rep = (
        groups.where(F.size("members") >= 2)
        .join(sizes, groups.rep == sizes.doc_id)
        .select(
            F.col("rep").alias("doc_a"),
            F.col("rep").alias("doc_b"),
            F.col("n").alias("n_common"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # expand batch-side reps to members; corpus ids pass through
    # (LEFT join + coalesce — no corpus-sized identity frame needed)
    mem = groups.select("rep", F.explode("members").alias("did"))
    return (
        rep_pairs.unionByName(self_rep)
        .join(
            mem.select(F.col("rep").alias("doc_a"), F.col("did").alias("_ida")),
            "doc_a",
            "left",
        )
        .withColumn("_ida", F.coalesce("_ida", "doc_a"))
        .join(
            mem.select(F.col("rep").alias("doc_b"), F.col("did").alias("_idb")),
            "doc_b",
            "left",
        )
        .withColumn("_idb", F.coalesce("_idb", "doc_b"))
        .where((F.col("doc_a") != F.col("doc_b")) | (F.col("_ida") < F.col("_idb")))
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "n_common",
            "jaccard",
        )
    )


def minhash_incremental_candidates(
    spark: SparkSession, sf_dir: str, docs: DataFrame, is_batch: Column
) -> tuple[DataFrame, DataFrame]:
    """(candidates, distinct_shingles) for the incremental probe — the
    batch-driven LSH join of ``minhash_incremental_pairs``, exposed so
    the corpus-growth pytest can pin candidate volume directly (equal
    candidates for 1× and 4× corpus at fixed batch)."""
    fanned = fan_out(spark, docs)
    base = shingle_hashes(
        spark, sf_dir, distinct=False, docs=fanned
    ).localCheckpoint(eager=False)
    sigs = minhash_signatures(spark, sf_dir, shingles=base).localCheckpoint(eager=False)
    buckets = minhash_band_buckets(sigs).localCheckpoint(eager=False)
    # semi-join, not a forced broadcast: a daily increment's id set is
    # broadcast-size at fixture scale (AQE picks that) but can exceed it
    # at 100 TB, where this becomes a plain hash semi-join on doc_id
    batch_ids = docs.where(is_batch).select("doc_id")
    batch_buckets = buckets.join(batch_ids, "doc_id", "left_semi")
    candidates = (
        batch_buckets.select(F.col("doc_id").alias("ba"), "band", "bh")
        .join(buckets.select(F.col("doc_id").alias("other"), "band", "bh"), ["band", "bh"])
        .where(F.col("ba") != F.col("other"))
        .select(
            F.least("ba", "other").alias("doc_a"),
            F.greatest("ba", "other").alias("doc_b"),
        )
        .distinct()
    )
    return candidates, base.distinct().localCheckpoint(eager=False)


@register(
    "dedup_minhash_incremental",
    oracle=(
        "SELECT * FROM ("
        + _JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=MINHASH_THRESHOLD)
        + f") WHERE doc_a % {INCR_BATCH_MOD} = 0 OR doc_b % {INCR_BATCH_MOD} = 0"
    ),
    bench=True,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: near-dup pairs (jaccard ≥ 0.9)
    where at least one side is in the arrival batch (doc_id %
    INCR_BATCH_MOD == 0 stands in for "docs ingested today"). Same
    signature/band/verify parameters as ``dedup_minhash``; the oracle
    is the full exact-Jaccard SQL restricted to batch-touching pairs
    (banding misses a true j ≥ 0.9 pair with P ≈ 8e-4 — the documented
    ``dedup_minhash`` stance, deterministic hashes so verified-stable).

    Why it exists: a 100 TB corpus is not re-deduped from scratch per
    day — yesterday's corpus is an immutable deduped index and the
    day's increment (~0.1-1% of corpus) probes it. This query is that
    probe expressed as a plan: see ``minhash_incremental_pairs`` for
    the batch-driven join shape (no corpus self-join anywhere). The
    content-group front end is orthogonal and stacks identically when
    the batch is dup-heavy; it is skipped here because the gate probe
    (``corpus_effectively_dup_free``) reads the union corpus, which is
    exactly the full-dedup posture, not the incremental one."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_incremental_pairs(
        spark, sf_dir, docs, F.col("doc_id") % INCR_BATCH_MOD == 0
    )


# explicit artifact-read schemas: a zero-row corpus side (every doc in
# the batch) publishes a buckets dir with no data files, and a
# schema-less read would crash with 'Unable to infer schema' instead of
# returning the correct empty frame (round-9 review finding)
MINHASH_BUCKET_SCHEMA = "doc_id bigint, bh bigint, band int"
MINHASH_SHINGLE_SCHEMA = "doc_id bigint, h bigint"


def minhash_index_root(sf_dir: str, batch_mod: int | None = None) -> str:
    """Deterministic on-disk location of the persisted MinHash band
    index for a fixture dir — the `ivfpq_index_root` discipline applied
    to the dedup family: keyed by the ABSOLUTE fixture path plus the
    documents table's CONTENT FINGERPRINT (`content_fingerprint`:
    mtime+size for a bare file, data-file census for a directory
    table — round-9 ADVICE) plus
    the corpus-split parameter ``batch_mod`` (two different splits must
    never share one artifact — round-9 review finding), so a
    regenerated fixture gets a fresh root instead of silently probing a
    stale index; NOT session-keyed (write-once/probe-many across
    sessions is the point). Concurrency is handled by
    `artifacts.publish`."""
    import hashlib

    from minimapreduce_spark.catalog import content_fingerprint, table_path

    if batch_mod is None:
        batch_mod = INCR_BATCH_MOD
    fp = content_fingerprint(table_path(sf_dir, "documents"))
    key = f"{os.path.abspath(sf_dir)}|{fp}|m{batch_mod}"
    tag = hashlib.sha256(key.encode()).hexdigest()[:16]
    return family_root("minhash_band_index", tag)


MINHASH_INDEX_MARKER = FAMILIES["minhash_band_index"][1]


def minhash_index_build(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    batch_mod: int = INCR_BATCH_MOD,
) -> str:
    """BUILD-ONCE: persist the CORPUS side of the incremental-dedup
    probe as a two-table parquet artifact and return its root —

      - ``buckets`` (doc_id, bh, band): the LSH band index, written
        PARTITIONED BY band (the classic per-band table layout: each
        of the 8 band joins scans only its own partition on disk);
      - ``shingles`` (doc_id, h): the distinct shingle-hash sets the
        exact-Jaccard verification needs for the corpus side of a
        candidate pair.

    This is the `ivfpq_index_build` artifact discipline applied to
    dedup (round-8 verdict item 3): a daily 100 TB dedup job does NOT
    re-shingle and re-band yesterday's corpus per run — the index is
    written once when the corpus is deduped and every day's arrival
    batch probes it. The corpus side here is the fixture's non-batch
    rows (doc_id % batch_mod != 0), matching the registered probe's
    batch predicate by construction.

    Published by `artifacts.publish`, so concurrent sessions share one
    artifact and never observe a half-written index. Rebuild happens
    only when the root is absent; the artifact is a deterministic pure
    function of the fixture (xxhash shingles/signatures, no RNG), which
    is what makes probe-from-artifact ≡ inline-recompute — pinned in
    pytest both frame-by-frame (DuckDB reading the artifact parquet) and
    end-to-end (probe output == `dedup_minhash_incremental`)."""

    def write(stage: str) -> None:
        corpus = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .where(F.col("doc_id") % batch_mod != 0)
        )
        base = shingle_hashes(
            spark, sf_dir, distinct=False, docs=fan_out(spark, corpus)
        ).localCheckpoint(eager=False)
        sigs = minhash_signatures(spark, sf_dir, shingles=base)
        _write_band_index(stage, minhash_band_buckets(sigs), base.distinct())

    return publish(
        root or minhash_index_root(sf_dir, batch_mod), MINHASH_INDEX_MARKER, write
    )


def _write_band_index(stage: str, buckets: DataFrame, shingles: DataFrame) -> None:
    """The band index's two tables: ``buckets`` partitioned by band,
    one task per band, and ``shingles``."""
    (
        buckets.repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(stage, "buckets"))
    )
    shingles.write.mode("overwrite").parquet(os.path.join(stage, "shingles"))


def probe_band_index(
    spark: SparkSession,
    sf_dir: str,
    batch_buckets: DataFrame,
    batch_shingles: DataFrame,
    index_buckets: DataFrame,
    index_shingles: DataFrame,
    prior_buckets: DataFrame | None = None,
    prior_shingles: DataFrame | None = None,
    threshold: float = MINHASH_THRESHOLD,
) -> DataFrame:
    """The band-index PROBE join + exact-Jaccard verify, shared by the
    batch probe (`dedup_minhash_index_probe`), the streaming probe's
    per-slice body (`stream_minhash_index_probe`), and the served-probe
    measurement in SCALING.md ("Round 9: persisted band index for
    incremental dedup") — one implementation so the candidate-dedup
    and shingle-union semantics cannot drift between the call sites. Candidates =
    batch-buckets ⋈ (index ∪ prior ∪ batch) on (band, bh) — the
    corpus/prior sides never self-join; ``prior_*`` carry earlier
    arrivals for the streaming caller (None for one-shot probes)."""
    all_b = index_buckets.select("doc_id", "band", "bh")
    if prior_buckets is not None:
        all_b = all_b.unionByName(prior_buckets.select("doc_id", "band", "bh"))
    all_b = all_b.unionByName(batch_buckets.select("doc_id", "band", "bh"))
    candidates = (
        batch_buckets.select(F.col("doc_id").alias("ba"), "band", "bh")
        .join(
            all_b.select(F.col("doc_id").alias("other"), "band", "bh"),
            ["band", "bh"],
        )
        .where(F.col("ba") != F.col("other"))
        .select(
            F.least("ba", "other").alias("doc_a"),
            F.greatest("ba", "other").alias("doc_b"),
        )
        .distinct()
    )
    sh = index_shingles
    if prior_shingles is not None:
        sh = sh.unionByName(prior_shingles)
    sh = sh.unionByName(batch_shingles)
    return jaccard_pairs(
        spark, sf_dir, threshold, candidates=candidates, shingles=sh
    )


@register(
    "dedup_minhash_index_probe",
    oracle=(
        "SELECT * FROM ("
        + _JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=MINHASH_THRESHOLD)
        + f") WHERE doc_a % {INCR_BATCH_MOD} = 0 OR doc_b % {INCR_BATCH_MOD} = 0"
    ),
    bench=True,
)
def dedup_minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup SERVED FROM THE PERSISTED BAND INDEX —
    the operational 100 TB shape `dedup_minhash_incremental` documents
    but (as the correctness/composition baseline) recomputes inline:
    `minhash_index_build` persists the corpus-side band index and
    shingle sets ONCE (atomic-rename parquet, buckets partitioned by
    band), and this query's probe run shingles/signs/bands ONLY the
    arrival batch (doc_id % INCR_BATCH_MOD == 0), joins the batch
    buckets against artifact buckets ∪ batch buckets on (band, bh) —
    batch-internal pairs fall out of the same join — and verifies exact
    Jaccard with corpus shingle sets read from the artifact. Zero
    corpus-side shingling, signing or banding jobs in the probe run
    (plan-pinned in pytest: the only documents scans are
    batch-filtered; the corpus side is parquet artifact scans).

    Output is IDENTICAL to `dedup_minhash_incremental` (the artifact is
    a deterministic pure function of the fixture), so the oracle is the
    same exact-Jaccard SQL restricted to batch-touching pairs, and the
    equality is additionally pinned end-to-end in pytest.

    Scale posture: probe cost ∝ batch at ANY corpus size — candidate
    volume is Σ_batch-bucket |bucket| (the corpus never self-joins) and
    the per-band partition layout prunes each band join to its own
    files on disk; the index build is amortized across every probe that
    reads it (SCALING.md "Round 9: persisted band index for incremental
    dedup" measures candidates exactly constant under 16× corpus
    growth for this join shape).
    Batch-side content-group collapse stacks orthogonally when a
    recrawl-heavy batch needs it (see `minhash_incremental_pairs`)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if docs.head(1) == []:
        # Degenerate-input policy: empty corpus → no index, no batch
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, n_common bigint, jaccard double"
        )
    root = minhash_index_build(spark, sf_dir)
    idx_buckets = (
        spark.read.schema(MINHASH_BUCKET_SCHEMA)
        .parquet(os.path.join(root, "buckets"))
        .select("doc_id", F.col("band").cast("int").alias("band"), "bh")
    )
    idx_shingles = spark.read.schema(MINHASH_SHINGLE_SCHEMA).parquet(
        os.path.join(root, "shingles")
    )

    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    buckets_b, shingles_b = _batch_band_frames(spark, sf_dir, batch)
    return probe_band_index(
        spark,
        sf_dir,
        batch_buckets=buckets_b,
        batch_shingles=shingles_b,
        index_buckets=idx_buckets,
        index_shingles=idx_shingles,
    )


# Two-day split of the arrival stream for the APPEND rung:
#   day 1 = doc_id % (2·INCR_BATCH_MOD) == 0
#   day 2 = doc_id % (2·INCR_BATCH_MOD) == INCR_BATCH_MOD
# — together exactly the probe queries' batch (doc_id % INCR_BATCH_MOD
# == 0), disjoint by construction.
APPEND_DAY_MOD = 2 * INCR_BATCH_MOD


def _batch_band_frames(
    spark: SparkSession, sf_dir: str, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(buckets, distinct shingles) for an arrival batch — the shared
    shingle→sign→band front end of the probe and append paths, so the
    two can never drift."""
    base_b = shingle_hashes(
        spark, sf_dir, distinct=False, docs=fan_out(spark, batch)
    ).localCheckpoint(eager=False)
    sigs_b = minhash_signatures(spark, sf_dir, shingles=base_b)
    buckets_b = minhash_band_buckets(sigs_b).localCheckpoint(eager=False)
    return buckets_b, base_b.distinct()


def minhash_index_append(
    spark: SparkSession,
    sf_dir: str,
    batch: DataFrame,
    base_root: str,
    root: str | None = None,
    tag: str = "a",
) -> str:
    """APPEND a batch's buckets + shingles INTO the persisted band
    index — the missing rung of the dedup index lifecycle (round-9
    verdict item 3), the `ann_ivfpq_append_serve` discipline with a
    physical twist: where the ANN append encodes under frozen
    quantizers, the band index needs no training at all, so append =
    (1) shingle/sign/band ONLY the batch (one narrow pass, cost ∝
    batch), (2) write the batch's bucket rows partitioned by band and
    its shingle rows as NEW parquet files in a staging dir, (3)
    HARDLINK the base artifact's data files alongside them (metadata-
    only, never rewrites corpus bytes — the manifest-append discipline
    of log-structured table formats: an append adds files to the
    partition, it does not compact yesterday), (4) `artifacts.publish`
    with the base as the claimed parent. The appended artifact is a
    deterministic pure function of (fixture, batch predicate), which
    is what makes probe-after-append ≡ full rebuild — pinned in pytest
    frame-by-frame against `minhash_index_build` over corpus ∪ batch.

    Per-band partition pruning survives the append: batch bucket files
    land inside the same band=N partition dirs the base files link
    into. Returns the appended artifact's root."""
    import hashlib

    if root is None:
        root = f"{base_root}_{hashlib.sha256(tag.encode()).hexdigest()[:8]}"

    def write(stage: str) -> None:
        _write_band_index(stage, *_batch_band_frames(spark, sf_dir, batch))
        link_parent_files(stage, base_root, ("buckets", "shingles"))

    return publish(root, MINHASH_INDEX_MARKER, write, parent=base_root)


def minhash_index_compact(
    spark: SparkSession, root: str, out_root: str | None = None
) -> str:
    """COMPACTION — the last rung of the band-index LSM lifecycle
    (build → probe → APPEND → probe online → COMPACT): repeated
    appends accumulate one small file set per day inside each band
    partition (hardlink fold-ins never rewrite), so the scheduled
    offline job rewrites every band partition's files into ONE file
    (and the shingle table into a bounded handful), content-identical
    by construction — the same rows, read back through the explicit
    artifact schemas and re-written with `repartition("band")` +
    `partitionBy("band")` so each band's rows land in exactly one
    task → one file per band dir on disk. Published by
    `artifacts.publish`, like build/append.

    This is the half of the LSM contract append deliberately defers:
    append is O(batch compute + #files metadata) and leaves small
    files; compaction pays the corpus REWRITE (one scan + one shuffle
    by band, I/O ∝ artifact size — which is why it is a scheduled
    job, not part of the probe path). Zero documents-table scans —
    pytest-pinned, along with compact(append(append)) ≡ rebuild
    row-set equality and the one-file-per-band layout."""

    def write(stage: str) -> None:
        buckets = spark.read.schema(MINHASH_BUCKET_SCHEMA).parquet(
            os.path.join(root, "buckets")
        )
        shingles = spark.read.schema(MINHASH_SHINGLE_SCHEMA).parquet(
            os.path.join(root, "shingles")
        )
        _write_band_index(stage, buckets, shingles.repartition(4))

    out_root = out_root or f"{root}_compact"
    return publish(out_root, MINHASH_INDEX_MARKER, write, parent=root)


@register(
    "minhash_index_compact_probe",
    bench=True,
    oracle=(
        "SELECT * FROM ("
        + _JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=MINHASH_THRESHOLD)
        + f") WHERE doc_a % {APPEND_DAY_MOD} = {INCR_BATCH_MOD}"
        f" OR doc_b % {APPEND_DAY_MOD} = {INCR_BATCH_MOD}"
    ),
)
def minhash_index_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append-probe lifecycle SERVED FROM THE COMPACTED ARTIFACT:
    build → append day 1 → COMPACT → probe day 2. Output is identical
    to `minhash_index_append_probe` (compaction is content-preserving
    — same oracle, equality additionally pytest-pinned), which is
    precisely the claim this query verifies under the driver's hash:
    a probe cannot tell the compacted index from the fragmented one.

    Scale posture: the probe inherits the append probe's batch-∝ cost
    with BETTER constants — each band join now opens one file instead
    of one-per-append-day; the compaction itself paid one corpus-sized
    rewrite offline (`minhash_index_compact`)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if docs.head(1) == []:
        # Degenerate-input policy: empty corpus → no index, no batches
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, n_common bigint, jaccard double"
        )
    base_root = minhash_index_build(spark, sf_dir)
    day1 = docs.where(F.col("doc_id") % APPEND_DAY_MOD == 0)
    appended = minhash_index_append(
        spark, sf_dir, day1, base_root, tag=f"day1m{APPEND_DAY_MOD}"
    )
    root = minhash_index_compact(spark, appended)
    idx_buckets = (
        spark.read.schema(MINHASH_BUCKET_SCHEMA)
        .parquet(os.path.join(root, "buckets"))
        .select("doc_id", F.col("band").cast("int").alias("band"), "bh")
    )
    idx_shingles = spark.read.schema(MINHASH_SHINGLE_SCHEMA).parquet(
        os.path.join(root, "shingles")
    )
    day2 = docs.where(F.col("doc_id") % APPEND_DAY_MOD == INCR_BATCH_MOD)
    buckets_b, shingles_b = _batch_band_frames(spark, sf_dir, day2)
    return probe_band_index(
        spark,
        sf_dir,
        batch_buckets=buckets_b,
        batch_shingles=shingles_b,
        index_buckets=idx_buckets,
        index_shingles=idx_shingles,
    )


@register(
    "minhash_index_append_probe",
    oracle=(
        "SELECT * FROM ("
        + _JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=MINHASH_THRESHOLD)
        + f") WHERE doc_a % {APPEND_DAY_MOD} = {INCR_BATCH_MOD}"
        f" OR doc_b % {APPEND_DAY_MOD} = {INCR_BATCH_MOD}"
    ),
    bench=True,
)
def minhash_index_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OVER-DAY INCREMENTAL DEDUP — the full band-index lifecycle
    in one registered plan: build the corpus index once
    (`minhash_index_build`), APPEND day 1's arrivals into it
    (`minhash_index_append`: batch-only compute + hardlink fold-in +
    atomic re-publish), then probe day 2's arrivals against the
    appended artifact — so day N+1 genuinely probes day N's corpus ∪
    batch, closing the gap the round-9 verdict named (without the
    append, "incremental" still rebuilt to absorb arrivals).

    Output: near-dup pairs (jaccard ≥ 0.9) touching the day-2 batch
    (doc_id % 2M == M, M = INCR_BATCH_MOD) — against the original
    corpus, against day-1 docs THAT ARE ONLY IN THE ARTIFACT (the
    append is what makes them visible), and day-2-internal. The
    oracle is the family's exact-Jaccard SQL restricted to
    day-2-touching pairs; probe-after-append ≡ full-rebuild is
    additionally pinned frame-by-frame in pytest.

    Scale posture: day-2 probe cost ∝ |day-2 batch| at any corpus
    size (the `dedup_minhash_index_probe` argument, unchanged — the
    appended artifact keeps the per-band partition layout, so each
    band join still prunes to its own files); the append itself costs
    one narrow pass over day 1 plus O(#files) metadata ops —
    the batch-cost independence SCALING.md measures for both index
    families ("Round 8: append-cost independence for the IVF-PQ
    index", "Round 10: append-cost independence for the band index")."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if docs.head(1) == []:
        # Degenerate-input policy: empty corpus → no index, no batches
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, n_common bigint, jaccard double"
        )
    base_root = minhash_index_build(spark, sf_dir)
    day1 = docs.where(F.col("doc_id") % APPEND_DAY_MOD == 0)
    root = minhash_index_append(spark, sf_dir, day1, base_root, tag=f"day1m{APPEND_DAY_MOD}")
    idx_buckets = (
        spark.read.schema(MINHASH_BUCKET_SCHEMA)
        .parquet(os.path.join(root, "buckets"))
        .select("doc_id", F.col("band").cast("int").alias("band"), "bh")
    )
    idx_shingles = spark.read.schema(MINHASH_SHINGLE_SCHEMA).parquet(
        os.path.join(root, "shingles")
    )
    day2 = docs.where(F.col("doc_id") % APPEND_DAY_MOD == INCR_BATCH_MOD)
    buckets_b, shingles_b = _batch_band_frames(spark, sf_dir, day2)
    return probe_band_index(
        spark,
        sf_dir,
        batch_buckets=buckets_b,
        batch_shingles=shingles_b,
        index_buckets=idx_buckets,
        index_shingles=idx_shingles,
    )


EMB_DUP_THRESHOLD = 0.45  # fixture embeddings are random-ish; max pair cosine ≈ 0.51
EMB_PAIR_BLOCKS = 8


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    sims AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine_sim FROM sims WHERE cosine_sim >= {EMB_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: all (vec_a < vec_b) with
    cosine ≥ threshold, exact.

    Pair generation is the BLOCKED all-pairs self-join (the triangle
    block grid): vectors hash into B blocks, each vector replicates to
    its B partner block-pairs, and pairs meet in an ordinary shuffle
    equi-join on the (lo, hi) block-pair key — same-block pairs are
    kept only at the canonical (b, b) cell so nothing double-counts.
    Compute is still inherently O(n²) (that is what "exact all-pairs
    at a loose threshold" means), but it is distributed across
    B(B+1)/2 join cells with ×B replication and NO corpus-sized
    broadcast — the memory profile that actually survives a corpus
    scale-up. The cosine runs as a codegen'd zip_with/aggregate fold
    (no Python).

    At 100 TB candidate generation must instead come from
    ``embedding_lsh_candidates`` (random-hyperplane signatures, banded
    like MinHash — recall measured in pytest on planted near-dups) or
    an IVF partitioning as in ``ann_ivf_topk``, with this same exact
    cosine as the verification step over candidates only; a lossless
    metric-pruning shortcut (ts_similarity_topk's norm pivot) exists
    only for tight thresholds, not this fixture's loose 0.45.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    from minimapreduce_spark.operators.similarity import cosine

    B = EMB_PAIR_BLOCKS
    rep = (
        emb.withColumn("b", F.pmod("vec_id", F.lit(B)))
        .withColumn("j", F.explode(F.array(*[F.lit(i) for i in range(B)])))
        .withColumn("k1", F.least("b", "j"))
        .withColumn("k2", F.greatest("b", "j"))
    )
    left = rep.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"),
        F.col("b").alias("ba"), "k1", "k2",
    )
    right = rep.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"),
        F.col("b").alias("bb"), "k1", "k2",
    )
    pairs = left.join(right, ["k1", "k2"]).where(
        (F.col("vec_a") < F.col("vec_b"))
        & ((F.col("ba") != F.col("bb")) | (F.col("k1") == F.col("k2")))
    )
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= EMB_DUP_THRESHOLD)
    )


def embedding_lsh_candidates(
    emb: DataFrame, n_planes: int = 64, bands: int = 8, seed: int = 42
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs for cosine near-dup at
    scale: sign-bit signature of ``n_planes`` fixed hyperplanes, split
    into ``bands``; vectors sharing any band bucket become (vec_a,
    vec_b) candidates. P(bit differs) = angle/π, so for cosine ≥ 0.9
    (θ ≈ 26°) an 8-bit band matches with p ≈ 0.29 and 8 bands miss a
    true pair with p ≈ (1-0.29)^8 ≈ 6%; raise bands for higher recall.
    The hyperplanes are derived deterministically from (seed, plane,
    dim) hashes so candidates are reproducible with no driver-side RNG
    state — nothing here is pairwise over the corpus.

    ``emb`` must have columns (vec_id, emb: array<double>).
    """
    dim = len(emb.select("emb").head()["emb"])
    r = n_planes // bands
    # deterministic pseudo-random plane component in [-1, 1):
    # xxhash64(seed, plane, dim) scaled from int64 range
    def plane_component(p: int, d: int) -> Column:
        h = F.xxhash64(F.lit(seed), F.lit(p), F.lit(d))
        return (h.cast("double") / F.lit(float(2**63)))

    def bit(p: int) -> Column:
        dot_p = sum(
            (F.element_at("emb", d + 1) * plane_component(p, d) for d in range(dim)),
            start=F.lit(0.0),
        )
        return F.when(dot_p >= 0, F.lit(1)).otherwise(F.lit(0))

    band_cols = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.concat_ws("", *[bit(j * r + i) for i in range(r)]).alias("sig"),
            )
            for j in range(bands)
        ]
    )
    buckets = emb.select("vec_id", F.explode(band_cols).alias("b")).select(
        "vec_id", "b.band", "b.sig"
    )
    left = buckets.select(F.col("vec_id").alias("vec_a"), "band", "sig")
    right = buckets.select(F.col("vec_id").alias("vec_b"), "band", "sig")
    return (
        left.join(right, ["band", "sig"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


EMB_LSH_PLANES = 64
EMB_LSH_BANDS = 8  # 8 bands × 8 sign bits
EMB_LSH_THRESHOLD = 0.30
_EMB_LSH_Q = 1 << 20  # quantization grid: floor(v · 2^20) — exact on both engines


def _lsh_plane_weights(planes: int = EMB_LSH_PLANES) -> list[int]:
    """The flat ``planes``×64 hyperplane weight table, row-major by
    plane: integers in [-2^20, 2^20) from the first 15 hex chars of
    md5('lshW:<plane>:<dim>') — the identical portable derivation the
    DuckDB oracle computes in SQL. Deterministic, no RNG state."""
    import hashlib

    flat = []
    for p in range(planes):
        for d in range(1, 65):
            h = int(hashlib.md5(f"lshW:{p}:{d}".encode()).hexdigest()[:15], 16)
            flat.append(h % 2097152 - 1048576)
    return flat


def make_lsh_band_rows(planes: int = EMB_LSH_PLANES, bands: int = EMB_LSH_BANDS):
    """Build the mapInPandas signature stage for a (planes, bands)
    regime: per Arrow batch, quantize the vectors (floor(v·2^20), same
    IEEE floor Spark/DuckDB apply — float32 inputs are widened to
    double first, exactly), take all plane dot products as ONE exact
    int64 matmul, pack sign bits into per-band values — emitting
    (vec_id, band, band_val) rows.

    The (planes, bands) knob is the precision/recall dial: r =
    planes/bands bits per band means random vectors collide with
    p = 2^-r per band — the candidate-volume exponent. The registered
    query's 8×8-bit default favors recall at its loose 0.30 threshold;
    a production near-dup regime (cosine ≥ 0.85) wants 16+-bit bands
    so random collisions — and with them candidate volume — stay
    linear in corpus size (see tools/scale_experiment.py's strict run).

    Why Python here: a 64-vector × ``planes``-plane integer product is
    thousands of multiply-adds per row. Every JVM-side formulation
    measured worse — posexplode + broadcast-join + re-agg materialized
    4096 rows per vector (2.9 s at sf0.1), interpreted higher-order
    folds over a literal weight array were 15× worse than THAT — while
    one vectorized BLAS-shaped matmul per Arrow batch is microseconds.
    All arithmetic is int64-exact, so the output still hash-matches
    the SQL oracle bit-for-bit."""
    r = planes // bands

    def _rows(batches):
        import numpy as np
        import pandas as pd

        W = np.array(_lsh_plane_weights(planes), dtype=np.int64).reshape(planes, 64)
        bitw = 1 << np.arange(r, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.floor(
                np.stack(pdf["emb"].to_numpy()).astype(np.float64) * _EMB_LSH_Q
            ).astype(np.int64)
            bits = (V @ W.T >= 0).astype(np.int64)  # (n, planes) sign bits
            band_vals = (bits.reshape(len(V), bands, r) * bitw).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int64), len(V)),
                    "band_val": band_vals.reshape(-1),
                }
            )

    return _rows


_lsh_band_rows = make_lsh_band_rows()  # the registered query's default regime


def emb_lsh_oracle(
    planes: int = EMB_LSH_PLANES,
    bands: int = EMB_LSH_BANDS,
    threshold: float = EMB_LSH_THRESHOLD,
) -> str:
    """The full LSH-dedup DuckDB oracle for a (planes, bands,
    threshold) regime — signature derivation, band equi-join candidate
    generation, and exact-cosine verification, all in SQL."""
    r = planes // bands
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (
      SELECT vec_id, dd.d AS d,
             CAST(floor(emb[dd.d] * {_EMB_LSH_Q}) AS BIGINT) AS vq
      FROM e, (SELECT unnest(generate_series(1, 64)) AS d) dd
    ),
    w AS (
      SELECT pp.p AS p, dd.d AS d,
             (('0x' || substr(md5('lshW:' || pp.p || ':' || dd.d), 1, 15))::BIGINT
              % 2097152) - 1048576 AS w
      FROM (SELECT unnest(generate_series(0, {planes - 1})) AS p) pp,
           (SELECT unnest(generate_series(1, 64)) AS d) dd
    ),
    dots AS (
      SELECT q.vec_id, w.p, sum(q.vq * w.w) AS dot
      FROM q JOIN w ON q.d = w.d GROUP BY 1, 2
    ),
    bands AS (
      SELECT vec_id, p // {r} AS band,
             sum(CASE WHEN dot >= 0 THEN 1 << (p % {r}) ELSE 0 END) AS band_val
      FROM dots GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
    )
    SELECT cand.vec_a, cand.vec_b,
           round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine_sim
    FROM cand
    JOIN e ea ON ea.vec_id = cand.vec_a
    JOIN e eb ON eb.vec_id = cand.vec_b
    WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= {threshold}
    """


_EMB_LSH_ORACLE = emb_lsh_oracle()


def embedding_lsh_verified_pairs(
    spark: SparkSession,
    emb: DataFrame,
    planes: int = EMB_LSH_PLANES,
    bands: int = EMB_LSH_BANDS,
    threshold: float = EMB_LSH_THRESHOLD,
    return_content_level: bool = False,
    dup_free_hint: bool | None = None,
) -> DataFrame:
    """LSH-banded embedding near-dup pairs over ``emb`` (vec_id, emb:
    array<float|double>) for an arbitrary (planes, bands, threshold)
    regime — the engine behind ``dedup_embedding_lsh`` and the scale
    tool's strict-regime run. Returns (vec_a, vec_b, cosine_sim).

    CONTENT-GROUP verify (the 40x profile's fix): byte-identical
    vectors — the dominant duplicate shape in a dup-heavy corpus —
    first collapse via one groupBy on the vector itself (min vec_id =
    representative). Banding, the candidate equi-join, and the
    exact-cosine verify then run over DISTINCT CONTENTS only; verified
    content pairs expand back to id pairs through two narrow
    (rep, vec_id) joins, and within-group pairs (cosine of a vector
    with its own copy) enter the same verify lane as one (rep, rep)
    self-pair each. Work in the expensive stages is therefore
    O(distinct-content candidates), not O(id-pair candidates): at the
    40x dup-heavy fixture that is a 58x verify-input reduction
    (117.5M id-candidate pairs -> ~2M content pairs) while outputs
    stay bit-identical — members of a content group are byte-equal, so
    every expanded pair's cosine equals the representative pair's.

    The group-member list is one array per distinct content, bounded
    by the duplication multiplicity of that content — the same bound
    ``dedup_exact``'s groupBy carries; a content duplicated billions
    of times would need the explode-side join variant instead.
    """
    # Duplication gate (round-4 verdict item 6, embedding lane): probe
    # count vs count(distinct hash(emb)) in one agg — on an effectively
    # dup-free corpus skip the collapse + expansion entirely (the
    # ungrouped plan is bit-identical at any dup level: identical
    # vectors share signatures, meet in the bands, verify at cosine
    # 1.0). A 64-bit hash collision only UNDERcounts distinct, which
    # reads as more duplication and conservatively keeps the grouped
    # path. Content-level consumers (return_content_level=True) always
    # need real groups, so the gate applies to the pair lane only.
    grouped = True
    if not return_content_level:
        if dup_free_hint is not None:
            grouped = not dup_free_hint
        else:
            n, nd = emb.agg(
                F.count("*").alias("n"),
                F.count_distinct(F.xxhash64("emb")).alias("nd"),
            ).first()
            grouped = (n - nd) > int(n * DUP_GATE_RATIO)
    if grouped:
        groups = (
            fan_out(spark, emb)
            .groupBy("emb")
            .agg(
                F.min("vec_id").alias("rep"),
                F.sort_array(F.collect_list("vec_id")).alias("members"),
            )
            .localCheckpoint(eager=False)  # feeds bands, verify joins, expansion
        )
        # (no fan_out here, unlike dedup_minhash's rep frame: the int64
        # matmul signature stage is microseconds per vector, so the extra
        # round-robin exchange costs more than the parallelism buys —
        # measured 2.5 s vs 1.7 s at sf0.1; at real scale the vector bytes
        # keep AQE from coalescing the group exchange to one partition)
        rep_emb = groups.select(F.col("rep").alias("vec_id"), "emb")
    else:
        rep_emb = emb.select("vec_id", "emb")

    band_rows = rep_emb.mapInPandas(
        make_lsh_band_rows(planes, bands),
        schema="vec_id bigint, band bigint, band_val bigint",
    )
    left = band_rows.select(F.col("vec_id").alias("rep_a"), "band", "band_val")
    right = band_rows.select(F.col("vec_id").alias("rep_b"), "band", "band_val")
    cand = (
        left.join(right, ["band", "band_val"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .distinct()
    )
    if grouped:
        # contents with >1 member verify once against themselves: the
        # within-group pairs are oracle candidates (identical signatures
        # always collide) and their cosine is the self-pair's
        self_pairs = groups.where(F.size("members") >= 2).select(
            F.col("rep").alias("rep_a"), F.col("rep").alias("rep_b")
        )
        pairs = cand.unionByName(self_pairs)
    else:
        pairs = cand  # every vector its own rep: no self-pair lane
    # Explicit round-robin fan-out before the verify join: the
    # candidate frame is BYTE-small (two longs per row), so AQE
    # coalesces the distinct's output to ~1 partition and everything
    # downstream inherits it; a user repartition is exempt. (Keyed
    # repartition on rep_a would re-concentrate hot vectors — the skew
    # here is CPU per row, invisible to AQE's byte-based skew
    # handling.)
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = pairs.repartition(width)
    ea = rep_emb.select(F.col("vec_id").alias("rep_a"), F.col("emb").alias("emb_a"))
    eb = rep_emb.select(F.col("vec_id").alias("rep_b"), F.col("emb").alias("emb_b"))
    joined = (
        pairs.join(ea, "rep_a").join(eb, "rep_b").select("rep_a", "rep_b", "emb_a", "emb_b")
    )

    # Vectorized verify: one einsum per Arrow batch instead of an
    # interpreted zip_with/aggregate fold per pair (the fold was the
    # 40x straggler's cost — millions of 64-dim folds in one task).
    # float32 inputs widen to float64 HERE (exact), so the shuffle that
    # feeds this stage moves half the bytes the double-cast plan did.
    # Rounding happens JVM-side (HALF_UP, matching the oracle), the
    # ann_cosine_topk_numpy discipline.
    def pair_cosine(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
            raw = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame(
                {"rep_a": pdf["rep_a"], "rep_b": pdf["rep_b"], "raw": raw}
            )

    sims = joined.mapInPandas(pair_cosine, "rep_a long, rep_b long, raw double")
    content_hits = sims.select(
        "rep_a", "rep_b", F.round("raw", 6).alias("cosine_sim")
    ).where(F.col("cosine_sim") >= threshold)
    if return_content_level:
        # (groups, content_hits) for consumers that work on the
        # distinct-content graph directly (dedup_embedding_clusters):
        # expanding a copy-group clique only to contract it again in
        # label propagation would be pure waste
        return groups, content_hits

    if not grouped:  # duplication gate: reps ARE the vectors
        return content_hits.select(
            F.col("rep_a").alias("vec_a"),
            F.col("rep_b").alias("vec_b"),
            "cosine_sim",
        )

    mem = groups.select("rep", F.explode("members").alias("vid"))
    return (
        content_hits.join(
            mem.select(F.col("rep").alias("rep_a"), F.col("vid").alias("ida")), "rep_a"
        )
        .join(
            mem.select(F.col("rep").alias("rep_b"), F.col("vid").alias("idb")), "rep_b"
        )
        # cross-content pairs expand to every member combo exactly once;
        # self-pairs need the i<j filter or each combo lands twice
        .where((F.col("rep_a") != F.col("rep_b")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias("vec_a"),
            F.greatest("ida", "idb").alias("vec_b"),
            "cosine_sim",
        )
    )


@register(
    "dedup_embedding_lsh",
    oracle=_EMB_LSH_ORACLE,
    bench=True,  # the 100 TB embedding-dedup path is a headliner
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH — the 100 TB
    scale path ``dedup_embedding_cosine`` documents: byte-identical
    copies collapse in one content groupBy, candidate generation over
    the distinct contents is LINEAR in their count (each vector
    computes a 64-bit sign signature against 64 fixed hyperplanes,
    split into 8 bands of 8 bits; vectors sharing any band bucket meet
    in an equi-join), and only content-level candidates pay the
    exact-cosine verification (see ``embedding_lsh_verified_pairs``
    for the full plan-shape discussion). Nothing is pairwise over the
    corpus.

    Exactness discipline (what lets an approximate index hash-match a
    SQL oracle): the signature is computed in integer arithmetic —
    embeddings quantize to floor(v·2^20) and the plane weights are
    md5-prefix integers in [-2^20, 2^20) derived from ('lshW:p:d'), so
    the dot-product signs are order-independent exact BIGINT sums that
    both engines reproduce bit-for-bit (a float dot's sign could flip
    cross-engine near zero). The verify step then scores the original
    vectors (widened float32->float64, exact) with the same rounded
    cosine the exact baseline uses. Recall of the banding at high
    cosine is pinned by the planted-near-dup pytest on
    ``embedding_lsh_candidates``; this registered query is the
    candidates->verify composition at the fixture's loose threshold
    (0.30).

    Residual cross-engine risk (documented, per the
    ``source_mixture_weights`` convention): only the SIGNATURE stage is
    bit-for-bit. The verify cosine is a numpy einsum whose float
    summation order can differ from DuckDB's list_cosine_similarity at
    the last ulp, so a pair landing exactly on a 5e-7 boundary of the
    6-dp round, or exactly at the 0.30 threshold, could in principle
    flip membership cross-engine. A flip needs the raw score within a
    few double ulps of a midpoint; the margin pytest in
    tests/test_llm_ops.py asserts every at-or-near-threshold fixture
    pair clears its nearest midpoint by >= 1e-13 (observed min
    ~2.5e-11). Real corpora carry the same measure-zero risk as every
    float-scored filter.
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    return embedding_lsh_verified_pairs(
        spark, emb, dup_free_hint=embeddings_effectively_dup_free(spark, sf_dir)
    )


_EMB_CLUSTER_ORACLE = (
    """
    WITH pairs_base AS ("""
    + _EMB_LSH_ORACLE
    + """
    ),
    undirected AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs_base
      UNION
      SELECT vec_b, vec_a FROM pairs_base
    ),
    reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM undirected
        UNION
        SELECT src, src FROM undirected
        UNION
        SELECT r.src, u.dst FROM r JOIN undirected u ON r.dst = u.src
      )
      SELECT * FROM r
    )
    SELECT src AS vec_id,
           min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach
    GROUP BY src
    """
)


@register("dedup_embedding_clusters", oracle=_EMB_CLUSTER_ORACLE)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup decision: connected components over the
    LSH-verified embedding near-dup pairs (``dedup_embedding_lsh``) —
    every vector in a cosine-similar pair gets a cluster_id (min
    reachable vec_id) and a canonical flag. The embedding-space twin of
    ``dedup_clusters`` (which clusters lexical Jaccard pairs): lexical
    CC catches copies and templates, semantic CC catches paraphrases
    and re-encodings — a curation pipeline runs both and unions the
    drop sets.

    Same iterative min-label propagation (``min_label_components``) —
    rounds = component diameter, labels/edges distributed throughout;
    oracle = recursive-CTE closure over the identical (SQL-reproduced)
    LSH pair set.

    Round 4: propagation runs on the DISTINCT-CONTENT graph (the
    ``dedup_clusters`` argument verbatim): a byte-identical copy group
    is a cosine-1.0 clique, so it collapses to its representative
    vertex and members inherit the rep's component label — which IS the
    member-level min-label answer, each rep being its group's min
    vec_id. Fewer vertices AND fewer rounds of the iterative loop pay
    for every copy in the corpus.
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    groups, hits = embedding_lsh_verified_pairs(
        spark, emb, return_content_level=True
    )
    hits = hits.localCheckpoint(eager=False)  # cross-pairs + self-hit scan
    rep_cc = min_label_components(
        hits.where(F.col("rep_a") != F.col("rep_b")).select("rep_a", "rep_b"),
        a="rep_a",
        b="rep_b",
        out_id="rep",
    ).select("rep", "cluster_id")
    # multi-member groups with no cross-content edge are still
    # components iff their self-pair verified (cosine 1.0 ≥ threshold).
    # Degenerate zero-vector copy groups DROP on both engines, but not
    # by the mechanism a reader might guess ("NaN fails the ≥"): Spark
    # SQL and DuckDB both order NaN ABOVE every number, so a literal
    # NaN score would be KEPT by `cosine >= threshold`. What actually
    # happens: on the Spark side the verify's numpy 0/0 NaN becomes a
    # NULL crossing the pandas→Arrow boundary in mapInPandas (pandas
    # NaN encodes missing), and NULL >= t filters out; on the DuckDB
    # side list_cosine_similarity(zero, zero) returns -1.0, not NaN,
    # which fails the threshold numerically. Same outcome, different
    # mechanisms — pinned by tests/test_llm_ops.py::
    # test_zero_vector_copy_group_drops (round-4 ADVICE follow-up: the
    # advisor's both-engines-keep reading assumed a surviving NaN).
    iso = (
        hits.where(F.col("rep_a") == F.col("rep_b"))
        .select(F.col("rep_a").alias("rep"))
        .join(rep_cc, "rep", "left_anti")
        .select("rep", F.col("rep").alias("cluster_id"))
    )
    mem = groups.select("rep", F.explode("members").alias("vec_id"))
    return (
        rep_cc.unionByName(iso)
        .join(mem, "rep")
        .select(
            "vec_id",
            "cluster_id",
            (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, word, count(*) AS cnt FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                  w -> w <> '')) AS word
        FROM documents)
      GROUP BY doc_id, word
    ),
    hashed AS (
      SELECT doc_id, cnt, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN cnt ELSE -cnt END) AS v
      FROM hashed, (SELECT unnest(generate_series(0, 59)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
               AS fingerprint
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, fingerprint, j.band,
             (fingerprint >> (j.band * 15)) & 32767 AS band_val
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) j
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fingerprint AS fa, b.fingerprint AS fb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(fa, fb))::INT AS hamming
    FROM pairs WHERE bit_count(xor(fa, fb)) <= {SIMHASH_HAMMING_MAX}
    """,
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprint from count-weighted
    token-hash bit votes; banded Hamming search (4 × 15-bit bands — by
    pigeonhole any pair within Hamming ≤ 3 shares at least one exact
    band) then bit_count(XOR) verification. The token hash is the first
    15 hex chars of md5 — portable, so the oracle reproduces the
    fingerprints bit-for-bit in SQL. At scale every stage is a hash
    shuffle on (doc_id|band) keys; nothing is pairwise over the corpus.

    Content-group front end (round 4, the dedup_minhash pattern):
    fingerprints, banding, and Hamming verification run over DISTINCT
    CONTENTS; verified content pairs expand back to doc pairs, and
    multi-member groups emit their within-group pairs directly with
    hamming = 0 (identical text → identical fingerprint; excluded only
    when the content has no letter tokens, since the oracle derives no
    fingerprint row for those)."""
    doc_src, groups = content_group_frontend(spark, sf_dir)
    docs = fan_out(spark, doc_src)
    ws = F.filter(F.split("text", r"[^A-Za-z]+"), lambda w: w != "")
    tokens = (
        docs.select("doc_id", F.explode(ws).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "h", F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("bigint")
        )
    )
    # Bit votes as 61 PLAIN AGGREGATE columns — one masked sum per bit
    # plus the token total — instead of collect_list + a nested
    # higher-order fold (round-11): HOF lambdas evaluate interpreted
    # per element (60 × |tokens| interpreted steps), while 61 sums are
    # whole-stage-codegen'd AND partial-aggregate map-side, so the
    # exchange carries 61 longs per (doc, map-partition) rather than
    # every token struct. bit b is set iff votes v_b = S1_b − (T −
    # S1_b) > 0 ⟺ 2·S1_b > T, where S1_b = Σ cnt over tokens with bit
    # b set and T = Σ cnt. Measured at sf0.1: tokens+fingerprints
    # 1.47 → 1.13 s, the whole query 2.56 → 2.17 s.
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias(f"s{b}")
        for b in range(60)
    ]
    fp_expr = " + ".join(f"IF(2 * s{b} > t, {1 << b}L, 0L)" for b in range(60))
    fp = (
        tokens.groupBy("doc_id")
        .agg(*bit_sums, F.sum("cnt").alias("t"))
        .select("doc_id", F.expr(fp_expr).alias("fingerprint"))
        # The band join consumes fingerprints on BOTH sides; without a
        # materialization barrier Catalyst recomputes the collect_list +
        # fold subtree per side. A lazy local checkpoint computes the
        # tiny (doc_id, fingerprint) frame exactly once and both
        # branches read it — at any scale it's 16 bytes/doc of executor
        # storage.
        .localCheckpoint(eager=False)
    )
    bands = fp.select(
        "doc_id",
        "fingerprint",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).select(
        "doc_id",
        "fingerprint",
        "band",
        F.expr("shiftrightunsigned(fingerprint, band * 15)")
        .bitwiseAND(F.lit(0x7FFF))
        .alias("band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("fingerprint").alias("fp_a"), "band", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("fingerprint").alias("fp_b"), "band", "band_val"
    )
    pairs = (
        a.join(b, ["band", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    rep_hits = pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    if groups is None:  # duplication gate: pairs are already doc-level
        return rep_hits
    self_pairs = (
        groups.where(F.size("members") >= 2)
        .join(fp, groups.rep == fp.doc_id)  # content must have a fingerprint
        .select(
            F.col("rep").alias("doc_a"),
            F.col("rep").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return expand_doc_pairs(rep_hits.unionByName(self_pairs), groups)


_CLUSTER_ORACLE = (
    """
    WITH pairs_base AS ("""
    + _JACCARD_ORACLE.format(kminus1=SHINGLE_K - 1, threshold=NGRAM_THRESHOLD)
    + """
    ),
    undirected AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs_base
      UNION
      SELECT doc_b, doc_a FROM pairs_base
    ),
    reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM undirected
        UNION
        SELECT src, src FROM undirected
        UNION
        SELECT r.src, u.dst FROM r JOIN undirected u ON r.dst = u.src
      )
      SELECT * FROM r
    )
    SELECT src AS doc_id,
           min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach
    GROUP BY src
    """
)


@register("dedup_clusters", oracle=_CLUSTER_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in a
    Jaccard ≥ 0.8 pair gets a cluster_id (the min doc_id reachable via
    near-dup edges) and a canonical flag — the keep-one-per-cluster step
    that turns pairwise dedup output into an actual dedup decision.

    Iterative min-label propagation (``min_label_components``): each
    round joins labels to the undirected edge set, takes the min
    neighbor label per vertex, and stops when no label changed. The
    driver loop carries only control flow (a changed-count per round);
    labels and edges stay distributed — the standard Spark pattern for
    iterative graph algorithms. Rounds needed = graph diameter
    (near-dup clusters are near-cliques, so a handful); a 50-round
    guard bounds pathological chains. The oracle is a recursive-CTE
    transitive closure over the same pair set.

    Content-group formulation (round 4): label propagation runs over
    the DISTINCT-CONTENT pair graph only — byte-identical copies are a
    clique by construction (jaccard 1.0 edges), so a whole copy group
    collapses to its representative vertex and every member inherits
    the rep's component label. That label IS the member-level min-label
    answer: each group's rep is its min doc_id, so min-over-component
    of reps equals min-over-component of all members. Multi-member
    groups whose content never pairs across contents (but has >= 1
    shingle — the oracle can't pair shingle-less docs) form their own
    component."""
    return _cluster_components(spark, sf_dir, min_label_components)


def _cluster_components(spark: SparkSession, sf_dir: str, components_fn) -> DataFrame:
    """The dedup_clusters pipeline with a pluggable component kernel —
    shared verbatim by `dedup_clusters` (min-label propagation) and
    `graph_components_star` (large-star/small-star), so the two
    registered queries differ ONLY in the iterative algorithm and
    must produce identical frames (pytest-pinned)."""
    doc_src, groups = content_group_frontend(spark, sf_dir)
    rep_docs = fan_out(spark, doc_src)
    sh = shingle_hashes(spark, sf_dir, docs=rep_docs).localCheckpoint(eager=False)
    rep_pairs = jaccard_pairs(spark, sf_dir, NGRAM_THRESHOLD, shingles=sh).select(
        "doc_a", "doc_b"
    )
    rep_cc = components_fn(rep_pairs, out_id="rep").select(
        "rep", "cluster_id"
    )
    if groups is None:  # duplication gate: vertices are already doc-level
        return rep_cc.select(
            F.col("rep").alias("doc_id"),
            "cluster_id",
            (F.col("rep") == F.col("cluster_id")).alias("is_canonical"),
        )
    # multi-member groups with no cross-content edge: their within-group
    # jaccard-1.0 clique is still a component (iff the content shingles)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    iso = (
        groups.where(F.size("members") >= 2)
        .join(sizes, groups.rep == sizes.doc_id)
        .join(rep_cc, "rep", "left_anti")
        .select("rep", F.col("rep").alias("cluster_id"))
    )
    mem = groups.select("rep", F.explode("members").alias("doc_id"))
    return (
        rep_cc.unionByName(iso)
        .join(mem, "rep")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


@register("graph_components_star", oracle=_CLUSTER_ORACLE)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by LARGE-STAR/SMALL-STAR alternation
    (Kiveris et al.) over the same near-dup pair graph as
    `dedup_clusters` — the published O(log² n)-ROUND algorithm next to
    the O(diameter)-round min-label kernel: on near-clique Jaccard
    graphs both take a handful of rounds, but on chainy graphs
    (the embedding-LSH component graph, web-link graphs) diameter is
    unbounded while star rounds stay logarithmic — the planted
    256-vertex path converges in 8 star rounds where min-label's own
    guard (50) would trip at diameter 255. The pipeline around the
    kernel (`_cluster_components`: content-group collapse, shingle →
    verified pairs, isolated-clique handling, member expansion) is
    shared VERBATIM with `dedup_clusters`, so the two registered
    queries must produce identical frames — pytest-pinned, and both
    carry the same recursive-CTE transitive-closure oracle.

    Scale posture: per round, two groupBy-min aggregations and two
    projections over the current edge set (which only SHRINKS — edges
    collapse toward stars); eager per-round checkpoints (the min-label
    lineage lesson); convergence checked structurally (star forest:
    unique parent + no grandparents), not by fixed-point counting.
    This is the component kernel a 100 TB graph actually needs; the
    min-label twin stays as the simpler baseline for low-diameter
    graphs. No reference analog."""
    return _cluster_components(spark, sf_dir, star_components)


def star_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    out_id: str = "doc_id",
    max_rounds: int = 40,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log² n)-round algorithm that replaces min-label
    propagation's O(diameter) rounds on chainy graphs:

      - large-star(u): every strictly-larger neighbor of u links to
        m = min(Γ(u) ∪ {u}) — long tails collapse toward local minima;
      - small-star(u): u and every smaller neighbor link to the same
        m — parent pointers compress toward the root.

    Convergence = the edge set is a forest of stars: every vertex has
    at most ONE parent and no parent has a parent (both checked; a
    vertex pointing at two roots is NOT converged — the next round
    merges them). Same output contract as `min_label_components`
    ((out_id, cluster_id, is_canonical), cluster_id = component min),
    equality pytest-pinned on the fixture pair graph, and the planted
    256-vertex PATH converges in ≤ a dozen rounds where min-label
    needs diameter≈255 — past its own 50-round guard. Per-round frames
    are eagerly checkpointed (the min-label lineage lesson)."""
    und = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col(a) != F.col(b))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        und.select(F.col("u").alias("x"))
        .union(und.select(F.col("v").alias("x")))
        .distinct()
        .localCheckpoint()
    )
    E = und
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        # LARGE-STAR over the bidirected neighborhood
        bi = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            bi.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            bi.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # SMALL-STAR over the (larger → smaller) parent pointers
        mins2 = (
            ls.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        part1 = (
            ls.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        part2 = mins2.where(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v")
        )
        E = part1.union(part2).distinct().localCheckpoint()
        multi_parent = (
            E.groupBy("u").agg(F.count_distinct("v").alias("d")).where("d > 1").count()
        )
        chained = (
            E.alias("x")
            .join(E.alias("y"), F.col("x.v") == F.col("y.u"))
            .count()
        )
        if multi_parent == 0 and chained == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star_components: not a star forest after {max_rounds} rounds"
        )
    star_components.last_rounds = rounds
    children = E.select(F.col("u").alias("vx"), F.col("v").alias("label"))
    roots = (
        verts.join(E.select(F.col("u").alias("x")).distinct(), "x", "left_anti")
        .select(F.col("x").alias("vx"), F.col("x").alias("label"))
    )
    return (
        children.union(roots)
        .select(
            F.col("vx").alias(out_id),
            F.col("label").alias("cluster_id"),
            (F.col("vx") == F.col("label")).alias("is_canonical"),
        )
    )


ADAPTIVE_PROBE_ROUNDS = 4  # fixture Jaccard graphs converge in <= 3 + 1 confirm


@register("dedup_clusters_adaptive", oracle=_CLUSTER_ORACLE)
def dedup_clusters_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components with ADAPTIVE KERNEL SELECTION — the
    round-9 verdict's stretch: `dedup_clusters` (min-label, O(diameter)
    rounds, measured 2× faster on near-clique Jaccard graphs) and
    `graph_components_star` (large-star/small-star, O(log² n) rounds,
    the only kernel that terminates on unbounded-diameter graphs) are
    a measured trade by graph SHAPE (SCALING.md round-9) — so the
    right plan probes the shape and dispatches (`adaptive_components`):

      - run ADAPTIVE_PROBE_ROUNDS cheap min-label rounds; a
        near-clique graph reaches its fixed point inside the probe and
        the probe's labels ARE the answer — min-label was the faster
        kernel and nothing was wasted;
      - otherwise the graph is chainy: CONTRACT it by the probe labels
        (edges map to label endpoints; same-label vertices collapse —
        a k-round probe shrinks every component's diameter by ~2k) and
        hand the smaller graph to the star kernel, whose round count
        is logarithmic regardless of diameter.

    Output ≡ both twins (pytest-pinned frame equality); same
    recursive-CTE oracle. The dispatch decision is exposed as
    `adaptive_components.last_kernel` and pytest-pinned on both
    regimes: the fixture near-clique graph resolves inside the probe
    (min-label path), the planted 256-vertex path escalates to star.

    Scale posture: the probe is k bounded passes (k·|E| join rows);
    the contraction is one join + distinct that only SHRINKS the edge
    set; mis-dispatch cost is therefore k wasted cheap rounds, never a
    non-terminating loop — the property a 100 TB component job needs
    when the graph shape is unknown ahead of time."""
    return _cluster_components(spark, sf_dir, adaptive_components)


def adaptive_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    out_id: str = "doc_id",
    probe_rounds: int = ADAPTIVE_PROBE_ROUNDS,
) -> DataFrame:
    """Probe-then-dispatch component kernel (see
    `dedup_clusters_adaptive`). Runs ≤ ``probe_rounds`` min-label
    rounds; on convergence returns those labels (kernel "min-label"),
    else contracts the graph by the probe labels and finishes with
    `star_components` (kernel "star"). Correctness of the contraction:
    after k rounds label(v) = min id within k hops, so same-label
    vertices share a component; contracted-component minima equal
    original-component minima because every label IS a vertex id and
    the component's global-min vertex keeps its own label. Sets
    ``adaptive_components.last_kernel`` / ``.last_probe_rounds``."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("v"), F.col("src").alias("label"))
        .localCheckpoint()
    )
    changed = 0
    rounds = 0
    for _ in range(probe_rounds):
        rounds += 1
        neighbor_min = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.dst") == F.col("l.v"))
            .groupBy(F.col("e.src").alias("v"))
            .agg(F.min("l.label").alias("nbr_label"))
        )
        new_labels = (
            labels.alias("cur")
            .join(neighbor_min.alias("nm"), F.col("cur.v") == F.col("nm.v"), "left")
            .select(
                F.col("cur.v").alias("v"),
                F.least(
                    F.col("cur.label"), F.coalesce("nm.nbr_label", F.col("cur.label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    adaptive_components.last_probe_rounds = rounds
    if changed == 0:
        adaptive_components.last_kernel = "min-label"
        return labels.select(
            F.col("v").alias(out_id),
            F.col("label").alias("cluster_id"),
            (F.col("v") == F.col("label")).alias("is_canonical"),
        )
    adaptive_components.last_kernel = "star"
    lab_s = labels.select(F.col("v").alias("src"), F.col("label").alias("lu"))
    lab_d = labels.select(F.col("v").alias("dst"), F.col("label").alias("lv"))
    contracted = (
        edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .where(F.col("lu") != F.col("lv"))
        .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
        .distinct()
    )
    cc = star_components(contracted, a="u", b="v", out_id="lbl").select(
        F.col("lbl").alias("label"), "cluster_id"
    )
    return (
        labels.join(cc, "label", "left")
        .select(
            F.col("v").alias(out_id),
            F.coalesce("cluster_id", "label").alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(out_id) == F.col("cluster_id"))
    )


def min_label_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", out_id: str = "doc_id"
) -> DataFrame:
    """Connected components of an undirected pair graph by iterative
    min-label propagation — see ``dedup_clusters`` for the algorithm
    discussion. Returns (out_id, cluster_id, is_canonical)."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).persist()
    labels = (
        edges.select("src").distinct().select(F.col("src").alias("v"), F.col("src").alias("label"))
    ).persist()
    changed = 0
    for _ in range(50):
        neighbor_min = (
            edges.alias("e")
            .join(labels.alias("l"), F.col("e.dst") == F.col("l.v"))
            .groupBy(F.col("e.src").alias("v"))
            .agg(F.min("l.label").alias("nbr_label"))
        )
        # EAGER localCheckpoint, not persist: each round's plan embeds
        # the previous round's labels TWICE (the join probe and the
        # neighbor_min subtree), so an uncheckpointed lineage doubles
        # per round — fine for the near-clique Jaccard graph (diameter
        # ~2) but exponential analysis cost by round ~15 on chainier
        # graphs (the embedding-LSH component graph). Checkpointing
        # truncates the plan to the materialized RDD every round.
        new_labels = (
            labels.alias("cur")
            .join(neighbor_min.alias("nm"), F.col("cur.v") == F.col("nm.v"), "left")
            .select(
                F.col("cur.v").alias("v"),
                F.least(
                    F.col("cur.label"), F.coalesce("nm.nbr_label", F.col("cur.label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Exhausting the guard means labels did NOT converge — the
        # output would be silently wrong (round-3 ADVICE: the helper
        # now also serves chainier embedding-LSH component graphs, not
        # just near-clique Jaccard ones). Fail loudly; a caller with a
        # legitimately >50-diameter graph should raise the guard, not
        # ship corrupt clusters.
        raise RuntimeError(
            f"min_label_components: {changed} labels still changing after "
            "50 rounds — graph diameter exceeds the iteration guard"
        )
    out = labels.select(
        F.col("v").alias(out_id),
        F.col("label").alias("cluster_id"),
        (F.col("v") == F.col("label")).alias("is_canonical"),
    )
    edges.unpersist()
    return out


SPAN_K = 10  # repeated-span window length, in tokens (Lee et al. use 50; scaled to the fixture's ~50-token docs)

_SPAN_ORACLE = f"""
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM words),
    sp AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+{SPAN_K - 1}], ' ') AS span
      FROM pos WHERE i <= len(ws) - {SPAN_K - 1}
    ),
    stats AS (
      SELECT doc_id, span,
             count(*)    OVER (PARTITION BY span) AS n_docs,
             min(doc_id) OVER (PARTITION BY span) AS first_doc
      FROM sp
    )
    SELECT doc_id,
           count(*)                                         AS n_spans,
           count(*) FILTER (WHERE n_docs >= 2)              AS n_shared,
           count(*) FILTER (WHERE first_doc < doc_id)       AS n_copied,
           round(count(*) FILTER (WHERE n_docs >= 2) * 1.0 / count(*), 6) AS shared_ratio
    FROM stats
    GROUP BY doc_id
"""


@register("dedup_span_repeats", oracle=_SPAN_ORACLE)
def dedup_span_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring dedup
    of Lee et al. ("Deduplicating Training Data Makes Language Models
    Better"), token-window variant: every 10-token window of every doc,
    flagged when the identical window also appears in another document.

    Per doc: distinct window count, how many windows are shared with any
    other doc, how many were "copied" (same span exists in a lower
    doc_id — the occurrence exact-substring dedup would cut), and the
    shared ratio.

    Scale posture: windows stay (doc_id, span) pairs — one shuffle
    partitioned by span for the window stats (count/min over the span
    partition: single pass, no groupBy-then-join-back re-scan of the
    shingle derivation), one partial+final agg by doc_id. At 100 TB the
    span strings would be xxhashed before the shuffle (~10× less IO), as
    dedup_ngram_jaccard does; kept as strings here because the oracle
    must share the exact key. No reference analog (the reference's
    closest surface is the wc/indexer word-level apps,
    mrapps/indexer.go:15-30).
    """
    docs = _docs(spark, sf_dir)
    ws = F.filter(F.split("text", r"[^A-Za-z]+"), lambda w: w != "")
    spans = (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - (SPAN_K - 1)),
                        lambda i: F.concat_ws(" ", F.slice("ws", i, SPAN_K)),
                    )
                )
            ).alias("span"),
        )
    )
    by_span = W.partitionBy("span")
    stats = spans.select(
        "doc_id",
        F.count("*").over(by_span).alias("n_docs"),
        F.min("doc_id").over(by_span).alias("first_doc"),
    )
    n_shared = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    return stats.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        n_shared.cast("bigint").alias("n_shared"),
        F.sum(F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_copied"),
        F.round(n_shared * F.lit(1.0) / F.count("*"), 6).alias("shared_ratio"),
    )


@register(
    "contamination_test_train",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hk,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (SELECT doc_id, hk, ws, generate_subscripts(ws, 1) AS i FROM words),
    sh AS (
      SELECT DISTINCT doc_id, hk, array_to_string(ws[i:i+{SHINGLE_K - 1}], ' ') AS shingle
      FROM pos WHERE i <= len(ws) - {SHINGLE_K - 1}
    ),
    train_sh AS (SELECT DISTINCT shingle FROM sh WHERE hk < 'cd'),
    test_sh AS (SELECT doc_id, shingle FROM sh WHERE hk >= 'e6'),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM test_sh GROUP BY doc_id),
    shared AS (
      SELECT t.doc_id, count(*) AS n_contaminated
      FROM test_sh t JOIN train_sh tr USING (shingle)
      GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_shingles,
           coalesce(sh2.n_contaminated, 0) AS n_contaminated,
           round(coalesce(sh2.n_contaminated, 0) * 1.0 / s.n_shingles, 6)
             AS contamination_ratio
    FROM sizes s LEFT JOIN shared sh2 USING (doc_id)
    """,
)
def contamination_test_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination audit: for every TEST-split document
    (the same md5 split rule as pipeline.split_train_test), the share
    of its 5-gram shingles that also occur anywhere in the TRAIN split
    — the eval-integrity check every LLM data pipeline must run before
    trusting benchmark numbers (Lee et al.'s span analysis,
    dedup_span_repeats, is the within-corpus twin; this is the
    cross-split one).

    One shingle scan serves both sides; test shingles probe the
    distinct train-shingle set with a LEFT SEMI join on 64-bit shingle
    hashes (16-byte rows through the shuffle, never shingle text —
    shingle_hashes' contract). Exact integer counts; one identical
    double division.

    Scale posture: shuffles on shingle hash (the semi join + the train
    distinct) and doc_id (the rollups). The train set never
    materializes per-doc — only its distinct shingle set. At 100 TB
    this is the canonical "does my test set leak" sweep: one pass,
    no cross join.
    """
    sh = shingle_hashes(spark, sf_dir).withColumn(
        "hk", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    )
    train_sh = sh.where(F.col("hk") < "cd").select("h").distinct()
    test_sh = sh.where(F.col("hk") >= "e6").select("doc_id", "h")
    sizes = test_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    shared = (
        test_sh.join(train_sh, "h", "leftsemi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        sizes.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ratio",
            F.round(F.col("n_contaminated") * 1.0 / F.col("n_shingles"), 6),
        )
    )


from minimapreduce_spark.operators.text_analysis import EN_STOP

_QUALITY_SQL = f"""
      SELECT doc_id,
             round(0.5 * least(len(ws) / 100.0, 1.0)
                   + 0.3 * (1.0 - len(list_filter(ws, w -> w IN {EN_STOP!r})) * 1.0 / len(ws))
                   + 0.2 * (len(list_distinct(ws)) * 1.0 / len(ws)), 6) AS quality
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
        FROM documents
      ) WHERE len(ws) > 0
"""

_CANONICAL_QUALITY_ORACLE = (
    _CLUSTER_ORACLE.replace(
        "SELECT src AS doc_id,",
        "SELECT src AS doc_id,",
    ).rsplit("SELECT src AS doc_id,", 1)[0]
    + """
    , members AS (
      SELECT src AS doc_id, min(dst) AS cluster_id
      FROM reach GROUP BY src
    ),
    quality AS (
    """
    + _QUALITY_SQL
    + """
    ),
    ranked AS (
      SELECT m.cluster_id, m.doc_id, q.quality,
             row_number() OVER (PARTITION BY m.cluster_id
                                ORDER BY q.quality DESC, m.doc_id) AS rn,
             count(*) OVER (PARTITION BY m.cluster_id) AS n_members
      FROM members m JOIN quality q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS kept_doc_id, quality AS kept_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """
)


@register("dedup_canonical_by_quality", oracle=_CANONICAL_QUALITY_ORACLE)
def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION, completed: within each near-dup cluster
    (dedup_clusters' connected components), keep the member with the
    highest quality score (text_quality_score's formula) — what
    production pipelines actually do, where min-doc_id canonicalization
    is only a deterministic placeholder. Quality is rounded BEFORE
    ranking (the engine's float-rank discipline) and ties break on
    doc_id.

    Composes three engine layers — pairwise similarity, iterative
    graph clustering, and content scoring — into one auditable output:
    (cluster, survivor, its quality, cluster size).

    Scale posture: adds one broadcast-sized join (cluster membership ×
    per-doc quality) and one window over clusters to what
    dedup_clusters already pays.
    """
    from minimapreduce_spark.operators.text_analysis import text_quality_score

    members = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    ranked_w = W.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    joined = members.join(quality, "doc_id").select(
        "cluster_id",
        "doc_id",
        "quality",
        F.row_number().over(ranked_w).alias("rn"),
        F.count("*").over(W.partitionBy("cluster_id")).alias("n_members"),
    )
    return joined.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("quality").alias("kept_quality"),
        F.col("n_members").cast("bigint").alias("n_members"),
    )


_CLUSTER_SIZES_ORACLE = (
    _CLUSTER_ORACLE.rsplit("SELECT src AS doc_id,", 1)[0]
    + """
    , members AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ),
    sizes AS (
      SELECT cluster_id, count(*) AS cluster_size FROM members GROUP BY 1
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """
)


@register("dedup_cluster_size_histogram", oracle=_CLUSTER_SIZES_ORACLE)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup impact report: distribution of near-dup cluster sizes
    with, per size, how many documents are involved and how many a
    keep-one policy would REMOVE (size − 1 each) — the number a data
    lead wants before approving a dedup pass, and the skew signal
    (one giant cluster = template spam; many pairs = organic near-dups).

    Pure rollup over dedup_clusters' membership — exact integers.

    Scale posture: two tiny aggs past what the clustering already
    paid; output is O(distinct sizes).
    """
    members = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    sizes = members.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment — excerpt/quote detection
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.8  # fraction of the smaller doc's shingles contained


_CONTAIN_ORACLE = f"""
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), w -> w <> '') AS ws
      FROM documents
    ),
    pos AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM words),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+{SHINGLE_K - 1}], ' ') AS shingle
      FROM pos WHERE i <= len(ws) - {SHINGLE_K - 1}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT contained_id, container_id, n_common,
           CAST(sa.n AS BIGINT) AS n_contained_shingles,
           round(n_common * 1.0 / sa.n, 6) AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = contained_id
    JOIN sizes sb ON sb.doc_id = container_id
    WHERE sa.n < sb.n
      AND n_common * 1.0 / sa.n >= {CONTAIN_THRESHOLD}
    """


@register("dedup_ngram_containment", oracle=_CONTAIN_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection — the near-dup shape Jaccard
    structurally misses (Broder's containment coefficient): a short
    document quoted or excerpted inside a much longer one has
    containment(small→big) = |sh(a) ∩ sh(b)| / |sh(a)| ≈ 1 while its
    Jaccard ≈ |a|/|b| ≈ 0, so the whole `dedup_ngram_jaccard` /
    `dedup_minhash` family scores it as unrelated. Training-data
    curation needs this lane for provenance/licensing (is this doc a
    fragment of that one?) and for eval decontamination (a benchmark
    item PASTED INTO a long crawl page is a containment hit, not a
    Jaccard hit — the `contamination_test_train` n-gram check is the
    windowed version of the same idea). Directed output: (contained,
    container) with strict size ordering |sh(a)| < |sh(b)|, so
    symmetric near-dups stay the Jaccard family's business.

    Exactness: shingle sets are the family's distinct 5-gram frames
    (64-bit hashes engine-side, the literal strings oracle-side — the
    dedup_ngram_jaccard equivalence); n_common and sizes are integers;
    containment is one division rounded at 6 dp.

    Scale posture: the same inverted-index self-join discipline as
    `jaccard_pairs` (both sides shuffle on the shingle hash; the
    post-agg pairs frame broadcasts into the size joins via AQE), RUN
    BEHIND the duplication-gated content-group front end — byte-copies
    never enter the inverted index, and verified rep-level pairs
    expand to members through a DIRECTION-PRESERVING twin of
    `expand_doc_pairs` (members are byte-identical, so sizes and
    containment carry over and the strict size ordering holds for
    every combo; within-group pairs have equal sizes and are excluded
    by both engines identically). The remaining bucket bound is the
    per-CONTENT shingle document frequency — the df-cap ladder and the
    MinHash-LSH candidate shape (`jaccard_pairs(candidates=…)` over
    the smaller side) stay the knobs past that. Reference anchor: none
    (the indexer app, mrapps/indexer.go:20-39, builds the posting
    lists this join consumes but cannot express the join)."""
    doc_src, groups = content_group_frontend(spark, sf_dir)
    rep_docs = fan_out(spark, doc_src)
    sh = shingle_hashes(spark, sf_dir, docs=rep_docs).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("contained_id"), "h")
    b = sh.select(F.col("doc_id").alias("container_id"), "h")
    pairs = (
        a.join(b, "h")
        .where(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("contained_id"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("container_id"), F.col("n").alias("n_b"))
    cont = F.col("n_common") / F.col("n_a")
    rep_pairs = (
        pairs.join(sa, "contained_id")
        .join(sb, "container_id")
        .where((F.col("n_a") < F.col("n_b")) & (cont >= CONTAIN_THRESHOLD))
        .select(
            "contained_id",
            "container_id",
            "n_common",
            F.col("n_a").cast("bigint").alias("n_contained_shingles"),
            F.round(cont, 6).alias("containment"),
        )
    )
    if groups is None:  # duplication gate: pairs are already doc-level
        return rep_pairs
    # direction-preserving member expansion (expand_doc_pairs would
    # least/greatest-normalize the ids, destroying the contained→
    # container direction); values carry over — members are
    # byte-identical, so every combo's sizes equal its reps'
    mem = groups.select("rep", F.explode("members").alias("did"))
    return (
        rep_pairs.join(
            mem.select(
                F.col("rep").alias("contained_id"), F.col("did").alias("ida")
            ),
            "contained_id",
        )
        .join(
            mem.select(
                F.col("rep").alias("container_id"), F.col("did").alias("idb")
            ),
            "container_id",
        )
        .select(
            F.col("ida").alias("contained_id"),
            F.col("idb").alias("container_id"),
            "n_common",
            "n_contained_shingles",
            "containment",
        )
    )
