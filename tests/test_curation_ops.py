"""Curation operators: algorithmic invariants beyond the
oracle hash (which tests/test_oracle_sweep.py covers automatically)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_DIR

from minimapreduce_spark import queries as q


def test_quota_sample_equals_naive_single_window(spark):
    """The salted two-phase grouped top-k must return EXACTLY what the
    textbook single window per source returns — same rows, same ranks —
    on the engine itself (not just vs DuckDB): the salting is a plan
    transformation, not a semantics change."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    from minimapreduce_spark.operators.pipeline import QUOTA_K
    from minimapreduce_spark.operators.text_analysis import text_quality_score

    got = {
        (r.doc_id, r.source, r.rnk)
        for r in q.REGISTRY["per_source_quota_sample"].fn(spark, SF_DIR).collect()
    }
    scored = text_quality_score(spark, SF_DIR).select("doc_id", "source", "quality")
    w = W.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    naive = {
        (r.doc_id, r.source, r.rnk)
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= QUOTA_K)
        .collect()
    }
    assert got == naive


def test_quota_sample_respects_quota(spark):
    from collections import Counter

    from minimapreduce_spark.operators.pipeline import QUOTA_K

    rows = q.REGISTRY["per_source_quota_sample"].fn(spark, SF_DIR).collect()
    per_source = Counter(r.source for r in rows)
    assert per_source and all(n <= QUOTA_K for n in per_source.values())


def test_pca_steps_match_independent_float_computation(spark):
    """The two exact integer power steps must compute the same vector
    an independent float64 path computes (G·(G·1), G = XᵀX over the
    quantized matrix) — direction agreement to float precision. (The
    fixture spectrum is near-flat, so this is deliberately NOT a
    comparison against the converged eigenvector — see the docstring.)"""
    rows = q.REGISTRY["embedding_pca_power_iteration"].fn(spark, SF_DIR).collect()
    v = np.array([r.dir_fp for r in sorted(rows, key=lambda r: r.dim)], dtype=float)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").toPandas()
    X = np.round(np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 10000)
    G = X.T @ X
    ref = G @ (G @ np.ones(64))
    cos = abs(v @ ref) / (np.linalg.norm(v) * np.linalg.norm(ref))
    assert cos > 0.999999, cos


def test_pca_canonical_orientation(spark):
    """The dominant component must be reported non-negative (the
    sign-orientation rule) and scaled to exactly ±1e6 at its peak."""
    rows = q.REGISTRY["embedding_pca_power_iteration"].fn(spark, SF_DIR).collect()
    vals = [r.dir_fp for r in rows]
    assert max(abs(v) for v in vals) == 1_000_000
    dominant = max(vals, key=abs)
    assert dominant == 1_000_000  # sign-oriented positive


def test_psi_is_symmetric_and_small_on_halves(spark):
    """PSI terms are individually >= 0 (the (p-q)·ln(p/q) form), the
    bins are total (exactly PSI_BINS rows), and splitting one
    stationary stream in half must yield a small index (no real
    drift in the fixture)."""
    from minimapreduce_spark.operators.analytics import PSI_BINS

    rows = q.REGISTRY["psi_value_drift"].fn(spark, SF_DIR).collect()
    assert len(rows) == PSI_BINS
    assert sorted(r.bin for r in rows) == list(range(PSI_BINS))
    assert all(r.psi_term >= 0 for r in rows)
    assert sum(r.psi_term for r in rows) < 0.1


def test_bigram_model_penalizes_broken_word_order(spark):
    """The discriminative claim, on a corpus WITH bigram structure
    (the driver fixture is conditionally independent word soup —
    bigram ≈ unigram there, verified by the entropy check below):
    plant 100 docs of a stereotyped phrase chain plus a few
    word-shuffled twins; the shuffled docs must score clearly worse
    under the corpus-trained bigram model, while their unigram scores
    are identical by construction."""
    import os
    import random
    import tempfile

    phrase = "alpha beta gamma delta epsilon zeta "
    rng = random.Random(7)
    rows = []
    for i in range(100):
        rows.append((i, phrase * 20))
    for i in range(100, 110):
        words = (phrase * 20).split()
        rng.shuffle(words)
        rows.append((i, " ".join(words) + " "))
    docs = spark.createDataFrame(
        [(i, t.strip(), "en", "synth", len(t)) for i, t in rows],
        "doc_id: bigint, text: string, lang: string, source: string, n_chars: bigint",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = q.REGISTRY["text_bigram_logprob"].fn(spark, d).collect()
    natural = np.mean([r.avg_neg_logprob for r in out if r.doc_id < 100])
    shuffled = np.mean([r.avg_neg_logprob for r in out if r.doc_id >= 100])
    assert shuffled > natural + 0.5, (natural, shuffled)


def test_bigram_equals_unigram_on_structureless_corpus(spark):
    """On the driver's synthetic corpus words are conditionally
    independent, so the interpolated bigram score should sit close to
    the unigram score corpus-wide — the documented caveat that the
    fixture demonstrates the operator's shape, not corpus realism."""
    import pyspark.sql.functions as F

    bi = (
        q.REGISTRY["text_bigram_logprob"].fn(spark, SF_DIR)
        .agg(F.avg("avg_neg_logprob"))
        .collect()[0][0]
    )
    uni = (
        q.REGISTRY["text_unigram_logprob"].fn(spark, SF_DIR)
        .agg(F.avg("avg_neg_logprob"))
        .collect()[0][0]
    )
    assert abs(bi - uni) < 0.25, (bi, uni)


def test_boilerplate_detects_planted_recurring_ngrams(spark):
    """Plant one 8-gram in many docs of one source and the per-source
    report must count at least one boilerplate n-gram there."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from minimapreduce_spark.operators.text_analysis import BOILER_MIN_DOCS

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.select("source").first()["source"]
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("source") == target,
            F.concat(F.lit("subscribe to our mailing list for updates today now "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    with tempfile.TemporaryDirectory() as d:
        planted.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r.source: r for r in q.REGISTRY["boilerplate_ngram_sources"].fn(spark, d).collect()
        }
    assert target in rows
    assert rows[target].n_boilerplate_ngrams >= 1
    assert rows[target].max_doc_count >= BOILER_MIN_DOCS


def test_bpe_candidates_ranked_and_consistent(spark):
    """Merge candidates must be rank-consecutive, weight-sorted, and
    single characters (first iteration = char-pair statistics)."""
    from minimapreduce_spark.operators.text_analysis import BPE_TOP_PAIRS

    rows = sorted(
        q.REGISTRY["bpe_merge_candidates"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.rnk,
    )
    assert [r.rnk for r in rows] == list(range(1, BPE_TOP_PAIRS + 1))
    weights = [r.weight for r in rows]
    assert weights == sorted(weights, reverse=True)
    assert all(len(r.c1) == 1 and len(r.c2) == 1 for r in rows)


def test_bpe_counts_planted_dominant_pair(spark):
    """A corpus dominated by one repeated word must rank that word's
    leading char pair first, with weight = total word occurrences."""
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(i, "zq " * 50, "en", "synth", 150) for i in range(20)],
        "doc_id: bigint, text: string, lang: string, source: string, n_chars: bigint",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        top = (
            q.REGISTRY["bpe_merge_candidates"].fn(spark, d)
            .orderBy("rnk")
            .first()
        )
    assert (top.c1, top.c2) == ("z", "q")
    assert top.weight == 20 * 50


def test_zipf_slope_negative_and_near_minus_one_on_zipfian(spark):
    """Fixture slope must be negative (frequencies decay with rank);
    a planted perfectly-Zipfian corpus must fit slope ≈ -1."""
    import os
    import tempfile

    row = q.REGISTRY["token_histogram_zipf"].fn(spark, SF_DIR).first()
    assert row.zipf_slope < 0

    # plant freq(rank r) = 3000 // r for 200 word types
    words = []
    for r in range(1, 201):
        words += [f"w{r:03d}"] * (3000 // r)
    text = " ".join(words)
    docs = spark.createDataFrame(
        [(0, text, "en", "synth", len(text))],
        "doc_id: bigint, text: string, lang: string, source: string, n_chars: bigint",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        planted = q.REGISTRY["token_histogram_zipf"].fn(spark, d).first()
    assert -1.1 < planted.zipf_slope < -0.9, planted.zipf_slope


def test_knn_graph_edges_routed_within_label(spark):
    """Every vector emits ≤ K edges; every edge stays inside the
    vector's IVF cell (label); ranks are consecutive from 1."""
    from collections import defaultdict

    from minimapreduce_spark.operators.similarity import KNN_GRAPH_K

    rows = q.REGISTRY["ann_knn_graph_edges"].fn(spark, SF_DIR).collect()
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    per_vec = defaultdict(list)
    for r in rows:
        per_vec[r.vec_id].append(r)
        assert labels[r.vec_id] == labels[r.neighbor_id]
    for vec, es in per_vec.items():
        assert len(es) <= KNN_GRAPH_K
        assert sorted(e.rn for e in es) == list(range(1, len(es) + 1))


def test_embedding_clusters_consistent_with_lsh_pairs(spark):
    """Both endpoints of every LSH-verified pair must share a cluster,
    and each cluster id is its minimum member."""
    from collections import defaultdict

    labels = {
        r.vec_id: r.cluster_id
        for r in q.REGISTRY["dedup_embedding_clusters"].fn(spark, SF_DIR).collect()
    }
    pairs = q.REGISTRY["dedup_embedding_lsh"].fn(spark, SF_DIR).collect()
    assert pairs
    for p in pairs:
        assert labels[p.vec_a] == labels[p.vec_b]
    members = defaultdict(list)
    for v, c in labels.items():
        members[c].append(v)
    for c, vs in members.items():
        assert c == min(vs)


def _frames_equal(a, b) -> bool:
    ca, cb = sorted(a.columns), sorted(b.columns)
    if ca != cb or len(a) != len(b):
        return False
    ra = sorted(tuple(map(repr, r)) for r in a[ca].itertuples(index=False))
    rb = sorted(tuple(map(repr, r)) for r in b[cb].itertuples(index=False))
    return ra == rb


def test_duplication_gate_paths_bit_identical(spark, tmp_path):
    """The duplication gate may only ever pick between two BIT-IDENTICAL
    plans: the content-grouped front end and the ungrouped bypass must
    produce the same rows on a dup-free corpus (where the gate bypasses)
    AND on a dup-heavy one (where it groups). Forces each path by
    swinging DUP_GATE_RATIO and clearing the probe memo between runs,
    then checks that both table probes (documents and embeddings)
    followed the swing, so a memo that outlives it fails here."""
    import duckdb

    from minimapreduce_spark.operators import dedup as dd

    # dup-heavy twin of the sf0.001 corpus: every third doc duplicated
    # twice under fresh ids (~40% duplicate rows, well past the gate)
    dup_dir = str(tmp_path / "dup")
    (tmp_path / "dup").mkdir()
    duckdb.sql(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL
          SELECT doc_id + 100000, text, lang, source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet') WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 200000, text, lang, source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet') WHERE doc_id % 3 = 0
        ) TO '{dup_dir}/documents.parquet' (FORMAT parquet)
        """
    )
    # embeddings table unchanged (the text family never reads it, and
    # dedup_embedding_lsh exercises its own gate on the dup-free frame)
    import shutil

    shutil.copy(f"{SF_DIR}/embeddings.parquet", f"{dup_dir}/embeddings.parquet")

    try:
        for name in ("dedup_minhash", "dedup_simhash", "dedup_embedding_lsh"):
            for sf in (SF_DIR, dup_dir):
                frames = []
                for ratio in (1.0, -1.0):  # force bypass, force grouped
                    dd.DUP_GATE_RATIO = ratio
                    dd._DUP_FREE_MEMO.clear()
                    frames.append(q.REGISTRY[name].fn(spark, sf).toPandas())
                    for table in ("documents", "embeddings"):
                        dup_free = dd.table_effectively_dup_free(spark, sf, table)
                        assert dup_free == (ratio > 0), (name, sf, table, ratio)
                assert _frames_equal(*frames), (name, sf)
                assert len(frames[0]) > 0, (name, sf, "vacuous")
            # and the dup-heavy corpus must actually trip the gate
            dd.DUP_GATE_RATIO = 0.01
            dd._DUP_FREE_MEMO.clear()
            assert not dd.table_effectively_dup_free(spark, dup_dir, "documents")
            assert dd.table_effectively_dup_free(spark, SF_DIR, "documents")
    finally:
        dd.DUP_GATE_RATIO = 0.01
        dd._DUP_FREE_MEMO.clear()


def _bpe_corpus(spark, word_freqs):
    """One doc per (word, freq): text = the word repeated freq times."""
    rows = [
        (i, " ".join([w] * n), "en", "synth", len(w) * n)
        for i, (w, n) in enumerate(word_freqs)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id: bigint, text: string, lang: string, source: string, n_chars: bigint",
    )


def test_bpe_train_recovers_textbook_trajectory(spark, tmp_path):
    """The classic BPE worked example (low:5 lower:2 newest:6 widest:3)
    has a hand-computable greedy trajectory; the trained merge table
    must reproduce it exactly — merges AND weights. This is the
    semantic pin the oracle can't provide: the oracle replays the same
    chain, so a wrong greedy rule could still hash-match (the
    graph-walk lesson)."""
    import os

    docs = _bpe_corpus(
        spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    )
    d = str(tmp_path / "bpe_textbook")
    os.makedirs(d)
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    rows = q.REGISTRY["bpe_train_merges"].fn(spark, d).orderBy("rnd").collect()
    got = [(r.rnd, r.c1, r.c2, r.weight) for r in rows[:4]]
    # r1: e-s = 6+3 = 9 ties s-t = 9, c1 tie-break e < s; r2: es-t = 9;
    # r3: l-o = 7 ties o-w, tie-break l < o; r4: lo-w = 5+2 = 7.
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "l", "o", 7),
        (4, "lo", "w", 7),
    ], got


def test_bpe_merge_is_greedy_left_to_right_on_repeats(spark, tmp_path):
    """Shared-boundary repeats are where a sentinel-delimited string
    REPLACE silently skips every second merge site: 'aaaa' under merge
    (a,a) must become [aa, aa], so round 2's top pair is (aa, aa) with
    the full word frequency — not (aa, a)."""
    import os

    docs = _bpe_corpus(spark, [("aaaa", 7)])
    d = str(tmp_path / "bpe_repeats")
    os.makedirs(d)
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    rows = q.REGISTRY["bpe_train_merges"].fn(spark, d).orderBy("rnd").collect()
    assert (rows[0].c1, rows[0].c2, rows[0].weight) == ("a", "a", 21)
    assert (rows[1].c1, rows[1].c2, rows[1].weight) == ("aa", "aa", 7)


@pytest.mark.parametrize(
    "likelihood, marked",
    [(False, False), (True, False), (True, True)],
    ids=["bpe", "wordpiece", "wordpiece_marked"],
)
def test_bpe_local_and_distributed_kernels_agree(spark, monkeypatch, likelihood, marked):
    """The adaptive dispatch (driver-local merge rounds when the
    vocabulary fits catalog.DRIVER_LOCAL_ROWS_MAX) must be bit-identical
    to the distributed per-round loop under every score rule and
    marking — same merge table (pairs, weights and WordPiece scores, in
    training order), same final segmentations and same trained pieces —
    the dedup_clusters_adaptive twin-equality discipline."""
    import minimapreduce_spark.operators.text_analysis as ta
    from minimapreduce_spark import catalog

    def train():
        rows, seg, pieces = ta._pair_train(
            spark, SF_DIR, ta.BPE_MERGE_ROUNDS, likelihood, marked
        )
        return rows, sorted(map(tuple, seg.collect())), pieces

    local = train()
    monkeypatch.setattr(catalog, "DRIVER_LOCAL_ROWS_MAX", -1)  # force distributed
    assert local == train()
    assert len(local[0]) == ta.BPE_MERGE_ROUNDS


def test_bpe_train_weights_nonincreasing_and_apply_reconciles(spark):
    """Two theorems on the fixture corpus: (1) the greedy max pair
    weight is non-increasing round over round (a newly created pair's
    count is bounded by the pair just merged); (2) the serving stats
    must reconcile — every word is at least one token, no token has
    fewer than one char, and training compressed something."""
    from minimapreduce_spark.operators.text_analysis import BPE_MERGE_ROUNDS

    rows = (
        q.REGISTRY["bpe_train_merges"].fn(spark, SF_DIR).orderBy("rnd").collect()
    )
    assert [r.rnd for r in rows] == list(range(1, BPE_MERGE_ROUNDS + 1))
    weights = [r.weight for r in rows]
    assert weights == sorted(weights, reverse=True), weights
    stats = q.REGISTRY["bpe_apply_token_stats"].fn(spark, SF_DIR).collect()
    assert len(stats) > 0
    for r in stats:
        assert r.n_words <= r.n_tokens_bpe <= r.n_chars, r
        assert r.chars_per_token >= 1.0 and r.tokens_per_word >= 1.0, r


def test_wordpiece_diverges_from_bpe_on_likelihood_corpus(spark, tmp_path):
    """The textbook WordPiece-vs-BPE divergence, planted: corpus
    {ab×10, aa×50, bb×50, xy×6}. BPE's frequency argmax picks (a,a)
    (weight 50, c1 tie-break over (b,b)); WordPiece's likelihood argmax
    picks (x,y) — weight only 6, but its symbols are RARE
    (score 6/(6·6) = 0.1667 vs (a,a)'s 50/(110·110) = 0.0041), which is
    the published reason WordPiece exists (Schuster & Nakajima 2012:
    merge the pair that maximizes corpus likelihood under a unigram
    model, not the most frequent pair)."""
    import os

    docs = _bpe_corpus(spark, [("ab", 10), ("aa", 50), ("bb", 50), ("xy", 6)])
    d = str(tmp_path / "wp_divergence")
    os.makedirs(d)
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    bpe = q.REGISTRY["bpe_train_merges"].fn(spark, d).orderBy("rnd").collect()
    assert (bpe[0].c1, bpe[0].c2, bpe[0].weight) == ("a", "a", 50)
    wp = q.REGISTRY["wordpiece_train_merges"].fn(spark, d).orderBy("rnd").collect()
    assert (wp[0].c1, wp[0].c2, wp[0].pair_weight) == ("x", "y", 6)
    assert wp[0].score_u == round(6 * 1e12 / 36)


def test_wordpiece_marked_position_divergence(spark, tmp_path):
    """The defining property of POSITION-MARKED WordPiece, planted: the
    same surface string tokenizes differently word-initial vs mid-word.

    Corpus: ing×200 | ng×1 | ix×200 | ug×100 | 7 two-char fillers ×20.
    Rounds 1-7 consume the fillers (score 1/20 each); round 8 is a
    three-way quantized tie at 1/301 between (##n,##g), (n,##g) and
    (u,##g) — broken by c1 ASC toward '##n' — so the trained vocab gains
    '##ng' (the CONTINUATION piece, pair weight 200: the word-initial
    "ng" occurrence is correctly excluded) and has NO word-initial 'ng'.
    Serving: surface "ng" inside "ing" is ONE piece (i + ##ng), but the
    standalone word "ng" is TWO (n + ##g). The unmarked twin on the
    SAME corpus pools both positions: its round-8 merge is (n,g) with
    weight 201 and the word "ng" tokenizes as ONE piece — exactly the
    conflation the marked variant exists to fix. Per-word token counts
    are observed through per-source accounting (each word class is its
    own source)."""
    import os

    rows = []
    corpus = [
        ("ing", 200, "s_ing"), ("ng", 1, "s_ng"), ("ix", 200, "s_ix"),
        ("ug", 100, "s_ug"),
        ("ab", 20, "s_fill"), ("cd", 20, "s_fill"), ("ef", 20, "s_fill"),
        ("jk", 20, "s_fill"), ("lm", 20, "s_fill"), ("op", 20, "s_fill"),
        ("rs", 20, "s_fill"),
    ]
    for i, (w, n, src) in enumerate(corpus):
        rows.append((i, " ".join([w] * n), "en", src, len(w) * n))
    docs = spark.createDataFrame(
        rows,
        "doc_id: bigint, text: string, lang: string, source: string, n_chars: bigint",
    )
    d = str(tmp_path / "wpm_position")
    os.makedirs(d)
    docs.write.parquet(os.path.join(d, "documents.parquet"))

    marked = (
        q.REGISTRY["wordpiece_train_marked"].fn(spark, d).orderBy("rnd").collect()
    )
    assert (marked[7].c1, marked[7].c2, marked[7].pair_weight) == ("##n", "##g", 200)
    unmarked = (
        q.REGISTRY["wordpiece_train_merges"].fn(spark, d).orderBy("rnd").collect()
    )
    assert (unmarked[7].c1, unmarked[7].c2, unmarked[7].pair_weight) == ("n", "g", 201)

    m_stats = {
        r.source: r
        for r in q.REGISTRY["wordpiece_apply_marked_stats"].fn(spark, d).collect()
    }
    u_stats = {
        r.source: r
        for r in q.REGISTRY["wordpiece_apply_token_stats"].fn(spark, d).collect()
    }
    # marked: word "ng" (word-initial) = n + ##g = 2 tokens — no
    # unmarked 'ng' piece exists; surface "ng" mid-word is 1 piece
    # (word "ing" = i + ##ng = 2 tokens over 3 chars)
    assert m_stats["s_ng"].n_tokens_wp == 2
    assert m_stats["s_ing"].n_tokens_wp == 200 * 2
    # unmarked twin: its position-blind 'ng' piece applies word-initially
    # too — the standalone word collapses to ONE token
    assert u_stats["s_ng"].n_tokens_wp == 1
    assert u_stats["s_ing"].n_tokens_wp == 200 * 2


def test_wordpiece_marked_full_trajectory_replays_in_python(spark):
    """Pure-Python replay of the entire MARKED WordPiece training loop
    on the real fixture (the unmarked twin's discipline, with position
    semantics in the replay): '##'-mark every non-initial character,
    recompute symbol/pair frequencies per round, quantized likelihood
    argmax with the (score DESC, c1, c2) total order, merge = c1 +
    c2[2:] applied left-to-right — the trained merge table must match
    EXACTLY (merges, pair weights, quantized scores), and no candidate
    score may sit within 1e-9 of a .5 grid midpoint."""
    import math

    import duckdb

    from minimapreduce_spark.operators.text_analysis import (
        WP_MERGE_ROUNDS,
        WP_SCORE_SCALE,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    wf = dict(
        con.execute(
            f"""SELECT word, count(*) FROM (
                  SELECT unnest(string_split(text, ' ')) AS word
                  FROM '{SF_DIR}/documents.parquet')
                WHERE word <> '' AND NOT contains(word, '#')
                GROUP BY 1"""
        ).fetchall()
    )
    con.close()
    seg = {w: [w[0]] + ["##" + c for c in w[1:]] for w in wf}
    expect = []
    for rnd in range(1, WP_MERGE_ROUNDS + 1):
        syms: dict = {}
        pairs: dict = {}
        for w, f in wf.items():
            for s in seg[w]:
                syms[s] = syms.get(s, 0) + f
            for a, b in zip(seg[w], seg[w][1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        scored = {}
        for (a, b), wgt in pairs.items():
            raw = float(wgt) * WP_SCORE_SCALE / (float(syms[a]) * float(syms[b]))
            assert abs(raw % 1.0 - 0.5) > 1e-9, "score on a grid midpoint"
            scored[(a, b)] = int(math.floor(raw + 0.5))
        best = min(scored, key=lambda p: (-scored[p], p[0], p[1]))
        expect.append((rnd, best[0], best[1], pairs[best], scored[best]))
        a, b = best
        tail = b[2:]
        for w in seg:
            out, i = [], 0
            t = seg[w]
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + tail)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            seg[w] = out
    rows = (
        q.REGISTRY["wordpiece_train_marked"].fn(spark, SF_DIR).orderBy("rnd").collect()
    )
    got = [(r.rnd, r.c1, r.c2, r.pair_weight, r.score_u) for r in rows]
    assert got == expect, (got, expect)


def test_wordpiece_full_trajectory_replays_in_python(spark):
    """Pure-Python replay of the entire WordPiece training loop on the
    real fixture vocabulary (the BPE-textbook discipline, extended to
    the whole trajectory): recompute word frequencies, run k rounds of
    pair/symbol counting + quantized likelihood argmax + left-to-right
    merge, and require the trained merge table to match EXACTLY —
    merges, pair weights, and quantized scores. Also pins the
    cross-engine exactness contract: every round's WINNING score sits
    > 1e-6 quantized units away from every losing score (no argmax
    flip within double noise) and no candidate score is within 1e-9 of
    a .5 grid midpoint."""
    import duckdb

    from minimapreduce_spark.operators.text_analysis import (
        WP_MERGE_ROUNDS,
        WP_SCORE_SCALE,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    wf = dict(
        con.execute(
            f"""SELECT word, count(*) FROM (
                  SELECT unnest(string_split(text, ' ')) AS word
                  FROM '{SF_DIR}/documents.parquet')
                WHERE word <> '' GROUP BY 1"""
        ).fetchall()
    )
    con.close()
    seg = {w: list(w) for w in wf}
    expect = []
    for rnd in range(1, WP_MERGE_ROUNDS + 1):
        syms: dict = {}
        pairs: dict = {}
        for w, f in wf.items():
            for s in seg[w]:
                syms[s] = syms.get(s, 0) + f
            for a, b in zip(seg[w], seg[w][1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        import math

        # engines round half AWAY from zero; Python round() is banker's
        # — replicate with floor(x + .5) on the nonnegative scores
        scored = {}
        for (a, b), wgt in pairs.items():
            raw = float(wgt) * WP_SCORE_SCALE / (float(syms[a]) * float(syms[b]))
            assert abs(raw % 1.0 - 0.5) > 1e-9, "score on a grid midpoint"
            scored[(a, b)] = int(math.floor(raw + 0.5))
        # total-order argmax: score DESC, c1 ASC, c2 ASC
        best = min(scored, key=lambda k: (-scored[k], k[0], k[1]))
        top_score = scored[best]
        for k2, v in scored.items():
            if k2 != best and v != top_score:
                assert abs(v - top_score) >= 1, (k2, v, top_score)
        expect.append((rnd, best[0], best[1], pairs[best], top_score))
        a, b = best
        for w in seg:
            out, i = [], 0
            t = seg[w]
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            seg[w] = out
    rows = (
        q.REGISTRY["wordpiece_train_merges"].fn(spark, SF_DIR).orderBy("rnd").collect()
    )
    got = [(r.rnd, r.c1, r.c2, r.pair_weight, r.score_u) for r in rows]
    assert got == expect, (got, expect)
