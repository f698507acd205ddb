"""The scale-experiment fixture builder must produce what its design
claims — dup groups of EXACTLY the copy count, and variants that are
token-disjoint under the dedup operators' OWN tokenizer. A 40×
dry run caught the digit-prefix collapse (variants 'v1'/'v2' became
token-identical because the shingle tokenizer splits on [^A-Za-z]+);
this test makes that class of fixture bug impossible to reintroduce."""

from __future__ import annotations

import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from tools.scale_experiment import COPIES, build_fixture


@pytest.fixture(scope="module")
def fixture_20x(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf20x"))
    build_fixture(20, out)
    return out


def test_corpus_size_and_group_structure(fixture_20x):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{fixture_20x}/documents.parquet'"
    )
    (n,) = con.execute("SELECT count(*) FROM documents").fetchone()
    assert n == 20 * 5000
    # exact-text dup groups: COPIES-sized, except where the BASE corpus
    # itself contains duplicate texts (sf0.1 has 8 duplicated docs →
    # those groups merge to 2×COPIES within each variant)
    sizes = con.execute(
        "SELECT count(*) AS g FROM documents GROUP BY text"
    ).df()["g"]
    counts = sizes.value_counts().to_dict()
    assert set(counts) <= {COPIES, 2 * COPIES}, counts
    assert counts.get(2 * COPIES, 0) <= 2 * 8, counts  # ≤ variants × base dups
    (ne,) = con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{fixture_20x}/embeddings.parquet'; "
        "SELECT count(*) FROM embeddings"
    ).fetchone()
    assert ne == 20 * 2000


def test_variants_token_disjoint_under_dedup_tokenizer(fixture_20x):
    """The dedup operators tokenize on [^A-Za-z]+ — the variants must
    share ZERO tokens under THAT tokenizer (a digit-bearing prefix
    passes a naive string comparison but collapses here)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{fixture_20x}/documents.parquet'"
    )
    texts = dict(
        con.execute(
            "SELECT doc_id, text FROM documents "
            "WHERE doc_id IN (0, 10000000)"  # base 0: v0 c0 and v1 c0
        ).fetchall()
    )
    tok = lambda t: set(w for w in re.split(r"[^A-Za-z]+", t) if w)
    t0, t1 = tok(texts[0]), tok(texts[10000000])
    assert t0 and t1
    assert not (t0 & t1), sorted(t0 & t1)[:5]


def test_embedding_variants_not_near_duplicates(fixture_20x):
    """Same base vector across variants must NOT be cosine-similar
    (negation/rotation keeps them apart), while copies within a
    variant are identical."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{fixture_20x}/embeddings.parquet'"
    )
    cos_cross, cos_copy = con.execute(
        """
        SELECT
          (SELECT list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           FROM embeddings a, embeddings b
           WHERE a.vec_id = 0 AND b.vec_id = 10000000),
          (SELECT list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           FROM embeddings a, embeddings b
           WHERE a.vec_id = 0 AND b.vec_id = 1000000)
        """
    ).fetchone()
    assert abs(cos_copy - 1.0) < 1e-9
    # roll + sign-pattern variant: decorrelated, NOT a mirror image
    # (an exact negation would zero per-label IVF centroids)
    assert abs(cos_cross) < 0.5, cos_cross


def test_money_builder_streams_exact_replicas(tmp_path):
    """The money-family builder must produce exactly mult key-offset
    replicas of each fact table with all non-key columns intact — the
    property that makes the 640× oracle comparison mean "same data,
    more of it". Checked at mult=3 on both tables: row counts, per-key
    offset structure, and value-identity of a replica modulo its key."""
    from tools.scale_experiment import BASE, MONEY_TABLES, build_money_fixture

    out = str(tmp_path)
    build_money_fixture(3, out)
    con = duckdb.connect()
    for t, key, off in MONEY_TABLES:
        (nb,) = con.execute(
            f"SELECT count(*) FROM '{BASE}/{t}.parquet'"
        ).fetchone()
        (n,) = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()
        assert n == 3 * nb
        # each replica occupies its own key stripe
        stripes = con.execute(
            f"SELECT {key} // {off} AS stripe, count(*) AS c "
            f"FROM '{out}/{t}.parquet' GROUP BY 1 ORDER BY 1"
        ).fetchall()
        base_stripes = con.execute(
            f"SELECT {key} // {off} AS stripe, count(*) AS c "
            f"FROM '{BASE}/{t}.parquet' GROUP BY 1"
        ).fetchall()
        assert len(base_stripes) == 1 and base_stripes[0][0] == 0
        assert [s for s, _ in stripes] == [0, 1, 2]
        assert len({c for _, c in stripes}) == 1
        # replica 2 is value-identical to the base once the key shifts back
        (mismatch,) = con.execute(
            f"""SELECT count(*) FROM (
                  SELECT * EXCLUDE ({key}), {key} - 2*{off} AS k
                  FROM '{out}/{t}.parquet' WHERE {key} >= 2*{off}
                  EXCEPT
                  SELECT * EXCLUDE ({key}), {key} AS k FROM '{BASE}/{t}.parquet'
                )"""
        ).fetchone()
        assert mismatch == 0
