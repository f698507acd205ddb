"""Retention (VACUUM) contracts for the persisted artifact families.

The storage-maintenance story the lifecycle rungs (append/compact/
rebuild) leave open: superseded roots accumulate forever. The rules
pinned here are the ones `artifacts.vacuum_superseded_roots` documents:
only published, superseded, old-enough roots are deleted; leaves and
in-flight directories never are; and the hardlink fold-in discipline
makes deleting a superseded base SAFE while a derived root serves —
the derived root's hardlinks keep every shared inode alive.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _read_index(spark, root):
    from minimapreduce_spark.operators.dedup import (
        MINHASH_BUCKET_SCHEMA,
        MINHASH_SHINGLE_SCHEMA,
    )

    b = spark.read.schema(MINHASH_BUCKET_SCHEMA).parquet(
        os.path.join(root, "buckets")
    )
    s = spark.read.schema(MINHASH_SHINGLE_SCHEMA).parquet(
        os.path.join(root, "shingles")
    )
    return sorted(map(tuple, b.collect())), sorted(map(tuple, s.collect()))


def _build_chain(spark, tmp_path):
    """base → append(day1) chain of the band-index family inside an
    isolated parent dir, returning (parent, base_name, append_root)."""
    from minimapreduce_spark.catalog import load_table
    from minimapreduce_spark.operators.dedup import (
        APPEND_DAY_MOD,
        minhash_index_append,
        minhash_index_build,
    )

    parent = str(tmp_path)
    base_root = os.path.join(parent, "minimapreduce_minhash_t1")
    minhash_index_build(spark, SF_DIR, root=base_root)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    day1 = docs.where(F.col("doc_id") % APPEND_DAY_MOD == 0)
    app_root = minhash_index_append(spark, SF_DIR, day1, base_root, tag="vac-d1")
    assert os.path.dirname(app_root) == parent
    return parent, os.path.basename(base_root), app_root


def test_vacuum_deletes_superseded_base_hardlinks_survive(spark, tmp_path):
    """(a) the superseded base is deleted, the appended leaf kept;
    (b) the appended artifact reads row-identically after the base is
    gone — its hardlinks kept every shared inode alive; (c) freed
    bytes < unlinked bytes (the hardlinked parquet data was NOT freed,
    only its second name removed) — the report distinguishes a storage
    bill from a directory listing."""
    from minimapreduce_spark.artifacts import vacuum_superseded_roots

    parent, base_name, app_root = _build_chain(spark, tmp_path)
    before = _read_index(spark, app_root)

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0
    )
    assert rep["deleted"] == [base_name]
    assert rep["kept_live"] == [os.path.basename(app_root)]
    assert not os.path.exists(os.path.join(parent, base_name))

    after = _read_index(spark, app_root)
    assert after == before and len(after[0]) > 0

    assert 0 < rep["freed_bytes"] < rep["unlinked_bytes"]


def test_vacuum_grace_window_dry_run_and_unpublished(spark, tmp_path):
    """(a) a superseded root younger than the grace window is kept;
    (b) dry_run reports the deletion set without removing anything;
    (c) an unpublished directory (no marker subdir — in-flight stage
    or foreign) is never touched; (d) vacuum is idempotent — a second
    sweep finds nothing to delete."""
    from minimapreduce_spark.artifacts import vacuum_superseded_roots

    parent, base_name, app_root = _build_chain(spark, tmp_path)
    os.makedirs(os.path.join(parent, "minimapreduce_minhash_t1_zz_inflight"))

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=3600.0
    )
    assert rep["deleted"] == [] and rep["kept_young"] == [base_name]
    assert os.path.isdir(os.path.join(parent, base_name))

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0, dry_run=True
    )
    assert rep["deleted"] == [base_name] and rep["dry_run"]
    assert os.path.isdir(os.path.join(parent, base_name))
    assert "minimapreduce_minhash_t1_zz_inflight" in rep["kept_unpublished"]

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0
    )
    assert rep["deleted"] == [base_name]
    rep2 = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0
    )
    assert rep2["deleted"] == [] and rep2["kept_live"] == [
        os.path.basename(app_root)
    ]
    # the in-flight dir survived both sweeps
    assert os.path.isdir(os.path.join(parent, "minimapreduce_minhash_t1_zz_inflight"))


def test_vacuum_chain_keeps_only_leaf_and_compact_serves(spark, tmp_path):
    """Full chain base → append → compact: vacuum removes BOTH
    superseded ancestors in one sweep, keeps the compacted leaf, and
    the leaf still serves identical rows (compaction rewrote, so it
    shares no inode with the deleted roots). A vacuum between append
    and compact would instead keep the append leaf — the newest view
    of a chain is structurally undeletable."""
    from minimapreduce_spark.artifacts import vacuum_superseded_roots
    from minimapreduce_spark.operators.dedup import minhash_index_compact

    parent, base_name, app_root = _build_chain(spark, tmp_path)
    comp_root = minhash_index_compact(spark, app_root)
    before = _read_index(spark, comp_root)

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0
    )
    assert sorted(rep["deleted"]) == sorted(
        [base_name, os.path.basename(app_root)]
    )
    assert rep["kept_live"] == [os.path.basename(comp_root)]
    assert _read_index(spark, comp_root) == before


def test_vacuum_sibling_name_extension_is_not_superseded(spark, tmp_path):
    """The round-10 ADVICE false positive, pinned dead: a PUBLISHED
    root whose name extends another's but that was built independently
    (no ``_PARENT`` claim — the ivfpq ``_base13`` shape, whose data the
    sibling does NOT hardlink-protect) must never mark the shorter
    root superseded. Supersession is derivation-claimed, not
    name-inferred."""
    import shutil

    from minimapreduce_spark.artifacts import PARENT_MARKER, vacuum_superseded_roots

    parent, base_name, app_root = _build_chain(spark, tmp_path)
    # a sibling: full copy of the base under a name-extending root,
    # published, but WITHOUT a derivation claim
    sib = os.path.join(parent, base_name + "_base13")
    shutil.copytree(os.path.join(parent, base_name), sib)
    sib_marker = os.path.join(sib, PARENT_MARKER)
    assert not os.path.exists(sib_marker)

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0
    )
    # base IS superseded (the append claims it); the sibling is live
    # even though it name-extends the base, and the base's extension
    # relation to the sibling is irrelevant
    assert rep["deleted"] == [base_name]
    assert os.path.basename(sib) in rep["kept_live"]
    assert os.path.isdir(sib)


def test_vacuum_grace_window_runs_from_supersession_not_publish(spark, tmp_path):
    """Round-10 ADVICE: an OLD base superseded SECONDS ago must get the
    full grace window — age runs from the newest claiming child's
    mtime, not the candidate's own publish time (under the old rule a
    base published days before its first append was deleted on the
    very first sweep)."""
    import time as _time

    from minimapreduce_spark.artifacts import vacuum_superseded_roots

    parent, base_name, app_root = _build_chain(spark, tmp_path)
    # simulate "base published days ago": its own mtime is ancient
    old = _time.time() - 7 * 86400
    os.utime(os.path.join(parent, base_name), (old, old))

    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=3600.0
    )
    assert rep["deleted"] == [] and rep["kept_young"] == [base_name]
    assert os.path.isdir(os.path.join(parent, base_name))
    # and once the window is over (relative to the CHILD), it goes
    rep = vacuum_superseded_roots(
        parent, "minimapreduce_minhash_", "buckets", min_age_s=0.0
    )
    assert rep["deleted"] == [base_name]


def test_nightly_maintenance_compacts_then_vacuums_idempotently(spark, tmp_path):
    """The scheduled entry point (`artifacts.nightly_maintenance`):
    (a) the fragmented append leaf is compacted and the ENTIRE
    superseded chain (base + append) reclaimed in the same sweep —
    compact-before-vacuum ordering is what makes one pass suffice;
    (b) the surviving compacted leaf serves row-identical content;
    (c) dry_run compacts and deletes nothing; (d) the second run is a
    no-op — a compacted leaf is not fragmented, and nothing is
    superseded anymore."""
    from minimapreduce_spark.artifacts import nightly_maintenance

    parent, base_name, app_root = _build_chain(spark, tmp_path)
    app_name = os.path.basename(app_root)
    before = _read_index(spark, app_root)

    rep = nightly_maintenance(spark, parent=parent, min_age_s=0.0, dry_run=True)
    assert rep["compacted"]["minhash_band_index"] == [app_name]
    assert rep["vacuum"]["minhash_band_index"]["deleted"] == [base_name]
    assert os.path.isdir(os.path.join(parent, base_name))
    assert not os.path.isdir(os.path.join(parent, app_name + "_compact"))

    rep = nightly_maintenance(spark, parent=parent, min_age_s=0.0)
    assert rep["compacted"]["minhash_band_index"] == [app_name]
    assert sorted(rep["vacuum"]["minhash_band_index"]["deleted"]) == sorted(
        [base_name, app_name]
    )
    comp = os.path.join(parent, app_name + "_compact")
    assert rep["vacuum"]["minhash_band_index"]["kept_live"] == [
        os.path.basename(comp)
    ]
    assert _read_index(spark, comp) == before

    rep2 = nightly_maintenance(spark, parent=parent, min_age_s=0.0)
    assert rep2["compacted"]["minhash_band_index"] == []
    assert rep2["vacuum"]["minhash_band_index"]["deleted"] == []


# ---- artifacts.publish: the one create-once publish path


def _stage_dirs(parent) -> list[str]:
    return [n for n in os.listdir(parent) if n.startswith(".stage-")]


@pytest.mark.parametrize("fault", ["missing_parent_dir", "write_raises"])
def test_failed_publish_raises_and_leaves_no_dirs(spark, tmp_path, monkeypatch, fault):
    """A join view whose publish cannot complete raises instead of
    returning a root that does not exist, and leaves neither a stage nor
    a root behind (the temp dir is the stage's fallback location, so it
    is pointed at ``tmp_path`` too); a retry then publishes."""
    import tempfile

    from pyspark.sql.readwriter import DataFrameWriter

    from minimapreduce_spark.operators.relational import join_view_build

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = str(tmp_path / "jv")
    with monkeypatch.context() as m:
        if fault == "missing_parent_dir":
            bad_root = str(tmp_path / "no_such_parent" / "jv")
        else:
            bad_root = root

            def boom(self, *args, **kwargs):
                raise OSError("injected write failure")

            m.setattr(DataFrameWriter, "parquet", boom)
        with pytest.raises(OSError):
            join_view_build(spark, SF_DIR, root=bad_root)
    assert os.listdir(tmp_path) == []

    assert join_view_build(spark, SF_DIR, root=root) == root
    assert spark.read.parquet(os.path.join(root, "view")).count() > 0
    assert _stage_dirs(tmp_path) == []


def _write_view(tag: str):
    def write(stage: str) -> None:
        os.makedirs(os.path.join(stage, "view"))
        with open(os.path.join(stage, "view", "data"), "w") as f:
            f.write(tag)

    return write


def _read_view(root: str) -> str:
    with open(os.path.join(root, "view", "data")) as f:
        return f.read()


@pytest.mark.parametrize("when", ["before", "during_write"])
def test_publish_to_a_published_root_returns_it_untouched(tmp_path, when):
    """A root published BEFORE the call is returned without calling
    ``write``; one published by a racer DURING the write wins the
    rename, and the loser returns it and discards its own stage."""
    from minimapreduce_spark.artifacts import publish

    root = str(tmp_path / "r")
    first = _write_view("first")
    calls = []

    def second(stage: str) -> None:
        calls.append(stage)
        if when == "during_write":
            publish(root, "view", first)
        _write_view("second")(stage)

    if when == "before":
        publish(root, "view", first)
    assert publish(root, "view", second) == root
    assert _read_view(root) == "first"
    assert len(calls) == (when == "during_write")
    assert os.listdir(tmp_path) == ["r"]


def test_publish_never_renames_a_stage_without_its_marker(tmp_path):
    """A write that leaves no marker raises; nothing is published and
    the stage is removed."""
    from minimapreduce_spark.artifacts import publish

    root = str(tmp_path / "r")
    with pytest.raises(RuntimeError, match="codes"):
        publish(root, "codes", _write_view("x"))
    assert os.listdir(tmp_path) == []


def test_publish_raises_on_a_non_empty_root_without_its_marker(tmp_path):
    """A non-empty root that lacks the marker is not a published
    artifact and cannot be replaced by a rename: publish raises, leaves
    the root as it found it and removes its stage."""
    from minimapreduce_spark.artifacts import publish

    root = tmp_path / "r"
    root.mkdir()
    (root / "part-junk.parquet").write_text("not parquet")
    with pytest.raises(OSError):
        publish(str(root), "view", _write_view("x"))
    assert _stage_dirs(tmp_path) == []
    assert os.listdir(root) == ["part-junk.parquet"]


def _engine_nodes():
    """``(module path, innermost enclosing function, node)`` for every
    AST node of every module in ``minimapreduce_spark/``."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "minimapreduce_spark",
    )
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            # innermost enclosing function of every node: ast.walk is
            # breadth-first, so inner functions overwrite outer ones
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    owner.update((node, fn.name) for node in ast.walk(fn))
            for node in ast.walk(tree):
                yield rel, owner.get(node, "<module>"), node


def test_no_hand_rolled_publish_outside_artifacts():
    """Every create-once publish goes through ``artifacts.publish`` and
    every artifact root is named from ``artifacts.engine_root``:
    ``os.rename(`` / ``tempfile.mkdtemp(`` appear only in artifacts.py
    and in ``sources.formats.publish_atomic`` (the replace-in-place
    swap), ``tempfile.gettempdir(`` only in artifacts.py."""
    import ast

    allowed = {"sources/formats.py": {"publish_atomic"}}
    found = []
    for rel, name, node in _engine_nodes():
        if rel == "artifacts.py" or not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
        ):
            continue
        call = (node.func.value.id, node.func.attr)
        if call == ("tempfile", "gettempdir") or (
            call in {("os", "rename"), ("tempfile", "mkdtemp")}
            and name not in allowed.get(rel, ())
        ):
            found.append(f"{rel}:{node.lineno} in {name}")
    assert found == [], found


def test_one_drain_path_in_the_engine():
    """Every streaming query drains through ``streaming.source._drain``:
    ``writeStream`` occurs once in the engine, there, and no
    ``format("memory")`` sink is left."""
    import ast

    write_streams, memory_sinks = [], []
    for rel, name, node in _engine_nodes():
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            write_streams.append((rel, name))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and any(
                isinstance(a, ast.Constant) and a.value == "memory"
                for a in node.args
            )
        ):
            memory_sinks.append(f"{rel}:{node.lineno} in {name}")
    assert write_streams == [("streaming/source.py", "_drain")], write_streams
    assert memory_sinks == [], memory_sinks


def test_one_per_batch_sink_in_the_engine():
    """Every drain that writes its micro-batches out goes through
    ``streaming.source.publish_batch``: ``partitionOverwriteMode``
    appears nowhere in the engine, no ``.mode("append")`` write is left
    in ``streaming/upsert.py``, and only ``streaming/source.py`` names
    the ``batch_id=`` directory layout."""
    import ast

    overwrite_modes, appends, layouts = [], [], []
    for rel, name, node in _engine_nodes():
        where = f"{rel}:{getattr(node, 'lineno', '?')} in {name}"
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "partitionOverwriteMode" in node.value:
                overwrite_modes.append(where)
            if "batch_id=" in node.value and rel != "streaming/source.py":
                layouts.append(where)
        if (
            rel == "streaming/upsert.py"
            and isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mode"
            and any(isinstance(a, ast.Constant) and a.value == "append" for a in node.args)
        ):
            appends.append(where)
    assert overwrite_modes == [], overwrite_modes
    assert appends == [], appends
    assert layouts == [], layouts
