"""Publish and retention (VACUUM) for the persisted index/view families.

Every create-once artifact in the engine — the index and view roots,
the staged stream sources — is published by ``publish``, the task
output discipline of MapReduce (Dean & Ghemawat, OSDI 2004, §3.3)
applied to a directory: ``write`` fills a private hidden stage
(``.stage-*``) next to the root, the stage must carry the artifact's
marker (``buckets``, ``codes``, ``view``, ``_SUCCESS``, ``_DONE``), a
derived root records its parent in ``_PARENT``, and one
``os.rename`` moves the stage into place. A reader therefore sees the
whole artifact or none of it; a racing publisher whose rename loses to
a complete root returns that root; any other failure raises, and the
stage never outlives the call. The engine has no replace-in-place
swap: a streaming drain's per-batch outputs, mutable upsert state
included, are published once per micro-batch through this same path
(``streaming.source.publish_batch``) and merged on read.

The families share a naming scheme (``FAMILIES``): a deterministic
base root ``<prefix><tag>`` under ``engine_root()``, then derived roots
whose names STRICTLY EXTEND the parent's — ``<root>_<sha8(tag)>`` for
appends (chainable), ``<root>_compact`` for compactions,
``<root>_rebuilt`` / ``<root>_stream_rebuilt`` for the IVM fold-ins.
Appends fold the parent's data files in as HARDLINKS
(``link_parent_files``), so a derived root is self-contained:
unlinking the parent's directory entries decrements link counts but
never destroys an inode a derived root still names.

That gives retention a DERIVATION-AWARE liveness rule (the earlier
purely name-based rule had false positives: ``ivfpq_base_index_build``
publishes at ``<full-index-root>_base13``, a SIBLING whose name
extends the live full index's without deriving from it, so a
name-based vacuum would delete a live serving artifact whose data the
sibling does NOT hardlink-protect):

  every derived root (append / compact / rebuild) publishes with a
  ``_PARENT`` marker naming its parent's basename; a published root is
  SUPERSEDED iff some other PUBLISHED root explicitly CLAIMS it as
  parent. Unclaimed roots — leaves, siblings, independently-built
  bases — are live. A root published before this discipline carries
  no claim and therefore never supersedes anything (the safe
  direction: storage kept, never data destroyed).

``vacuum_superseded_roots`` deletes superseded roots once the grace
window has elapsed SINCE SUPERSESSION — age is measured from the
newest claiming child's mtime, not the candidate's own (a base
published days ago but appended seconds ago is exactly the root a
mid-drain reader may still hold open) — and reports bytes actually
FREED (inode link count 1 at unlink time) separately from bytes merely
unlinked (still reachable through a derived root's hardlinks) — the
honest number for a storage bill.

At 100 TB this is the table-format VACUUM/`expire_snapshots` job: the
append chain is the snapshot log, compaction is rewrite, and retention
bounds storage at O(live artifacts) instead of O(all history). It is
a scheduled maintenance job, not a query — evidence lives in pytest
(liveness, hardlink survival, grace window) and SCALING.md "Round 10:
retention (VACUUM) for the artifact families" (measured reclaim at
sf0.1).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Callable


PARENT_MARKER = "_PARENT"

# family descriptors: (root-name prefix, published-marker subdir)
FAMILIES: dict[str, tuple[str, str]] = {
    "minhash_band_index": ("minimapreduce_minhash_", "buckets"),
    "ivfpq_index": ("minimapreduce_ivfpq_", "codes"),
    "join_view": ("minimapreduce_joinview_", "view"),
}


def engine_root() -> str:
    """The directory the engine's artifact roots live under: the process
    temp dir, read at every call because ``tempfile.tempdir`` may be
    redirected between calls."""
    return tempfile.gettempdir()


def family_root(family: str, tag: str) -> str:
    """The deterministic base root of ``family`` for ``tag``."""
    return os.path.join(engine_root(), FAMILIES[family][0] + tag)


def publish(
    root: str,
    marker: str,
    write: Callable[[str], None],
    parent: str | None = None,
) -> str:
    """Create ``root`` once: return it untouched if ``root/marker``
    exists, else call ``write(stage)`` on a fresh hidden stage next to
    ``root`` (same filesystem, so the rename is atomic), require
    ``stage/marker``, claim ``parent`` if given, and rename the stage
    into place. A failed rename is a lost race only when ``root/marker``
    now exists; otherwise it raises. The stage is removed on every
    path out."""
    if os.path.exists(os.path.join(root, marker)):
        return root
    stage = tempfile.mkdtemp(
        prefix=".stage-", dir=os.path.dirname(os.path.abspath(root))
    )
    try:
        write(stage)
        if not os.path.exists(os.path.join(stage, marker)):
            raise RuntimeError(f"publish {root}: the write left no {marker!r}")
        if parent is not None:
            claim_parent(stage, parent)
        try:
            os.rename(stage, root)
        except OSError:
            if not os.path.exists(os.path.join(root, marker)):
                raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return root


def link_parent_files(stage: str, parent_root: str, subdirs) -> None:
    """Fold a parent root's parquet files into an append's stage by
    HARDLINK, each as ``base-<name>`` under the same relative
    directory (partition dirs included): zero bytes copied, and the
    derived root stays readable after the parent is vacuumed."""
    for sub in subdirs:
        src_dir = os.path.join(parent_root, sub)
        for dirpath, _dirs, files in os.walk(src_dir):
            dst_dir = os.path.normpath(
                os.path.join(stage, sub, os.path.relpath(dirpath, src_dir))
            )
            os.makedirs(dst_dir, exist_ok=True)
            for f in files:
                if f.endswith(".parquet"):
                    os.link(
                        os.path.join(dirpath, f), os.path.join(dst_dir, f"base-{f}")
                    )


def claim_parent(stage_or_root: str, parent_root: str) -> None:
    """Record inside a derived root WHICH root it was derived from —
    ``publish`` calls it on the stage before the rename, so the claim
    is part of the same all-or-nothing publish. The claim is what
    makes a parent vacuum-able: retention never infers derivation from
    names."""
    with open(os.path.join(stage_or_root, PARENT_MARKER), "w") as f:
        f.write(os.path.basename(os.path.normpath(parent_root)))


def _claimed_parent(root: str) -> str | None:
    try:
        with open(os.path.join(root, PARENT_MARKER)) as f:
            return f.read().strip() or None
    except OSError:
        return None


def _published(root: str, marker: str) -> bool:
    return os.path.isdir(os.path.join(root, marker))


def _tree_sizes(root: str) -> tuple[int, int]:
    """(unlinked_bytes, freed_bytes) if this tree were deleted now:
    every regular file counts as unlinked; only files whose inode has
    a single remaining name (st_nlink == 1) are actually freed."""
    unlinked = freed = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            unlinked += st.st_size
            if st.st_nlink == 1:
                freed += st.st_size
    return unlinked, freed


def vacuum_superseded_roots(
    parent: str,
    prefix: str,
    marker: str,
    min_age_s: float = 0.0,
    dry_run: bool = False,
) -> dict:
    """Delete superseded artifact roots under ``parent`` whose names
    start with ``prefix``.

    A root is a candidate only if it is PUBLISHED (contains the
    family's ``marker`` subdir — e.g. ``buckets`` for the band index,
    ``codes`` for IVF-PQ, ``view`` for the join view); an unpublished
    directory is never touched (it is either someone's in-flight stage
    or not ours at all). A published root is deleted iff BOTH:

      - superseded: another published root CLAIMS it as parent (its
        ``_PARENT`` marker names this root) — derivation is recorded
        at publish time, never inferred from names, so a sibling like
        the IVF-PQ ``_base13`` build can never mark the live full
        index dead (round-10 ADVICE);
      - old enough: ``now - max(claiming child mtime) >= min_age_s`` —
        the grace window runs from the SUPERSESSION, not from the
        candidate's own (possibly ancient) publish time, so readers
        still draining the old root get the full window however old
        the root is (round-10 ADVICE).

    The NEWEST view of every chain — each leaf — is always kept (a
    leaf claims, but is never claimed), so a vacuum between an append
    and its compaction never removes the only serveable artifact.
    Returns a report dict; with ``dry_run`` nothing is removed but the
    report shows what would be."""
    now = time.time()
    try:
        names = sorted(os.listdir(parent))
    except FileNotFoundError:
        return {
            "deleted": [],
            "kept_live": [],
            "kept_young": [],
            "kept_unpublished": [],
            "unlinked_bytes": 0,
            "freed_bytes": 0,
            "dry_run": dry_run,
        }
    roots = [
        n
        for n in names
        if n.startswith(prefix) and os.path.isdir(os.path.join(parent, n))
    ]
    published = {n for n in roots if _published(os.path.join(parent, n), marker)}
    # parent name -> mtimes of the published roots claiming it
    claims: dict[str, list[float]] = {}
    for n in published:
        p = _claimed_parent(os.path.join(parent, n))
        if p and p != n:
            try:
                claims.setdefault(p, []).append(
                    os.stat(os.path.join(parent, n)).st_mtime
                )
            except OSError:
                continue  # claimant vanished: its claim dies with it
    report: dict = {
        "deleted": [],
        "kept_live": [],
        "kept_young": [],
        "kept_unpublished": sorted(set(roots) - published),
        "unlinked_bytes": 0,
        "freed_bytes": 0,
        "dry_run": dry_run,
    }
    for n in sorted(published):
        if n not in claims:
            report["kept_live"].append(n)
            continue
        full = os.path.join(parent, n)
        # time since supersession: the newest claiming child's publish
        age = now - max(claims[n])
        if age < min_age_s:
            report["kept_young"].append(n)
            continue
        unlinked, freed = _tree_sizes(full)
        if not dry_run:
            shutil.rmtree(full, ignore_errors=True)
        report["deleted"].append(n)
        report["unlinked_bytes"] += unlinked
        report["freed_bytes"] += freed
    return report


def vacuum_all_families(
    parent: str | None = None, min_age_s: float = 0.0, dry_run: bool = False
) -> dict[str, dict]:
    """Run retention over every artifact family in one sweep (the
    scheduled nightly job). ``parent`` defaults to ``engine_root()``,
    where the deterministic roots publish."""
    parent = parent or engine_root()
    return {
        fam: vacuum_superseded_roots(parent, prefix, marker, min_age_s, dry_run)
        for fam, (prefix, marker) in FAMILIES.items()
    }


def _fragmented(root: str, marker: str) -> bool:
    """True iff the root carries an append's footprint anywhere —
    which compaction removes:

      - any ``base-*.parquet`` file in ANY data subdir: the hardlink
        fold-in prefix both appenders stamp on every parent file
        (round-10 ADVICE: appends fragment the OTHER artifact tables
        too — minhash ``shingles``, IVF-PQ ``centroids``/``codebook``
        — so the probe must walk the whole root, not just the
        published-marker subdir);
      - more than one parquet file in a leaf dir under the MARKER
        subdir (the partitioned table compaction rewrites to one task
        → one file per partition).

    The other tables' compacted layouts are a bounded handful of
    files by contract (shingles repartition(4), centroids/codebook
    repartition(1)), so a bare file-count probe there would re-flag a
    freshly compacted root forever; the ``base-`` stamp is the
    append-specific signal that keeps the nightly job idempotent."""
    for dirpath, _dirs, files in os.walk(root):
        if any(f.startswith("base-") and f.endswith(".parquet") for f in files):
            return True
    base = os.path.join(root, marker)
    for dirpath, _dirs, files in os.walk(base):
        if sum(1 for f in files if f.endswith(".parquet")) > 1:
            return True
    return False


def nightly_maintenance(
    spark,
    parent: str | None = None,
    min_age_s: float = 0.0,
    dry_run: bool = False,
) -> dict:
    """The single scheduled entry point a deployment cron calls:
    COMPACT every fragmented leaf of the two index families, then
    VACUUM every family's superseded roots. Ordering matters — the
    fresh ``_compact`` root supersedes the fragmented chain it
    replaces, so the vacuum that follows reclaims the whole chain in
    the same sweep, and the grace window is the only tunable a
    deployment sets (readers mid-drain on a superseded root finish
    inside it).

    The join-view family is vacuum-only here: its "compaction" is the
    delta fold-in (`join_view_rebuild` / `stream_join_view_rebuild`),
    a data operation the IVM lanes schedule themselves, not a pure
    storage rewrite this job could apply blindly.

    Idempotent by construction: a compacted leaf is not fragmented, so
    the second run compacts nothing; vacuum with nothing superseded
    deletes nothing."""
    from minimapreduce_spark.operators.dedup import minhash_index_compact
    from minimapreduce_spark.operators.similarity import ivfpq_index_compact

    compactors = {
        "minhash_band_index": minhash_index_compact,
        "ivfpq_index": ivfpq_index_compact,
    }
    parent = parent or engine_root()
    compacted: dict[str, list[str]] = {}
    for fam, compactor in compactors.items():
        prefix, marker = FAMILIES[fam]
        try:
            names = sorted(os.listdir(parent))
        except FileNotFoundError:
            names = []
        published = [
            n
            for n in names
            if n.startswith(prefix)
            and _published(os.path.join(parent, n), marker)
        ]
        # leaf = published root no other published root claims as
        # parent (the vacuum rule's derivation-aware liveness)
        claimed = {
            _claimed_parent(os.path.join(parent, n)) for n in published
        } - {None}
        leaves = [n for n in published if n not in claimed]
        compacted[fam] = []
        for n in leaves:
            full = os.path.join(parent, n)
            if _fragmented(full, marker):
                if not dry_run:
                    compactor(spark, full)
                compacted[fam].append(n)
    return {
        "compacted": compacted,
        "vacuum": vacuum_all_families(parent, min_age_s, dry_run),
        "dry_run": dry_run,
    }
