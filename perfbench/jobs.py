"""Workloads, their inputs, and the oracles their outputs are checked
against.

A job is a name, a ``build`` that returns the result DataFrame (the
engine's own entry point: a registry query fn or ``mapreduce.run_job``)
and an ``oracle`` that gives the expected rows independently of Spark:
the registry's oracle SQL run by DuckDB over the same fixture, or the
engine's single-threaded ``run_job_sequential`` over the same corpus.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = {"sf0.01": os.path.join(HERE, "fixture", "sf0.01"),
            "sf0.001": os.path.join(HERE, "fixture", "sf0.001")}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# The write path: a watermarked exactly-once stream drain (state-store
# commits), a CDC upsert that publishes its state table by atomic swap
# after every micro-batch, and an incremental view fold-in published by
# atomic rename.
INGEST_MAINTAIN = [
    "stream_exactly_once_watermarked",
    "stream_upsert_latest_state",
    "incremental_join_view_rebuild",
]

# (app, source mode) of the reference job model.
MR_JOBS = [("wc", "whole_files"), ("wc", "lines"),
           ("indexer", "whole_files"), ("indexer", "lines")]


def value_hash(pdf) -> str:
    """Order-insensitive hash of a frame's values."""
    pdf = pdf[sorted(pdf.columns)]
    return hashlib.sha256("\n".join(sorted(
        ",".join(repr(v) for v in r) for r in pdf.itertuples(index=False)
    )).encode()).hexdigest()[:16]


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- inputs


def stage_fixture(scale: str, dest: str) -> str:
    """Copy the fixture tables into the run's private root, so nothing
    the engine derives from them can land in the tracked tree."""
    os.makedirs(dest)
    for t in TABLES:
        shutil.copyfile(os.path.join(FIXTURES[scale], f"{t}.parquet"),
                        os.path.join(dest, f"{t}.parquet"))
    return dest


# The mr_jobs corpus stands in for the reference's Project Gutenberg
# books (``pg-*.txt``, about eight of them, FIXTURES.md §1). Each
# parameter has a source; METRICS.md lists them.
ZIPF_S = 1.0       # rank-frequency slope of natural text (token_histogram_zipf)
WORD_LEN = 5       # mean English token length, 4.79 letters (Norvig 2012)
LINE_COLS = 70     # Project Gutenberg plain text is hard-wrapped near 70 columns
# Zipf pool whose expected number of distinct words in a 160k-token
# corpus equals Heaps' law, 44 * T**0.49 = 15.6k (Manning et al. 2008,
# §5.1.1): solve sum(1 - (1 - p_i)**T) = 44 * T**0.49 for the pool size.
VOCAB = 19_738


def make_corpus(dest: str, seed: int, n_files: int, words_per_file: int) -> list[str]:
    """``pg-<i>.txt`` files of Zipf-distributed words: a few hot keys
    dominate the shuffle, a long tail of rare ones fills the key space.
    Every word has WORD_LEN letters, so file sizes do not depend on the
    seed; the seed picks the words and which of them are hot."""
    import numpy as np

    rng = np.random.default_rng(seed)
    codes = rng.integers(0, 26, (VOCAB + 1000, WORD_LEN), dtype=np.uint8) + ord("a")
    words = codes.view(f"S{WORD_LEN}").ravel()
    _, first = np.unique(words, return_index=True)
    vocab = words[np.sort(first)[:VOCAB]].astype(str)
    weights = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    weights /= weights.sum()
    per_line = (LINE_COLS + 1) // (WORD_LEN + 1)
    os.makedirs(dest)
    paths = []
    for i in range(n_files):
        ids = rng.choice(VOCAB, size=words_per_file, p=weights)
        text = "\n".join(" ".join(vocab[ids[k:k + per_line]])
                          for k in range(0, words_per_file, per_line)) + "\n"
        path = os.path.join(dest, f"pg-{i}.txt")
        with open(path, "w") as f:
            f.write(text)
        paths.append(path)
    return paths


# ------------------------------------------------------------------ jobs


@dataclass
class Job:
    name: str
    build: object          # (spark) -> DataFrame
    oracle: object         # () -> pandas DataFrame of the expected rows
    layer: str | None = "operators"  # span around build; None if build is a traced call
    meta: dict = field(default_factory=dict)


def registry_jobs(names: list[str], sf_dir: str) -> list[Job]:
    from minimapreduce_spark import queries as q

    @functools.cache
    def duck():
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con

    def make(name):
        fn = q.REGISTRY[name].fn
        sql = q.REGISTRY[name].oracle
        return Job(name, lambda spark: fn(spark, sf_dir), lambda: duck().execute(sql).df())

    return [make(n) for n in names]


def mr_jobs(corpus: list[str]) -> list[Job]:
    import pandas as pd

    from minimapreduce_spark import mapreduce, mrapps

    contents = {}
    for p in corpus:
        with open(p) as f:
            contents[p] = f.read()
    pattern = os.path.join(os.path.dirname(corpus[0]), "pg-*.txt")

    def sequential_input(mode):
        # the record names run_job hands mapf: wholeTextFiles URIs for
        # whole files, the scheme-stripped input path for line splits
        if mode == "whole_files":
            return [(f"file:{p}", c) for p, c in contents.items()]
        return [(p, line) for p, c in contents.items() for line in c.split("\n")]

    def make(app, mode):
        mapf, reducef = getattr(mrapps, f"{app}_map"), getattr(mrapps, f"{app}_reduce")
        job = Job(f"mr_{app}_{mode}", None, None, layer=None)

        def build(spark):
            # looked up at call time so a traced run sees the wrapped run_job
            return mapreduce.run_job(spark, pattern, mapf, reducef, source_mode=mode)

        def oracle():
            src = sequential_input(mode)
            t0 = time.perf_counter()
            rows = mapreduce.run_job_sequential(src, mapf, reducef)
            job.meta["sequential_s"] = time.perf_counter() - t0
            job.meta["map_pairs"] = sum(len(mapf(n, c)) for n, c in src)
            job.meta["reduce_keys"] = len(rows)
            return pd.DataFrame(rows, columns=["key", "value"])

        job.build, job.oracle = build, oracle
        return job

    return [make(app, mode) for app, mode in MR_JOBS]


# ------------------------------------------------------------- workloads


@dataclass
class Workload:
    queries: list[str]   # registry queries; none means the MR jobs
    pass_s: float        # nominal pass time; sets the pass count
    warmup: int          # untimed passes; the first collects the outputs


# Nominal pass times are measured pass times at sf0.01 on 4 shared
# vCPUs; they only set the pass count. After the collecting pass the
# streaming and Catalyst jobs still run 20-30 % slow while codegen and
# JIT settle, so they get a second warm-up pass. The MR jobs' first
# timed pass is 10-20 % slow, and their collecting pass is the
# costliest of all (Python workers start cold), so they get none.
WORKLOADS = {
    "mr_jobs": Workload([], 6.6, 1),
    "ingest_maintain": Workload(INGEST_MAINTAIN, 6.7, 2),
}


def jobs_for(workload: str, sf_dir: str, corpus: list[str]) -> list[Job]:
    queries = WORKLOADS[workload].queries
    return registry_jobs(queries, sf_dir) if queries else mr_jobs(corpus)


def prebuild(workload: str, spark, sf_dir: str) -> None:
    """The base join view the write path's rebuild folds into."""
    if workload == "ingest_maintain":
        from minimapreduce_spark.operators.relational import join_view_build

        join_view_build(spark, sf_dir)
