"""CLI — the reference's three binaries as one command.

The reference is driven as (README.MD "How to run"):

    mrmaster pg-*.txt            # distributed: master + N mrworker wc.so
    mrsequential wc.so pg-*.txt  # single-threaded oracle

Here both entry points are::

    python -m minimapreduce_spark wc OUT_DIR 'data/pg-*.txt'
    python -m minimapreduce_spark --sequential wc OUT_DIR data/a.txt ...

The app name replaces the reference's ``.so`` plugin selection
(main/mrworker.go:36-55); ``--n-reduce`` pins the reduce width that
the reference hardcodes as nReduce=10 (main/mrmaster.go:23); left out,
Spark sizes it from the input. Output is the reference's sink
format: ``"key value"`` lines, one part file per reduce partition
(mr/worker.go:159-174), or a single ``mr-out-0`` in sequential mode
(main/mrsequential.go:81).
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys

from minimapreduce_spark import mrapps
from minimapreduce_spark.mapreduce import (
    read_lines,
    run_job,
    run_job_sequential,
    write_text_output,
)

APPS = {
    "wc": (mrapps.wc_map, mrapps.wc_reduce),
    "indexer": (mrapps.indexer_map, mrapps.indexer_reduce),
    "nocrash": (mrapps.crash_map, mrapps.crash_reduce),
    "crash": (mrapps.crash_chaos_map, mrapps.crash_chaos_reduce),
}


def load_app(spec: str) -> tuple:
    """Resolve an app spec to (mapf, reducef).

    Mirrors the reference's runtime plugin contract — ``mrworker wc.so``
    loads an arbitrary user .so exporting ``Map`` and ``Reduce``
    (main/mrworker.go:36-55, mrsequential.go:93-110). Accepted forms:

    - a builtin name: ``wc`` | ``indexer`` | ``nocrash`` | ``crash``
    - ``path/to/module.py`` — loads the file, uses its ``Map``/``Reduce``
      (the exact names the Go plugin must export)
    - ``path/to/module.py:my_map:my_reduce`` — explicit function names

    The loaded module is registered with cloudpickle by value, so the
    user functions ship inside the task closures and executors never
    need the file on their filesystem — the same property the reference
    gets from workers dlopen-ing a shared .so path.
    """
    if spec in APPS:
        return APPS[spec]
    parts = spec.split(":")
    path, fn_names = parts[0], parts[1:]
    if not path.endswith(".py"):
        raise SystemExit(
            f"unknown app {spec!r}: not a builtin ({', '.join(sorted(APPS))}) "
            "and not a path/to/module.py[:mapf[:reducef]] spec"
        )
    if not os.path.exists(path):
        raise SystemExit(f"user app module not found: {path}")
    if len(fn_names) == 0:
        fn_names = ["Map", "Reduce"]  # the Go plugin's exported names
    if len(fn_names) != 2:
        raise SystemExit(f"app spec needs 0 or 2 function names, got {spec!r}")

    import importlib.util

    mod_name = "_mr_user_app_" + re.sub(r"\W", "_", os.path.basename(path)[:-3])
    ispec = importlib.util.spec_from_file_location(mod_name, path)
    mod = importlib.util.module_from_spec(ispec)
    sys.modules[mod_name] = mod
    ispec.loader.exec_module(mod)

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(mod)
    try:
        return getattr(mod, fn_names[0]), getattr(mod, fn_names[1])
    except AttributeError as e:
        raise SystemExit(f"user app {path} is missing a function: {e}")


def _read_files(patterns: list[str]) -> list[tuple[str, str]]:
    paths: list[str] = []
    for p in patterns:
        hits = sorted(glob.glob(p))
        if not hits and os.path.exists(p):
            hits = [p]
        paths.extend(hits)
    if not paths:
        raise SystemExit(f"no input files match {patterns}")
    out = []
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as f:
            out.append((os.path.basename(path), f.read()))
    return out


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(prog="python -m minimapreduce_spark", description=__doc__)
    ap.add_argument(
        "app",
        help=f"builtin app ({', '.join(sorted(APPS))}) or a user plugin "
        "path/to/module.py[:mapf[:reducef]] (defaults: Map, Reduce — "
        "the reference's exported plugin names)",
    )
    ap.add_argument("out_dir")
    ap.add_argument("inputs", nargs="+", help="input text files or globs")
    ap.add_argument(
        "--n-reduce",
        type=int,
        default=None,
        help="reduce partitions (default: Spark picks the width from the input)",
    )
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master override, e.g. local[4] or local[4,10] "
        "(N threads, maxFailures — the crash-recovery envelope)",
    )
    ap.add_argument(
        "--sequential",
        action="store_true",
        help="single-threaded oracle engine (mrsequential), no Spark",
    )
    ap.add_argument(
        "--source-mode",
        choices=["whole_files", "lines"],
        default="whole_files",
        help="whole_files = reference semantics (1 file = 1 split); "
        "lines = byte-scalable splits for large inputs",
    )
    args = ap.parse_args(argv)
    mapf, reducef = load_app(args.app)

    if args.sequential:
        rows = run_job_sequential(_read_files(args.inputs), mapf, reducef)
        os.makedirs(args.out_dir, exist_ok=True)
        with open(os.path.join(args.out_dir, "mr-out-0"), "w", encoding="utf-8") as f:
            for k, v in rows:
                f.write(f"{k} {v}\n")
        return 0

    if spark is None:
        from minimapreduce_spark.session import get_spark

        spark = get_spark(app_name=f"mr-{os.path.basename(args.app)}", master=args.master)
    source: object
    if args.source_mode == "whole_files":
        # materialize the file list driver-side so globs behave like the
        # reference CLI (one task per file) even for local paths
        source = _read_files(args.inputs)
    else:
        source = read_lines(spark, args.inputs)
    df = run_job(
        spark, source, mapf, reducef, n_reduce=args.n_reduce, source_mode=args.source_mode
    )
    write_text_output(df, args.out_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
