#!/usr/bin/env python
"""Dump .explain("formatted") for registry entries to plans/<round>/ files.

Usage:
    EXPLAIN_SUFFIX=after EXPLAIN_OUT=plans/r11 python tools/explain_dump.py \
        li_interval_overlap orders_percentile_disc ...

A name with a dot, ``<module>.<function>``, dumps a session-shared family
build instead of a registry entry: ``dedup.lsh_candidates`` calls
``skinnerdb_spark.operators.dedup.lsh_candidates(spark, sf_dir)``.

Run from a checkout of the commit whose plans you want (a worktree of the
previous round's close commit for the *_before.txt files, HEAD for *_after).
The formatted plan is the optimization-round evidence artifact: Exchange
count, join strategy, PushedFilters/ReadSchema, WholeStageCodegen spans and
any Python-boundary nodes are all visible in it.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import os
import sys


def main() -> None:
    names = sys.argv[1:]
    suffix = os.environ.get("EXPLAIN_SUFFIX", "after")
    outdir = os.environ.get("EXPLAIN_OUT", "plans/r11")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.session import get_spark

    spark = get_spark(app_name="explain-dump")
    specs = all_specs()
    for name in names:
        if "." in name:
            module, fn = name.split(".", 1)
            build = getattr(importlib.import_module(f"skinnerdb_spark.operators.{module}"), fn)
        elif name in specs:
            build = specs[name].spark
        else:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        df = build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
