#!/usr/bin/env python3
"""Dump .explain('formatted') for every declared query to plans/<round>/.

Expression ids (``#123``) and exchange plan ids (``plan_id=45``) depend on
how many expressions and plans the session built before, so their numbers
are dropped: a before/after diff then shows only operator and expression
changes.

Usage: python tools/capture_plans.py <suffix: before|after> [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

from graft import QUERIES  # noqa: E402
from graft.session import build_session  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = sys.argv[3] if len(sys.argv) > 3 else "plans/r13"
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app="spark-graft-plans")
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = f"{out_dir}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(re.sub(r"(#|plan_id=)\d+", r"\1", plan))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
