"""Capture .explain("formatted") for registry queries into plans/<tag>/.

Usage: python tools/capture_plans.py <out_dir> [query ...]

Writes <out_dir>/<query>.txt with the formatted physical plan of each
query (default: the bench HEADLINE set), and prints one
``<query> <bench.plan_fingerprint>`` line per query on stdout, so a
before/after plan check is a diff of two captured outputs.
Streaming-drill queries execute eagerly at construction; their captured
plan is the returned frame's (memory-sink read + final-state selection),
same as what the bench's plan fingerprint hashes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402
from anomalyzer_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    names = tuple(sys.argv[2:]) or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"# wrote {name}", file=sys.stderr)
        print(name, bench.plan_fingerprint(df), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
