"""One timed pass of the interleaved A/B/A bench comparison.

Runs the given queries once warm, then in N timed rounds (every query once
per round, in the given order) against the package tree rooted at --root,
and prints ONE JSON line: the min per query over the rounds, and
``codegen_compiles``, the Janino compilations the timed rounds made.
Timing in rounds rather than back-to-back makes each query run after the
others, so a cost that depends on the session's shared state (a generated
class evicted by another query's, say) shows up as it would in a real
rotation. bench.py alternates invocations
of THIS script between the working tree (A) and a git worktree of the
round-start commit (B) inside the same host-minutes window — the only
methodology that survives the measured multicore host-regime shifts
(SCALE.md round-12: JVM wall inflates ~50% across sessions while the
single-thread probe moves ~8%, so cross-session walls are not comparable).

The script file always comes from the CURRENT tree; only the measured
package is imported from --root (sys.path), so the reference tree does not
need to contain this file. Queries must exist in both trees — bench.py
passes headline names, stable since r01.

Usage: python tools/aba.py --root /path/to/tree --sf /root/testdata/sf0.1 \
           --cpus 32 --timed 2 q1_pricing_summary dedup_minhash_lsh ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="package tree to measure")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    ap.add_argument("--timed", type=int, default=2, help="timed rounds over all queries (min per query is reported)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    root = os.path.abspath(args.root)
    args.sf = os.path.abspath(args.sf)  # resolve BEFORE the chdir below
    sys.path.insert(0, root)
    # Workers must resolve the package from --root too: PySpark's local
    # daemon inherits cwd + PYTHONPATH from the driver process, and a
    # kernel that references a module-level helper would otherwise import
    # the WORKING tree's code inside the reference-tree pass, biasing the
    # A/B ratio toward 1.0 (r13 review).
    os.chdir(root)
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.session import get_session

    spark = get_session(app_name="aba-pass", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        specs[name].build(spark, args.sf).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    for name in args.queries:  # warm: JIT, parquet footers, codegen
        run(name)
    compiles_before = compilations.getCount()
    rounds = [
        {name: run(name) for name in args.queries} for _ in range(max(1, args.timed))
    ]
    codegen_compiles = compilations.getCount() - compiles_before
    timings = {
        name: round(min(r[name] for r in rounds), 3) for name in args.queries
    }
    print(
        json.dumps(
            {
                "root": os.path.abspath(args.root),
                "total": round(sum(timings.values()), 3),
                "queries": timings,
                "codegen_compiles": codegen_compiles,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
