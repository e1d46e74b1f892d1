"""The benchmark's checker, run as a child process so that the benchmark
process holds only what the program under test needs: input generation,
DuckDB and the expected results all live here.

On start it generates the workload's inputs from the seed into
``<run dir>/data``, computes every query's DuckDB oracle with
``tools/check.py``'s ``duck_con`` and, with ``--baseline``, times the
reference's sequential WordCounter (``parity.wordcount.py_word_count``) on
the corpus. It prints one JSON line describing the inputs, then answers one
request per line of standard input until it closes:

    {"query": <name>, "path": <pickled DataFrame, or a written parquet directory>, "sink": <bool>}

with ``{"problems": [...]}`` from ``tools/check.py``'s ``compare``; a
result with the same rows as one that already passed is not compared
again. A pickled result is deleted once read.

Usage: python3 perfbench/oracle.py <workload> <seed> <run dir> [--tiny] [--baseline]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402


def load_checker():
    spec = importlib.util.spec_from_file_location("perfbench_check", common.CHECKER)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(df) -> tuple | None:
    """Columns, types, row count and an order-free hash of the rows, so
    that a result equal to one already checked needs no second compare;
    None when a column cannot be hashed."""
    import pandas as pd

    try:
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    except (TypeError, ValueError):
        return None
    return (tuple(df.columns), tuple(map(str, df.dtypes)), len(df), int(rows.sum(dtype="uint64")))


def reply(obj: dict) -> None:
    print(json.dumps(obj, default=str), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    ap.add_argument("run_dir")
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--baseline", action="store_true")
    args = ap.parse_args()
    common.require_repo()
    import pandas as pd
    import pyarrow.parquet as pq

    from slr207_mapreduce_spark.plans.base import all_queries
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    data_dir = os.path.join(args.run_dir, "data")
    t = time.perf_counter()
    inputs = wl.make_inputs(data_dir, args.seed, args.tiny)
    generate_s = time.perf_counter() - t

    t = time.perf_counter()
    checker = load_checker()
    specs = all_queries()
    con = checker.duck_con(data_dir)
    try:
        oracle = {q.name: con.execute(specs[q.name].oracle).df() for q in wl.queries}
    finally:
        con.close()
    oracles_s = time.perf_counter() - t

    baseline_s, reference_top = 0.0, None
    if args.baseline:
        from slr207_mapreduce_spark.parity.wordcount import py_word_count

        texts = pq.read_table(
            os.path.join(data_dir, "documents.parquet"), columns=["text"]
        ).column("text").to_pylist()
        t = time.perf_counter()
        reference_top = py_word_count(texts, k=20)
        baseline_s = time.perf_counter() - t

    reply({
        "inputs": inputs,
        "input_bytes": wl.input_bytes(data_dir),
        "generate_s": generate_s,
        "oracles_s": oracles_s,
        "baseline_s": baseline_s,
    })
    verified = {}  # query -> fingerprint of a result that matched its oracle
    for line in sys.stdin:
        req = json.loads(line)
        try:
            if req["sink"]:
                got = pq.read_table(req["path"]).to_pandas()
            else:
                got = pd.read_pickle(req["path"])
                os.remove(req["path"])
            key = fingerprint(got)
            if key is not None and verified.get(req["query"]) == key:
                problems = []  # the same rows as a result that passed
            else:
                problems = checker.compare(got, oracle[req["query"]])
                if req["query"] == "wordcount_topk" and reference_top is not None:
                    if list(zip(got["word"].tolist(), got["cnt"].tolist())) != reference_top:
                        problems.append("top-K differs from the sequential WordCounter")
                if not problems:
                    verified[req["query"]] = key
        except Exception as e:  # an unreadable result is a mismatch
            problems = [f"{type(e).__name__}: {e}"]
        reply({"problems": problems})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
