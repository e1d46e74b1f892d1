"""The repository's benchmark.

Drives the engine from outside through its public entry points
(``session.get_session``, the ``plans`` registry builders, the returned
DataFrame's actions and ``sources.sinks.write_table``) with one client in a
closed loop on ``local[4]``: the next query starts only when the previous
result is complete.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 10 --trace 0

A run starts the session, has the checker process (``oracle.py``) generate
its inputs from ``--seed`` into a fresh directory, makes one cold pass over
the workload's queries, its warm-up passes, and then steady passes for
``--seconds`` seconds (at least ``MIN_STEADY`` of them). Every result is
checked against its DuckDB oracle in the checker process, outside the
timed region. With
``--trace 0`` the last line of standard output is one JSON object with the
end-to-end metrics; ``--trace 1`` turns on Spark's event log, alternates
traced and untraced passes, and reports the per-layer metrics instead
(``query.<name>_s`` is 0 for a query the workload does not run). A full
report, including every span, goes to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

# Steady passes a run makes at the least, whatever ``--seconds`` says.
MIN_STEADY = 3

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "input_mb_per_s": "MB/s",
}


def _per_layer_units() -> dict[str, str]:
    from workloads import ALL_QUERIES

    units = {
        "session.start_s": "s",
        "registry.import_s": "s",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "catalyst.plan_s": "s",
        "catalyst.aqe_updates": "count",
        "exec.action_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.single_task_stages": "count",
        "exec.tasks": "count",
        "exec.launch_wait_s": "s",
        "exec.task_run_s": "s",
        "exec.task_cpu_s": "s",
        "exec.gc_s": "s",
        "exec.busy_frac": "fraction",
        "exec.task_skew": "ratio",
        "sources.input_bytes": "bytes",
        "sources.input_rows": "count",
        "shuffle.write_bytes": "bytes",
        "shuffle.read_bytes": "bytes",
        "shuffle.fetch_wait_s": "s",
        "shuffle.spill_bytes": "bytes",
        "collect.driver_s": "s",
        "collect.rows": "count",
        "sinks.write_s": "s",
        "sinks.bytes_written": "bytes",
        "sinks.files_written": "count",
        "cache.pinned_after": "count",
        "memory.peak_rss_mb": "MB",
        "oracle.errors": "count",
        "oracle.mismatches": "count",
        "baseline.sequential_wordcount_s": "s",
        "trace.overhead_frac": "fraction",
        "trace.unaccounted_frac": "fraction",
    }
    for name in ALL_QUERIES:
        units[f"query.{name}_s"] = "s"
    return units


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    return ap.parse_args(argv)


def effective_session(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master",
        "spark.sql.shuffle.partitions",
        "spark.driver.memory",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    info = {k: spark.conf.get(k, None) or conf.get(k, None) for k in keys}
    info["spark_version"] = spark.version
    info["java_version"] = spark._jvm.java.lang.System.getProperty("java.version")
    info["python_version"] = platform.python_version()
    return info


def dir_files(path: str) -> list[str]:
    out = []
    for base, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(base, f) for f in files if not f.startswith((".", "_"))
        )
    return out


class Oracle:
    """Client of the checker process (``oracle.py``), which generates the
    run's inputs and compares each result with its DuckDB oracle."""

    def __init__(self, args, run_dir: str):
        cmd = [sys.executable, os.path.join(HERE, "oracle.py"), args.workload, str(args.seed), run_dir]
        if args.tiny:
            cmd.append("--tiny")
        if args.trace and args.workload == "wordcount":
            cmd.append("--baseline")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.info = self._reply()

    def _reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"the oracle process exited with {self.proc.wait()}")
        return json.loads(line)

    def check(self, query: str, path: str, sink: bool) -> list[str]:
        self.proc.stdin.write(json.dumps({"query": query, "path": path, "sink": sink}) + "\n")
        self.proc.stdin.flush()
        return self._reply()["problems"]

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(60)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()


class Bench:
    def __init__(self, args, workload, run_dir: str):
        self.args = args
        self.wl = workload
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.out_dir = os.path.join(run_dir, "out")
        self.rng = random.Random(args.seed)
        self.passes: list[dict] = []
        self.errors = 0
        self.mismatches = 0
        self.attempted = 0
        self.phase_s: dict[str, float] = {}
        self.python_peak_mb = 0.0
        self.oracle = None

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        extra = common.prepare_env(self.run_dir)
        if self.args.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.log_dir = extra.get("spark.eventLog.dir", "")[len("file://"):]
        self.spark = common.start_session(extra)
        self.session_start_s = common.process_age_s()
        t = time.perf_counter()
        from slr207_mapreduce_spark.plans.base import all_queries

        self.specs = all_queries()
        self.registry_import_s = time.perf_counter() - t
        self.setup_s = common.process_age_s()
        self.sc = self.spark.sparkContext

        from slr207_mapreduce_spark.sources.sinks import write_table
        from spans import Tracer

        self.write_table = write_table
        self.tracer = Tracer(self.sc, enabled=False)
        self.session_info = effective_session(self.spark)
        self.oracle = Oracle(self.args, self.run_dir)
        info = self.oracle.info
        self.inputs = info["inputs"]
        self.input_bytes = info["input_bytes"]
        self.baseline_s = info["baseline_s"]
        self.phase_s.update(generate=info["generate_s"], oracles=info["oracles_s"])

    # -- passes -----------------------------------------------------------
    def order(self) -> list:
        qs = list(self.wl.queries)
        if self.wl.shuffled:
            self.rng.shuffle(qs)
        return qs

    def run_query(self, q) -> dict:
        tr = self.tracer
        qid = tr.new_query(q.name)
        rec = {"query": q.name, "qid": qid, "sink": q.sink, "error": None, "result": None}
        with tr.span("query", qid) as top:
            top.attrs["query"] = q.name
            t = time.perf_counter()
            try:
                with tr.span("plans.build", qid, qid):
                    df = self.specs[q.name].build(self.spark, self.data_dir)
                if q.sink:
                    with tr.span("sinks.write", qid, qid):
                        self.write_table(df, os.path.join(self.out_dir, q.name), "parquet")
                else:
                    if tr.enabled:
                        with tr.span("catalyst.plan", qid, qid):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.action", qid, qid):
                        rec["result"] = df.toPandas()
            except Exception:  # a failed query is counted, never fatal
                rec["error"] = traceback.format_exc()
            rec["latency_s"] = time.perf_counter() - t
        rec["pinned_after"] = self.sc._jsc.getPersistentRDDs().size()
        return rec

    def run_pass(self, kind: str) -> None:
        self.tracer.enabled = kind == "traced"
        n_spans = len(self.tracer.spans)
        t = time.perf_counter()
        recs = [self.run_query(q) for q in self.order()]
        wall = time.perf_counter() - t
        self.tracer.enabled = False
        # The checks below are the benchmark's own work: read this
        # process's peak before them and restart it after them.
        self.python_peak_mb = max(self.python_peak_mb, common.peak_rss_mb([os.getpid()]))
        t = time.perf_counter()
        for rec in recs:
            self.check(rec)
        gc.collect()
        common.reset_peak_rss()
        self.phase_s["checks"] = self.phase_s.get("checks", 0.0) + time.perf_counter() - t
        self.passes.append(
            {"kind": kind, "wall_s": wall, "queries": recs, "spans": (n_spans, len(self.tracer.spans))}
        )

    def check(self, rec: dict) -> None:
        """Hand one result to the oracle process; count an error or a
        mismatch."""
        self.attempted += 1
        rec["rows"] = 0
        if rec["error"] is not None:
            self.errors += 1
            print(f"perfbench: {rec['query']} raised:\n{rec['error']}", file=sys.stderr)
            return
        if rec["sink"]:
            path = os.path.join(self.out_dir, rec["query"])
            files = dir_files(path)
            rec["files_written"] = len(files)
            rec["bytes_written"] = sum(os.path.getsize(f) for f in files)
        else:
            got = rec.pop("result")
            rec["rows"] = len(got)
            path = os.path.join(self.run_dir, f"{rec['qid']}.pkl")
            got.to_pickle(path)
            del got
        problems = self.oracle.check(rec["query"], path, rec["sink"])
        if problems:
            self.mismatches += 1
            print(f"perfbench: {rec['query']} mismatch: {problems[:3]}", file=sys.stderr)

    def measure(self) -> None:
        """One cold pass, the workload's warm-up passes that no metric
        uses (the JIT is still compiling through them), then steady passes
        for ``--seconds`` and at least ``MIN_STEADY`` of them, so that each
        query's median latency drops a pass that host noise slowed; a
        traced run alternates traced and untraced ones."""
        steal0, t0 = common.steal_ticks(), time.perf_counter()
        self.run_pass("cold")
        for _ in range(self.wl.warmup_passes):
            self.run_pass("warm")
        kinds = ("traced", "untraced") if self.args.trace else ("untraced",)
        t = time.perf_counter()
        while True:
            for kind in kinds:
                self.run_pass(kind)
            if (time.perf_counter() - t >= self.args.seconds
                    and len(self.steady()) >= MIN_STEADY):
                break
        self.rss_mb = {
            "python": self.python_peak_mb,
            "jvm": common.peak_rss_mb([common.jvm_pid(self.spark)]),
        }
        self.peak_rss_mb = sum(self.rss_mb.values())
        self.steal_frac = (common.steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (
            (time.perf_counter() - t0) * (os.cpu_count() or 1)
        )
        self.pinned_after = self.passes[-1]["queries"][-1]["pinned_after"]

    def stop(self) -> None:
        if self.oracle is not None:
            self.oracle.close()
            self.oracle = None
        if getattr(self, "spark", None) is not None:
            common.stop_session(self.spark)
            self.spark = None

    # -- metrics ----------------------------------------------------------
    def steady(self, kind: str = "untraced") -> list[dict]:
        return [p for p in self.passes if p["kind"] == kind]

    def query_latencies(self, name: str) -> list[float]:
        return [r["latency_s"] for p in self.steady() for r in p["queries"] if r["query"] == name]

    def end_to_end(self) -> dict:
        # Each query's median latency over the steady passes, so that a
        # burst of host noise in one pass drops out; a steady pass is their
        # sum, and the latency quantiles are taken across them.
        medians = [statistics.median(self.query_latencies(q.name)) for q in self.wl.queries]
        pass_s = sum(medians)
        deciles = statistics.quantiles(medians, n=10, method="inclusive")
        return {
            "setup_s": self.setup_s,
            "first_pass_s": self.passes[0]["wall_s"],
            "pass_s": pass_s,
            "query_p50_s": deciles[4],
            "query_p90_s": deciles[8],
            "input_mb_per_s": self.input_bytes / 1e6 / pass_s,
        }

    def per_layer(self) -> tuple[dict, list]:
        from spans import layer_metrics, read_event_log
        from workloads import ALL_QUERIES

        events = read_event_log(self.log_dir)
        per_pass = []
        details = []
        for p in self.steady("traced"):
            lo, hi = p["spans"]
            lm = layer_metrics(self.tracer.spans[lo:hi], events, common.CORES)
            m = lm["metrics"]
            sinks = [r for r in p["queries"] if r["sink"]]
            m["sinks.bytes_written"] = sum(r.get("bytes_written", 0) for r in sinks)
            m["sinks.files_written"] = sum(r.get("files_written", 0) for r in sinks)
            m["collect.rows"] = sum(r["rows"] for r in p["queries"])
            per_pass.append(m)
            details.append(lm["per_query"])
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        untraced = statistics.median(p["wall_s"] for p in self.steady())
        traced = statistics.median(p["wall_s"] for p in self.steady("traced"))
        out.update({
            "session.start_s": self.session_start_s,
            "registry.import_s": self.registry_import_s,
            "cache.pinned_after": self.pinned_after,
            "memory.peak_rss_mb": self.peak_rss_mb,
            "oracle.errors": self.errors,
            "oracle.mismatches": self.mismatches,
            "baseline.sequential_wordcount_s": self.baseline_s,
            "trace.overhead_frac": traced / untraced - 1.0,
        })
        for name in ALL_QUERIES:
            lat = self.query_latencies(name)
            out[f"query.{name}_s"] = statistics.median(lat) if lat else 0.0
        return out, details

    def report(self) -> dict:
        return {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "session": self.session_info,
            "inputs": self.inputs,
            "input_bytes_per_pass": self.input_bytes,
            "phase_s": self.phase_s,
            "peak_rss_mb": self.rss_mb,
            "host_steal_frac": self.steal_frac,
            "passes": [
                {
                    "kind": p["kind"],
                    "wall_s": p["wall_s"],
                    "queries": [
                        {k: r.get(k) for k in ("query", "qid", "latency_s", "rows", "pinned_after",
                                                "bytes_written", "error")}
                        for r in p["queries"]
                    ],
                }
                for p in self.passes
            ],
        }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    common.require_repo()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(
        HERE, ".work", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    try:
        bench = Bench(args, WORKLOADS[args.workload], run_dir)
        try:
            bench.setup()
            bench.measure()
        finally:
            bench.stop()
        report = bench.report()
        if args.trace:
            metrics, details = bench.per_layer()
            units = _per_layer_units()
            from spans import spans_json

            report["per_query_layers"] = details
            report["spans"] = spans_json(bench.tracer.spans)
        else:
            metrics = bench.end_to_end()
            units = END_TO_END
        report["metrics"] = metrics
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = bench.errors + bench.mismatches
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for name, unit in units.items():
        print(f"perfbench: {name} = {metrics[name]:.6g} {unit}", file=sys.stderr)
    print(f"perfbench: failed_frac = {failed / bench.attempted:.6g} ({failed}/{bench.attempted})",
          file=sys.stderr)
    walls = ", ".join(f"{p['kind']} {p['wall_s']:.3f}" for p in bench.passes)
    print(f"perfbench: pass walls (s) = {walls}; pinned RDDs after the last query = "
          f"{bench.pinned_after}; report in {path}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
