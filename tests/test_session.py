"""Session factory defaults: what `harden_session` applies to a session it
did not build, and the generated-code cache `get_session` sizes."""

from __future__ import annotations

from bench import BENCH_QUERIES
from slr207_mapreduce_spark.session import SCALE_DEFAULTS, harden_session
from tests.conftest import SF_SMOKE


class _RecordingConf:
    def __init__(self, read_only: frozenset[str] = frozenset()):
        self.read_only = read_only
        self.sets: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key in self.read_only:
            raise RuntimeError(f"cannot modify {key}")
        self.sets[key] = value


class _StubSession:
    def __init__(self, conf: _RecordingConf):
        self.conf = conf


def test_harden_session_applies_runtime_defaults(monkeypatch):
    """Every runtime-settable default reaches the session, shuffle
    partitions included (resolved per call, so the env override holds).
    A stub conf records the sets so the shared session is not mutated."""
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "77")
    conf = _RecordingConf()
    spark = _StubSession(conf)
    assert harden_session(spark) is spark
    assert conf.sets == {
        "spark.sql.session.timeZone": SCALE_DEFAULTS["spark.sql.session.timeZone"],
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": "77",
    }


def test_harden_session_skips_read_only_keys():
    conf = _RecordingConf(read_only=frozenset({"spark.sql.adaptive.enabled"}))
    harden_session(_StubSession(conf))
    assert "spark.sql.adaptive.enabled" not in conf.sets
    assert "spark.sql.shuffle.partitions" in conf.sets


def test_headline_queries_do_not_recompile_on_second_pass(spark):
    """The generated-code cache holds the bench headline set's classes:
    running the 12 queries a second time in the same order compiles
    nothing. With Spark's default 100-entry cache the first pass's ~180
    classes evict each other and the second pass recompiles. Counted with
    Janino's compilation metric, so the check does not depend on the host."""
    from slr207_mapreduce_spark.plans.base import all_queries

    specs = all_queries()
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compilations.getCount()
        for name in BENCH_QUERIES:
            specs[name].build(spark, SF_SMOKE).write.mode("overwrite").format("noop").save()
        return compilations.getCount() - before

    one_pass()
    assert one_pass() == 0
