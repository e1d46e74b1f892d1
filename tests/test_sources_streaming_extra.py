"""Coverage for the remaining source/sink rows: text corpus scan (reference
O1), rate source smoke, foreachBatch sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_text_corpus_scan_wordcount(spark, tmp_path):
    """Reference O1 end-to-end on an actual text FILE (one row per line),
    cross-checked against the pure-Python oracle."""
    from slr207_mapreduce_spark.parity.wordcount import py_word_count, word_count_topk
    from slr207_mapreduce_spark.sources.tables import read_text_corpus

    lines = [
        "home cook steal",
        "fairy dance pop",
        "home home cook!pop",
        "The thé 123 a-b",
    ]
    p = tmp_path / "corpus.txt"
    p.write_text("\n".join(lines))
    df = read_text_corpus(spark, str(p))
    assert df.columns == ["value"]
    got = [(r["word"], r["cnt"]) for r in word_count_topk(df, k=20).collect()]
    assert got == py_word_count(lines, k=20)


def test_rate_source_smoke(spark):
    """Rate source: the built-in synthetic stream (SURVEY §7.2 phase 5)."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 15
        while time.time() < deadline and spark.table("rate_smoke").count() == 0:
            time.sleep(0.3)
        assert spark.table("rate_smoke").count() > 0
    finally:
        q.stop()


def _write_events_src(spark, path, n):
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    load_table(spark, "events", SF_SMOKE).orderBy("ts").limit(n).coalesce(
        1
    ).write.parquet(str(path))
    return str(path)


def test_checkpointed_file_sink_exactly_once(spark, tmp_path):
    """write_stream: checkpointed parquet sink; restarting the query from
    the same checkpoint must not duplicate rows (exactly-once files)."""
    from slr207_mapreduce_spark.streaming.ops import read_events_stream, write_stream

    src = _write_events_src(spark, tmp_path / "src", 80)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for _ in range(2):  # second run restarts from checkpoint: no new data
        q = write_stream(
            read_events_stream(spark, src, max_files_per_trigger=1).select(
                "event_id", "ts", "user_id"
            ),
            out,
            ckpt,
        )
        try:
            # write_stream uses the production tail-follow trigger (never
            # self-terminates); drain the initial batches then stop
            q.processAllAvailable()
        finally:
            q.stop()
    assert spark.read.parquet(out).count() == 80


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static join: every streamed event picks up its user's static
    attribute; result equals the batch join."""
    from pyspark.sql import functions as F2

    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_static_enrich,
    )

    src = _write_events_src(spark, tmp_path / "src_enrich", 100)
    dim = spark.createDataFrame(
        [(i, f"segment_{i % 3}") for i in range(50)], ["user_id", "segment"]
    )
    out = run_to_memory(
        stream_static_enrich(
            read_events_stream(spark, src, max_files_per_trigger=1), dim, "user_id"
        ).select("event_id", "user_id", "segment"),
        "t_enrich",
    )
    got = {r["event_id"]: r["segment"] for r in out.collect()}
    batch = spark.read.parquet(src).join(dim, "user_id", "left")
    want = {r["event_id"]: r["segment"] for r in batch.collect()}
    assert got == want and len(got) == 100


def test_foreach_batch_sink(spark, tmp_path):
    """foreachBatch: arbitrary batch-DataFrame logic per micro-batch (the
    escape hatch for sinks Spark lacks natively)."""
    from slr207_mapreduce_spark.streaming.ops import read_events_stream

    src = _write_events_src(spark, tmp_path / "src_fb", 60)
    out_dir = str(tmp_path / "out")
    seen_batches = []

    def handle(batch_df, batch_id):
        seen_batches.append(batch_id)
        batch_df.groupBy("event_type").count().write.mode("append").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    q = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert seen_batches, "foreachBatch never invoked"
    total = spark.read.parquet(os.path.join(out_dir, "*")).agg(
        F.sum("count")
    ).collect()[0][0]
    assert total == 60


# Synthetic split files in the reference's fixture layout (split{i}.txt,
# French lorem with accents, digits and punctuation); an empty interior
# line and a file without a trailing newline exercise the line splitting.
_SPLIT_FIXTURES = {
    "split0.txt": "Lorem ipsum dolor sit amet, été à la plage.\nDeux 45 1960\n",
    "split1.txt": "Ut enim ad minim veniam\n\nquis nostrud (exercitation) l'ullamco\n",
    "split2.txt": "Duis aute irure° dolor; in reprehenderit!",
}


def test_textsplits_python_datasource_matches_read_text(spark, tmp_path):
    """The custom Python DataSource reads split files with identical content
    to spark.read.text, plus provenance columns; one input partition per
    split file (the reference's distribution unit)."""
    from slr207_mapreduce_spark.sources import split_source

    split_dir = str(tmp_path / "little_splits")
    os.mkdir(split_dir)
    for name, body in _SPLIT_FIXTURES.items():
        with open(os.path.join(split_dir, name), "w", encoding="utf-8") as fh:
            fh.write(body)
    split_source.register(spark)
    df = spark.read.format("textsplits").option("path", split_dir).load()
    rows = df.collect()

    native = spark.read.text(split_dir).collect()
    assert sorted(r["value"] for r in rows) == sorted(r["value"] for r in native)
    # provenance: every fixture file is represented, line_no restarts per file
    files = {r["split_file"] for r in rows}
    assert files == {f for f in os.listdir(split_dir) if f.endswith(".txt")}
    assert df.where(F.col("line_no") == 0).count() == len(files)
    assert df.rdd.getNumPartitions() == len(files)


def test_textsplits_writer_roundtrip_and_commit_protocol(spark, tmp_path):
    """Writer half of the split contract (reference O2,
    SimpleClient.java:100-149): N partitions -> split{0..N-1}.txt via
    temp-file + driver-rename commit. Round-trip through the reader must
    preserve the line multiset; no .inprogress temps survive commit."""
    from slr207_mapreduce_spark.sources import split_source

    split_source.register(spark)
    out = str(tmp_path / "splits_out")
    lines = [f"line {i} body {i * i}" for i in range(97)]
    df = spark.createDataFrame([(l,) for l in lines], "value string").repartition(4)
    df.write.format("textsplits").option("path", out).mode("overwrite").save()

    names = sorted(os.listdir(out))
    assert names == [f"split{i}.txt" for i in range(4)]
    back = spark.read.format("textsplits").option("path", out).load()
    assert sorted(r["value"] for r in back.collect()) == sorted(lines)

    # overwrite replaces prior splits entirely (fewer partitions => fewer files)
    df2 = spark.createDataFrame([("only",)], "value string").repartition(1)
    df2.write.format("textsplits").option("path", out).mode("overwrite").save()
    assert sorted(os.listdir(out)) == ["split0.txt"]
    assert [r["value"] for r in spark.read.format("textsplits").option("path", out).load().collect()] == ["only"]


def test_observation_metrics_piggyback_on_action(spark):
    """df.observe(Observation, ...) collects aggregate metrics DURING the
    main action — no second scan. The operational counterpart of the
    reference's per-worker println counters (ListenerReducer.java:111)."""
    from pyspark.sql import Observation
    from slr207_mapreduce_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    li = load_table(spark, "lineitem", SF_SMOKE)
    obs = Observation("scan_stats")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty_sum"),
    )
    n = observed.where(F.col("l_quantity") > 0).count()
    got = obs.get
    assert got["rows_seen"] == li.count()
    assert n <= got["rows_seen"]
    assert float(got["qty_sum"]) > 0


def test_textsplits_streaming_source_picks_up_new_files(spark, tmp_path):
    """The textsplits source also streams: files landing in the split
    directory become the next microbatch (offset = sorted-position in the
    listing), so the reference's static split ingestion generalizes to a
    corpus drop-box. Batch 1 sees the initial files; a file added later
    arrives exactly once in a subsequent batch."""
    import shutil

    from slr207_mapreduce_spark.sources import split_source

    src = tmp_path / "drops"
    src.mkdir()
    (src / "split0.txt").write_text("alpha\nbeta\n")
    (src / "split1.txt").write_text("gamma\n")

    split_source.register(spark)
    stream = (
        spark.readStream.format("textsplits").option("path", str(src)).load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("splits_stream")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("SELECT * FROM splits_stream").collect()
        assert sorted(r.value for r in first) == ["alpha", "beta", "gamma"]

        (src / "split2.txt").write_text("delta\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM splits_stream").collect()
        assert sorted(r.value for r in rows) == ["alpha", "beta", "delta", "gamma"]
        assert {r.split_file for r in rows} == {
            "split0.txt",
            "split1.txt",
            "split2.txt",
        }
        # line_no provenance survives the streaming path
        assert {(r.split_file, r.line_no) for r in rows if r.split_file == "split0.txt"} == {
            ("split0.txt", 0),
            ("split0.txt", 1),
        }
    finally:
        q.stop()


def test_textsplits_commit_is_rename_first_crash_safe(tmp_path, monkeypatch):
    """Crash-safety pin for the split publish: commit() renames new splits
    into place FIRST and deletes stale extras LAST, so a crash mid-commit
    leaves a readable old/new mix — never a deleted-but-not-replaced
    dataset (the old delete-before-rename ordering lost every previous
    split if the process died between the two loops)."""
    import os

    from slr207_mapreduce_spark.sources.split_source import (
        TextSplitsWriter,
        _SplitCommit,
    )

    d = str(tmp_path / "pub")
    os.makedirs(d)
    for i in range(3):  # previously-published dataset
        with open(os.path.join(d, f"split{i}.txt"), "w") as f:
            f.write(f"old {i}\n")
    # two new temp splits, as write() tasks would leave them
    msgs = []
    for i in range(2):
        tmp = f".inprogress-{i}-deadbeef"
        with open(os.path.join(d, tmp), "w") as f:
            f.write(f"new {i}\n")
        msgs.append(_SplitCommit(tmp_name=tmp, final_name=f"split{i}.txt", lines=1))

    w = TextSplitsWriter({"path": d}, overwrite=True)

    # simulate a crash after the FIRST rename
    real_replace = os.replace
    calls = {"n": 0}

    def crashing_replace(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash mid-commit")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crashing_replace)
    try:
        w.commit(msgs)
    except OSError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # every split index still has a readable file: 0 is new, 1 and 2 old
    txt = {f: open(os.path.join(d, f)).read() for f in os.listdir(d) if f.endswith(".txt")}
    assert txt["split0.txt"] == "new 0\n"
    assert txt["split1.txt"] == "old 1\n"
    assert txt["split2.txt"] == "old 2\n"

    # a clean retry completes the publish and removes the stale extra
    with open(os.path.join(d, msgs[1].tmp_name), "w") as f:
        f.write("new 1\n")
    w.commit(msgs[1:])
    # retry only re-publishes the remaining message; the stale split2 from
    # the previous generation survives THIS partial call because it is not
    # in the retry's message set -- a full-commit retry removes it:
    with open(os.path.join(d, msgs[0].tmp_name), "w") as f:
        f.write("new 0\n")
    with open(os.path.join(d, msgs[1].tmp_name), "w") as f:
        f.write("new 1\n")
    w.commit(msgs)
    assert sorted(f for f in os.listdir(d) if f.endswith(".txt")) == [
        "split0.txt",
        "split1.txt",
    ]


def test_load_table_repins_utc_on_cache_hit(spark):
    """A cached table handle must not trust that the session timezone is
    still UTC: load_table re-pins it on every call, so a caller that
    flipped the zone between two loads cannot skew timestamp semantics."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    load_table(spark, "events", SF_SMOKE)  # populate cache
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(spark, "events", SF_SMOKE)  # cache hit
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
