"""Structured Streaming flavor: drain a snapshot dir via availableNow,
verify counts match batch mode and that a restart doesn't duplicate."""

import os

import pytest
from pyspark.sql import functions as F

from logpipe_spark.ledger import write_snapshots
from logpipe_spark.streaming.stream import read_stream_sinks, run_stream


@pytest.fixture(scope="module")
def stream_env(spark, transcripts_pdf, dim_df, rules, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=3)
    res = run_stream(spark, src, out, dim_df, rules)
    assert res["batches"] >= 1
    return src, out


def test_stream_counts_match_oracle(spark, stream_env, golden):
    _, out = stream_env
    got = {
        r["sink"]: r["n"]
        for r in read_stream_sinks(spark, out)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(golden["sink_counts"])


def test_stream_restart_no_duplicates(spark, stream_env, dim_df, rules, golden):
    """Re-running the drained stream processes nothing new (checkpoint holds
    the committed file offsets — logpipe's trace_offset, the Spark way)."""
    src, out = stream_env
    res = run_stream(spark, src, out, dim_df, rules)
    assert res["batches"] == 0
    total = read_stream_sinks(spark, out).count()
    assert total == sum(golden["sink_counts"].values())


def test_stream_picks_up_new_files(spark, stream_env, dim_df, rules, transcripts_pdf):
    """New snapshot file lands in the source dir → next trigger processes
    exactly those rows (the inotify-create analogue)."""
    src, out = stream_env
    before = read_stream_sinks(spark, out).count()
    extra = transcripts_pdf.head(500).copy()
    extra["conv_id"] = "convNEW" + extra["conv_id"]
    # new data arrives as a new snapshot partition (immutable-file model;
    # a bare file at the source root would break partition discovery)
    late_dir = os.path.join(src, "snapshot=99")
    os.makedirs(late_dir, exist_ok=True)
    extra.to_parquet(os.path.join(late_dir, "part-0.parquet"), index=False)
    res = run_stream(spark, src, out, dim_df, rules)
    assert res["batches"] == 1
    after = read_stream_sinks(spark, out).count()
    assert after > before


def test_stream_lineage_conservation(spark, stream_env, golden, transcripts_pdf):
    """Per-batch observe() counters obey the same conservation law as batch
    mode: sum(rows_in) == len(input) == sum(routed) + sum(dropped)."""
    _, out = stream_env
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    totals = lin.filter(F.col("partition_id") == -1)
    agg = totals.agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("routed").alias("routed"),
        F.sum("dropped").alias("dropped"),
    ).first()
    # stream_env may have been extended by the new-files test; lower-bound
    # on the original corpus, exact conservation always
    assert agg["rows_in"] >= len(transcripts_pdf)
    assert agg["routed"] + agg["dropped"] == agg["rows_in"]
    assert agg["dropped"] >= golden["dropped"]
    # per-file granularity mirrors batch mode: per-batch sums of the
    # partition rows equal the observe() totals
    per_file = lin.filter(F.col("partition_id") >= 0)
    per_batch = {
        r["batch_id"]: r["s"]
        for r in per_file.groupBy("batch_id").agg(F.sum("routed").alias("s")).collect()
    }
    tot_batch = {
        r["batch_id"]: r["routed"]
        for r in totals.filter(F.col("routed") > 0).collect()
    }
    assert per_batch == tot_batch
    # the per-file rows carry the sink parsed from each output file's
    # directory; per sink they cover at least the original corpus
    per_sink = {
        r["sink"]: r["s"]
        for r in per_file.groupBy("sink").agg(F.sum("routed").alias("s")).collect()
    }
    for sink, n in golden["sink_counts"].items():
        assert per_sink.get(sink, 0) >= n, sink


def test_run_stream_rejects_uri_out_dir(spark, dim_df, rules, tmp_path):
    """A URI out_dir is refused before the query starts: no checkpoint
    (and no data) is created under the URI's path."""
    src = tmp_path / "src"
    src.mkdir()
    out = f"file://{tmp_path}/out"
    with pytest.raises(ValueError, match="POSIX"):
        run_stream(spark, str(src), out, dim_df, rules)
    assert not (tmp_path / "out" / "_checkpoint").exists()
    assert not (tmp_path / "out").exists()


def test_windowed_watermark_stream(spark, transcripts_pdf, tmp_path):
    """Watermarked tumbling-window aggregation in append mode: every
    emitted (finalized) window row equals the batch-mode result for that
    window exactly — Spark's unified semantics, checked end to end through
    a real streaming query with checkpoint."""
    from logpipe_spark.streaming.windowed import (
        run_windowed_stream,
        windowed_turn_counts,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)

    n = run_windowed_stream(spark, src, out, window_minutes=10,
                            watermark_minutes=30, timeout_sec=120)
    assert n > 0  # at least the old windows finalized and emitted

    got = {
        (r["win_start"], r["win_end"], r["role"]): (r["n_turns"], r["chars"])
        for r in spark.read.parquet(os.path.join(out, "data")).collect()
    }
    batch = spark.read.option("basePath", src).parquet(src)
    exp = {
        (r["win_start"], r["win_end"], r["role"]): (r["n_turns"], r["chars"])
        for r in windowed_turn_counts(batch).collect()
    }
    # append mode withholds windows still inside the watermark: emitted ⊆
    # batch, and every emitted window's values are exact
    assert set(got) <= set(exp)
    for k, v in got.items():
        assert v == exp[k], k


def test_windowed_late_data_across_batches(spark, tmp_path):
    """Out-of-order events across micro-batches (VERDICT r2 #8): a row
    later than the watermark is DROPPED (and counted in the progress
    metrics); a late-but-within-watermark row is folded into its window;
    every emitted window equals the batch result over the kept rows."""
    import time as _time

    import pandas as pd

    from logpipe_spark.streaming.windowed import windowed_turn_counts

    def mk(ts_list):
        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(ts_list),
                "turn_idx": range(len(ts_list)),
                "role": ["user"] * len(ts_list),
                "text": ["x"] * len(ts_list),
                "tool": [""] * len(ts_list),
                "ts": pd.to_datetime(ts_list).astype("datetime64[us]"),
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: W1=[10:00,10:10) ×2, W2=[10:10,10:20) ×1; max ts 10:25
    # batch 2: 10:17 → W2 late-but-within-watermark (kept), 10:45 advances
    #          the event clock (watermark after this batch: 10:35)
    # batch 3: 10:05 → W1 too-late (< watermark, DROPPED); 11:00 advances
    #          the watermark far enough to flush W2/W3/W4
    # (the too-late row sits in the LAST batch because the watermark a
    # batch filters against is the one finalized at the end of the
    # previous batch — Spark's documented one-batch lag)
    batches = [
        ["2026-01-01 10:01", "2026-01-01 10:03", "2026-01-01 10:12", "2026-01-01 10:25"],
        ["2026-01-01 10:17", "2026-01-01 10:45"],
        ["2026-01-01 10:05", "2026-01-01 11:00"],
    ]
    for i, ts in enumerate(batches):
        p = src / f"b{i}.parquet"
        mk(ts).to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # stable file order

    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = windowed_turn_counts(stream, window_minutes=10, watermark_minutes=10)
    out = tmp_path / "out"
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    progresses = q.recentProgress
    data_batches = [p for p in progresses if p["numInputRows"] > 0]
    assert len(data_batches) == 3  # one micro-batch per file
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1  # exactly the 10:05 row

    got = {
        (str(r["win_start"]), r["n_turns"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    # kept rows = all events minus the too-late 10:05
    kept = [t for b in batches for t in b if t != "2026-01-01 10:05"]
    batch_df = spark.createDataFrame(mk(kept))
    exp = {
        (str(r["win_start"]), r["n_turns"])
        for r in windowed_turn_counts(batch_df).collect()
    }
    # emitted ⊆ batch-over-kept, with exact values; and the two windows
    # that exercise the semantics MUST have been finalized and emitted:
    # W1 with the too-late row excluded, W2 with the late-OK row included
    assert got <= exp
    assert ("2026-01-01 10:00:00", 2) in got  # W1: 10:01, 10:03 (no 10:05)
    assert ("2026-01-01 10:10:00", 2) in got  # W2: 10:12 + late-OK 10:17


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: replayed rows across micro-batches are
    dropped while inside the watermark; state is keyed by content hash.
    Feed the same lines in batch 1 and batch 2 → output has each line
    once."""
    import time as _time

    import pandas as pd

    from logpipe_spark.streaming.dedup import stream_exact_dedup
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    def mk(texts, ts):
        import numpy as np

        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(texts),
                "turn_idx": np.arange(len(texts), dtype="int32"),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": [""] * len(texts),
                "ts": pd.to_datetime([ts] * len(texts)).astype("datetime64[us]"),
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: three lines; batch 2: two replays + one new line (all within
    # the 30-minute watermark of each other)
    batches = [
        mk(["alpha", "beta", "gamma"], "2026-01-01 10:00"),
        mk(["alpha", "gamma", "delta"], "2026-01-01 10:05"),
    ]
    for i, pdf in enumerate(batches):
        p = src / f"b{i}.parquet"
        pdf.to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream_exact_dedup(stream, watermark="30 minutes")
    out = tmp_path / "out"
    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    got = sorted(r["text"] for r in spark.read.parquet(str(out / "data")).collect())
    assert got == ["alpha", "beta", "delta", "gamma"]  # each line exactly once


def test_stream_incremental_dedup_vs_static_index(spark, tmp_path):
    """Streaming delta dedup: docs whose fingerprint is in the STATIC
    accepted-corpus index never reach the sink; in-stream replays
    (including reordered-word variants — bag-of-words identity) are
    dropped within the watermark; genuinely new docs pass."""
    import time as _time

    import pandas as pd

    from logpipe_spark.streaming.dedup import stream_incremental_dedup
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    def mk(texts, ts):
        import numpy as np

        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(texts),
                "turn_idx": np.arange(len(texts), dtype="int32"),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": [""] * len(texts),
                "ts": pd.to_datetime([ts] * len(texts)).astype("datetime64[us]"),
            }
        )

    # static index = fingerprints of the already-accepted corpus
    from logpipe_spark.operators.dedup import fingerprint_index

    accepted = spark.createDataFrame(
        [(100, "already accepted doc"), (101, "another prior doc")],
        ["doc_id", "text"],
    )
    idx = fingerprint_index(accepted)

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # b0: one index dup (reordered!), one new
        mk(["accepted already doc", "fresh one"], "2026-01-01 10:00"),
        # b1: in-stream replay of "fresh one" (reordered), one new
        mk(["one fresh", "fresh two"], "2026-01-01 10:05"),
    ]
    for i, pdf in enumerate(batches):
        p = src / f"b{i}.parquet"
        pdf.to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    admitted = stream_incremental_dedup(stream, idx, watermark="30 minutes")
    out = tmp_path / "out"
    q = (
        admitted.writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    res = spark.read.parquet(str(out / "data"))
    got = sorted(r["text"] for r in res.collect())
    assert got == ["fresh one", "fresh two"]
    assert "fingerprint" in res.columns  # admitted rows carry their fp


def test_session_window_stream_matches_batch(spark, transcripts_pdf, tmp_path):
    """Session windows through a real availableNow stream: every emitted
    (closed) session equals the batch-mode session for that key exactly;
    batch mode verifies the gap rule on a hand fixture too."""
    import pandas as pd

    from logpipe_spark.streaming.dedup import stream_exact_dedup  # noqa: F401
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA
    from logpipe_spark.streaming.windowed import session_window_stats

    # hand fixture first (batch mode): two sessions for c1 (45-min gap),
    # one for c2
    rows = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1", "c2"],
            "turn_idx": pd.array([0, 1, 2, 0], dtype="int32"),
            "role": ["user"] * 4,
            "text": ["aa", "bbb", "c", "dddd"],
            "tool": [""] * 4,
            "ts": pd.to_datetime(
                ["2026-01-01 10:00", "2026-01-01 10:10",
                 "2026-01-01 10:55", "2026-01-01 10:05"]
            ).astype("datetime64[us]"),
        }
    )
    batch = spark.createDataFrame(rows)
    got = sorted(
        (r["conv_id"], r["n_events"], r["chars"])
        for r in session_window_stats(batch, gap_minutes=30).collect()
    )
    assert got == [("c1", 1, 1), ("c1", 2, 5), ("c2", 1, 4)]

    # streaming: emitted closed sessions ⊆ batch sessions, values exact
    src = str(tmp_path / "src")
    out = tmp_path / "out"
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "snapshot=*"))
    )
    q = (
        session_window_stats(stream, gap_minutes=30, watermark_minutes=60)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    emitted = {
        (r["conv_id"], r["session_start"], r["session_end"]):
            (r["n_events"], r["chars"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    full = spark.read.option("basePath", src).parquet(src)
    exp = {
        (r["conv_id"], r["session_start"], r["session_end"]):
            (r["n_events"], r["chars"])
        for r in session_window_stats(full).collect()
    }
    assert set(emitted) <= set(exp)
    for k, v in emitted.items():
        assert v == exp[k], k


def _evt_pdf(rows):
    """rows: [(key, ts_str, val)] → parquet-ready events frame."""
    import pandas as pd

    return pd.DataFrame(
        {
            "k": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype(
                "datetime64[us]"
            ),
            "val": [r[2] for r in rows],
        }
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner interval join (streaming/join.py): requests
    joined to responses within 10 minutes, both sides arriving across
    multiple micro-batches — the emitted set equals the batch join
    exactly (unified semantics: nothing is late here)."""
    import time as _time

    from logpipe_spark.streaming.join import stream_interval_join

    reqs = [("a", "2026-01-01 10:00", 1), ("a", "2026-01-01 10:20", 2),
            ("b", "2026-01-01 10:05", 3), ("c", "2026-01-01 10:00", 4)]
    # a@10:07 matches req1 only; a@10:25 matches req2; b@10:30 outside
    # interval of b@10:05; d unmatched key
    rsps = [("a", "2026-01-01 10:07", 11), ("a", "2026-01-01 10:25", 12),
            ("b", "2026-01-01 10:30", 13), ("d", "2026-01-01 10:06", 14)]

    lsrc, rsrc = tmp_path / "lsrc", tmp_path / "rsrc"
    lsrc.mkdir(); rsrc.mkdir()
    for i in range(2):  # split each side into two files → several batches
        _evt_pdf(reqs[i * 2:(i + 1) * 2]).to_parquet(
            lsrc / f"l{i}.parquet", index=False)
        _evt_pdf(rsps[i * 2:(i + 1) * 2]).to_parquet(
            rsrc / f"r{i}.parquet", index=False)
        _time.sleep(0.05)

    schema = "k string, ts timestamp, val long"
    mk = lambda d: (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tmp_path / "out"
    q = (
        stream_interval_join(mk(lsrc), mk(rsrc), on=["k"],
                             within_minutes=10, watermark_minutes=60)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        (r["k"], r["val"], r["val_r"])
        for r in spark.read.parquet(str(out / "data")).collect()
    )
    batch = stream_interval_join(
        spark.createDataFrame(_evt_pdf(reqs), schema),
        spark.createDataFrame(_evt_pdf(rsps), schema),
        on=["k"], within_minutes=10, watermark_minutes=60,
    )
    want = sorted((r["k"], r["val"], r["val_r"]) for r in batch.collect())
    assert got == want == [("a", 1, 11), ("a", 2, 12)]


def test_stream_stream_left_outer_flushes_on_watermark(spark, tmp_path):
    """left_outer emission: an unmatched request is emitted with NULL
    right columns once the RIGHT watermark passes its interval — proven
    by a far-future right-side sentinel in the last file; the matched
    pair is emitted too, and validation rejects bad join types."""
    import time as _time

    import pytest as _pytest

    from logpipe_spark.streaming.join import stream_interval_join

    with _pytest.raises(ValueError, match="unsupported"):
        stream_interval_join(
            spark.range(1), spark.range(1), on=["id"], how="full")
    with _pytest.raises(ValueError, match="equi-key"):
        stream_interval_join(spark.range(1), spark.range(1), on=[])

    lsrc, rsrc = tmp_path / "lsrc", tmp_path / "rsrc"
    lsrc.mkdir(); rsrc.mkdir()
    _evt_pdf([("a", "2026-01-01 10:00", 1),
              ("b", "2026-01-01 10:00", 2)]).to_parquet(
        lsrc / "l0.parquet", index=False)
    _evt_pdf([("a", "2026-01-01 10:05", 11)]).to_parquet(
        rsrc / "r0.parquet", index=False)
    _time.sleep(0.05)
    # sentinels advance BOTH event clocks far beyond watermark + interval
    # (the stream-stream watermark is the MIN across inputs — a stalled
    # left clock would hold the global watermark at 09:50 forever) so
    # b@10:00's outer row can flush before the stream ends
    _evt_pdf([("zz", "2026-01-02 00:00", 99)]).to_parquet(
        rsrc / "r1.parquet", index=False)
    _evt_pdf([("zy", "2026-01-02 00:00", 98)]).to_parquet(
        lsrc / "l1.parquet", index=False)

    schema = "k string, ts timestamp, val long"
    mk = lambda d: (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tmp_path / "out"
    q = (
        stream_interval_join(mk(lsrc), mk(rsrc), on=["k"],
                             within_minutes=10, watermark_minutes=10,
                             how="left_outer")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        (r["k"], r["val"], r["val_r"])
        for r in spark.read.parquet(str(out / "data")).collect()
    )
    assert ("a", 1, 11) in got
    assert ("b", 2, None) in got
