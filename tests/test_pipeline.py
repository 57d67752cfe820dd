"""End-to-end slice (SURVEY.md §7.1): snapshots → parse → enrich → route →
fan-out sinks + lineage, checked against the pure-Python oracle for
per-sink counts AND row-for-row text equality under (conv_id, turn_idx)."""

import os

import pytest
from pyspark.sql import functions as F

from logpipe_spark.ledger import SnapshotLedger, write_snapshots
from logpipe_spark.pipeline import (
    read_lineage,
    read_sinks,
    run_pipeline,
)


@pytest.fixture(scope="module")
def pipe_out(spark, transcripts_pdf, dim_df, rules, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipe")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=4)
    res = run_pipeline(spark, src, out, dim_df, rules, salt_partitions=8)
    assert res["processed"] == [0, 1, 2, 3]
    return out


def test_per_sink_counts_match_oracle(spark, pipe_out, golden):
    got = {
        r["sink"]: r["n"]
        for r in read_sinks(spark, pipe_out)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(golden["sink_counts"])


def test_routed_row_text_equality(spark, pipe_out, golden):
    """The reference's byte-identical forwarded-file check (README.md:404-445)
    re-expressed: per-sink rows equal the oracle's, row-for-row, under
    stable (sink, conv_id, turn_idx) order."""
    got = (
        read_sinks(spark, pipe_out)
        .select("sink", "conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["sink", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = golden["routed"][["sink", "conv_id", "turn_idx", "text"]].reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["sink"].values == exp["sink"].values).all()
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["turn_idx"].values == exp["turn_idx"].values).all()
    assert got["text"].tolist() == exp["text"].tolist()


def test_enrichment_columns(spark, pipe_out, golden):
    df = read_sinks(spark, pipe_out)
    n_unmatched = df.filter(F.col("tool_family").isNull()).count()
    exp_unmatched_routed = int(golden["routed"]["tool_family"].isna().sum())
    assert n_unmatched == exp_unmatched_routed
    assert df.filter(F.col("sink_hint").isNotNull()).count() > 0


def test_lineage_conservation(spark, pipe_out, golden, transcripts_pdf):
    lin = read_lineage(spark, pipe_out)
    totals = lin.filter(F.col("partition_id") == -1)
    agg = totals.agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("routed").alias("routed"),
        F.sum("dropped").alias("dropped"),
    ).collect()[0]
    assert agg["rows_in"] == len(transcripts_pdf)
    assert agg["routed"] + agg["dropped"] == agg["rows_in"]
    assert agg["dropped"] == golden["dropped"]
    assert agg["routed"] == sum(golden["sink_counts"].values())

    # per-partition granularity (SURVEY.md §2.5): real partition_id rows,
    # one per written OUTPUT file (sink set), whose routed sums equal the
    # observe() totals — both overall and per snapshot; plus one row per
    # INPUT file (sink NULL) carrying rows_in from the source footer
    per_part = lin.filter((F.col("partition_id") >= 0) & F.col("sink").isNotNull())
    assert per_part.count() > 0
    assert per_part.filter(F.col("file").isNull()).count() == 0

    # input-file granularity: per-snapshot sum(rows_in) over source-file
    # rows equals the snapshot sentinel's rows_in (conservation at the
    # input edge, the reference's per-file offset bookkeeping)
    src_rows = lin.filter((F.col("partition_id") >= 0) & F.col("sink").isNull())
    assert src_rows.count() > 0
    assert src_rows.filter(F.col("file").isNull() | F.col("rows_in").isNull()).count() == 0
    src_snap = {
        r["snapshot_id"]: r["s"]
        for r in src_rows.groupBy("snapshot_id").agg(F.sum("rows_in").alias("s")).collect()
    }
    in_snap = {
        r["snapshot_id"]: r["rows_in"]
        for r in totals.collect()
    }
    assert src_snap == in_snap
    per_snap = {
        r["snapshot_id"]: r["s"]
        for r in per_part.groupBy("snapshot_id").agg(F.sum("routed").alias("s")).collect()
    }
    tot_snap = {
        r["snapshot_id"]: r["routed"]
        for r in totals.filter(F.col("routed") > 0).collect()
    }
    assert per_snap == tot_snap
    # partition ids are dense per snapshot
    for snap in per_snap:
        ids = sorted(
            r["partition_id"]
            for r in per_part.filter(F.col("snapshot_id") == snap).collect()
        )
        assert ids == list(range(len(ids)))
    # per-sink file sums agree with the actual routed data read back
    sink_sums = {
        r["sink"]: r["s"]
        for r in per_part.groupBy("sink").agg(F.sum("routed").alias("s")).collect()
    }
    assert sink_sums == golden["sink_counts"]


def test_rerun_is_noop(spark, pipe_out, dim_df, rules, transcripts_pdf):
    """Idempotence: a second run over a fully-committed source processes
    nothing and row counts are unchanged."""
    src = pipe_out.replace("/out", "/src")
    before = read_sinks(spark, pipe_out).count()
    res = run_pipeline(spark, src, pipe_out, dim_df, rules)
    assert res["processed"] == []
    assert read_sinks(spark, pipe_out).count() == before


def test_resume_after_crash(spark, transcripts_pdf, dim_df, rules, golden, tmp_path_factory):
    """Kill between write and commit of snapshot 1; resume; assert zero
    duplicate routed rows (SURVEY.md §5 invariant 3)."""
    root = tmp_path_factory.mktemp("crash")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=3)

    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, src, out, dim_df, rules, fail_after_write_snapshot=1)
    assert SnapshotLedger(out).committed() == {0}

    res = run_pipeline(spark, src, out, dim_df, rules)
    assert res["processed"] == [1, 2]

    df = read_sinks(spark, out)
    assert df.count() == sum(golden["sink_counts"].values())
    dups = (
        df.groupBy("conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dups == 0


def test_partitioned_snapshot_layout_keeps_lineage_conservation(
    spark, transcripts_pdf, dim_df, rules, tmp_path_factory
):
    """A snapshot whose parquet parts live in a hive-partitioned
    subdirectory (a layout spark.read.parquet accepts) must process and
    commit — the input-edge lineage walks files at any depth instead of
    handing the subdirectory itself to the footer reader (which crashed
    after the data write and poisoned every resume)."""
    import shutil

    root = tmp_path_factory.mktemp("nested")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    snap1 = os.path.join(src, "snapshot=1")
    sub = os.path.join(snap1, "part=0")
    os.makedirs(sub)
    for name in os.listdir(snap1):
        p = os.path.join(snap1, name)
        if os.path.isfile(p) and not name.startswith((".", "_")):
            shutil.move(p, os.path.join(sub, name))

    res = run_pipeline(spark, src, out, dim_df, rules, salt_partitions=4)
    assert res["processed"] == [0, 1]

    lin = read_lineage(spark, out)
    sentinel = lin.filter(F.col("partition_id") == -1)
    assert sentinel.agg(F.sum("rows_in")).collect()[0][0] == len(transcripts_pdf)
    # the nested snapshot's input-file rows point at files, and their sum
    # still matches the snapshot sentinel (conservation at the input edge)
    src_rows = lin.filter(
        (F.col("partition_id") >= 0) & F.col("sink").isNull()
        & (F.col("snapshot_id") == 1)
    ).collect()
    assert src_rows and all("part=0" in r["file"] for r in src_rows)
    assert sum(r["rows_in"] for r in src_rows) == (
        sentinel.filter(F.col("snapshot_id") == 1).collect()[0]["rows_in"]
    )


@pytest.mark.parametrize("scheme", ["file://", "file:", "hdfs://nn", "s3a://bucket"])
def test_run_pipeline_rejects_uri_out_dir(spark, dim_df, rules, tmp_path, scheme):
    """Spark would write the data under the URI's path while the ledger
    went to a relative ``./file:/...`` dir, so a URI out_dir is refused by
    name before anything is written."""
    out = f"{scheme}{tmp_path}/out"
    with pytest.raises(ValueError, match="POSIX") as exc:
        run_pipeline(spark, str(tmp_path / "src"), out, dim_df, rules)
    assert repr(out) in str(exc.value)
    assert not (tmp_path / "out").exists()
    assert not os.path.exists(out)


@pytest.mark.parametrize("manifest_text", ['{"committed": [', "{}"])
def test_corrupt_ledger_raises_naming_manifest(
    spark, transcripts_pdf, dim_df, rules, tmp_path, manifest_text
):
    """A truncated or malformed _ledger.json is a ValueError naming the
    manifest — from both the writer and the reader — and the writer
    writes no data."""
    import re

    src = str(tmp_path / "src")
    out = tmp_path / "out"
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    out.mkdir()
    manifest = out / "_ledger.json"
    manifest.write_text(manifest_text)
    with pytest.raises(ValueError, match=re.escape(str(manifest))):
        run_pipeline(spark, src, str(out), dim_df, rules)
    with pytest.raises(ValueError, match=re.escape(str(manifest))):
        read_sinks(spark, str(out))
    assert not (out / "data").exists()
    assert not (out / "lineage").exists()


def test_source_file_rows_names_unreadable_path():
    from logpipe_spark.operators.sinks import source_file_rows

    bad = "/tmp/not_a_parquet_sidecar.txt"
    with open(bad, "w") as f:
        f.write("plain text\n")
    with pytest.raises(ValueError, match="not_a_parquet_sidecar"):
        source_file_rows([bad])


def test_fan_out_write_max_records_per_file(spark, tmp_path):
    """maxRecordsPerFile bounds rows per output file at write time (the
    write-time half of file-size control; compact.py is the read-time
    half for files that came out too small)."""
    import glob

    from logpipe_spark.operators.sinks import fan_out_write

    df = spark.range(0, 1000).select(
        F.lit("sink_a").alias("sink"),
        F.col("id").alias("turn_idx"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    capped = str(tmp_path / "capped")
    fan_out_write(df, capped, shuffle_partitions=2, salt_buckets=1,
                  max_records_per_file=100)
    files = glob.glob(f"{capped}/sink=sink_a/*.parquet")
    assert len(files) >= 10  # 1000 rows / 100-row cap
    got = spark.read.parquet(capped)
    assert got.count() == 1000
    import pyarrow.parquet as pq
    assert max(pq.ParquetFile(f).metadata.num_rows for f in files) <= 100

    uncapped = str(tmp_path / "uncapped")
    fan_out_write(df, uncapped, shuffle_partitions=2, salt_buckets=1)
    assert len(glob.glob(f"{uncapped}/sink=sink_a/*.parquet")) < 10
