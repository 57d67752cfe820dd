"""The composed pipeline: source → parse → enrich → route → fan-out + lineage.

This is the Spark-native replacement for the reference's single dataflow
operator `WriteAllOutputPlugins` (`src/output.c:103-355`): where logpipe
drives Read → K×Process → M×Write per 100 KB block under epoll, here the
whole flow is ONE declarative DataFrame chain per snapshot — Catalyst fuses
parse+route into the scan projection, the enrich join is broadcast (no fact
shuffle), and the fan-out write is a single dynamic-partitioned pass.

Crash/restart semantics (`src/monitor.c:89-181` + offset commit
`logpipe-input-file.c:1901-1925`) become: process pending snapshots in
order; per snapshot overwrite-then-commit via ``SnapshotLedger`` —
exactly-once instead of the reference's at-least-once.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logpipe_spark.ledger import SnapshotLedger
from logpipe_spark.operators.enrich import enrich
from logpipe_spark.operators.parse import extract_builtin, extract_pandas
from logpipe_spark.operators.route import route
from logpipe_spark.operators.sinks import (
    LINEAGE_DDL,
    fan_out_write,
    file_lineage_rows,
    source_file_rows,
    write_lineage_parquet,
)


def build_stage_chain(
    df: DataFrame,
    dim: DataFrame,
    rules: list[dict],
    parser: str = "builtin",
    dim_keys: list[str] | None = None,
) -> DataFrame:
    """parse → enrich → route on an already-loaded transcript DataFrame.
    Returns the routed DataFrame (sink column nullable; NULL = dropped)."""
    parse = extract_pandas if parser == "pandas" else extract_builtin
    parsed = parse(df)
    enriched = enrich(parsed, dim, keys=dim_keys or ["tool", "role"], how="left")
    return route(enriched, rules)


def require_posix_dir(path: str) -> None:
    """Reject a URI ``out_dir`` before anything is written.

    Spark's Hadoop paths read a colon before the first slash as a scheme
    (``file:``, ``hdfs://``, ``s3a://``), while the driver-side ledger,
    lineage and footer reads go through ``os`` and would treat the same
    string as a relative directory name — the data and its bookkeeping
    would land in two different places."""
    colon, slash = path.find(":"), path.find("/")
    if colon != -1 and (slash == -1 or colon < slash):
        raise ValueError(
            f"out_dir must be a POSIX path, not a URI: {path!r}"
        )


def process_snapshot(
    df: DataFrame | None,
    dim: DataFrame,
    rules: list[dict],
    data_dir: str,
    lineage_dir: str,
    key: tuple,
    ddl: str = LINEAGE_DDL,
    parser: str = "builtin",
    dim_keys: list[str] | None = None,
    salt_partitions: int | None = None,
    source_paths: list[str] | None = None,
) -> None:
    """Route one snapshot (or micro-batch) into ``data_dir`` and write its
    lineage table to ``lineage_dir`` — the single write-and-lineage path
    of both ``run_pipeline`` and ``streaming.stream.run_stream``.

    ``df`` None is a snapshot with no input files: nothing is written but
    a zero-count lineage row. ``key`` holds the leading lineage columns
    (``ddl`` names them); every row ends in (partition_id, rows_in,
    parsed, routed, dropped, sink, file). Three granularities, all
    collected WITHOUT a second pass over the data:

    - partition_id=-1, sink+file NULL → the observe() counters that ride
      the write action;
    - partition_id>=0, sink NOT NULL → one row per OUTPUT file, routed
      from its parquet footer (``file_lineage_rows``);
    - partition_id>=0, sink NULL → one row per file in ``source_paths``,
      rows_in from its footer (``source_file_rows``).

    Footers are read and the table written driver-side with pyarrow — no
    Spark job (BENCH.md r4: job-based lineage cost 4.7-13 s per run). The
    caller commits only after this returns."""
    m = {"rows_in": 0, "parsed": 0, "routed": 0, "dropped": 0}
    if df is not None:
        routed = build_stage_chain(
            df, dim, rules, parser=parser, dim_keys=dim_keys
        )
        # ONE action per snapshot: conservation counters ride the write via
        # observe() (collected by a listener, zero extra reads) instead of
        # a separate aggregation action over a persisted copy — the
        # single-read/multi-write invariant of the reference's
        # output.c:256-277, now including the bookkeeping. The observe
        # node sits above the route stage and below fan_out_write's
        # NULL-sink filter, so dropped rows are counted, then discarded.
        obs = Observation("lineage_" + "_".join(map(str, key)))
        routed = routed.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.count("n_fields").alias("parsed"),
            F.count("sink").alias("routed"),
            F.coalesce(
                F.sum(F.col("sink").isNull().cast("long")), F.lit(0)
            ).alias("dropped"),
        )
        # the write-side shuffle keys by (sink, salt) — one sink per task,
        # hot sinks spread over salt_buckets tasks, ~salt_partitions output
        # files instead of tasks×sinks (repartition_salted by conv_id
        # remains the right key when a downstream consumer, not the file
        # layout, needs co-located conversations)
        fan_out_write(routed, data_dir, shuffle_partitions=salt_partitions)
        m = obs.get
    rows = [
        (*key, -1, m["rows_in"], m["parsed"], m["routed"], m["dropped"],
         None, None)
    ]
    if m["routed"]:
        rows += [
            (*key, pid, None, None, n_routed, None, sink, f)
            for pid, sink, f, n_routed in file_lineage_rows(data_dir)
        ]
    rows += [
        (*key, pid, rows_in, None, None, None, None, f)
        for pid, f, rows_in in source_file_rows(source_paths or [])
    ]
    write_lineage_parquet(rows, ddl, lineage_dir)


def run_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    dim: DataFrame,
    rules: list[dict],
    run_id: str | None = None,
    parser: str = "builtin",
    salt_partitions: int | None = None,
    fail_after_write_snapshot: int | None = None,
    dim_keys: list[str] | None = None,
    include_files: list[str] | None = None,
    exclude_files: list[str] | None = None,
    min_input_partitions: int | None = 0,
) -> dict:
    """Process every pending snapshot under ``src_dir`` exactly once: per
    snapshot, ``process_snapshot`` writes the routed rows and the lineage
    table (observe() totals, one row per output file, one row per input
    file), then the ledger commits.

    ``min_input_partitions``: under-split sources (a snapshot that is one
    parquet file with one row group is ONE scan task — the whole
    parse→route stage runs single-threaded no matter how many cores) are
    repartitioned up to this many partitions before parsing. Default 0 →
    the session's default parallelism. Pass None to disable. Well-split
    sources are never touched, so at scale this is a free plan check.

    ``include_files`` / ``exclude_files``: source-level basename glob
    filters (the reference's files../exclude_files.. walk) — pruned from
    the file LIST before the scan, so excluded files cost zero IO. A
    snapshot whose files are all filtered out commits with zero-row
    lineage (the reference likewise commits nothing and moves on).

    ``fail_after_write_snapshot``: test hook — raise after writing (before
    committing) that snapshot, simulating a worker crash at the worst moment.

    Path contract: ``src_dir`` and ``out_dir`` must be POSIX paths — the
    ledger, the footer reads and the lineage write are all driver-side
    ``os``/pyarrow calls, and a URI ``out_dir`` raises ValueError before
    anything is written (the documented object-store swap is an Iceberg
    catalog, which replaces the ledger and the lineage wholesale).

    Returns {run_id, processed: [snapshot ids]}.
    """
    from logpipe_spark.sources.readers import select_input_files

    require_posix_dir(out_dir)
    run_id = run_id or uuid.uuid4().hex[:12]
    ledger = SnapshotLedger(out_dir)
    processed = []

    for snap in ledger.pending(src_dir):
        snap_dir = os.path.join(src_dir, f"snapshot={snap}")
        if include_files or exclude_files:
            src_paths = select_input_files(snap_dir, include_files, exclude_files)
            df = spark.read.parquet(*src_paths) if src_paths else None
        else:
            # Spark's data-file rule: every non-hidden FILE at any depth is
            # scanned (a part without the .parquet suffix, a partitioned
            # subdirectory's parts), so each needs an input-edge lineage
            # row; directories are walked, never handed to the footer reader
            src_paths = []
            for dirpath, dirnames, names in os.walk(snap_dir):
                dirnames[:] = sorted(
                    d for d in dirnames if not d.startswith((".", "_"))
                )
                src_paths += [
                    os.path.join(dirpath, n)
                    for n in names
                    if not n.startswith((".", "_"))
                ]
            df = spark.read.parquet(snap_dir)
        if df is not None and min_input_partitions is not None:
            target = min_input_partitions or spark.sparkContext.defaultParallelism
            # getNumPartitions reads the plan, not the data — no job runs
            if df.rdd.getNumPartitions() < target:
                df = df.repartition(target)
        process_snapshot(
            df, dim, rules,
            os.path.join(out_dir, "data", f"snapshot={snap}"),
            os.path.join(out_dir, "lineage", f"snapshot={snap}"),
            (run_id, int(snap)),
            parser=parser,
            dim_keys=dim_keys,
            salt_partitions=salt_partitions,
            source_paths=src_paths,
        )

        if fail_after_write_snapshot == snap:
            raise RuntimeError(f"injected crash after write of snapshot {snap}")

        ledger.commit(snap, run_id)
        processed.append(snap)

    return {"run_id": run_id, "processed": processed}


def read_sinks(spark: SparkSession, out_dir: str) -> DataFrame:
    """All routed rows across committed snapshots, with sink + snapshot cols.

    Only committed snapshots are visible — an uncommitted (crashed) write is
    invisible to readers, mirroring Iceberg snapshot isolation."""
    ledger = SnapshotLedger(out_dir)
    committed = sorted(ledger.committed())
    if not committed:
        raise ValueError(f"no committed snapshots under {out_dir}")
    # a snapshot where every row was dropped writes no parquet files — skip it
    paths = [
        p
        for s in committed
        if os.path.isdir(p := os.path.join(out_dir, "data", f"snapshot={s}"))
        and any(n.startswith("sink=") for n in os.listdir(p))
    ]
    if not paths:
        raise ValueError(
            f"no routed rows in any committed snapshot under {out_dir} "
            "(every row dropped by the route rules?)"
        )
    return spark.read.option("basePath", os.path.join(out_dir, "data")).parquet(*paths)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    ledger = SnapshotLedger(out_dir)
    committed = sorted(ledger.committed())
    if not committed:
        raise ValueError(f"no committed snapshots under {out_dir}")
    paths = [os.path.join(out_dir, "lineage", f"snapshot={s}") for s in committed]
    # mergeSchema: the lineage DDL widened from 8 to 10 columns (sink, file)
    # in round 3 — an out_dir resumed across that change mixes schemas, and
    # without merging, the read's schema would depend on which file is
    # sampled first (ADVICE r3). The table is tiny; merging is free.
    return spark.read.option("mergeSchema", "true").option(
        "basePath", os.path.join(out_dir, "lineage")
    ).parquet(*paths)


def sink_table(spark: SparkSession, out_dir: str, sink: str) -> DataFrame:
    return read_sinks(spark, out_dir).filter(F.col("sink") == sink)
