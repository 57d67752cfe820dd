"""Sink fan-out + skew handling + per-partition lineage metrics.

Reference semantics being re-expressed:

- output-file "merge by same filename" append (`logpipe-output-file.c:208-286`)
  → one single-pass write partitioned by the routing key: every task streams
  its rows into per-sink directories; no per-sink re-read, no shuffle.
  (The reference achieves the same single-read/multi-write fan-out in
  `WriteAllOutputPlugins`, `src/output.c:256-277`.)
- output-tcp round-robin + failover (`logpipe-output-tcp.c:120-200`)
  → Spark shuffle + task retry; made explicit for hot keys via salted
  repartition (``repartition_salted``).
- HDFS day-dir naming (`logpipe-output-hdfs.c:195-213`) → partition columns;
  date partitioning is a one-liner for callers that want it.
- offset/line bookkeeping (`logpipe-input-file.c:1901-1925`) → the lineage
  table (LINEAGE_DDL): whole-snapshot conservation counters collected by an
  observe() listener ON the write action itself (see pipeline.process_snapshot)
  — zero extra passes, partition_id = -1 sentinel.

Scale notes: ``fan_out_write`` is ONE job: scan → (optional salted
repartition) → dynamic-partitioned write. At 10^12 rows the thing to avoid
is K separate filtered writes (K scans) or an unsalted shuffle where one
conversation holds 20% of rows. AQE skew handling is on as backup, but the
salt bounds the worst task deterministically.
"""

from __future__ import annotations

import glob
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# batch pipeline lineage rows. Two granularities in one table:
#   partition_id = -1  → whole-snapshot conservation counters, collected by
#                        an observe() listener ON the write action (zero
#                        extra passes over the source);
#   partition_id >= 0  → one row per written file (sink + file + routed
#                        count, derived from the output parquet footers —
#                        see file_lineage_rows). rows_in/parsed/dropped are NULL
#                        at this granularity; per-file routed sums equal the
#                        sentinel row's routed.
LINEAGE_DDL = (
    "run_id string, snapshot_id long, partition_id int, "
    "rows_in long, parsed long, routed long, dropped long, "
    "sink string, file string"
)


# salt buckets per sink in the write-side shuffle (and repartition_salted's
# default): a hot sink spreads over this many tasks and files
SALT_BUCKETS = 8


def repartition_salted(
    df: DataFrame,
    num_partitions: int,
    key: str = "conv_id",
    salt_buckets: int = SALT_BUCKETS,
) -> DataFrame:
    """Shuffle by (key, hash(turn_idx) % salt_buckets) so a hot key spreads
    over ``salt_buckets`` partitions instead of one straggler task.

    Verification-time ordering is unaffected: the (conv_id, turn_idx)
    invariant is asserted with an ORDER BY, never by partition layout
    (SURVEY.md §7.3 hard part (b))."""
    salt = F.pmod(F.hash(F.col("turn_idx")), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col(key), salt)


def fan_out_write(
    routed_df: DataFrame,
    out_dir: str,
    shuffle_partitions: int | None = None,
) -> None:
    """Single-pass dynamic-partitioned fan-out: every routed row lands in
    ``out_dir/sink=<name>/``, replacing whatever ``out_dir`` held (overwrite
    is what makes a replayed snapshot or batch idempotent). Dropped
    (NULL-sink) rows are filtered here — after lineage counted them.

    ``shuffle_partitions``: pre-write shuffle keyed by **(sink, salt)**.
    The shuffle has only sinks × SALT_BUCKETS distinct keys, so the file
    count is bounded by sinks × SALT_BUCKETS regardless of task count
    (hash collisions can merge two key-groups into one task, which the
    writer re-splits per sink — the bound still holds), instead of
    tasks × sinks when the shuffle is keyed by a high-cardinality column.
    The salt spreads a hot sink over SALT_BUCKETS tasks instead of one
    straggler; it is ``hash(turn_idx)`` when that column exists (the
    transcript schema's cheap high-card column), else ``xxhash64`` over
    all columns, so the helper works on any DataFrame (ADVICE r2). Without
    ``shuffle_partitions`` the write inherits upstream partitioning (fine
    when the input is already well-split and sinks are few).

    Rows per file are not capped here: size rotation lives in
    ``writers.write_partitioned_by_key`` / ``write_text_lines``, and
    ``operators/compact.py`` merges files that came out too small."""
    df = routed_df.filter(F.col("sink").isNotNull())
    if shuffle_partitions:
        salt_src = (
            F.hash(F.col("turn_idx")) if "turn_idx" in df.columns
            else F.xxhash64(*[F.col(c) for c in df.columns])
        )
        salt = F.pmod(salt_src, F.lit(SALT_BUCKETS))
        df = df.repartition(shuffle_partitions, F.col("sink"), salt)
    df.write.mode("overwrite").partitionBy("sink").parquet(out_dir)


def file_lineage_rows(data_dir: str) -> list[tuple]:
    """Per-file routed-row counts from parquet FOOTERS, read driver-side
    with pyarrow — zero Spark jobs. This is the only per-output-file
    lineage path, for batch and streaming alike (``data_dir`` is a POSIX
    path: ``pipeline.require_posix_dir`` rejects URIs up front).

    ``fan_out_write``'s (sink, salt)-keyed shuffle bounds the file count at
    sinks × SALT_BUCKETS regardless of data size (an unshuffled
    micro-batch write: ~sinks × upstream partitions), so after the write
    the per-file lineage is a handful of footer reads (~KBs each) —
    launching a Spark job for it costs more than the answer (measured: a
    distributed variant added ~13 s of cold-JVM WindowExec/metadata-scan
    codegen to the benched pipeline; this list comprehension adds
    milliseconds).

    Returns [(partition_id, sink, file, routed)] with partition_id a dense
    0-based index over files ordered by path. The sink is parsed from the
    file's ``sink=<name>/`` directory and the routed count is the footer's
    num_rows: every row in that directory was routed to that sink.
    """
    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    rows = []
    for i, f in enumerate(files):
        sink = None
        for part in os.path.relpath(f, data_dir).split(os.sep):
            if part.startswith("sink="):
                # Spark %-escapes special chars in partition dir names
                sink = unquote(part.split("=", 1)[1])
        rows.append((i, sink, f, pq.ParquetFile(f).metadata.num_rows))
    return rows


_ARROW_TYPES = {"string": "string", "long": "int64", "int": "int32"}


def write_lineage_parquet(rows: list[tuple], ddl: str, path: str) -> None:
    """Write a tiny lineage table driver-side with pyarrow — overwrite
    semantics (the dir is replaced).

    A ~50-row metadata artifact does not need a Spark job: a
    ``coalesce(1)`` write of a parallelized local collection runs ONE
    python worker over all N input partitions sequentially (measured
    4.7 s for 50 rows at local[32]; this is ~5 ms). Crash-safety is
    unchanged: the snapshot ledger commits AFTER this write, so a partial
    file from a crash is overwritten wholesale on resume."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = []
    for spec in ddl.split(","):
        name, typ = spec.strip().split()
        fields.append(pa.field(name, _ARROW_TYPES[typ]))
    schema = pa.schema(fields)
    cols = list(zip(*rows)) if rows else [[]] * len(fields)
    arrays = [
        pa.array(list(c), type=f.type) for c, f in zip(cols, schema)
    ]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(arrays, schema=schema), os.path.join(path, "part-00000.parquet")
    )


def source_file_rows(paths: list[str]) -> list[tuple]:
    """Per-INPUT-file row counts from source parquet footers, driver-side.

    The per-input-split half of SURVEY.md §2.5's lineage requirement
    (the reference's per-file offset bookkeeping,
    `logpipe-input-file.c:1901-1925`): rows_in is a physical property of
    each source file, available from its footer without any data pass.
    parsed/routed/dropped at input-file granularity would require keying
    the whole parse→route chain by ``_metadata.file_path`` — a second data
    pass the reference doesn't do either; those are covered at snapshot
    granularity by the observe() counters, and the conservation law
    (sum rows_in = routed + dropped) ties the two granularities together.

    Returns [(partition_id, file, rows_in)] ordered by path."""
    import pyarrow.parquet as pq

    rows = []
    for i, p in enumerate(sorted(paths)):
        try:
            n = pq.ParquetFile(p).metadata.num_rows
        except Exception as exc:
            # name the offending path: an unreadable source entry must be
            # diagnosable from the message, not from a pyarrow traceback
            # with no filename (the write already happened; the caller's
            # snapshot stays uncommitted and the re-run hits this again)
            raise ValueError(
                f"source_file_rows: {p!r} is not a readable parquet file "
                f"({exc}) — the input-edge lineage requires every "
                "non-hidden file in the snapshot dir to be parquet"
            ) from exc
        rows.append((i, p, n))
    return rows


def sink_counts(routed_df: DataFrame) -> DataFrame:
    """Per-sink aggregate counts (partial+final hash agg — Catalyst default),
    the §2.5 aggregate requirement: count + distinct convs + total text bytes."""
    return (
        routed_df.filter(F.col("sink").isNotNull())
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum(F.length("text")).alias("text_chars"),
        )
    )
