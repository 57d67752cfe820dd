"""The benchmark workloads: what one cycle runs, how it is checked, and which
layers its traced run breaks out.

``bulk``: two large snapshots, each written as several parquet files so
the scan splits without the pipeline's under-split repartition. One cycle is
one ``run_pipeline`` call that commits both into a fresh output
directory, then the read side, ``sink_counts(read_sinks(...)).collect()``.
``fan_out_write`` (scan through write) is about 60% of a cycle, the stage
chain build and ``run_pipeline``'s own driver work about 25%, the read about
15%; the ledger and lineage under 1%.

``funnel``: ``run_corpus_funnel`` over a seeded document table: about 90
Spark jobs per call between ``localCheckpoint`` barriers, the near-duplicate
stage about 45% of the call. It bypasses parse, route, sinks and the ledger,
so pipeline-side changes should not move it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from perfbench import checks, eventlog, host, inputs
from perfbench.spans import Tracer, self_times, totals_by_name

# bulk: 2 snapshots of ~32k turns, 4 parquet files each
BULK_TURNS, BULK_SNAPSHOTS, BULK_FILES = 64_000, 2, 4
# small enough for about 7 s per call on 4 cores
FUNNEL_DOCS, FUNNEL_FILES = 300, 4
PREFIX_REPS = 3


def _failure(what: str) -> str:
    """Log the current exception and return a one-line failure message."""
    traceback.print_exc(file=sys.stderr)
    return f"{what} raised {sys.exc_info()[1]!r}"[:500]


class Bulk:
    name = "bulk"
    row_name = "turns"
    warmup_cycles = 3

    def __init__(self, seed: int):
        self.seed = seed
        self.src = self.answers = None
        self._dim = None

    def prepare(self) -> None:
        self.src, self.answers = inputs.transcript_snapshots(
            "bulk", self.seed, BULK_TURNS, BULK_SNAPSHOTS, BULK_FILES
        )
        self.rows = sum(a["rows_in"] for a in self.answers.values())

    def _pipeline_args(self, spark):
        from logpipe_spark.fixtures import default_route_rules, gen_tool_role_dim

        if self._dim is None or self._dim.sparkSession is not spark:
            self._dim = spark.createDataFrame(gen_tool_role_dim())
        return self._dim, default_route_rules()

    def cycle(self, spark, out_dir: str, tracer: Tracer | None = None) -> dict:
        """One run_pipeline call over every snapshot, then the sink read."""
        from logpipe_spark.operators.sinks import sink_counts
        from logpipe_spark.pipeline import read_sinks, run_pipeline

        span = tracer.span if tracer else (lambda *a: nullcontext())
        dim, rules = self._pipeline_args(spark)
        res = {"out": out_dir, "rows": self.rows, "attempted": 1, "errors": []}
        t0 = time.perf_counter()
        try:
            with span("pipeline.run_pipeline"):
                res["processed"] = run_pipeline(
                    spark, self.src, out_dir, dim, rules,
                    salt_partitions=host.CORES,
                )["processed"]
        except Exception:
            res["errors"].append(_failure("run_pipeline"))
            return res
        t1 = time.perf_counter()
        res["pipeline_s"] = t1 - t0
        res["attempted"] += 1
        try:
            with span("sinks.read"):
                res["sink_rows"] = [
                    r.asDict() for r in sink_counts(read_sinks(spark, out_dir)).collect()
                ]
        except Exception:
            res["errors"].append(_failure("sink read"))
            return res
        res["read_s"] = time.perf_counter() - t1
        res["cycle_s"] = res["pipeline_s"] + res["read_s"]
        res["work_s"] = res["pipeline_s"]
        return res

    def check(self, spark, res: dict) -> None:
        """Append failure messages for ``res`` to ``res["errors"]`` and count
        failed operations in ``res["failed"]``."""
        from logpipe_spark.pipeline import read_lineage, read_sinks

        if res["errors"]:
            res["failed"] = 1
            return
        snaps = sorted(self.answers)
        pipe, read = [], []
        if sorted(res["processed"]) != snaps:
            pipe.append(f"processed {res['processed']} != {snaps}")
        try:
            pipe += checks.ledger_errors(res["out"], snaps)
            lineage = [r.asDict() for r in read_lineage(spark, res["out"]).collect()]
            pipe += checks.lineage_errors(lineage, self.answers)
            digest = [
                r.asDict()
                for r in checks.spark_digest(read_sinks(spark, res["out"])).collect()
            ]
            pipe += checks.digest_errors(digest, self.answers)
        except Exception:
            pipe.append(_failure("output check"))
        read += checks.sink_count_errors(res["sink_rows"], self.answers)
        res["errors"] += pipe + read
        res["failed"] = int(bool(pipe)) + int(bool(read))

    def output_stats(self, out_dir: str) -> dict:
        files = nbytes = 0
        for dirpath, _, names in os.walk(os.path.join(out_dir, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        return {
            "sinks.output_files": files,
            "sinks.output_bytes_per_turn": nbytes / self.rows,
            "ledger.manifest_bytes": os.path.getsize(
                os.path.join(out_dir, "_ledger.json")
            ),
        }

    # -- traced run only --------------------------------------------------

    def prefix_runs(self, spark, tracer: Tracer, out_dir: str) -> dict[str, float]:
        """Median wall seconds of the cumulative prefixes scan -> +parse ->
        +enrich -> +route (forced with the noop sink) and -> +fan_out_write,
        over snapshot 0, repeated PREFIX_REPS times interleaved."""
        from logpipe_spark.operators.enrich import enrich
        from logpipe_spark.operators.parse import extract_builtin
        from logpipe_spark.operators.route import route
        from logpipe_spark.operators.sinks import fan_out_write

        dim, rules = self._pipeline_args(spark)
        snap_dir = os.path.join(self.src, "snapshot=0")

        def scan():
            return spark.read.parquet(snap_dir)

        def parse():
            return extract_builtin(scan())

        def enriched():
            return enrich(parse(), dim, keys=["tool", "role"], how="left")

        def routed():
            return route(enriched(), rules)

        prefixes = [("scan", scan), ("parse", parse), ("enrich", enriched),
                    ("route", routed)]
        times: dict[str, list[float]] = {p: [] for p, _ in prefixes}
        times["sinks"] = []
        for _ in range(PREFIX_REPS):
            for layer, build in prefixes:
                t0 = time.perf_counter()
                with tracer.span(f"{layer}.prefix"):
                    build().write.format("noop").mode("overwrite").save()
                times[layer].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.span("sinks.prefix_write"):
                fan_out_write(routed(), out_dir, shuffle_partitions=host.CORES)
            times["sinks"].append(time.perf_counter() - t0)
            shutil.rmtree(out_dir, ignore_errors=True)
        return {k: median(v) for k, v in times.items()}

    def layer_metrics(self, spans, groups, results, prefix) -> dict:
        """The per-layer breakdown of a traced bulk run."""
        n_snap = BULK_SNAPSHOTS * len(results)
        tot = totals_by_name(spans)
        selfs = self_times(spans)

        def per_snap(name):
            return tot.get(name, {}).get("total_s", 0.0) / n_snap

        run_self = sum(selfs[s["id"]] for s in spans
                       if s["name"] == "pipeline.run_pipeline")
        pipeline_groups = [g for g in groups if g.split(".")[0] in
                           ("pipeline", "ledger") or g in (
                               "sinks.fan_out_write", "sinks.file_lineage_rows",
                               "sinks.source_file_rows", "sinks.write_lineage_parquet")]
        write = groups.get("sinks.fan_out_write", {})
        out = {
            "scan.self_s": prefix["scan"],
            "parse.self_s": prefix["parse"] - prefix["scan"],
            "enrich.self_s": prefix["enrich"] - prefix["parse"],
            "route.self_s": prefix["route"] - prefix["enrich"],
            "sinks.write_self_s": prefix["sinks"] - prefix["route"],
            "sinks.fan_out_write_s": per_snap("sinks.fan_out_write"),
            "sinks.read_s": tot.get("sinks.read", {}).get("total_s", 0.0) / len(results),
            "sinks.shuffle_write_bytes": write.get("shuffle_write_bytes", 0) / len(results),
            "sinks.spill_bytes": write.get("spill_bytes", 0) / len(results),
            "sinks.file_lineage_rows_s": per_snap("sinks.file_lineage_rows"),
            "sinks.source_file_rows_s": per_snap("sinks.source_file_rows"),
            "sinks.write_lineage_parquet_s": per_snap("sinks.write_lineage_parquet"),
            "ledger.pending_s": tot.get("ledger.pending", {}).get("total_s", 0.0) / len(results),
            "ledger.commit_s": per_snap("ledger.commit"),
            "pipeline.build_stage_chain_s": per_snap("pipeline.build_stage_chain"),
            "pipeline.self_s": run_self / n_snap,
            "pipeline.spark_jobs_per_snapshot":
                sum(groups[g]["jobs"] for g in pipeline_groups) / n_snap,
        }
        out.update(self.output_stats(results[-1]["out"]))
        n = len(results)
        layers = {
            "scan": _prefix_diff(groups, "scan.prefix", None),
            "parse": _prefix_diff(groups, "parse.prefix", "scan.prefix"),
            "enrich": _prefix_diff(groups, "enrich.prefix", "parse.prefix"),
            "route": _prefix_diff(groups, "route.prefix", "enrich.prefix"),
            "sinks": _per_cycle(groups, n, [
                "sinks.fan_out_write", "sinks.read", "sinks.file_lineage_rows",
                "sinks.source_file_rows", "sinks.write_lineage_parquet"]),
            "ledger": _per_cycle(groups, n, ["ledger.pending", "ledger.commit"]),
            "pipeline": _per_cycle(groups, n, ["pipeline.run_pipeline",
                                               "pipeline.build_stage_chain"]),
        }
        for layer, vals in layers.items():
            for k in LAYER_FIELDS:
                out[f"{layer}.{k}"] = vals[k]
        return out


class Funnel:
    name = "funnel"
    row_name = "docs"
    warmup_cycles = 2

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self) -> None:
        self.docs, self.eval = inputs.funnel_documents(self.seed, FUNNEL_DOCS, FUNNEL_FILES)
        self.counts_path = os.path.join(os.path.dirname(self.docs), "counts.json")
        self.rows = FUNNEL_DOCS

    def cycle(self, spark, out_dir: str, tracer: Tracer | None = None) -> dict:
        from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

        span = tracer.span if tracer else (lambda *a: nullcontext())
        res = {"rows": self.rows, "attempted": 1, "errors": [], "stage_s": {}}
        docs = spark.read.parquet(self.docs)
        ev = spark.read.parquet(self.eval)
        t0 = time.perf_counter()
        try:
            with span("funnel.run_corpus_funnel"):
                res["counts"] = dict(run_corpus_funnel(
                    spark, docs, eval_docs=ev, stage_seconds=res["stage_s"]
                ))
        except Exception:
            res["errors"].append(_failure("run_corpus_funnel"))
            return res
        res["cycle_s"] = res["work_s"] = time.perf_counter() - t0
        return res

    def check(self, spark, res: dict) -> None:
        if not res["errors"]:
            recorded = None
            if os.path.exists(self.counts_path):
                with open(self.counts_path) as f:
                    recorded = json.load(f)
            res["errors"] += checks.funnel_errors(res["counts"], self.rows, recorded)
            if recorded is None and not res["errors"]:
                tmp = self.counts_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(res["counts"], f)
                os.replace(tmp, self.counts_path)
        res["failed"] = int(bool(res["errors"]))

    def prefix_runs(self, spark, tracer, out_dir) -> dict:
        return {}

    def layer_metrics(self, spans, groups, results, prefix) -> dict:
        out = {}
        for stage in results[0].get("stage_s", {}):
            out[f"funnel.{stage}_s"] = median(
                [r["stage_s"][stage] for r in results if stage in r.get("stage_s", {})]
            )
        vals = _per_cycle(groups, len(results), ["funnel.run_corpus_funnel"])
        out["funnel.shuffle_write_bytes"] = vals["shuffle_write_bytes"]
        out["funnel.python_s"] = vals["python_s"]
        out["funnel.spark_jobs"] = vals["jobs"]
        for k in LAYER_FIELDS:
            out[f"funnel.{k}"] = vals[k]
        return out


WORKLOADS = {"bulk": Bulk, "funnel": Funnel}

LAYER_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "scheduler_delay_s", "peak_execution_memory_bytes", "failed_tasks")


def _per_cycle(groups: dict, n: int, names: list[str]) -> dict:
    """Event-log fields summed over the job groups ``names`` and divided by
    the ``n`` cycles (peak memory: the largest task peak)."""
    out = dict.fromkeys(eventlog.FIELDS, 0)
    for name in names:
        for k, v in groups.get(name, {}).items():
            if k == "peak_execution_memory_bytes":
                out[k] = max(out[k], v)
            else:
                out[k] += v / n
    return out


def _prefix_diff(groups: dict, name: str, minus: str | None) -> dict:
    """Event-log fields of one prefix run ``name`` minus those of the
    shorter prefix ``minus`` (peak memory: the prefix's own)."""
    a = _per_cycle(groups, PREFIX_REPS, [name])
    b = _per_cycle(groups, PREFIX_REPS, [minus] if minus else [])
    return {k: a[k] if k == "peak_execution_memory_bytes" else a[k] - b[k]
            for k in eventlog.FIELDS}


def median(values: list[float]) -> float:
    """The median, or 0.0 when nothing was measured (every cycle failed)."""
    return statistics.median(values) if values else 0.0
