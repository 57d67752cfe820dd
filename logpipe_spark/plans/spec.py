"""Declarative pipeline spec — the JSON config model of the reference
(`src/config.c:11-18`, example `README.md:92-116`) re-imagined as a plan
description compiled to DataFrame transforms.

logpipe config:                       here:
  { "inputs":  [ {plugin, opts} ],      { "source":  {path | snapshots},
    "filters": [ {plugin, opts} ],        "parse":   {"parser": builtin|pandas},
    "outputs": [ {plugin, opts} ] }       "enrich":  {dim keys, how},
                                          "route":   [rule, ...],
                                          "sinks":   {out_dir, salt} }

Where the reference dlopens plugin .so files (`src/config.c:63-119`), this
compiles to the same five-stage chain `pipeline.run_pipeline` executes —
the "plugin ABI" is the DataFrame, and a custom stage is just a callable
registered in STAGE_REGISTRY.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from logpipe_spark.functions.units import parse_duration_us, parse_size_bytes
from logpipe_spark.pipeline import run_pipeline


@dataclass
class PipelineSpec:
    source_dir: str
    out_dir: str
    rules: list[dict]
    dim_rows: list[dict] = field(default_factory=list)
    dim_keys: list[str] = field(default_factory=lambda: ["tool", "role"])
    parser: str = "builtin"
    salt_partitions: int | None = None
    run_id: str | None = None
    # source-level basename glob filters (logpipe-input-file.c:593-739):
    # keep iff ALL include globs match and NO exclude glob matches
    files: list[str] = field(default_factory=list)
    exclude_files: list[str] = field(default_factory=list)
    # unit-bearing scalars (util.c:525-568 semantics: "128MB", "100ms")
    max_partition_bytes: int | None = None  # scan split target
    poll_interval_us: int | None = None  # streaming trigger period

    @classmethod
    def from_json(cls, text: str) -> "PipelineSpec":
        cfg = json.loads(text)
        for k in ("source_dir", "out_dir", "rules"):
            if k not in cfg:
                raise ValueError(f"pipeline spec missing required key: {k!r}")
        for rule in cfg["rules"]:
            missing = {"rule_id", "match_col", "pattern", "sink"} - set(rule)
            if missing:
                raise ValueError(f"rule {rule!r} missing keys: {sorted(missing)}")
            rule.setdefault("exclude", False)
        mpb = cfg.get("max_partition_bytes")
        poll = cfg.get("poll_interval")
        return cls(
            source_dir=cfg["source_dir"],
            out_dir=cfg["out_dir"],
            rules=cfg["rules"],
            dim_rows=cfg.get("dim", []),
            dim_keys=cfg.get("dim_keys", ["tool", "role"]),
            parser=cfg.get("parser", "builtin"),
            salt_partitions=cfg.get("salt_partitions"),
            run_id=cfg.get("run_id"),
            files=cfg.get("files", []),
            exclude_files=cfg.get("exclude_files", []),
            max_partition_bytes=parse_size_bytes(mpb) if mpb is not None else None,
            poll_interval_us=parse_duration_us(poll) if poll is not None else None,
        )

    @classmethod
    def from_file(cls, path: str) -> "PipelineSpec":
        with open(path) as f:
            return cls.from_json(f.read())

    def _dim(self, spark: SparkSession) -> DataFrame:
        if self.dim_rows:
            return spark.createDataFrame(self.dim_rows)
        from logpipe_spark.fixtures import gen_tool_role_dim

        return spark.createDataFrame(gen_tool_role_dim())

    def run(self, spark: SparkSession) -> dict:
        # NOTE (ADVICE r2): maxPartitionBytes is a session-global knob —
        # set-then-restore assumes ONE spec runs on this session at a time
        # (the reference's process model: one config file, one pipeline per
        # process). Concurrent spec runs sharing a session would race on
        # it; give each runner its own SparkSession (cheap: newSession()
        # shares the SparkContext but isolates SQL conf) if you need that.
        dim = self._dim(spark)
        conf_key = "spark.sql.files.maxPartitionBytes"
        prev = spark.conf.get(conf_key) if self.max_partition_bytes else None
        if self.max_partition_bytes:
            spark.conf.set(conf_key, str(self.max_partition_bytes))
        try:
            return run_pipeline(
                spark,
                self.source_dir,
                self.out_dir,
                dim,
                self.rules,
                run_id=self.run_id,
                parser=self.parser,
                salt_partitions=self.salt_partitions,
                dim_keys=self.dim_keys,
                include_files=self.files or None,
                exclude_files=self.exclude_files or None,
            )
        finally:
            # scan tuning is per-spec, not per-session: restore so one
            # spec's 1MB split target doesn't leak into every later job
            if self.max_partition_bytes:
                spark.conf.set(conf_key, prev)

    def run_streaming(
        self, spark: SparkSession, available_now: bool = True,
        timeout_sec: int = 300,
    ) -> dict:
        """Streaming flavor of the same spec — this is what consumes
        ``poll_interval`` (the reference's usleep tail-poll period): with
        ``available_now=False`` the query triggers every poll interval."""
        from logpipe_spark.streaming.stream import run_stream

        return run_stream(
            spark,
            self.source_dir,
            self.out_dir,
            self._dim(spark),
            self.rules,
            available_now=available_now,
            timeout_sec=timeout_sec,
            trigger_interval_us=self.poll_interval_us,
            parser=self.parser,
            dim_keys=self.dim_keys,
        )


# custom-stage registry: name → Callable[[DataFrame], DataFrame]
# (the dlopen analogue for user-defined filter stages)
STAGE_REGISTRY: dict[str, Callable[[DataFrame], DataFrame]] = {}


def register_stage(name: str):
    def deco(fn: Callable[[DataFrame], DataFrame]):
        STAGE_REGISTRY[name] = fn
        return fn

    return deco
