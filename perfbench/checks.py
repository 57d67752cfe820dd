"""Output checks, run outside the timed region. Each returns a list of
failure messages; an empty list means the output is correct."""

from __future__ import annotations

import json
import os

from perfbench.inputs import DIGEST_SEP

FUNNEL_STAGES = [
    "input", "clean_text", "quality_gate", "exact_dedup", "neardup_keep_best",
    "decontaminate", "pii_line_dedup", "temperature_mix",
]


def spark_digest(routed):
    """Per (snapshot, sink): the aggregates ``sink_counts`` reports plus the
    two digest sums of ``inputs.row_digest``, computed inside Spark."""
    from pyspark.sql import functions as F

    h = F.sha1(F.concat_ws(
        DIGEST_SEP, "sink", "conv_id", F.col("turn_idx").cast("string"), "text"
    ))
    return routed.groupBy("snapshot", "sink").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.sum(F.length("text")).alias("text_chars"),
        F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")).alias("d1"),
        F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")).alias("d2"),
    )


def expected_sinks(answers: dict[int, dict]) -> dict[str, dict]:
    """Oracle per-sink aggregates summed over snapshots (a conversation
    never straddles snapshots, so distinct-conversation counts add up)."""
    out: dict[str, dict] = {}
    for rec in answers.values():
        for sink, agg in rec["sinks"].items():
            acc = out.setdefault(sink, {"n_rows": 0, "n_convs": 0, "text_chars": 0})
            for k in acc:
                acc[k] += agg[k]
    return out


def sink_count_errors(rows: list[dict], answers: dict[int, dict]) -> list[str]:
    """``sink_counts`` rows against the oracle."""
    got = {
        r["sink"]: {"n_rows": r["n_rows"], "n_convs": r["n_convs"],
                    "text_chars": r["text_chars"]}
        for r in rows
    }
    want = expected_sinks(answers)
    return [] if got == want else [f"sink_counts {got} != oracle {want}"]


def ledger_errors(out_dir: str, snapshots: list[int]) -> list[str]:
    """Every snapshot committed exactly once."""
    with open(os.path.join(out_dir, "_ledger.json")) as f:
        state = json.load(f)
    errors = []
    if sorted(state["committed"]) != sorted(snapshots) or len(
        state["committed"]
    ) != len(snapshots):
        errors.append(f"ledger committed {state['committed']} != {snapshots}")
    commit_ids = [c["snapshot_id"] for c in state["commits"]]
    if sorted(commit_ids) != sorted(snapshots):
        errors.append(f"ledger commits {commit_ids} != {snapshots}")
    return errors


def lineage_errors(rows: list[dict], answers: dict[int, dict]) -> list[str]:
    """Per-snapshot conservation from the lineage table: rows_in == routed +
    dropped, per-output-file routed sums == routed, per-input-file rows_in
    sums == rows_in, and all three equal to the oracle."""
    errors = []
    for snap, rec in answers.items():
        mine = [r for r in rows if r["snapshot_id"] == snap]
        totals = [r for r in mine if r["partition_id"] == -1]
        if len(totals) != 1:
            errors.append(f"snapshot {snap}: {len(totals)} lineage total rows")
            continue
        t = totals[0]
        routed = sum(a["n_rows"] for a in rec["sinks"].values())
        if t["rows_in"] != t["routed"] + t["dropped"]:
            errors.append(f"snapshot {snap}: rows_in != routed + dropped ({t})")
        if (t["rows_in"], t["routed"], t["dropped"]) != (
            rec["rows_in"], routed, rec["dropped"]
        ):
            errors.append(f"snapshot {snap}: lineage {t} != oracle {rec}")
        out_files = [r for r in mine if r["partition_id"] >= 0 and r["sink"] is not None]
        in_files = [r for r in mine if r["partition_id"] >= 0 and r["sink"] is None]
        if sum(r["routed"] for r in out_files) != t["routed"]:
            errors.append(f"snapshot {snap}: per-file routed sum != routed")
        if sum(r["rows_in"] for r in in_files) != t["rows_in"]:
            errors.append(f"snapshot {snap}: per-input-file rows_in sum != rows_in")
    return errors


def digest_errors(rows: list[dict], answers: dict[int, dict]) -> list[str]:
    """``spark_digest`` rows against the oracle: routed-row text equality
    per snapshot, independent of row order."""
    got: dict[int, list[int]] = {}
    for r in rows:
        acc = got.setdefault(r["snapshot"], [0, 0, 0])
        acc[0] += r["n_rows"]
        acc[1] += r["d1"]
        acc[2] += r["d2"]
    want = {k: rec["digest"] for k, rec in answers.items() if rec["digest"][0]}
    return [] if got == want else [f"routed-row digest {got} != oracle {want}"]


def funnel_errors(counts: dict, n_docs: int, recorded: dict | None) -> list[str]:
    """The invariants of the composed funnel (as in the package's
    ``test_corpus_funnel_invariants``), the input count, and equality with
    the counts recorded for this seed."""
    errors = []
    if list(counts)[:len(FUNNEL_STAGES)] != FUNNEL_STAGES:
        errors.append(f"funnel stages {list(counts)}")
        return errors
    seq = [counts[s] for s in FUNNEL_STAGES]
    if any(a < b for a, b in zip(seq, seq[1:])):
        errors.append(f"funnel counts increase: {seq}")
    if counts["input"] != n_docs:
        errors.append(f"funnel input {counts['input']} != {n_docs}")
    if not counts["input"] > counts["temperature_mix"] > 0:
        errors.append("funnel kept no documents or all of them")
    if not 0 < counts["packed_bins"] <= counts["chunks"]:
        errors.append("funnel packed_bins not in (0, chunks]")
    if counts["shuffled"] != counts["temperature_mix"]:
        errors.append("funnel shuffled != temperature_mix")
    if recorded is not None and dict(counts) != recorded:
        errors.append(f"funnel counts {dict(counts)} != recorded {recorded}")
    return errors
