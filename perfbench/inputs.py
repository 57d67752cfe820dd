"""Seeded benchmark inputs and their cached reference answers.

Everything here is a pure function of the seed and the size constants in
``perfbench.workloads``: the same seed always yields byte-identical parquet
inputs and the same oracle answers, so both are cached on disk per seed
(``perfbench/_cache``) and never timed. The program under test only ever
sees the parquet files written here.

- transcripts (``bulk``) come from
  ``logpipe_spark.fixtures.gen_transcripts``; the answers from
  ``logpipe_spark.oracle.run_reference``, one record per snapshot:
  rows_in, dropped, per-sink n_rows, n_convs and text_chars, and an
  order-independent digest of the routed (sink, conv_id, turn_idx, text) rows.
- documents (``funnel``) come from :func:`gen_documents` below, with planted
  exact duplicates, near duplicates, boilerplate lines, PII, short docs and
  eval-set contamination so that every funnel stage has work to do.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_ROOT = os.path.join(HERE, "_cache")


# -- routed-row digest ----------------------------------------------------

DIGEST_SEP = "\x1f"


def row_digest(sink: str, conv_id: str, turn_idx: int, text: str) -> tuple[int, int]:
    """Two 32-bit slices of sha1(sink, conv_id, turn_idx, text). Summed over
    rows they form an order-independent digest; ``checks.spark_digest``
    computes the same sums inside Spark."""
    key = DIGEST_SEP.join((sink, conv_id, str(turn_idx), text))
    h = hashlib.sha1(key.encode("utf-8")).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def digest_rows(routed: pd.DataFrame) -> list[int]:
    """[n_rows, sum of first slices, sum of second slices]."""
    s1 = s2 = 0
    for sink, conv, idx, text in zip(
        routed["sink"], routed["conv_id"], routed["turn_idx"], routed["text"]
    ):
        a, b = row_digest(sink, conv, int(idx), text)
        s1 += a
        s2 += b
    return [len(routed), s1, s2]


# -- cache plumbing -------------------------------------------------------

def _cached_dir(name: str, build) -> str:
    """Return ``_cache/<name>``, building it with ``build(tmp_dir)`` first if
    absent. The build goes to a temp dir that is renamed into place, so an
    interrupted build never leaves a half-written cache entry."""
    final = os.path.join(CACHE_ROOT, name)
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final


def _write_parts(df: pd.DataFrame, snap_dir: str, n_files: int) -> None:
    os.makedirs(snap_dir, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(df)), n_files)):
        df.iloc[idx].to_parquet(
            os.path.join(snap_dir, f"part-{i:05d}.parquet"), index=False
        )


def _oracle_record(snap_df: pd.DataFrame) -> dict:
    """rows_in, dropped, the routed-row digest, and per sink the three
    aggregates ``operators.sinks.sink_counts`` reports."""
    from logpipe_spark import oracle
    from logpipe_spark.fixtures import default_route_rules, gen_tool_role_dim

    ref = oracle.run_reference(snap_df, gen_tool_role_dim(), default_route_rules())
    routed = ref["routed"]
    sinks = {}
    if len(routed):
        for sink, g in routed.groupby("sink"):
            sinks[sink] = {
                "n_rows": int(len(g)),
                "n_convs": int(g["conv_id"].nunique()),
                "text_chars": int(g["text"].str.len().sum()),
            }
    return {
        "rows_in": int(len(snap_df)),
        "dropped": int(ref["dropped"]),
        "sinks": sinks,
        "digest": digest_rows(routed) if len(routed) else [0, 0, 0],
    }


def transcript_snapshots(
    tag: str, seed: int, n_turns: int, n_snapshots: int, n_files: int
) -> tuple[str, dict[int, dict]]:
    """Cached source dir ``src/snapshot=<k>/part-*.parquet`` plus the oracle
    record of every snapshot. Turns are split into snapshots by conversation
    (crc32 of conv_id, like ``ledger.write_snapshots``), so a conversation
    never straddles two snapshots; each snapshot is written as ``n_files``
    parquet parts."""
    from logpipe_spark.fixtures import gen_transcripts

    def build(tmp: str) -> None:
        pdf = gen_transcripts(n_turns, seed=seed)
        bucket = pdf["conv_id"].map(lambda c: zlib.crc32(c.encode()) % n_snapshots)
        answers = {}
        for k in range(n_snapshots):
            part = pdf[bucket == k].reset_index(drop=True)
            _write_parts(part, os.path.join(tmp, "src", f"snapshot={k}"), n_files)
            answers[k] = _oracle_record(part)
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(answers, f)

    d = _cached_dir(
        f"{tag}-s{seed}-n{n_turns}-k{n_snapshots}-f{n_files}", build
    )
    with open(os.path.join(d, "oracle.json")) as f:
        answers = {int(k): v for k, v in json.load(f).items()}
    return os.path.join(d, "src"), answers


# -- documents for the corpus funnel --------------------------------------

_SYLLABLES = "ka lo mi ne ru sa ti vo ze pa qu di fe go hu ji".split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_W = np.array([0.45, 0.15, 0.15, 0.15, 0.10])
BOILERPLATE = [
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the original authors",
    "click here to accept the cookie policy",
]
PII = ["contact jo.doe@example.com today", "server at 10.0.12.7 failed",
       "call +44 20 7946 0958 now"]


def _vocab(rng: np.random.Generator, size: int = 400) -> np.ndarray:
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, size=n)))
    return np.array(sorted(words))


def gen_documents(n_docs: int, seed: int) -> tuple[pd.DataFrame, np.ndarray]:
    """(docs, eval_ids): a seeded document table (doc_id, text, lang, source)
    in seed-permuted row order, and the doc ids of the held-out eval subset.

    Planted shares: 4% too-short docs (quality gate), 3% exact copies,
    4% one-word-edited near copies (3-gram Jaccard >= 0.8), 10% multi-line
    docs ending in one of three boilerplate lines (line dedup), 5% PII,
    and 2% docs carrying a 12-word span of an eval doc (decontamination)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    weights = 1.0 / (np.arange(vocab.size) + 10.0)
    weights /= weights.sum()

    def words(k: int) -> list[str]:
        return list(rng.choice(vocab, size=k, p=weights))

    # each fresh document is copied at most once, so after exact dedup the
    # near-duplicate graph is disjoint pairs and its connected components
    # take the same number of rounds on every seed
    texts: list[str] = []
    toks: list[list[str]] = []
    fresh: list[int] = []
    uncopied: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if r < 0.04:
            w = words(int(rng.integers(3, 8)))
        elif r < 0.11 and uncopied:
            w = list(toks[uncopied.pop(int(rng.integers(0, len(uncopied))))])
            if r >= 0.07:
                w[int(rng.integers(0, len(w)))] = str(rng.choice(vocab))
        else:
            w = words(int(rng.integers(40, 120)))
            fresh.append(i)
            uncopied.append(i)
        toks.append(w)
        text = " ".join(w)
        r2 = rng.random()
        if r2 < 0.10:
            cut = len(w) // 2
            text = (" ".join(w[:cut]) + "\n" + " ".join(w[cut:]) + "\n"
                    + BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        elif r2 < 0.15:
            text = text + " " + PII[int(rng.integers(0, len(PII)))]
        texts.append(text)

    doc_ids = np.arange(n_docs, dtype=np.int64)
    eval_ids = np.sort(
        rng.choice(fresh, size=max(1, n_docs // 50), replace=False)
    )
    eval_set = set(int(e) for e in eval_ids)
    for i in rng.choice(n_docs, size=max(1, n_docs // 50), replace=False):
        if int(i) in eval_set:
            continue
        src = toks[int(rng.choice(eval_ids))]
        start = int(rng.integers(0, len(src) - 12 + 1))
        texts[int(i)] = texts[int(i)] + " " + " ".join(src[start:start + 12])

    docs = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_W),
            "source": np.array([f"src{j}" for j in rng.integers(0, 5, size=n_docs)]),
        }
    )
    docs = docs.iloc[rng.permutation(n_docs)].reset_index(drop=True)
    return docs, eval_ids


def funnel_documents(seed: int, n_docs: int, n_files: int) -> tuple[str, str]:
    """Cached (docs_dir, eval_dir) parquet directories for one seed."""

    def build(tmp: str) -> None:
        docs, eval_ids = gen_documents(n_docs, seed)
        _write_parts(docs, os.path.join(tmp, "docs"), n_files)
        ev = docs[docs["doc_id"].isin(eval_ids)].reset_index(drop=True)
        _write_parts(ev, os.path.join(tmp, "eval"), 1)

    d = _cached_dir(f"funnel-s{seed}-n{n_docs}-f{n_files}", build)
    return os.path.join(d, "docs"), os.path.join(d, "eval")
