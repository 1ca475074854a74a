"""Pure-Python reference for the curate chain's survivors.

Re-states, independently of Spark, what ``operators.curate.curate_corpus``
documents with ``curate_job``'s defaults (quality_min 0.5, threshold 0.5,
xxhash64 MinHash, 64 permutations in 16 bands, word 3-gram shingles):

1. exact dedup: one survivor per distinct text, the smallest id;
2. quality gate: the composite score of ``textstats.quality_stats``;
3. anchor near-dup rule: in every LSH bucket the smallest id is the
   anchor; any other member whose shingle Jaccard with it is >= the
   threshold is dropped.

Hashes come from ``functions.hashing`` (the engine's Python twin of
Spark's xxhash64), so the signature and band keys are bit-identical.
"""

from __future__ import annotations

import re

import numpy as np

from newscrawler_spark.functions.hashing import SPARK_SEED, xxhash64

QUALITY_MIN = 0.5
THRESHOLD = 0.5
NUM_PERM, BANDS, N = 64, 16, 3
_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s
_PUNCT = re.compile(r"[\.,;:!\?\(\)\[\]\"'«»—–-]")
_UPPER = re.compile(r"[A-Z]")
_U64 = (1 << 64) - 1


def tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.strip(" ").lower()) if t]


def shingles(text: str) -> set[str]:
    toks = tokens(text)
    if len(toks) < N:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + N]) for i in range(len(toks) - N + 1)}


def quality(text: str) -> float:
    n_tok, n_chars = len(tokens(text)), len(text)
    punct = len(_PUNCT.findall(text)) / n_chars if n_chars else 0.0
    upper = len(_UPPER.findall(text)) / n_chars if n_chars else 0.0
    return round(min(n_tok / 50.0, 1.0) * 0.5
                 + (1.0 - min(punct * 5, 1.0)) * 0.25
                 + (1.0 - min(upper * 5, 1.0)) * 0.25, 4)


def _h1h2(s: str, memo: dict) -> tuple[int, int]:
    hv = memo.get(s)
    if hv is None:
        h = xxhash64(s.encode("utf-8"), SPARK_SEED)
        # xxhash64(s, lit(1)) folds the int 1 into the hash seeded by h
        h2 = xxhash64((1).to_bytes(4, "little"), h & _U64)
        hv = memo[s] = ((h & _U64) >> 8, (h2 & _U64) >> 8)
    return hv


def signature(sh: set[str], memo: dict) -> np.ndarray:
    hv = np.array([_h1h2(s, memo) for s in sh], dtype=np.int64)
    perms = np.arange(NUM_PERM, dtype=np.int64)[:, None]
    return (hv[None, :, 0] + perms * hv[None, :, 1]).min(axis=1)


def band_keys(sig: np.ndarray) -> list[int]:
    r = NUM_PERM // BANDS
    return [xxhash64(",".join(str(int(v)) for v in sig[b * r:(b + 1) * r])
                     .encode("utf-8"), SPARK_SEED) for b in range(BANDS)]


def survivors(docs: list[tuple[int, str]]) -> dict:
    """Expected surviving ids and the near-dup drops behind them."""
    keep: dict[str, int] = {}
    for i, text in docs:
        if text not in keep or i < keep[text]:
            keep[text] = i
    s2 = sorted((i, t) for t, i in keep.items() if quality(t) >= QUALITY_MIN)
    memo: dict = {}
    sh = {i: shingles(t) for i, t in s2}
    buckets: dict[tuple[int, int], int] = {}  # (band, key) -> anchor id
    cand = set()
    for i, _ in s2:  # ascending id: the first member of a bucket anchors it
        for b, key in enumerate(band_keys(signature(sh[i], memo))):
            a = buckets.setdefault((b, key), i)
            if a != i:
                cand.add((a, i))
    dropped = {i for a, i in cand
               if len(sh[a] & sh[i]) / len(sh[a] | sh[i]) >= THRESHOLD}
    return {"survivors": sorted(i for i, _ in s2 if i not in dropped),
            "near_dropped": sorted(dropped), "candidates": len(cand)}
