"""curate_dedup: the ``jobs/curate_job.py`` documents path (exact dedup →
quality gate → MinHash-LSH anchor near-dup drop → training shards) on a
seeded documents table with injected exact and near copies.

Correctness: the surviving ids must equal those of the pure-Python
reference (perfbench/dedup_ref.py) on the same seeded input, which pins
the near-copy drop count per seed; every injected exact copy must be
dropped; the shard manifest totals must equal the survivor count.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import time
import traceback

from perfbench import box, inputs

SETUP_REPS = 3
# the first pass of a process pays JIT/codegen warm-up (about twice a warm
# pass, and far noisier): it runs and is checked, but is not timed
WARMUP_PASSES = 1
# the timed region is a fixed number of whole warm passes, one per
# SECONDS_PER_PASS of --seconds (at least 2)
SECONDS_PER_PASS = 10
N_SHARDS = 16


def _write_docs(ctx, seed: int, texts: list[str], path: str):
    pdf, truth = inputs.curate_documents(seed, texts)
    ctx.spark.createDataFrame(pdf, "doc_id long, text string").write.mode(
        "overwrite").parquet(path)
    return pdf, truth


def _reference(ctx, seed: int, pdf) -> dict:
    """Expected survivors — cached per seed, computed outside the timing."""
    from perfbench import dedup_ref

    path = os.path.join(ctx.cache, "oracle",
                        f"curate-{inputs.CORPUS_TAG}-n{len(pdf)}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ref = dedup_ref.survivors(list(zip(pdf["doc_id"].tolist(),
                                       pdf["text"].tolist())))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


def _one_pass(ctx, docs_path: str, out: str) -> dict:
    from jobs.curate_job import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["--input", docs_path, "--input-kind", "documents", "--out", out,
              "--n-shards", str(N_SHARDS)])
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _check(ctx, out: str, summary: dict, truth: dict,
           ref: dict) -> tuple[list[str], str]:
    """Reasons the pass failed (empty if none) and its output digest."""
    from newscrawler_spark.operators.shards import MANIFEST, read_training_shards

    ids = sorted(r.doc_id for r in read_training_shards(ctx.spark, out)
                 .select("doc_id").collect())
    with open(os.path.join(out, MANIFEST)) as f:
        man = json.load(f)
    why = []
    kept = set(ids)
    if kept & set(truth["exact_ids"]):
        why.append(f"{len(kept & set(truth['exact_ids']))} exact copies kept")
    near = len(set(truth["near_ids"]) - kept)
    want = len(set(truth["near_ids"]) & set(ref["near_dropped"]))
    if near != want:
        why.append(f"{near} near copies dropped, reference drops {want}")
    if ids != ref["survivors"]:
        why.append(f"{len(kept ^ set(ref['survivors']))} survivors differ "
                   "from the reference")
    totals = sum(s["n_docs"] for s in man["shards"].values())
    if not (man["total_docs"] == totals == summary["surviving_docs"] == len(ids)):
        why.append(f"shard totals {man['total_docs']}/{totals} != {len(ids)}")
    digest = hashlib.sha256(json.dumps(
        [ids, sorted((k, v["order_checksum"]) for k, v in man["shards"].items())]
    ).encode()).hexdigest()
    return why, digest


def run(ctx, seed: int, seconds: float, trace: bool) -> dict:
    texts = inputs.article_texts(ctx.cache)
    docs_path = os.path.join(ctx.work, "documents")
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        pdf, truth = _write_docs(ctx, seed, texts, docs_path)
        setups.append(time.monotonic() - t0)
    n_docs = truth["base"] + len(truth["exact_ids"]) + len(truth["near_ids"])

    # a traced run reports only the traced pass, so it times one warm pass
    # to compare that with
    timed = 1 if trace else max(2, round(seconds / SECONDS_PER_PASS))
    passes, outs = [], []
    for i in range(WARMUP_PASSES + timed):
        if i == WARMUP_PASSES:
            t0 = time.monotonic()
        out = os.path.join(ctx.work, f"shards-{len(passes)}")
        p0 = time.monotonic()
        try:
            summary = _one_pass(ctx, docs_path, out)
        except Exception as e:  # a crashed pass is a failed operation
            traceback.print_exc()
            summary = {"error": f"{type(e).__name__}: {e}"}
        passes.append(time.monotonic() - p0)
        outs.append((out, summary))
    wall = time.monotonic() - t0
    rss = box.peak_rss_mb()
    warm, passes = passes[:WARMUP_PASSES], passes[WARMUP_PASSES:]

    ref = _reference(ctx, seed, pdf)
    failed, notes, digests = 0, [], set()
    for i, (out, summary) in enumerate(outs):
        why = [summary["error"]] if "error" in summary else []
        if not why:
            why, digest = _check(ctx, out, summary, truth, ref)
            digests.add(digest)
        shutil.rmtree(out, ignore_errors=True)
        if why:
            failed += 1
            notes += [f"pass {i}: {w}" for w in why]
    if len(digests) > 1:
        failed += 1
        notes.append("passes over the same input disagree")

    result = {
        "attempted": len(outs),
        "failed": failed,
        "notes": notes,
        "setup": setups,
        "wall": wall,
        "throughput_per_s": n_docs / statistics.median(passes),
        "op_s_p50": statistics.median(passes),
        "peak_rss_mb": rss,
        "report": {
            "docs_per_s": n_docs / statistics.median(passes),
            "docs_per_s_wall": n_docs * len(passes) / wall,
            "warmup_pass_s": warm,
            "pass_s": passes,
            "input_docs": n_docs,
            "near_copies_injected": len(truth["near_ids"]),
            "near_copies_dropped_ref": len(set(truth["near_ids"])
                                           & set(ref["near_dropped"])),
            "lsh_candidates_ref": ref["candidates"],
        },
    }
    if trace:
        # compare with the last untraced pass: warm, like the traced one
        result["traced"] = _traced(ctx, docs_path, truth, ref,
                                   digests.pop() if digests else None,
                                   passes[-1])
    return result


def _traced(ctx, docs_path: str, truth: dict, ref: dict, digest,
            pass_s: float) -> dict:
    from perfbench import trace as T

    tracer = T.Tracer(ctx.spark.sparkContext)
    T.install_curate(tracer)
    out = os.path.join(ctx.work, "shards-traced")
    t0 = time.monotonic()
    try:
        with tracer.span("curate_job.pass"):
            summary = _one_pass(ctx, docs_path, out)
    finally:
        tracer.release()
        tracer.unpatch()
    traced_s = time.monotonic() - t0
    why, traced_digest = _check(ctx, out, summary, truth, ref)
    return {
        "tracer": tracer,
        "digest_ok": not why and traced_digest == digest,
        "extra": {"trace.overhead_s": traced_s - pass_s},
    }
