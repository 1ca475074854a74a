"""crawl_polite: a fixed number of small incremental rounds through
``runner.run_crawl`` with the Bloom seen-filter probed every round.

Correctness: the fetch log (round, host, rank, url_hash, status) and the
seen set must equal ``tests/oracle_crawler.py`` on the same seeded
inputs; no host may exceed its budget in any round; every round manifest
must record that the seen-filter shards were probed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
import traceback

from newscrawler_spark.config import CrawlConfig
from newscrawler_spark.runner import run_crawl

from perfbench import box, inputs

SETUP_REPS = 2
# the timed region is a fixed number of rounds, one per SECONDS_PER_ROUND of
# --seconds (at least 2), so it does the same work however fast the box is
SECONDS_PER_ROUND = 10
CFG = CrawlConfig(
    per_host_budget=100,
    max_depth=inputs.MAX_DEPTH,
    batch_size=None,
    # robots crawl-delays must not cap the seeded budgets
    round_seconds=10**6,
    hot_host_threshold=2000,
    # a long-running crawl's seen set is past the Bloom activation size
    bloom_min_seen_rows=0,
)
PROBED_MODES = ("incremental", "rebuild")


def _oracle(ctx, seed: int, seeds_pdf, rounds: int) -> dict:
    """Oracle fetch log, seen set and host budgets — cached per seed."""
    path = os.path.join(ctx.cache, "oracle",
                        f"polite-{inputs.CORPUS_TAG}-r{rounds}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from tests.oracle_crawler import OracleCrawler

    oc = OracleCrawler(inputs.corpus_rows(ctx.cache),
                       seeds_pdf.to_dict("records"), CFG)
    res = oc.run(max_rounds=rounds)
    out = {
        "log": sorted([d["fetch_round"], d["host"], d["rank_in_host"],
                       d["url_hash"], d["status"]] for d in res.fetch_log),
        "seen": sorted(res.seen),
        "budget": {h: oc.budget(h) for h in seeds_pdf["host"]},
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def _outputs(state, rounds: int) -> dict:
    log = sorted(
        [r.fetch_round, r.host, r.rank_in_host, r.url_hash, r.status]
        for r in state.read_fetch_log().select(
            "fetch_round", "host", "rank_in_host", "url_hash", "status"
        ).collect())
    seen = sorted(r.url_hash for r in state.read_seen().collect())
    modes = {r: (state.manifest(r).get("bloom") or {}).get("mode")
             for r in range(1, rounds + 1)}
    digest = hashlib.sha256(json.dumps([log, seen]).encode()).hexdigest()
    return {"log": log, "seen": seen, "modes": modes, "digest": digest}


def _failed_rounds(out: dict, want: dict, rounds: int) -> dict[int, list[str]]:
    """round -> reasons it failed its checks."""
    bad: dict[int, list[str]] = {}
    per_host: dict[tuple[int, str], int] = {}
    for rnd, host, *_ in out["log"]:
        per_host[(rnd, host)] = per_host.get((rnd, host), 0) + 1
    for r in range(1, rounds + 1):
        why = []
        if [x for x in out["log"] if x[0] == r] != [x for x in want["log"] if x[0] == r]:
            why.append("fetch log differs from the oracle")
        if out["modes"].get(r) not in PROBED_MODES:
            why.append(f"seen path was {out['modes'].get(r)!r}, not a shard probe")
        over = [h for (rr, h), n in per_host.items()
                if rr == r and n > want["budget"].get(h, 0)]
        if over:
            why.append(f"hosts over budget: {sorted(over)[:3]}")
        if why:
            bad[r] = why
    if out["seen"] != want["seen"]:
        bad.setdefault(rounds, []).append("seen set differs from the oracle")
    return bad


def run(ctx, seed: int, seconds: float, trace: bool) -> dict:
    spark, rounds = ctx.spark, max(2, round(seconds / SECONDS_PER_ROUND))
    pages = inputs.pages_df(spark, ctx.cache)

    # a traced run reports no set-up time, so it sets up once
    setups, state_dir = [], None
    for i in range(1 if trace else SETUP_REPS):
        t0 = time.monotonic()
        seeds_pdf = inputs.polite_seeds(seed)
        seeds = inputs.seeds_df(spark, seeds_pdf)
        state_dir = os.path.join(ctx.work, f"polite-{i}")
        run_crawl(spark, pages, seeds, state_dir, CFG, max_rounds=0)
        setups.append(time.monotonic() - t0)
    if trace:
        shutil.copytree(state_dir, state_dir + "-traced")

    attempted, notes = rounds, []
    t0 = time.monotonic()
    try:
        res = run_crawl(spark, pages, seeds, state_dir, CFG, max_rounds=rounds)
    except Exception as e:  # a crashed crawl fails all of its rounds
        traceback.print_exc()
        return {"attempted": attempted, "failed": attempted,
                "error": f"{type(e).__name__}: {e}", "setup": setups}
    wall = time.monotonic() - t0
    rss = box.peak_rss_mb()
    counters = res.state.read_counters().orderBy("fetch_round").collect()
    out = _outputs(res.state, rounds)

    want = _oracle(ctx, seed, seeds_pdf, rounds)
    bad = _failed_rounds(out, want, rounds)
    if res.rounds_run != rounds:
        bad.setdefault(rounds, []).append(f"ran {res.rounds_run} rounds")
    failed = len(bad)
    notes += [f"round {r}: {w}" for r, ws in sorted(bad.items()) for w in ws]

    scheduled = sum(c.urls_scheduled for c in counters)
    extracted = sum(c.articles_extracted for c in counters)
    round_s = [c.wall_ms / 1000.0 for c in counters]
    result = {
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "setup": setups,
        "wall": wall,
        "throughput_per_s": (scheduled + extracted) / sum(round_s),
        "op_s_p50": statistics.median(round_s),
        "peak_rss_mb": rss,
        "report": {
            "urls_per_s": (scheduled + extracted) / sum(round_s),
            "urls_per_s_wall": (scheduled + extracted) / wall,
            "round_s_p50": statistics.median(round_s),
            "round_s": round_s,
            "urls_scheduled": scheduled,
            "articles_extracted": extracted,
            "frontier_rows": [res.state.manifest(r)["row_counts"]["frontier"]
                              for r in range(1, rounds + 1)],
            "seen_modes": out["modes"],
        },
    }
    if trace:
        result["traced"] = _traced(ctx, pages, seeds, state_dir + "-traced",
                                   rounds, out["digest"], wall)
    return result


def _traced(ctx, pages, seeds, state_dir: str, rounds: int, digest: str,
            wall: float) -> dict:
    from perfbench import trace as T

    tracer = T.Tracer(ctx.spark.sparkContext)
    T.install_crawl(tracer)
    t0 = time.monotonic()
    try:
        res = run_crawl(ctx.spark, pages, seeds, state_dir, CFG,
                        max_rounds=rounds)
    finally:
        tracer.end_round()
        tracer.unpatch()
    traced_wall = time.monotonic() - t0
    stats = res.state.bloom_shard_stats(res.final_round)
    m_sum = sum(s["m"] for s in stats)
    return {
        "tracer": tracer,
        "digest_ok": _outputs(res.state, rounds)["digest"] == digest,
        "extra": {
            "trace.overhead_s": traced_wall - wall,
            "seen.fill": sum(s["n_keys"] for s in stats) / m_sum if m_sum else 0.0,
        },
    }
