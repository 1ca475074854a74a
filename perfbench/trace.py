"""Traced runs: spans around the calls into each engine layer.

Spark is lazy, so timing a call alone measures plan building. For a
traced run the benchmark replaces the public module attributes the
engine calls with wrappers that materialize the layer's result
(persist + count) inside the layer's own span and tag the span's Spark
jobs with ``setJobGroup(span id)``; task metrics are attributed to spans
afterwards from the Spark event log. The engine's code is not modified.

A span records name, start, end, parent and crawl round. Counts made only
for the trace (input row counts, byte totals) run on a paused clock under
their own job group, so no span is charged for them. A span's self time
is its duration minus its children's.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

UNTRACED_GROUP = "perfbench.outside"
COUNT_GROUP = "perfbench.count"

# layers whose Spark task metrics are reported (span name prefix)
SPARK_LAYERS = ("runner", "frontier", "fetch", "process", "discover",
                "robots", "seen", "store", "dedup", "textstats", "shards")
SPARK_METRICS = (("jobs", "count"), ("task_s", "s"), ("shuffle_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("gc_s", "s"))

# name -> unit of every per-layer metric a traced run reports
LAYER_METRICS = {
    "trace.overhead_s": "s",
    "trace.coverage": "frac",
    "runner.round_overhead_s": "s",
    "frontier.schedule_s": "s",
    "frontier.rows_in": "rows",
    "frontier.rows_scheduled": "rows",
    "fetch.join_s": "s",
    "fetch.rows": "rows",
    "fetch.html_bytes": "bytes",
    "process.s": "s",
    "process.rows": "rows",
    "process.arrow_bytes_in": "bytes",
    "process.rows_per_s": "1/s",
    "discover.s": "s",
    "discover.rows": "rows",
    "robots.gate_s": "s",
    "robots.rows_in": "rows",
    "robots.rows_out": "rows",
    "seen.dedup_s": "s",
    "seen.probe_rows": "rows",
    "seen.fresh_rows": "rows",
    "seen.confirm_rows": "rows",
    "seen.fp_frac": "frac",
    "seen.shard_update_s": "s",
    "seen.rebuilds": "count",
    "seen.fill": "keys/bit",
    "store.commit_s": "s",
    "store.bytes_written": "bytes",
    "store.frontier_rows_written": "rows",
    "store.compact_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_band_s": "s",
    "dedup.anchor_verify_s": "s",
    "dedup.candidate_pairs": "pairs",
    "dedup.edges_kept": "pairs",
    "dedup.verify_yield": "frac",
    "dedup.max_bucket": "rows",
    "textstats.quality_s": "s",
    "textstats.langid_s": "s",
    "shards.write_s": "s",
    "shards.bytes": "bytes",
    "curate_job.overhead_s": "s",
}
for _layer in SPARK_LAYERS:
    for _m, _u in SPARK_METRICS:
        LAYER_METRICS[f"{_layer}.spark.{_m}"] = _u


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.round: int | None = None
        self._paused_s = 0.0
        self.pending: dict[str, dict] = {}
        self._cached = []
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def clock(self) -> float:
        return time.monotonic() - self._paused_s

    def _group(self) -> None:
        top = self.stack[-1]["id"] if self.stack else UNTRACED_GROUP
        self.sc.setJobGroup(top, top)

    def open(self, name: str) -> dict:
        sp = {"id": f"span{len(self.spans)}", "name": name,
              "parent": self.stack[-1]["id"] if self.stack else None,
              "round": self.round, "start": self.clock(), "end": None,
              "counts": {}}
        self.spans.append(sp)
        self.stack.append(sp)
        self._group()
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = self.clock()
        self.stack.remove(sp)
        self._group()

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    @contextmanager
    def paused(self):
        """Trace-only work: off every span's clock, under its own group."""
        t0 = time.monotonic()
        self.sc.setJobGroup(COUNT_GROUP, COUNT_GROUP)
        try:
            yield
        finally:
            self._paused_s += time.monotonic() - t0
            self._group()

    def materialize(self, df):
        df = df.persist()
        n = df.count()
        self._cached.append(df)
        return df, n

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    # --------------------------------------------------------- patching

    def patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- rounds

    def begin_round(self, r: int) -> None:
        self.end_round()
        self.round = r
        self.open("runner.round")

    def end_round(self) -> None:
        while self.stack:
            self.close(self.stack[-1])
        self.pending.clear()
        self.release()
        if self.spans and self.spans[-1]["name"] == "runner.round":
            # the loop's exit check reads a frontier and runs nothing
            self.spans.pop()
        self.round = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ------------------------------------------------------------- wrappers


def _df_layer(t: Tracer, name: str, count_input: bool = False,
              then: str | None = None):
    """Wrapper factory: run the layer, materialize its output in a span;
    optionally count the first argument's rows off the clock, and open the
    pending span ``then`` once it returns."""
    def make(fn):
        def w(*a, **k):
            rows_in = None
            if count_input:
                with t.paused():
                    rows_in = a[0].count()
            with t.span(name) as sp:
                out, n = t.materialize(fn(*a, **k))
            sp["counts"].update(rows_in=rows_in, rows_out=n)
            if then:
                t.pending[then] = t.open(then)
            return out
        return w
    return make


def install_crawl(t: Tracer) -> None:
    from newscrawler_spark.operators import cuckoo as CK
    from newscrawler_spark.operators import frontier as FR
    from newscrawler_spark.operators import process as P
    from newscrawler_spark.operators import robots as R
    from newscrawler_spark.operators import seen as SN
    from newscrawler_spark.operators.store import CrawlState

    def read_frontier(fn):
        def w(self, r=None):
            # the round loop reads round r-1's frontier first thing
            t.begin_round((r if r is not None else self.latest_round()) + 1)
            return fn(self, r)
        return w

    # The fetch, discover and commit spans open when the step before them
    # returns and close once their work is done, so the driver-side plan
    # building of the fetch join, of link discovery and of the commit's
    # inputs (new frontier, retries, counters) counts toward them.
    def schedule(fn):
        def w(frontier, cfg, host_budgets=None, frontier_rows=None):
            with t.span("frontier.schedule") as sp:
                out, n = t.materialize(
                    fn(frontier, cfg, host_budgets, frontier_rows))
            sp["counts"].update(rows_in=frontier_rows, rows_out=n)
            t.pending["fetch.join"] = t.open("fetch.join")
            return out
        return w

    def process(fn):
        def w(ok, cfg=None):
            sp = t.pending.pop("fetch.join", None) or t.open("fetch.join")
            ok, n = t.materialize(ok)
            t.close(sp)
            with t.paused():
                strs = ["url", "url_canon", "lang", "crawler", "seed_host"]
                b = ok.agg(
                    F.sum(F.length("html")).alias("html"),
                    F.sum(sum(F.coalesce(F.octet_length(c), F.lit(0))
                              for c in strs)).alias("strs"),
                ).first()
            html = int(b.html or 0)
            sp["counts"].update(rows_out=n, html_bytes=html)
            with t.span("process.pass") as sp:
                out, m = t.materialize(fn(ok, cfg))
            # html + the string columns + three 8-byte scalars per row
            sp["counts"].update(rows_in=n, rows_out=m,
                                arrow_bytes=html + int(b.strs or 0) + 24 * n)
            t.pending["discover.children"] = t.open("discover.children")
            return out
        return w

    def robots_gate(fn):
        def w(df, *a, **k):
            sp = t.pending.pop("discover.children", None) or t.open("discover.children")
            df, n = t.materialize(df)
            t.close(sp)
            sp["counts"]["rows_out"] = n
            with t.span("robots.gate") as sp:
                out, m = t.materialize(fn(df, *a, **k))
            sp["counts"].update(rows_in=n, rows_out=m)
            return out
        return w

    def commit(fn):
        def w(self, r, *a, **k):
            sp = t.pending.pop("store.commit", None) or t.open("store.commit")
            try:
                man = fn(self, r, *a, **k)
            finally:
                t.close(sp)
            with t.paused():
                sp["counts"].update(
                    bytes_written=dir_bytes(self._round_dir(r)),
                    frontier_rows=man["row_counts"]["frontier"])
            return man
        return w

    def compact(fn):
        def w(self, *a, **k):
            with t.span("store.compact"):
                return fn(self, *a, **k)
        return w

    t.patch(CrawlState, "read_frontier", read_frontier)
    t.patch(CrawlState, "commit_round", commit)
    t.patch(CrawlState, "compact_seen", compact)
    t.patch(FR, "schedule_round", schedule)
    t.patch(P, "process_pages", process)
    t.patch(R, "robots_gate", robots_gate)
    # exact path (runner) and the exact confirm behind each filter backend
    t.patch(FR, "dedup_against_seen",
            _df_layer(t, "seen.dedup", True, then="store.commit"))
    for mod, dedup, build, update in (
        (SN, "bloom_dedup_with_shards", "build_bloom_shards", "update_bloom_shards"),
        (CK, "cuckoo_dedup_with_shards", "build_cuckoo_shards", "update_cuckoo_shards"),
    ):
        t.patch(mod, "dedup_against_seen", _df_layer(t, "seen.confirm", True))
        t.patch(mod, dedup, _df_layer(t, "seen.dedup", True, then="store.commit"))
        t.patch(mod, build, _df_layer(t, "seen.build"))
        t.patch(mod, update, _df_layer(t, "seen.shard_update"))


def install_curate(t: Tracer) -> None:
    from newscrawler_spark.operators import curate as CU
    from newscrawler_spark.operators import dedup as DD
    from newscrawler_spark.operators import shards as SH
    from pyspark.sql import Window

    t.patch(CU, "exact_dedup", _df_layer(t, "dedup.exact"))
    t.patch(CU, "quality_stats", _df_layer(t, "textstats.quality"))
    t.patch(CU, "langid", _df_layer(t, "textstats.langid"))
    t.patch(CU, "minhash_lsh_anchor_edges", _df_layer(t, "dedup.anchor_verify"))

    def lsh_banded(fn):
        sig_fn = DD.minhash_signature
        params = inspect.signature(fn)

        def w(*a, **k):
            b = params.bind(*a, **k)
            b.apply_defaults()
            p = b.arguments
            with t.span("dedup.lsh_band") as sp:
                # MinHash is a column expression: materialize it as its own
                # span, then band over the cached signatures
                with t.span("dedup.minhash"):
                    docs, _ = t.materialize(p["documents"].withColumn(
                        "__sig", sig_fn(p["text_col"], p["num_perm"], p["n"],
                                        p["hasher"])))
                DD.minhash_signature = lambda *_a, **_k: F.col("__sig")
                try:
                    banded = fn(docs, p["num_perm"], p["bands"], p["n"],
                                p["id_col"], p["text_col"], p["hasher"])
                finally:
                    DD.minhash_signature = sig_fn
                banded, _ = t.materialize(banded)
            with t.paused():
                w_b = Window.partitionBy("band", "bh")
                sp["counts"]["candidate_pairs"] = (
                    banded.withColumn("anchor", F.min("id").over(w_b))
                    .where(F.col("id") > F.col("anchor"))
                    .select("anchor", "id").distinct().count())
                sp["counts"]["max_bucket"] = (
                    banded.groupBy("band", "bh").count()
                    .agg(F.max("count")).first()[0] or 0)
            return banded
        return w

    def write_shards(fn):
        def w(documents, path, *a, **k):
            with t.span("shards.write") as sp:
                man = fn(documents, path, *a, **k)
            with t.paused():
                sp["counts"]["bytes"] = dir_bytes(path)
            return man
        return w

    t.patch(DD, "lsh_banded", lsh_banded)
    t.patch(SH, "write_training_shards", write_shards)


# ------------------------------------------------------------ metrics


def _self_times(spans: list[dict]) -> dict[str, float]:
    child = {}
    for sp in spans:
        if sp["parent"]:
            child[sp["parent"]] = child.get(sp["parent"], 0.0) + (
                sp["end"] - sp["start"])
    return {sp["id"]: (sp["end"] - sp["start"]) - child.get(sp["id"], 0.0)
            for sp in spans}


def spark_metrics_by_group(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task/GC seconds, shuffle-write and spill bytes."""
    stage_group, out = {}, {}

    def agg(group):
        return out.setdefault(group, dict.fromkeys((k for k, _ in SPARK_METRICS), 0))

    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                props = ev.get("Properties") or {}
                if kind == "SparkListenerJobStart":
                    g = agg(props.get("spark.jobGroup.id"))
                    g["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = agg(stage_group.get(ev.get("Stage ID")))
                    for key, v in (
                        ("task_s", m.get("Executor Run Time", 0) / 1000.0),
                        ("gc_s", m.get("JVM GC Time", 0) / 1000.0),
                        ("shuffle_bytes", (m.get("Shuffle Write Metrics") or {})
                         .get("Shuffle Bytes Written", 0)),
                        ("spill_bytes", m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0)),
                    ):
                        g[key] += v
    return out


def layer_metrics(spans: list[dict], by_group: dict[str, dict],
                  extra: dict[str, float]) -> dict[str, float]:
    """Every LAYER_METRICS entry; a layer that did not run reports 0."""
    selft = _self_times(spans)
    m = dict.fromkeys(LAYER_METRICS, 0.0)

    def add(key, v):
        m[key] += v or 0

    for sp in spans:
        name, dur, c = sp["name"], sp["end"] - sp["start"], sp["counts"]
        layer = name.split(".")[0]
        g = by_group.get(sp["id"])
        if g and layer in SPARK_LAYERS:
            for k, _ in SPARK_METRICS:
                add(f"{layer}.spark.{k}", g[k])
        if name == "runner.round":
            add("runner.round_overhead_s", selft[sp["id"]])
        elif name == "frontier.schedule":
            add("frontier.schedule_s", dur)
            add("frontier.rows_in", c.get("rows_in"))
            add("frontier.rows_scheduled", c.get("rows_out"))
        elif name == "fetch.join":
            add("fetch.join_s", dur)
            add("fetch.rows", c.get("rows_out"))
            add("fetch.html_bytes", c.get("html_bytes"))
        elif name == "process.pass":
            add("process.s", dur)
            add("process.rows", c.get("rows_in"))
            add("process.arrow_bytes_in", c.get("arrow_bytes"))
        elif name == "discover.children":
            add("discover.s", dur)
            add("discover.rows", c.get("rows_out"))
        elif name == "robots.gate":
            add("robots.gate_s", dur)
            add("robots.rows_in", c.get("rows_in"))
            add("robots.rows_out", c.get("rows_out"))
        elif name == "seen.dedup":
            add("seen.dedup_s", dur)
            add("seen.probe_rows", c.get("rows_in"))
            add("seen.fresh_rows", c.get("rows_out"))
        elif name == "seen.confirm":
            add("seen.confirm_rows", c.get("rows_in"))
            # maybe-seen rows the exact join let through: filter FPs
            add("seen.fp_frac", c.get("rows_out"))
        elif name == "seen.shard_update":
            add("seen.shard_update_s", dur)
        elif name == "seen.build":
            add("seen.rebuilds", 1)
        elif name == "store.commit":
            add("store.commit_s", selft[sp["id"]])
            add("store.bytes_written", c.get("bytes_written"))
            add("store.frontier_rows_written", c.get("frontier_rows"))
        elif name == "store.compact":
            add("store.compact_s", dur)
        elif name == "dedup.exact":
            add("dedup.exact_s", dur)
        elif name == "dedup.minhash":
            add("dedup.minhash_s", dur)
        elif name == "dedup.lsh_band":
            add("dedup.lsh_band_s", selft[sp["id"]])
            add("dedup.candidate_pairs", c.get("candidate_pairs"))
            m["dedup.max_bucket"] = max(m["dedup.max_bucket"],
                                        c.get("max_bucket", 0))
        elif name == "dedup.anchor_verify":
            add("dedup.anchor_verify_s", selft[sp["id"]])
            add("dedup.edges_kept", c.get("rows_out"))
        elif name == "textstats.quality":
            add("textstats.quality_s", dur)
        elif name == "textstats.langid":
            add("textstats.langid_s", dur)
        elif name == "shards.write":
            add("shards.write_s", dur)
            add("shards.bytes", c.get("bytes"))
        elif name == "curate_job.pass":
            add("curate_job.overhead_s", selft[sp["id"]])
    if m["process.s"]:
        m["process.rows_per_s"] = m["process.rows"] / m["process.s"]
    if m["seen.probe_rows"]:
        m["seen.fp_frac"] /= m["seen.probe_rows"]
    if m["dedup.candidate_pairs"]:
        m["dedup.verify_yield"] = m["dedup.edges_kept"] / m["dedup.candidate_pairs"]
    roots = [sp for sp in spans if sp["parent"] is None]
    wall = sum(sp["end"] - sp["start"] for sp in roots)
    if wall:
        m["trace.coverage"] = 1.0 - sum(selft[sp["id"]] for sp in roots) / wall
    m.update(extra)
    return m
