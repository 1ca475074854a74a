"""Seeded inputs. The program only ever sees what these functions return.

The page corpus is the engine's synthetic web (``sources.fixtures``) in
the bench tier's shape — 50 hosts, 2 hot hosts holding ~40% of pages —
at a tenth of its article count. It does not depend on the workload seed,
so it is rendered once per checkout and cached; everything that does
depend on the seed (crawl budgets, the documents table) is rebuilt in
every run and timed as set-up.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow.parquet as pq

from newscrawler_spark.sources.fixtures import (
    SEEDS_SCHEMA,
    Tier,
    host_name,
    page_plan,
    page_record,
)

CORPUS = Tier(hosts=50, articles_per_host=200, hot_hosts=2)
CORPUS_TAG = "h50-a200-hot2"

# crawl_polite: seeded per-host budget around 100
BUDGET_LO, BUDGET_HI = 80, 120
MAX_DEPTH = 3

# curate_dedup: base documents plus ~5% exact and ~5% near copies
N_BASE = 1500
N_EXACT = 75
N_NEAR = 75
NEAR_EDITS = 2


def corpus_path(cache: str) -> str:
    """pages.parquet of the cached corpus, rendered on first use."""
    d = os.path.join(cache, f"corpus-{CORPUS_TAG}")
    path = os.path.join(d, "pages.parquet")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        import pyarrow as pa

        os.makedirs(d, exist_ok=True)
        recs = [page_record(i, kind, k, CORPUS) for i, kind, k in page_plan(CORPUS)]
        table = pa.Table.from_pandas(pd.DataFrame.from_records(recs),
                                     preserve_index=False)
        table = table.cast(pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ]))
        pq.write_table(table, path)
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return path


def corpus_rows(cache: str) -> list[dict]:
    """The corpus as plain dicts, for the pure-Python oracle."""
    return pq.read_table(corpus_path(cache)).to_pylist()


def polite_seeds(seed: int) -> pd.DataFrame:
    """One seed row per host, crawler strategy as the fixtures assign it,
    with a seeded per-host budget."""
    from newscrawler_spark.sources import fixtures as FX

    rng = random.Random(f"polite-{seed}")
    # the crawler strategy depends on the host index only, so any tier
    # with the corpus's host count yields the corpus's seed rows
    base = FX.gen_seeds("bench", per_host_budget=0, max_depth=MAX_DEPTH)
    if list(base["host"]) != [host_name(i) for i in range(CORPUS.hosts)]:
        raise RuntimeError("seed hosts do not match the corpus hosts")
    base["per_host_budget"] = [rng.randint(BUDGET_LO, BUDGET_HI)
                               for _ in range(len(base))]
    return base


def seeds_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=SEEDS_SCHEMA)


def pages_df(spark, cache: str):
    return spark.read.parquet(corpus_path(cache))


def article_texts(cache: str) -> list[str]:
    """Distinct ground-truth article texts of the corpus, in sorted order
    (URL variants of one article carry the same text)."""
    col = pq.read_table(corpus_path(cache), columns=["text"]).column("text")
    return sorted({t for t in col.to_pylist() if t})


def curate_documents(seed: int, texts: list[str]) -> tuple[pd.DataFrame, dict]:
    """documents(doc_id, text) and the ids of the injected copies. Base
    documents take ids 0..N_BASE-1 and every injected copy a larger id, so
    the min-id keeper rules keep the base document."""
    rng = random.Random(f"curate-{seed}")
    base = rng.sample(texts, N_BASE)
    ids, out = list(range(N_BASE)), list(base)
    exact_ids, near_ids = [], []
    for j in range(N_EXACT):
        exact_ids.append(N_BASE + j)
        out.append(base[rng.randrange(N_BASE)])
    for j in range(N_NEAR):
        words = base[rng.randrange(N_BASE)].split(" ")
        for e in rng.sample(range(len(words)), NEAR_EDITS):
            words[e] = f"edit{j}x{e}"
        near_ids.append(N_BASE + N_EXACT + j)
        out.append(" ".join(words))
    ids += exact_ids + near_ids
    truth = {"base": N_BASE, "exact_ids": exact_ids, "near_ids": near_ids}
    return pd.DataFrame({"doc_id": ids, "text": out}), truth
