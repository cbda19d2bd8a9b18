"""Crawl shapes the benchmark runs, and their inputs.

The corpus of a workload depends only on its shape, so it is generated
once per checkout and cached; the run's seed only moves the seed list's
offset into it. See README.md for why each shape exists.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    n_seeds: int
    budget: int  # per-host budget per wave (host h0 gets 4x)
    use_bloom: str
    # check crawl order, seen set and metrics against the oracle (else the
    # committed-state invariants)
    oracle: bool
    min_samples: int = 1  # sampled waves run even past --seconds


WORKLOADS = {
    w.name: w
    for w in [
        # fixed per-wave cost: ~200 URLs a wave from 50 hosts, broadcast
        # anti-join (seen stays far below fr.BROADCAST_SEEN_MAX)
        Workload("polite_trickle", 20_000, 50, 200, 4, "auto", oracle=True),
        # maintained cuckoo store with a seen set already holding 70% of
        # the corpus, so most candidate links are revisits
        Workload("store_revisit", 12_000, 120, 8_400, 16, "cuckoo", oracle=False),
        # Not in BENCHMARK.json (see README.md): mostly-new links on the
        # broadcast path, sized for a hand run rather than the time budget.
        Workload("bulk_discovery", 400_000, 2000, 20_000, 30, "auto", oracle=False),
        # The tests/test_crawl_parity.py corpus run past wave 7, where the
        # engine is known to raise; exercises the failure accounting.
        Workload("parity_600", 600, 12, 40, 10, "auto", oracle=True, min_samples=8),
    ]
}


def seed_offset(wl: Workload, seed: int) -> int:
    return (seed * 7919) % wl.n_pages


def corpus_dir(cache_root: str, wl: Workload) -> str:
    return os.path.join(cache_root, f"pages-{wl.n_pages}-{wl.n_hosts}")


def ensure_corpus(spark: SparkSession, cache_root: str, wl: Workload) -> str:
    """Write the workload's pages table once (atomic rename), return its
    path."""
    from literature_crawler_spark.sources import synthetic as syn

    path = corpus_dir(cache_root, wl)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        syn.generate_pages(spark, wl.n_pages, wl.n_hosts, with_images=False).select(
            "url", "host", "links", "caption", "image_id"
        ).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def seed_urls(corpus_path: str, wl: Workload, seed: int) -> list[str]:
    """The seed list: ``synthetic.generate_seeds``'s pattern (page index
    s*137, every 7th a query variant, every 13th a repeat of seed 0)
    shifted by the run's offset. Offset 0 reproduces generate_seeds."""
    import pyarrow.parquet as pq

    table = pq.read_table(corpus_path, columns=["image_id", "url"]).to_pandas()
    by_index = dict(zip(table["image_id"], table["url"]))
    off = seed_offset(wl, seed)
    out: list[str] = []
    for s in range(wl.n_seeds):
        url = by_index[f"img-{(off + s * 137) % wl.n_pages:010d}"]
        if s % 7 == 3:
            url += "?ref=seedlist"
        if s % 13 == 5 and out:
            url = out[0]
        out.append(url)
    return out


def inputs(spark: SparkSession, corpus_path: str, wl: Workload, seed: int) -> dict:
    from literature_crawler_spark.sources import synthetic as syn

    urls = seed_urls(corpus_path, wl, seed)
    seeds: DataFrame = spark.createDataFrame(
        [(u, 0, s) for s, u in enumerate(urls)], "url string, priority int, seq long"
    )
    return {
        "pages": spark.read.parquet(corpus_path),
        "seeds": seeds,
        "seed_urls": urls,
        "robots": syn.generate_robots(spark),
        "politeness": syn.generate_politeness(spark, wl.n_hosts, wl.budget),
    }
