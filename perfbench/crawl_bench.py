"""One benchmark run: set up, drive the CrawlEngine wave loop for a time
window, resume on the committed store, check the outputs, and (traced)
split the wave into layers.

Closed loop: one driver process; wave W+1 starts after wave W commits.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from literature_crawler_spark.oracle import crawl_oracle as co
from literature_crawler_spark.operators import cuckoo as ck
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.plans import crawl as crawl_mod
from literature_crawler_spark.plans.crawl import CrawlEngine
from literature_crawler_spark.plans.state import SnapshotStore
from literature_crawler_spark.sources import synthetic as syn
from perfbench import hostinfo, stats
from perfbench.spans import Tracer
from perfbench.workloads import Workload

# the first rep runs cold, the second warm; two keep a run inside its time
# budget on a slow host
SETUP_REPS = 2
# digests and state size are taken at this wave, so they do not depend on
# how many waves fit the window
AUDIT_WAVE = 1
STATE_TABLES = ("frontier", "seen", "order", "outcomes", "metrics", "lineage")


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return size, files


def error_class(e: Exception) -> str:
    """The exception's class; for a JVM-side error, also the Java class."""
    java = getattr(e, "java_exception", None)
    name = type(e).__name__
    return f"{name}({java.getClass().getName()})" if java is not None else name


def seen_total(eng: CrawlEngine) -> int:
    return eng.store.latest("seen")["meta"]["total"]


def make_engine(spark, root: str, wl: Workload, inp: dict) -> CrawlEngine:
    return CrawlEngine(
        spark, SnapshotStore(root), inp["pages"], inp["robots"], inp["politeness"],
        default_budget=wl.budget, use_bloom=wl.use_bloom,
    )


# ------------------------------------------------------------ tracing ----
@contextmanager
def instrumented(tracer: Tracer):
    """Wrap the eager layer calls the engine makes during a wave: the
    dense-seq pass and the cuckoo store's create/merge. Restored on
    exit. Store commits are wrapped per store instance (instrument_store)."""
    orig_seq = crawl_mod.assign_global_seq
    orig_merge = ck.BucketedCuckooStore.merge
    orig_create = ck.BucketedCuckooStore.__dict__["create"]

    def seq_rows(span, result, args, kwargs):
        if isinstance(result, tuple):
            span.counts["rows"] = result[1]

    def merge_keys(span, result, args, kwargs):
        span.counts["keys"] = sum(result.values())

    crawl_mod.assign_global_seq = tracer.wrap(orig_seq, "crawl.seq", seq_rows)
    ck.BucketedCuckooStore.merge = tracer.wrap(orig_merge, "cuckoo.merge", merge_keys)
    ck.BucketedCuckooStore.create = classmethod(
        tracer.wrap(orig_create.__func__, "cuckoo.create")
    )
    try:
        yield
    finally:
        crawl_mod.assign_global_seq = orig_seq
        ck.BucketedCuckooStore.merge = orig_merge
        ck.BucketedCuckooStore.create = orig_create


def instrument_store(store: SnapshotStore, tracer: Tracer) -> None:
    """Span every commit (with the bytes and files it wrote), compaction
    and expiry of one store instance."""

    def written(span, sid, args, kwargs):
        table = args[0] if args else kwargs["table"]
        span.counts["bytes"], span.counts["files"] = tree_bytes(store._sdir(table, sid))

    def commit_name(*args, **kwargs):
        return f"state.commit.{args[0] if args else kwargs['table']}"

    store.commit = tracer.wrap(store.commit, commit_name, written)
    store.compact = tracer.wrap(store.compact, "state.compact")
    store.expire_snapshots = tracer.wrap(store.expire_snapshots, "state.expire")


# --------------------------------------------------------------- waves ----
def timed_wave(eng: CrawlEngine, wave: int, traced: bool, tracer: Tracer, sc, pid: int):
    """Run one wave; returns (metrics, seconds, per-wave trace facts)."""
    facts = {}
    if traced:
        group = f"perfbench-wave-{wave}"
        sc.setJobGroup(group, f"wave={wave}")
        cpu0 = hostinfo.tree_cpu(pid)
        tracer.trace_id, tracer.enabled = f"w{wave}", True
    t0 = time.perf_counter()
    try:
        with tracer.span("crawl.wave"):
            m = eng.run_wave(wave)
    finally:
        dt = time.perf_counter() - t0
        tracer.enabled = False
    if traced:
        cpu1 = hostinfo.tree_cpu(pid)
        facts = {
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "jvm_cpu_s": cpu1[0] - cpu0[0],
            "pyworker_cpu_s": cpu1[1] - cpu0[1],
        }
    return m, dt, facts


# -------------------------------------------------------------- checks ----
def check_invariants(spark, eng: CrawlEngine, wl: Workload, inp: dict, n_boot: int) -> dict:
    """Frontier rows = seen rows, unique seqs, per-(wave, host) budget,
    and pending_next = pending - scheduled + new on every wave, all read
    back from the committed tables."""
    frontier, seen, order = eng.frontier(), eng.seen(), eng.crawl_order()
    fc = frontier.agg(
        F.count("*").alias("rows"),
        F.countDistinct("seq").alias("seqs"),
        F.sum(F.when(F.col("status") == "pending", 1).otherwise(0)).alias("pending"),
    ).first()
    budgets = {r.host: r.budget_per_wave for r in inp["politeness"].collect()}
    over, sched = [], {}
    for r in order.groupBy("wave", "host").count().collect():
        sched[r.wave] = sched.get(r.wave, 0) + r["count"]
        if r["count"] > budgets.get(r.host, wl.budget):
            over.append((r.wave, r.host, r["count"]))
    added = {r.wave: r["count"] for r in seen.groupBy("wave").count().collect()}
    n_seen = sum(added.values())
    mets = sorted(
        (r.wave, r.scheduled, r.new_urls, r.pending_next)
        for r in eng.store.read(spark, "metrics").collect()
    )
    pending, flow_ok = n_boot, added.get(0) == n_boot
    for wave, n_sched, n_new, pending_next in mets:
        flow_ok &= n_sched == sched.get(wave, 0) and n_new == added.get(wave, 0)
        flow_ok &= pending_next == pending - n_sched + n_new
        pending = pending_next
    flow_ok &= pending == fc["pending"]
    out = {
        "frontier_eq_seen": fc["rows"] == n_seen,
        "seq_unique": fc["seqs"] == fc["rows"],
        "budget_ok": not over,
        "pending_flow_ok": bool(flow_ok),
    }
    out["ok"] = all(out.values())
    return out


def check_oracle(eng: CrawlEngine, wl: Workload, inp: dict, wave_metrics: list[dict]) -> dict:
    """Exact crawl order, seen set and per-wave metrics against the
    single-threaded oracle over the same corpus and seed list."""
    robots = [(r.host, r.pattern, r.allow) for r in inp["robots"].collect()]
    budgets = {r.host: r.budget_per_wave for r in inp["politeness"].collect()}
    want = co.run_oracle(
        syn.python_corpus(wl.n_pages, wl.n_hosts), inp["seed_urls"], robots, budgets,
        default_budget=wl.budget, max_waves=len(wave_metrics),
    )
    order = eng.crawl_order().select("wave", "seq", "canon_url").toPandas()
    got_order = sorted(zip(order.wave, order.seq, order.canon_url))
    got_seen = set(eng.seen().select("canon_url").toPandas().canon_url)
    keys = ("wave", "scheduled", "fetched", "new_urls", "pending_next")
    got_metrics = [{k: m[k] for k in keys} for m in wave_metrics if m.get("scheduled")]
    out = {
        "oracle_order": got_order == want["order"],
        "oracle_seen": got_seen == want["seen"],
        "oracle_metrics": got_metrics == want["metrics"],
    }
    out["ok"] = all(out.values())
    return out


def digests(eng: CrawlEngine, upto: int) -> dict:
    order = eng.crawl_order().filter(F.col("wave") <= upto)
    order = order.select("wave", "seq", "canon_url").toPandas()
    seen = eng.seen().filter(F.col("wave") <= upto).select("canon_url").toPandas()
    return {
        "waves": upto,
        "order": stats.order_digest(zip(order.wave, order.seq, order.canon_url)),
        "seen": stats.set_digest(seen.canon_url),
    }


# -------------------------------------------------------------- replay ----
def replay_layers(spark, eng: CrawlEngine, wl: Workload, inp: dict) -> dict:
    """Replay the next wave's lazy operators on the committed store, each
    materialized (persist + count) on its persisted input, so each one's
    time is its own. Then time a frontier compaction and expiry."""
    held = []

    def stage(df):
        df = df.persist()
        held.append(df)
        t0 = time.perf_counter()
        n = df.count()
        return df, n, time.perf_counter() - t0

    out: dict[str, float] = {}
    store = eng.store
    frontier, _, out["state.read_frontier_s"] = stage(store.read(spark, "frontier"))
    pending = frontier.filter(F.col("status") == "pending")
    out["politeness.pending_rows"] = pending.count()
    # the supernode pre-rank choice the engine would make for this wave
    sched, n_sched, out["politeness.schedule_s"] = stage(
        pol.schedule_wave(pending, inp["politeness"], wl.budget,
                          two_phase=eng._use_two_phase())
    )
    out["politeness.scheduled_rows"] = n_sched
    pages = eng.pages
    fetched, _, out["fetch.s"] = stage(sched.join(pages, sched.canon_url == pages.page_url, "left"))
    found = fetched.filter(F.col("page_url").isNotNull())
    out["fetch.rows"] = found.count()
    out["fetch.missing"] = n_sched - out["fetch.rows"]
    links, n_links, out["frontier.explode.s"] = stage(
        found.select(
            F.col("seq").alias("parent_seq"),
            F.col("page_host").alias("base_host"),
            F.posexplode("links").alias("pos", "link"),
        )
    )
    out["frontier.explode.rows"] = n_links
    probe_store = ck.BucketedCuckooStore.open(os.path.join(store.root, "bloom"))
    cand, n_cand, t = stage(
        fr.canonicalize_candidates(
            links.withColumnRenamed("link", "url"), base_host_col="base_host",
            probe_store=probe_store,
        )
    )
    out["frontier.canonicalize.s"] = t
    out["frontier.canonicalize.rows_per_s"] = n_links / t
    allowed, n_allowed, out["frontier.robots.s"] = stage(fr.apply_robots(cand, inp["robots"]))
    out["frontier.robots.denied"] = n_cand - n_allowed
    firsts, n_first, out["frontier.first_seen.s"] = stage(
        fr.first_seen_dedup(allowed, ["parent_seq", "pos"])
    )
    out["frontier.first_seen.drops"] = n_allowed - n_first
    out["frontier.membership.probe_positive"] = (
        firsts.filter(F.col("_maybe_seen")).count() if "_maybe_seen" in firsts.columns else 0
    )
    seen_meta = store.latest("seen")
    new, n_new, out["frontier.membership.s"] = stage(
        fr.dedup_against_seen(
            spark, firsts, eng.seen(),
            use_bloom=True if probe_store is not None else wl.use_bloom,
            expected_seen=seen_meta["meta"]["total"], bloom_store=probe_store,
            released=held,
        )
    )
    out["frontier.membership.candidates"] = n_first
    out["frontier.membership.confirmed_seen"] = n_first - n_new
    out["frontier.membership.admitted_per_candidate"] = n_new / n_first if n_first else 0.0
    for df in held:
        df.unpersist()
    t0 = time.perf_counter()
    store.compact("frontier")
    out["state.compact_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    store.expire_snapshots("frontier")
    out["state.expire_s"] = time.perf_counter() - t0
    return out


def cuckoo_load(root: str) -> float:
    """Occupied share of the cuckoo store's slots (0 without a store)."""
    import numpy as np

    used = slots = 0
    d = os.path.join(root, "bloom")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.endswith(".cuckoo"):
            arr = np.fromfile(os.path.join(d, name), dtype=np.uint16)
            used += int(np.count_nonzero(arr))
            slots += arr.size
    return used / slots if slots else 0.0


def layer_summary(tracer: Tracer, wave_facts: dict[int, dict]) -> dict[str, float]:
    """Per-wave medians of the in-place spans over the traced waves."""
    per = tracer.per_trace()
    waves = sorted(per)

    def med(fn) -> float:
        return statistics.median([fn(per[w]) for w in waves]) if waves else 0.0

    def total(names, key="s"):
        return lambda t: sum(t[n][key] for n in names if n in t)

    def commits(t):
        return [n for n in t if n.startswith("state.commit.")]

    out = {
        "crawl.self_s": med(total(["crawl.wave"], "self_s")),
        "crawl.seq.s": med(total(["crawl.seq"])),
        "crawl.seq.rows": med(lambda t: t.get("crawl.seq", {}).get("rows", 0)),
        "state.commits_per_wave": med(lambda t: sum(t[n]["n"] for n in commits(t))),
        "state.bytes_written_per_wave": med(lambda t: sum(t[n]["bytes"] for n in commits(t))),
        "state.files_written_per_wave": med(lambda t: sum(t[n]["files"] for n in commits(t))),
        "cuckoo.merge_s": med(total(["cuckoo.merge"])),
        "cuckoo.merge_keys": med(lambda t: t.get("cuckoo.merge", {}).get("keys", 0)),
        "cuckoo.rebuilds": float(sum(per[w].get("cuckoo.create", {}).get("n", 0) for w in waves)),
    }
    for table in STATE_TABLES:
        out[f"state.commit_s.{table}"] = med(total([f"state.commit.{table}"]))
    for key, name in (("jobs", "crawl.jobs_per_wave"), ("jvm_cpu_s", "proc.jvm_cpu_s"),
                      ("pyworker_cpu_s", "proc.pyworker_cpu_s")):
        out[name] = statistics.median([f[key] for f in wave_facts.values()]) if wave_facts else 0.0
    return out


# ----------------------------------------------------------------- run ----
def run(spark: SparkSession, wl: Workload, inp: dict, seconds: float, trace: bool,
        work: str, rss: hostinfo.RssSampler) -> dict:
    sc = spark.sparkContext
    pid = os.getpid()
    tracer = Tracer()
    root = os.path.join(work, "state")

    # ---- setup: engine construction + seed bootstrap, SETUP_REPS times on
    # a fresh store; the crawl continues on the last rep's store
    boots = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        eng = make_engine(spark, root, wl, inp)
        n_boot = eng.bootstrap(inp["seeds"])
        boots.append(time.perf_counter() - t0)

    # ---- waves. A fresh engine resumes on the committed store, as a
    # restarted crawler would: its construction plus its first wave is
    # resume_s. That wave and the ones after it are the samples; they run
    # until the window is spent (a wave is not started if the last one says
    # it would overrun), at least wl.min_samples.
    failures: list[dict] = []
    waves: list[dict] = []  # engine metrics of every committed wave
    wave_s: list[float] = []
    facts: dict[int, dict] = {}
    audit: dict = {}
    resume_s = None
    wave = 0

    def attempt(engine: CrawlEngine) -> float | None:
        nonlocal wave
        wave += 1
        try:
            m, dt, f = timed_wave(engine, wave, trace, tracer, sc, pid)
        except Exception as e:  # noqa: BLE001 — counted and reported; the workload stops
            failures.append({"wave": wave, "error": error_class(e), "msg": str(e)[:200]})
            return None
        waves.append(m)
        wave_s.append(dt)
        if trace:
            facts[wave] = f
        if wave == AUDIT_WAVE:  # storage at a fixed crawl depth
            audit.update(bytes=tree_bytes(root)[0], seen=seen_total(engine))
        return dt

    def go_on() -> bool:
        return not failures and not (waves and waves[-1].get("done"))

    with instrumented(tracer) if trace else nullcontext():
        t0 = time.perf_counter()
        eng = make_engine(spark, root, wl, inp)
        built_s = time.perf_counter() - t0
        if trace:
            instrument_store(eng.store, tracer)
        dt = attempt(eng)
        if dt is not None:
            resume_s = built_s + dt
        while go_on() and (
            len(wave_s) < wl.min_samples or sum(wave_s) + wave_s[-1] <= seconds
        ):
            attempt(eng)
    if not audit:  # the crawl ended (or failed) before the audit depth
        audit.update(bytes=tree_bytes(root)[0], seen=seen_total(eng))

    total_s = sum(wave_s)
    nan = float("nan")
    result = {
        "wave_s": wave_s,
        "boot_s": boots,
        "failures": failures,
        "attempted": wave,
        "e2e": {
            "wave_s_p50": statistics.median(wave_s) if wave_s else nan,
            "urls_scheduled_per_s": sum(m["scheduled"] for m in waves) / total_s if total_s else nan,
            "urls_admitted_per_s": sum(m["new_urls"] for m in waves) / total_s if total_s else nan,
            "resume_s": resume_s if resume_s is not None else nan,
            "state_bytes_per_url": audit["bytes"] / audit["seen"],
        },
        "peak_rss_mb": rss.peak_mb,
        "bootstrap_s": statistics.median(boots),
        "seen_total": seen_total(eng),
    }
    tail = stats.tail_percentile(len(wave_s))
    result["tail"] = (
        {"p": tail, "s": stats.nearest_rank(wave_s, tail)} if tail is not None else None
    )

    # ---- correctness on the committed state
    t_checks = time.perf_counter()
    if wl.oracle:
        checks = check_oracle(eng, wl, inp, waves)
    else:
        checks = check_invariants(spark, eng, wl, inp, n_boot)
    result["checks"] = checks
    result["digest"] = digests(eng, min(AUDIT_WAVE, len(waves)))
    result["checks_s"] = time.perf_counter() - t_checks

    if trace:
        layers = layer_summary(tracer, facts)
        layers["cuckoo.load_factor"] = cuckoo_load(root)
        layers["trace.wave_s_p50"] = result["e2e"]["wave_s_p50"]
        layers.update(replay_layers(spark, eng, wl, inp))
        result["layers"] = layers
    return result
