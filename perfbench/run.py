"""Wave-loop crawl benchmark: one workload per invocation.

    python3 perfbench/run.py --workload polite_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The lines before
it give the session settings, the steal share, samples, checks and
digests. Exits non-zero, without a result, when the engine package is
missing or set-up fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

E2E_UNITS = {
    "setup_s": "s",
    "wave_s_p50": "s",
    "urls_scheduled_per_s": "1/s",
    "urls_admitted_per_s": "1/s",
    "resume_s": "s",
    "state_bytes_per_url": "bytes",
}


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s", "_p50")) or ".commit_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("frac", "per_candidate", "load_factor")):
        return "frac"
    if name.endswith("bytes_written_per_wave"):
        return "bytes"
    return "count"


def _num(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else x


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import literature_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import hostinfo
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = hostinfo.session_env(run_dir)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    print(f"host: nproc={hostinfo.nproc()} mem_total_mb={hostinfo.mem_total_mb()}")
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DRIVER_JAVA_OPTS"):
        print(f"session: {k}={env[k]}")
    print(f"workload: {wl}; seed={args.seed} seconds={args.seconds} trace={args.trace}",
          flush=True)

    ticks0 = hostinfo.cpu_ticks()
    spark = None
    try:
        with hostinfo.RssSampler(os.getpid()) as rss:
            from literature_crawler_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
            start_s = time.perf_counter() - t0

            from perfbench import crawl_bench, workloads

            t0 = time.perf_counter()
            corpus = workloads.ensure_corpus(spark, os.path.join(WORK, "corpus"), wl)
            inp = workloads.inputs(spark, corpus, wl, args.seed)
            print(f"inputs: corpus and seed list ready in {time.perf_counter() - t0:.2f}s",
                  flush=True)
            rss.reset()
            res = crawl_bench.run(spark, wl, inp, args.seconds, bool(args.trace), run_dir, rss)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    steal = hostinfo.steal_share(ticks0, hostinfo.cpu_ticks())
    contaminated = steal > hostinfo.STEAL_FLAG

    e2e = dict(res["e2e"], setup_s=start_s + res["bootstrap_s"])
    n_att, n_fail = res["attempted"], len(res["failures"])
    layers = res.get("layers", {})
    layers.update({
        "session.start_s": start_s,
        "session.bootstrap_s": res["bootstrap_s"],
        "crawl.wave_fail_frac": n_fail / n_att,
        "proc.peak_rss_mb": res["peak_rss_mb"],
    })
    print(f"waves: attempted={n_att} wave_s={[round(x, 3) for x in res['wave_s']]} "
          f"bootstrap_s={[round(x, 3) for x in res['boot_s']]} "
          f"seen={res['seen_total']} peak_rss_mb={res['peak_rss_mb']:.0f}")
    tail = res["tail"]
    print("wave tail: " + (f"p{tail['p']}={tail['s']:.3f}s" if tail else
                           f"none (needs >= 20 samples, have {len(res['wave_s'])})"))
    print(f"failures: wave_fail_frac={n_fail / n_att:.3f} {res['failures']}")
    print(f"steal: share={steal:.4f} contaminated={contaminated}"
          + ("  WARNING: hypervisor steal above flag; timings of this run are suspect"
             if contaminated else ""))
    print(f"checks: {json.dumps(res['checks'])} in {res['checks_s']:.2f}s")
    print(f"digest: {json.dumps(res['digest'])}")
    shown, unit_of = (layers, layer_unit) if args.trace else (e2e, E2E_UNITS.get)
    metrics = {
        name: {"value": _num(v), "unit": unit_of(name)} for name, v in sorted(shown.items())
    }
    for name, m in metrics.items():
        print(f"metric: {name} = {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": bool(res["checks"]["ok"]),
        "attempted": n_att,
        "failed": n_fail,
        "metrics": metrics,
    }))
    return 0


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every process below it (the
    Python workers) to exit."""
    import signal

    from pyspark import SparkContext

    from perfbench import hostinfo

    children = list(hostinfo.descendants(os.getpid()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while children and time.monotonic() < deadline:
        time.sleep(0.1)
        children = [p for p in children if hostinfo.alive(p)]
    for pid in children:  # still running after the JVM left: never leave them behind
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    sys.exit(main())
