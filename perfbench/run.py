#!/usr/bin/env python3
"""Crawl benchmark for sinew_spark.

    python3 perfbench/run.py --workload recrawl_seen --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

One workload per process: Spark runs at ``local[--cores]`` (default: the
machine's core count), the harness generates every input from ``--seed``,
runs timed iterations until ``--seconds`` have passed, checks the crawl's
outputs and prints a table followed by one JSON line. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
``--workload all`` runs each workload in its own process (untraced, plus a
traced run when ``--trace 1``) and reports the tracing overhead. The exit
code is non-zero when any output check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("recrawl_seen", "polite_loopback", "bulk_unpaced", "paced_capped")

E2E = {
    "setup_s": "s",
    "fetched_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "written_mb": "MB",
}


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(work: str) -> dict[str, str]:
    """Keep every file the run writes (Spark's scratch space, JVM and Python
    temp files) inside the checkout, and keep loopback requests off any
    configured proxy."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "transport")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    for k in list(os.environ):
        if k.lower() in ("http_proxy", "https_proxy", "all_proxy"):
            del os.environ[k]
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "PYTHONPATH": ROOT,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            "no_proxy": "*",
            "NO_PROXY": "*",
        }
    )
    return dirs


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def rate(rec: dict, key: str) -> float:
    return sum(r[key] for r in rec["rounds"]) / sum(r["s"] for r in rec["rounds"])


def measure(wl, seconds: float, tree, tracer, transport) -> list[dict]:
    """Timed iterations until ``seconds`` have passed; one record per
    iteration, one entry per round. Only ``run_round`` is timed."""
    from perfbench.workloads import bytes_since, table_snapshot_ids

    iters = []
    t_measure = time.perf_counter()
    while not iters or time.perf_counter() - t_measure < seconds:
        t0 = time.perf_counter()
        it = wl.iteration(len(iters))
        rec = {"setup_s": time.perf_counter() - t0, "it": it, "rounds": []}
        c = it.crawler
        for _ in range(wl.rounds):
            before = table_snapshot_ids(c)
            frontier_before = c.frontier_t.current_snapshot()
            seen_before = c.seen_t.current_snapshot()
            if tracer:
                tracer.timed = True
            tree.arm(True)
            r0 = time.perf_counter()
            stats = c.run_round()
            dt = time.perf_counter() - r0
            tree.arm(False)
            cpu_s, rss = tree.window()
            if tracer:
                tracer.timed = False
            rec["rounds"].append(
                {
                    "s": dt,
                    "cpu_s": cpu_s,
                    "rss": rss,
                    "round": stats["round"],
                    "fetched": stats.get("fetched", 0),
                    "written": bytes_since(c, before),
                    "transport": transport.take(),
                    "probe": wl.probe_check(c, seen_before),
                    "fetched_snap": c.fetched_t.current_snapshot(),
                    "frontier_before": frontier_before,
                    "frontier_after": c.frontier_t.current_snapshot(),
                }
            )
        iters.append(rec)
    return iters


def check(wl, iters: list[dict], warm_digest, traced: bool) -> tuple[dict, dict, str | None]:
    """Output checks (untimed). For a traced run, also fills each round's
    offered count and its counts from the committed tables. Returns the
    check counts, the origin's figures and the last replay digest."""
    from perfbench.workloads import check_iteration, offered_keys, replay_digest, round_counts

    checks: dict[str, int] = {"pages": 0}
    digest = None
    for rec in iters:
        c = rec["it"].crawler
        for r in rec["rounds"]:
            for k, v in r["probe"].items():
                checks[k] = checks.get(k, 0) + v
            if traced:
                r["offered"] = offered_keys(c, r["frontier_before"])
                r.update(round_counts(c, r))
        for k, v in check_iteration(rec["it"], [r["round"] for r in rec["rounds"]]).items():
            checks[k] = checks.get(k, 0) + v
        if wl.replay:
            digest = replay_digest(c)
            checks["replay_mismatch"] = checks.get("replay_mismatch", 0) + (digest != warm_digest)
    origin = wl.origin_checks()
    for k in ("dup_requests", "delay_violations", "robots_violations"):
        if k in origin:
            checks[k] = origin[k]
    return checks, origin, digest


def end_to_end(iters: list[dict], setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s + median([rec["setup_s"] for rec in iters]),
        "fetched_per_s": median([rate(rec, "fetched") for rec in iters]),
        "cpu_s": median([sum(r["cpu_s"] for r in rec["rounds"]) for rec in iters]),
        "peak_rss_mb": median([max(r["rss"] for r in rec["rounds"]) / 2**20 for rec in iters]),
        "written_mb": median([sum(r["written"] for r in rec["rounds"]) / 1e6 for rec in iters]),
    }


def stop_spark(spark, tree) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait until
    no process this run started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.time() + 30
    while tree.descendants() and time.time() < deadline:
        time.sleep(0.1)


def run_one(a) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import sinew_spark.crawl  # noqa: F401
    except ImportError as e:
        die(f"cannot import the engine from {ROOT}: {e}")

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    dirs = prepare_env(work)

    from sinew_spark.session import get_spark

    from perfbench.measure import ProcTree, TransportLog
    from perfbench.trace import Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS, replay_digest

    tree = ProcTree()
    tree.start()
    t_setup = time.perf_counter()
    spark = get_spark(
        master=f"local[{a.cores}]",
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[a.workload](spark, a.seed, os.path.join(work, "crawl"), dirs["transport"])
    try:
        wl.setup()
        if wl.origin_pid():
            tree.exclude.add(wl.origin_pid())
        # untimed warm iterations on the timed iterations' inputs: JIT,
        # worker pool and sidecar syncs settle, and the last one is the
        # replay reference
        for i in range(-wl.warm_iterations, 0):
            warm = wl.iteration(i)
            for _ in range(wl.rounds):
                warm.crawler.run_round()
        warm_digest = replay_digest(warm.crawler) if wl.replay else None
        setup_s = time.perf_counter() - t_setup
        transport = TransportLog(dirs["transport"])
        transport.take()  # set-up requests are not measured

        tracer = Tracer(spark) if a.trace else None
        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        try:
            iters = measure(wl, a.seconds, tree, tracer, transport)
        finally:
            if tracer:
                tracer.uninstall()
        measure_s = time.perf_counter() - t0
        checks, origin, digest = check(wl, iters, warm_digest, bool(tracer))
        attempted = checks.pop("pages") + len(checks)
        failed = sum(checks.values())

        n_rounds = sum(len(rec["rounds"]) for rec in iters)
        n_samples = sum(len(r["transport"]) for rec in iters for r in rec["rounds"])
        print(f"workload {a.workload}  seed {a.seed}  local[{a.cores}]  "
              f"iterations {len(iters)}  timed rounds {n_rounds}  request samples {n_samples}")
        print(f"set-up {setup_s:.1f} s  measured {measure_s:.1f} s  checks "
              f"{time.perf_counter() - t0 - measure_s:.1f} s  per iteration: "
              + "  ".join(
                  f"{rate(rec, 'fetched'):.1f} pages/s "
                  f"{sum(r['cpu_s'] for r in rec['rounds']):.1f} cpu-s" for rec in iters
              ))
        print(f"checks: {json.dumps(checks, sort_keys=True)}  origin: {json.dumps(origin)}")
        if digest:
            # equal across runs of one seed on one commit, except where the
            # URLs carry the loopback origin's OS-chosen ports
            print(f"replay digest: {digest}")
        if tracer:
            tracer.read_stages()
            rounds = [r for rec in iters for r in rec["rounds"]]
            table = layer_metrics(tracer, rounds, a.cores, origin)
        else:
            e2e = end_to_end(iters, setup_s)
            table = {k: (e2e[k], u) for k, u in E2E.items()}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in table.items()}
        for k, (v, u) in table.items():
            print(f"  {k:30s} {v:16.4f} {u}")
        print(json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        ))
        return 0 if failed == 0 else 1
    finally:
        wl.close()
        tree.stop()
        stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def run_all(a) -> int:
    """Every workload in its own process; prints one table, the tracing
    overhead, and fails when any run fails."""
    results: dict[str, dict] = {}
    status = 0
    for name in NAMES:
        for trace in (0, 1) if a.trace else (0,):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(trace), "--cores", str(a.cores)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(p.stdout)
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            if p.returncode != 0 or not res["correct"]:
                status = 1
            results[f"{name}/{trace}"] = res

    def value(name: str, trace: int, metric: str) -> float:
        return results[f"{name}/{trace}"]["metrics"].get(metric, {}).get("value", float("nan"))

    print()
    print(f"{'workload':16s} {'failed_frac':>11s} " + " ".join(f"{k:>14s}" for k in E2E))
    summary = {}
    for name in NAMES:
        r = results[f"{name}/0"]
        frac = r["failed"] / max(r["attempted"], 1)
        print(f"{name:16s} {frac:11.4f} " + " ".join(f"{value(name, 0, k):14.3f}" for k in E2E))
        summary[f"{name}.failed_frac"] = {"value": frac, "unit": "ratio"}
        for trace in (0, 1) if a.trace else (0,):
            for k, m in results[f"{name}/{trace}"]["metrics"].items():
                summary[f"{name}.{k}"] = m
    print("units: " + ", ".join(f"{k} [{u}]" for k, u in E2E.items()) + ", failed_frac [ratio]")
    if a.trace:
        print("\ntracing overhead (extra round time per page, traced vs untraced run):")
        for name in NAMES:
            plain, traced = value(name, 0, "fetched_per_s"), value(name, 1, "crawl.fetched_per_s")
            over = plain / traced - 1.0
            print(f"  {name:16s} {over * 100:+7.1f}%  ({plain:.1f} vs {traced:.1f} pages/s)")
            summary[f"{name}.trace_overhead_frac"] = {"value": over, "unit": "ratio"}
    print(json.dumps({
        "correct": status == 0,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": summary,
    }))
    return status


def main() -> None:
    ap = argparse.ArgumentParser(description="sinew_spark crawl benchmark")
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "sinew_spark")):
        die(f"no sinew_spark package under {ROOT}")
    sys.exit(run_all(a) if a.workload == "all" else run_one(a))


if __name__ == "__main__":
    main()
