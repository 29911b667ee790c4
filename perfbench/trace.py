"""Trace collector: spans around the engine's public boundaries, with Spark
stage metrics per span.

``Tracer.install`` wraps, from outside the package, ``Crawler.run_round``,
``SnapshotTable.append`` / ``overwrite`` / ``append_rows``, the ``sync`` of
each seen store in ``operators.bloom``, and ``DataFrame.collect`` /
``count``. Every wrapped call except collect/count runs under its own Spark
job group, so the jobs it triggers can be read back per call from Spark's
status store (``statusTracker().getJobIdsForGroup`` then
``statusStore().stageData``), which works with ``spark.ui.enabled=false``.
Spans are kept in memory; stage metrics are read once, after the timed
rounds.
"""

from __future__ import annotations

import functools
import os
import statistics
import time

from pyspark.sql.classic.dataframe import DataFrame

from sinew_spark.crawl import Crawler
from sinew_spark.operators.bloom import (
    BloomShardStore,
    SeenKeyShardStore,
    SeenValueShardStore,
)
from sinew_spark.plans.snapshots import SnapshotTable


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.timed = False  # spans opened while True belong to timed rounds
        self._stack: list[dict] = []
        self._n = 0
        self._undo: list[tuple] = []

    # --- wrapping -----------------------------------------------------------

    def install(self) -> None:
        self._wrap(Crawler, "run_round", lambda self_, *a, **k: "crawl.round")
        for op in ("append", "overwrite", "append_rows"):
            self._wrap(
                SnapshotTable, op,
                lambda self_, *a, _op=op, **k: f"snapshots.{os.path.basename(self_.path)}.{_op}",
                after=_snapshot_bytes,
            )
        for store in (BloomShardStore, SeenKeyShardStore, SeenValueShardStore):
            self._wrap(store, "sync", lambda self_, *a, _s=store.__name__, **k: f"bloom.sync.{_s}")
        for op in ("collect", "count"):
            self._wrap(DataFrame, op, lambda *a, **k: "crawl.driver_action", group=False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, owner, attr, name_of, group: bool = True, after=None) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            return tracer._call(name_of(*a, **k), orig, a, k, group, after)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _call(self, name, fn, a, k, group, after):
        span = {
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "timed": self.timed,
            "group": None,
        }
        self.spans.append(span)
        prev = None
        if group:
            self._n += 1
            span["group"] = f"perfbench-{self._n}"
            prev = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(span["group"], name)
        self._stack.append(span)
        t0 = time.perf_counter()
        try:
            out = fn(*a, **k)
        finally:
            span["s"] = time.perf_counter() - t0
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
        if after is not None:
            span.update(after(a, out))
        if name == "crawl.round" and isinstance(out, dict):
            span["round"] = out.get("round")
        return out

    # --- stage metrics --------------------------------------------------------

    def read_stages(self) -> None:
        """Attach the stage metrics of every timed span's job group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for span in self.spans:
            if not span["timed"] or span["group"] is None:
                continue
            stages = []
            jobs = tracker.getJobIdsForGroup(span["group"])
            for jid in sorted(jobs):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    seq = store.stageData(sid, False, None, False, None)
                    for i in range(seq.size()):
                        stages.append(_stage(seq.apply(i)))
            span["jobs"] = len(jobs)
            span["stages"] = stages


def _stage(sd) -> dict:
    sub, done = sd.submissionTime(), sd.completionTime()
    wall = 0.0
    if sub.isDefined() and done.isDefined():
        wall = (done.get().getTime() - sub.get().getTime()) / 1000.0
    return {
        "id": sd.stageId(),
        "status": str(sd.status()),
        "tasks": sd.numTasks(),
        "wall_s": wall,
        "run_s": sd.executorRunTime() / 1000.0,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1000.0,
        "input_records": sd.inputRecords(),
        "output_records": sd.outputRecords(),
        "output_bytes": sd.outputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "shuffle_write_records": sd.shuffleWriteRecords(),
    }


def _snapshot_bytes(args, _out) -> dict:
    table = args[0]
    cur = table.current_snapshot()
    files = next(
        (s["meta"].get("files", []) for s in table.snapshots() if s["id"] == cur), []
    )
    return {"bytes": sum(f["bytes"] for f in files), "rows": sum(f["rows"] for f in files)}


def _descendants(spans: list[dict], root: dict) -> list[dict]:
    out, frontier = [], {root["id"]}
    for s in spans[root["id"] + 1 :]:
        if s["parent"] in frontier:
            out.append(s)
            frontier.add(s["id"])
    return out


def _stages(spans: list[dict]) -> list[dict]:
    return [st for s in spans for st in s.get("stages", ()) if st["status"] != "SKIPPED"]


def layer_metrics(tracer: Tracer, rounds: list[dict], cores: int, origin: dict) -> dict:
    """Per-layer metrics of the timed rounds: each is a mean per round unless
    it is a ratio, a quantile, a minimum or a maximum. ``rounds`` are the
    harness's round records (in order) with offered/leftover/links/spans
    counts and transport samples; ``origin`` the loopback origin's figures."""
    round_spans = [s for s in tracer.spans if s["timed"] and s["name"] == "crawl.round"]
    if len(round_spans) != len(rounds):
        raise RuntimeError(f"{len(round_spans)} round spans for {len(rounds)} rounds")
    acc: dict[str, float] = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    run_s = stage_s = 0.0
    for span, r in zip(round_spans, rounds):
        sub = _descendants(tracer.spans, span)
        add("crawl.round_s", span["s"])
        add("crawl.jobs", span.get("jobs", 0) + sum(s.get("jobs", 0) for s in sub))
        add("crawl.driver_action_s", sum(s["s"] for s in sub if s["name"] == "crawl.driver_action"))
        transport_s = sum(d for d, _st, _a in r["transport"])
        fetched = [s for s in sub if s["name"] == "snapshots.fetched.append"]
        stages = _stages(fetched)
        fetch = [st for st in stages if st["output_records"] > 0]
        add("fetch.stage_s", sum(st["wall_s"] for st in fetch))
        add("fetch.tasks", sum(st["tasks"] for st in fetch))
        add("fetch.executor_cpu_s", sum(st["cpu_s"] for st in fetch))
        add("fetch.gc_s", sum(st["gc_s"] for st in fetch))
        add("fetch.self_s", sum(st["run_s"] for st in fetch) - transport_s)
        run_s += sum(st["run_s"] for st in fetch)
        stage_s += sum(st["wall_s"] for st in fetch)
        # the frontier scan: the first stage that reads a table and writes
        # the dedup exchange
        scans = [st for st in stages if st["input_records"] > 0 and st["shuffle_write_bytes"] > 0]
        first = min(scans, key=lambda st: st["id"]) if scans else None
        add("frontier.rows_in", first["input_records"] if first else 0)
        add("frontier.dedup_shuffle_bytes", first["shuffle_write_bytes"] if first else 0)
        add("frontier.selected", sum(st["output_records"] for st in fetch))
        add("transport.calls", len(r["transport"]))
        add("transport.s", transport_s)
        add("transport.retries", sum(1 for _d, _st, a in r["transport"] if a > 0))
        add("transport.errors", sum(1 for _d, st, _a in r["transport"] if st < 0 or st >= 500))
        syncs = [s for s in sub if s["name"].startswith("bloom.sync.")]
        add("bloom.sync_s", sum(s["s"] for s in syncs))
        add("bloom.sync_calls", len(syncs))
        add("bloom.rejected", r["offered"] - r["fetched"] - r["leftover"])
        add("offered", r["offered"])
        for t in ("fetched", "seen", "frontier", "metrics"):
            snaps = [s for s in sub if s["name"].startswith(f"snapshots.{t}.")]
            add(f"snapshots.{t}_s", sum(s["s"] for s in snaps))
            add(f"snapshots.{t}_bytes", sum(s.get("bytes", 0) for s in snaps))
        nxt = [s for s in sub if s["name"] == "snapshots.frontier.overwrite"]
        add("frontier.next_rows", sum(s.get("rows", 0) for s in nxt))
        add("frontier.next_shuffle_bytes", sum(st["shuffle_write_bytes"] for st in _stages(nxt)))
        add("links.discovered", r["links"])
        add("htmlparse.spans", r["spans"])
        add("pages", r["fetched"])
    n = len(rounds)
    out = {k: v / n for k, v in acc.items()}
    out["fetch.task_busy_frac"] = run_s / (stage_s * cores) if stage_s else 0.0
    out["bloom.reject_frac"] = acc["bloom.rejected"] / acc["offered"] if acc["offered"] else 0.0
    out["crawl.fetched_per_s"] = acc["pages"] / acc["crawl.round_s"]
    samples = [d * 1000.0 for r in rounds for d, _st, _a in r["transport"]]
    q = statistics.quantiles(samples, n=100) if len(samples) > 1 else [0.0] * 99
    out["transport.ms_p50"], out["transport.ms_p99"] = q[49], q[98]
    # the origin logs whole timed iterations: its counts are per round too
    for k in ("requests", "dup_requests"):
        out[f"origin.{k}"] = origin.get(k, 0) / n
    for k in ("min_gap_ms", "max_inflight"):
        out[f"origin.{k}"] = float(origin.get(k, 0))
    del out["offered"], out["pages"]
    return {k: (out[k], u) for k, u in LAYERS.items()}


LAYERS = {
    "crawl.round_s": "s",
    "crawl.jobs": "count",
    "crawl.driver_action_s": "s",
    "crawl.fetched_per_s": "1/s",
    "fetch.stage_s": "s",
    "fetch.tasks": "count",
    "fetch.task_busy_frac": "ratio",
    "fetch.executor_cpu_s": "s",
    "fetch.gc_s": "s",
    "fetch.self_s": "s",
    "transport.calls": "count",
    "transport.s": "s",
    "transport.ms_p50": "ms",
    "transport.ms_p99": "ms",
    "transport.retries": "count",
    "transport.errors": "count",
    "origin.requests": "count",
    "origin.dup_requests": "count",
    "origin.min_gap_ms": "ms",
    "origin.max_inflight": "count",
    "frontier.rows_in": "count",
    "frontier.dedup_shuffle_bytes": "bytes",
    "frontier.selected": "count",
    "bloom.sync_s": "s",
    "bloom.sync_calls": "count",
    "bloom.rejected": "count",
    "bloom.reject_frac": "ratio",
    "snapshots.fetched_s": "s",
    "snapshots.fetched_bytes": "bytes",
    "snapshots.seen_s": "s",
    "snapshots.seen_bytes": "bytes",
    "snapshots.frontier_s": "s",
    "snapshots.frontier_bytes": "bytes",
    "snapshots.metrics_s": "s",
    "snapshots.metrics_bytes": "bytes",
    "links.discovered": "count",
    "frontier.next_rows": "count",
    "frontier.next_shuffle_bytes": "bytes",
    "htmlparse.spans": "count",
}
