"""The four crawl workloads: input generation, per-iteration set-up, timed
rounds and output checks.

Every input is a function of the ``--seed`` the harness was given. The engine
only ever sees what a caller would hand it: a seeded frontier, a seen table,
robots and Crawl-delay tables, and origin responses.

An *iteration* is one fixed unit of timed work (a few crawl rounds on a fresh
crawl, or one re-offer round on the shared recrawl state). Iterations of one
run repeat the same inputs wherever the workload allows it, so their outputs
must agree exactly: that is the replay check.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from dataclasses import dataclass

from pyspark.sql import functions as F

from sinew_spark.crawl import EXACT_SHARDS_AUTO_ROWS, Crawler, CrawlOptions
from sinew_spark.functions.robots import robots_crawl_delays, robots_rules
from sinew_spark.operators.frontier import SEEN_SCHEMA, prepare_frontier
from sinew_spark.sources.fetch import FixtureFetcher, HttpFetcher

from perfbench.measure import TimedFetcher

TABLES = ("frontier", "seen", "fetched", "metrics", "host_state", "host_counts")


@dataclass
class Iteration:
    crawler: Crawler
    expected_round0: set[str] | None = None  # canonical URLs round 0 must fetch
    expected_all: set[str] | None = None  # canonical URLs the iteration must fetch


def table_snapshot_ids(c: Crawler) -> dict[str, int]:
    return {t: getattr(c, f"{t}_t").current_snapshot() or 0 for t in TABLES}


def bytes_since(c: Crawler, before: dict[str, int]) -> int:
    """Bytes of the data files committed to the crawl's tables after the
    snapshot ids in ``before`` (from the manifests, no Spark job)."""
    total = 0
    for t in TABLES:
        for s in getattr(c, f"{t}_t").snapshots():
            if s["id"] > before[t]:
                total += sum(f["bytes"] for f in s["meta"].get("files", []))
    return total


def seed_urls(rng: random.Random, n: int, n_hosts: int, hot_frac: float,
              dup_frac: float) -> list[str]:
    """``n`` seed URLs over ``n_hosts`` hosts: ``host0`` owns ``hot_frac``
    of the fresh URLs and ``dup_frac`` of the rows repeat an earlier URL."""
    fresh: list[str] = []
    out: list[str] = []
    for _ in range(n):
        if fresh and rng.random() < dup_frac:
            out.append(fresh[rng.randrange(len(fresh))])
            continue
        host = 0 if rng.random() < hot_frac else rng.randrange(1, n_hosts)
        url = f"http://host{host}.test/s/{rng.randrange(10**9)}"
        fresh.append(url)
        out.append(url)
    return out


class Workload:
    name = ""
    rounds = 1  # timed rounds per iteration
    warm_iterations = 2  # untimed iterations before the timed ones
    replay = True  # iterations repeat the same inputs

    def __init__(self, spark, seed: int, work: str, log_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.log_dir = log_dir
        self.origin = None

    def fetcher(self):
        raise NotImplementedError

    def setup(self) -> None:
        """One-time set-up: inputs, tables, origin. The harness then runs
        ``warm_iterations`` untimed iterations, numbered below 0."""

    def iteration(self, i: int) -> Iteration:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def workdir(self, label: str) -> str:
        d = os.path.join(self.work, f"{self.name}-{label}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def origin_pid(self) -> int | None:
        return None

    def probe_check(self, c: Crawler, seen_before: int | None) -> dict:
        """Checks of the seen probe a round took, given the seen snapshot it
        started from."""
        return {}

    def origin_checks(self) -> dict:
        return {}


class BulkUnpaced(Workload):
    """Unpaced link-following crawl against the in-process synthetic origin:
    the Arrow fetch+parse kernel, commits, link discovery and seen-set writes.
    The seen set stays far below the shard threshold (anti-join path)."""

    name = "bulk_unpaced"
    rounds = 2
    n_seeds = 2000

    def fetcher(self):
        return TimedFetcher(
            FixtureFetcher(seed=self.seed, synthetic=True, synthetic_hosts=1000),
            self.log_dir,
        )

    def options(self) -> CrawlOptions:
        return CrawlOptions(
            retries=0, per_host_cap=None, follow_links=True,
            round_budget=self.n_seeds,
        )

    def crawler(self, wd: str) -> Crawler:
        return Crawler(self.spark, wd, self.fetcher(), self.options())

    def setup(self) -> None:
        self.urls = seed_urls(random.Random(self.seed), self.n_seeds, 1000, 0.2, 0.2)

    def iteration(self, i: int) -> Iteration:
        c = self.crawler(self.workdir(str(i)))
        c.seed(self.urls)
        return Iteration(c, expected_round0=set(self.urls))


class PacedCapped(BulkUnpaced):
    """The configuration a real crawl runs (``CrawlOptions`` defaults: per-host
    cap, retries) plus a Crawl-delay table in which a few hosts ask for a
    small delay, which puts every host on the grouped ``applyInPandas``
    kernel. CPU-bound: per-page kernel and serialization cost set the pace."""

    name = "paced_capped"
    rounds = 1
    n_seeds = 1000

    def options(self) -> CrawlOptions:
        return CrawlOptions(follow_links=True, round_budget=self.n_seeds)

    def crawler(self, wd: str) -> Crawler:
        return Crawler(
            self.spark, wd, self.fetcher(), self.options(), crawl_delays=self.delays
        )

    def setup(self) -> None:
        rng = random.Random(self.seed ^ 0x5EED)
        hosts = rng.sample(range(1, 1000), 8)
        self.delays = self.spark.createDataFrame(
            [(f"host{h}.test", rng.choice((0.001, 0.002, 0.005))) for h in hosts],
            "host string, crawl_delay double",
        )
        super().setup()


class RecrawlSeen(Workload):
    """Re-offers a frontier that is 90% already seen against a seen table
    above the engine's shard threshold (``EXACT_SHARDS_AUTO_ROWS``): the
    seen-set reads (key shards plus Bloom short-circuit) dominate and fetch
    does little. Each iteration is one round with fresh new URLs, so the
    replay check does not apply across its iterations."""

    name = "recrawl_seen"
    replay = False
    seen_rows = 5_200_000
    offered = 50_000
    fresh_frac = 0.1

    def fetcher(self):
        return TimedFetcher(
            FixtureFetcher(seed=self.seed, synthetic=True, synthetic_hosts=1000),
            self.log_dir,
        )

    def _url(self, ids):
        host = F.pmod(F.xxhash64(ids, F.lit(self.seed)), F.lit(1000))
        return F.concat(
            F.lit("http://host"), host.cast("string"), F.lit(".test/r/"),
            ids.cast("string"),
        )

    def _seeds(self, ids_df):
        return ids_df.select(
            self._url(F.col("id")).alias("url"),
            F.lit("GET").alias("method"),
            F.lit("").alias("body"),
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("depth"),
            F.col("id").alias("seq"),
            F.lit(0).alias("attempt"),
        )

    def setup(self) -> None:
        self.c = Crawler(
            self.spark, self.workdir("state"), self.fetcher(),
            CrawlOptions(retries=0, per_host_cap=None),
        )
        # generated URLs are canonical by construction, so the set-up skips
        # the canonicalize UDF; the checks catch any key disagreement (a
        # re-offered seen URL would be fetched)
        prepared = prepare_frontier(
            self._seeds(self.spark.range(self.seen_rows)), lambda c: c
        )
        seen = prepared.select(
            "key",
            F.col("canonical_url").alias("url"),
            "method",
            F.lit(200).alias("status"),
            F.lit(1.0e9).alias("fetched_at"),
            F.lit(None).cast("string").alias("hop_of"),
            F.lit(-1).alias("round"),
        )
        self.c.seen_t.append(seen.select([f.name for f in SEEN_SCHEMA.fields]))
        self.next_fresh = self.seen_rows

    def iteration(self, i: int) -> Iteration:
        n_fresh = int(self.offered * self.fresh_frac)
        n_seen = self.offered - n_fresh
        # seen ids: a seeded sample without repeats; fresh ids: never used
        rng = random.Random(f"{self.seed}/{i}")
        start = rng.randrange(self.seen_rows - n_seen * 7)
        seen_ids = self.spark.range(start, start + n_seen * 7, 7)
        fresh_ids = self.spark.range(self.next_fresh, self.next_fresh + n_fresh)
        fresh_lo, self.next_fresh = self.next_fresh, self.next_fresh + n_fresh
        self.c.seed_df(self._seeds(seen_ids.unionByName(fresh_ids)))
        expected = {
            f"http://host{h}.test/r/{k}"
            for k, h in self._hosts(fresh_lo, self.next_fresh)
        }
        return Iteration(self.c, expected_all=expected)

    def probe_check(self, c: Crawler, seen_before: int | None) -> dict:
        """The round must have probed the seen-key shards, not the anti-join
        fallback: the seen table was above the shard threshold and both
        sidecars synced to at least the snapshot the round started from
        (the condition ``Crawler.run_round`` checks before it probes)."""
        synced = all(
            s.snapshot_id is not None and s.snapshot_id >= seen_before
            for s in (c._seen_keys, c._bloom)
        )
        above = c.seen_t.approx_rows(seen_before) > EXACT_SHARDS_AUTO_ROWS
        return {"shard_probe_skipped": int(not (synced and above))}

    def _hosts(self, lo: int, hi: int):
        rows = (
            self.spark.range(lo, hi)
            .select("id", F.pmod(F.xxhash64("id", F.lit(self.seed)), F.lit(1000)).alias("h"))
            .collect()
        )
        return [(r.id, r.h) for r in rows]


class PoliteLoopback(Workload):
    """``HttpFetcher`` against a loopback origin process: one listener per
    127.0.0.x address, injected latency, robots.txt with Crawl-delay. The
    round waits rather than computes; the only workload that exercises the
    real transport, pacing sleeps and fetch-task concurrency."""

    name = "polite_loopback"
    # the robots round in set-up already runs the first jobs, so one warm
    # iteration suffices and keeps the run short
    warm_iterations = 1
    n_hosts = 32
    latency_ms = 20.0
    crawl_delay = 0.05
    n_urls = 64
    private_frac = 0.125

    def fetcher(self):
        return TimedFetcher(HttpFetcher(timeout=10.0), self.log_dir)

    def setup(self) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.origin = subprocess.Popen(
            [sys.executable, os.path.join(here, "origin.py"),
             "--hosts", str(self.n_hosts), "--latency-ms", str(self.latency_ms),
             "--crawl-delay", str(self.crawl_delay)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        hosts = json.loads(self.origin.stdout.readline())["hosts"]
        self.bases = [f"http://{ip}:{port}" for ip, port in hosts]
        # robots.bootstrap_robots builds http://<host>/robots.txt without the
        # port, so the harness seeds explicit-port robots URLs itself
        rc = Crawler(self.spark, self.workdir("robots"), self.fetcher(), CrawlOptions())
        rc.seed([f"{b}/robots.txt" for b in self.bases])
        rc.run_round()
        got = rc.fetched_t.read_delta(rc.fetched_t.current_snapshot())
        got = got.where(F.col("canonical_url").endswith("/robots.txt"))
        self.delays = self.spark.createDataFrame(
            robots_crawl_delays(got).collect(), "host string, crawl_delay double"
        )
        self.rules = self.spark.createDataFrame(
            robots_rules(got).collect(), "host string, disallow_prefix string"
        )
        # every host gets the same number of URLs and a fixed share sits
        # under Disallow, so the round's pacing structure does not depend on
        # the seed; the seed picks paths, order and which URLs are private
        rng = random.Random(self.seed)
        bases = self.bases * (self.n_urls // len(self.bases))
        private = set(rng.sample(range(len(bases)), int(len(bases) * self.private_frac)))
        self.urls = [
            f"{b}/{'private' if i in private else 'p'}/{rng.randrange(10**6)}"
            for i, b in enumerate(bases)
        ]
        rng.shuffle(self.urls)

    def iteration(self, i: int) -> Iteration:
        seg = self._command("mark")["segment"]
        if i == 0:
            self.first_timed_segment = seg
        # follow_links: every page links 6 same-host pages, so the round also
        # writes a next frontier (link discovery) without fetching more
        c = Crawler(
            self.spark, self.workdir(str(i)), self.fetcher(),
            CrawlOptions(follow_links=True),
            robots=self.rules, crawl_delays=self.delays,
        )
        c.seed(self.urls)
        allowed = {u for u in self.urls if "/private/" not in u}
        return Iteration(c, expected_all=allowed)

    def _command(self, cmd: str) -> dict:
        self.origin.stdin.write(cmd + "\n")
        self.origin.stdin.flush()
        return json.loads(self.origin.stdout.readline())

    def origin_pid(self) -> int | None:
        return self.origin.pid if self.origin else None

    def origin_checks(self) -> dict:
        """Politeness as the origin saw it during the timed iterations (the
        log segments from the first timed iteration's on; before it come the
        robots round and the warm iterations)."""
        dump = self._command("dump")
        by_seg_host: dict[tuple, list] = {}
        seen: set = set()
        dups = private = 0
        n = 0
        for seg, host, path, arrival, _done in dump["log"]:
            if seg < self.first_timed_segment:
                continue
            n += 1
            if (seg, host, path) in seen:
                dups += 1
            seen.add((seg, host, path))
            if path.startswith("/private/"):
                private += 1
            by_seg_host.setdefault((seg, host), []).append(arrival)
        gaps = []
        for arrivals in by_seg_host.values():
            arrivals.sort()
            gaps += [b - a for a, b in zip(arrivals, arrivals[1:])]
        violations = sum(1 for g in gaps if g < self.crawl_delay)
        return {
            "requests": n,
            "dup_requests": dups,
            "robots_violations": private,
            "delay_violations": violations,
            "min_gap_ms": min(gaps) * 1000 if gaps else 0.0,
            "max_inflight": dump["max_inflight"],
        }

    def close(self) -> None:
        if self.origin is not None:
            self.origin.stdin.close()
            try:
                self.origin.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.origin.kill()
                self.origin.wait()
            self.origin.stdout.close()
            self.origin = None


WORKLOADS = {w.name: w for w in (BulkUnpaced, PacedCapped, RecrawlSeen, PoliteLoopback)}


def replay_digest(c: Crawler) -> str:
    """Digest of the ordered (key, url, round, seq, spans) of every fetched row."""
    rows = (
        c.fetched_t.read()
        .select(
            "round", "seq", "key",
            F.sha2(
                F.to_json(F.struct("key", "canonical_url", "round", "seq", "spans")), 256
            ).alias("h"),
        )
        .orderBy("round", "seq", "key")
        .collect()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.h.encode())
    return h.hexdigest()


def check_iteration(it: Iteration, rounds: list[int]) -> dict:
    """Exactly-once and completeness checks for one iteration's ``rounds``:
    no key fetched twice anywhere in the crawl, no error rows, and exactly
    the expected URLs fetched."""
    f = it.crawler.fetched_t.read()
    agg = f.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("key").alias("keys"),
        F.sum(F.col("round").isin(rounds).cast("int")).alias("mine"),
        F.sum(
            (
                F.col("round").isin(rounds)
                & ((F.col("status") < 200) | (F.col("status") >= 400)
                   | F.col("error").isNotNull())
            ).cast("int")
        ).alias("errors"),
    ).collect()[0]
    out = {
        "pages": int(agg.mine),
        "dup_fetches": int(agg.rows) - int(agg.keys),
        "error_rows": int(agg.errors or 0),
        "missing": 0,
        "unexpected": 0,
    }
    for expected, in_rounds in (
        (it.expected_round0, rounds[:1]),
        (it.expected_all, rounds),
    ):
        if expected is None:
            continue
        got = {
            r.u for r in f.where(F.col("round").isin(in_rounds))
            .select(F.col("canonical_url").alias("u")).collect()
        }
        out["missing"] += len(expected - got)
        out["unexpected"] += len(got - expected)
    return out


def offered_keys(c: Crawler, frontier_snap: int) -> int:
    """Distinct candidate keys the round read from its frontier snapshot."""
    return c.frontier_t.read(frontier_snap).select("key").distinct().count()


def round_counts(c: Crawler, r: dict) -> dict:
    """Traced-run counts of one round from its committed tables: offered
    keys still in the next frontier (carried over, neither fetched nor
    rejected), and the links and spans in the fetched delta."""
    before = c.frontier_t.read(r["frontier_before"]).select("key").distinct()
    after = c.frontier_t.read(r["frontier_after"]).select("key")
    leftover = before.join(after, "key", "left_semi").count()
    delta = c.fetched_t.read_delta(r["fetched_snap"]).agg(
        F.sum(F.size("links")).alias("links"), F.sum(F.size("spans")).alias("spans")
    ).collect()[0]
    return {"leftover": leftover, "links": int(delta.links or 0), "spans": int(delta.spans or 0)}
