"""Fetch-stage kernel contract: the grouped (paced) plan and the unpaced
plan of fetch_rows run one Arrow kernel and must agree row for row."""

from sinew_spark.operators.frontier import FRONTIER_SCHEMA
from sinew_spark.sources.fetch import FixtureFetcher, fetch_rows


def _frontier(spark, rows):
    return spark.createDataFrame(
        [(k, u, u, "GET", "", p, 0, s, 0, h) for k, u, p, s, h in rows],
        FRONTIER_SCHEMA,
    )


def test_grouped_plan_matches_unpaced_plan(spark):
    # 4 hosts x 4 URLs; priorities run against seq order on some hosts and
    # one row per host has a null priority
    prios = [[0.0, 1.0, 2.0, None], [3.0, 2.0, 1.0, 0.0], [None, 5.0, 5.0, -1.0],
             [1.0, None, 0.5, 0.5]]
    rows = [
        (1000 * h + i, f"http://host{h}.test/p/{i}", prios[h][i], 10 * i + h, f"host{h}.test")
        for h in range(4) for i in range(4)
    ]
    frontier = _frontier(spark, rows).repartition(3)
    fetcher = FixtureFetcher(seed=5, synthetic=True, synthetic_links=4, synthetic_hosts=8)
    kw = dict(retries=0, proxies=["http://p0", "http://p1"], parse=True)
    no_delay = spark.createDataFrame(
        [(f"host{h}.test", 0.0) for h in range(4)], "host string, crawl_delay double"
    )
    unpaced = fetch_rows(frontier, fetcher, **kw)
    grouped = fetch_rows(frontier, fetcher, host_delays=no_delay, **kw)
    assert "FlatMapGroupsInArrow" in grouped._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in unpaced._jdf.queryExecution().optimizedPlan().toString()

    def comparable(rows):
        return sorted(
            (r.asDict() | {"fetched_at": None, "latency_ms": None} for r in rows),
            key=lambda r: r["key"],
        )

    grouped_rows = grouped.collect()
    got, want = comparable(grouped_rows), comparable(unpaced.collect())
    assert got == want
    assert len(got) == 16 and all(r["status"] == 200 and r["spans"] and r["links"] for r in got)

    # within each host the grouped plan fetches in (priority, seq) order,
    # a null priority last
    for h in range(4):
        fetched = [r for r in grouped_rows if r.host == f"host{h}.test"]
        by_time = [r.seq for r in sorted(fetched, key=lambda r: r.fetched_at)]
        by_order = [r.seq for r in sorted(
            fetched, key=lambda r: (r.priority is None, r.priority or 0.0, r.seq))]
        assert by_time == by_order
        assert len({r.fetched_at for r in fetched}) == 4


def test_latency_ms_excludes_retry_backoff(spark):
    # the host fails 5 times, then answers: 5 backoff sleeps of
    # 10, 20, 40, 80 and 160 ms (under the 0.5 s paced cap) = 310 ms
    frontier = _frontier(spark, [(1, "http://flaky.test/x", 0.0, 1, "flaky.test")])
    out = fetch_rows(
        frontier, FixtureFetcher(seed=42, flaky={"flaky.test": 6}),
        rate_limit=0.5, retries=5,
    ).collect()
    assert [(r.status, r.n_attempts) for r in out] == [(200, 6)]
    assert out[0].latency_ms < 310
