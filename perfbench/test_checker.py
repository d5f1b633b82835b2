"""The crawl checker must notice each kind of divergence from refsim.

Run with ``python3 -m pytest perfbench/test_checker.py``; it needs no
Spark session (both sides come from the reference simulator).
"""

import copy

import pytest

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.refsim import simulate
from ideacrawler_spark.sources.fixtures import synth_web
from perfbench import crawlcheck


@pytest.fixture(scope="module")
def crawl():
    pages, robots, seeds, pushes = synth_web(seed=7, scale=1)
    spec = JobSpec(job_id="check", seed_url=seeds[0]["url"], min_delay_s=1,
                   round_seconds=10, max_concurrent=5,
                   follow_other_domains=True, max_rounds=6)
    golden = simulate(spec, pages, robots, pushes)
    got = dict(order=[dict(o) for o in golden.order],
               shipped=crawlcheck.golden_shipped(golden),
               metrics=[dict(m) for m in golden.metrics],
               seen=list(golden.seen))
    return golden, got


def _share(golden, got):
    return crawlcheck.compare(golden, got["order"], got["shipped"],
                              got["metrics"], got["seen"]).failed_share


def test_identical_crawl_passes(crawl):
    golden, got = crawl
    tally = crawlcheck.compare(golden, got["order"], got["shipped"],
                               got["metrics"], got["seen"])
    assert tally.attempted > 3 and tally.failed == 0


def test_permuted_order_fails(crawl):
    golden, got = copy.deepcopy(crawl)
    rnd = max(o["round"] for o in got["order"])
    rows = [o for o in got["order"] if o["round"] == rnd]
    assert len(rows) >= 2
    # swap the urls of the round's first two fetches, as a reordering does
    rows[0]["url"], rows[1]["url"] = rows[1]["url"], rows[0]["url"]
    assert _share(golden, got) > 0


def test_dropped_seen_key_fails(crawl):
    golden, got = copy.deepcopy(crawl)
    got["seen"] = got["seen"][1:]
    assert _share(golden, got) > 0


def test_altered_text_byte_fails(crawl):
    golden, got = copy.deepcopy(crawl)
    row = next(s for s in got["shipped"] if s["text"])
    row["text"] = chr(ord(row["text"][0]) ^ 1) + row["text"][1:]
    assert _share(golden, got) > 0
