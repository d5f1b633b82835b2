"""Workload ``crawl``: an in-process, impolite ``CrawlEngine`` crawl with
no ``checkpoint_dir`` over a seeded ``synth_web`` (the configuration
bench.py's ``crawl_e2e`` times), for ``ROUNDS`` rounds, which takes it
past the first seen-set compaction.

The engine is driven through ``subscribe()``, the same initialisation
and step loop as ``run()``, so each round's wall time is observable
without tracing. Every round is checked against ``refsim.simulate``.

Known defect (kept visible): without a checkpoint the engine permutes
the fetch order inside the largest rounds (some of rounds 6-9 at scale
100) relative to refsim, while the seen-set and the counts still
match. The order and shipped operations fail, so this workload reports
``correct: false``.
"""

from __future__ import annotations

import statistics
import time

from perfbench import crawlcheck, session
from perfbench.trace import EventLog, spark_metrics, udf_rows

SCALE = 100
ROUNDS = 10
SHUFFLE_PARTITIONS = 8
SETUP_REPS = 3


def setup(spark, seed: int, scale: int = SCALE) -> dict:
    """The seeded web as Python rows (for refsim) and persisted frames."""
    import pandas as pd

    from ideacrawler_spark.sources.fixtures import PAGES_SCHEMA, ROBOTS_SCHEMA, synth_web

    pages, robots, seeds, pushes = synth_web(seed=seed, scale=scale)
    pages_df = spark.createDataFrame(pd.DataFrame(pages), PAGES_SCHEMA) \
        .repartition(SHUFFLE_PARTITIONS).persist()
    pages_df.count()
    robots_df = spark.createDataFrame(robots, ROBOTS_SCHEMA).persist()
    robots_df.count()
    return dict(pages=pages, robots=robots, seeds=seeds, pushes=pushes,
                pages_df=pages_df, robots_df=robots_df)


def release(web: dict) -> None:
    web["pages_df"].unpersist()
    web["robots_df"].unpersist()


def spec_for(seed: int, seed_url: str):
    from ideacrawler_spark.config import JobSpec

    return JobSpec(job_id=f"crawl-{seed}", seed_url=seed_url, impolite=True,
                   follow_other_domains=True, min_delay_s=1, round_seconds=3600,
                   max_concurrent=1 << 30, max_rounds=ROUNDS)


def run(ctx) -> dict:
    from ideacrawler_spark.plans.crawl import CrawlEngine
    from ideacrawler_spark.refsim import simulate

    spark, web, setups = session.timed_setups(ctx, setup, release, SETUP_REPS)
    spec = spec_for(ctx.seed, web["seeds"][0]["url"])
    store0 = session.storage_used_mb(spark)

    eng = CrawlEngine(spark, spec, web["pages_df"], web["robots_df"],
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    times = []
    with ctx.span("crawl.run"):
        t_round = time.perf_counter()
        for _ in eng.subscribe():
            times.append(time.perf_counter() - t_round)
            t_round = time.perf_counter()
    out = eng.results()
    held = session.storage_used_mb(spark) - store0

    golden = simulate(spec, web["pages"], web["robots"], None)
    tally = crawlcheck.compare(
        golden,
        [r.asDict() for r in out["order"].collect()],
        [r.asDict() for r in out["shipped"].collect()],
        out["metrics"],
        [r["key"] for r in out["seen"].collect()],
    )
    release(web)
    spark.stop()

    fetched = sum(m.get("fetched", 0) for m in out["metrics"])
    round_s = statistics.median(times[1:])
    res = dict(
        e2e={
            "setup_s": (statistics.median(setups), "s"),
            "first_round_s": (times[0], "s"),
            "round_s_p50": (round_s, "s"),
            "pages_per_s": (fetched / sum(times), "1/s"),
            "held_cache_mb": (held, "mb"),
        },
        attempted=tally.attempted, failed=tally.failed, failures=tally.failures,
        detail=dict(scale=SCALE, rounds=len(times), round_s=times,
                    fetched=fetched, setup_s=setups,
                    actions_s=[s["actions_s"] for s in eng.step_timings]),
    )
    if ctx.tracer is not None:
        res["layer_fn"] = lambda log: crawl_layers(log, ctx.tracer, eng, ctx.cores)
    return res


def crawl_layers(log: EventLog, tracer, eng, cores: int) -> dict:
    steps = tracer.named("crawl.step")
    n = max(len(steps), 1)
    win = log.window(steps)
    compaction = [s for s in tracer.named("crawl.materialize")
                  if s.get("table") == "seen_full"]
    res = {
        "urlnorm.resolve_py_rows": (udf_rows(win, "urlnorm.resolve") / n, "count"),
        "extract.py_rows": (udf_rows(win, "extract") / n, "count"),
        "robots.py_rows": (udf_rows(win, "robots") / n, "count"),
        "round.plan_build_s": (tracer.total("round.plan_build") / n, "s"),
        "crawl.actions_s": (statistics.median(s["actions_s"] for s in eng.step_timings), "s"),
        "crawl.jobs_per_round": (win["n_jobs"] / n, "count"),
        "crawl.tasks_per_round": (win["n_tasks"] / n, "count"),
        "crawl.compaction_s": (sum(s["end"] - s["start"] for s in compaction), "s"),
    }
    res.update(spark_metrics(win, cores, len(steps)))
    return res
