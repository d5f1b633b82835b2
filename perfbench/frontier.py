"""Workload ``frontier``: one frontier-round prelude over a seeded
synthetic frontier, the BASELINE headline.

    canonicalize_udf → first_occurrence → anti_join_seen(partitioned=True)
        → admit_budget → global_rank → noop sink

The frontier is generated here from the seed (numpy, no Spark): a 30%
mega-host, 25% messy URLs that canonicalize to a known clean form, 10%
in-frontier duplicates and 20% overlap with a seen table. Because the
generator knows each row's canonical URL, the reference result is
computed a different way: window SQL in DuckDB over the generated rows
with the known canonical column. The UDF is also checked against the
scalar ``canonicalize`` on a seeded sample.
"""

from __future__ import annotations

import contextlib
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import session
from perfbench.trace import (
    EventLog, spark_metrics, task_skew, udf_bytes_sent, udf_rows,
)

N_URLS = 100_000
N_HOSTS = 997
MEGA_SHARE = 0.30
MESSY_SHARE = 0.25
DUP_SHARE = 0.10
SEEN_SHARE = 0.20
HOST_BUDGET = 500
SAMPLE = 256          # rows checked against scalar canonicalize
MIN_ROUNDS = 3
SETUP_REPS = 7


def gen_frontier(seed: int, n: int = N_URLS) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(frontier, seen) as pandas frames. The frontier carries ``url``
    (possibly messy) and ``url_ref``, the canonical form it must become."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    page = ids.copy()
    dup = rng.random(n) < DUP_SHARE
    page[dup] = (rng.random(int(dup.sum())) * np.maximum(ids[dup], 1)).astype(np.int64)
    mega = rng.random(n) < MEGA_SHARE          # indexed by page id
    host_no = rng.integers(0, N_HOSTS, n)      # indexed by page id
    messy_kind = np.where(rng.random(n) < MESSY_SHARE, rng.integers(0, 3, n), -1)
    depth = rng.integers(0, 6, n).astype(np.int32)
    in_seen = rng.random(n) < SEEN_SHARE       # indexed by page id

    hosts = [host_of(p, mega, host_no) for p in page]
    ref = [f"http://{h}/p/{p}" for h, p in zip(hosts, page)]
    urls = []
    for h, p, r, k in zip(hosts, page, ref, messy_kind):
        if k == 0:
            urls.append(f"HTTP://{h.upper()}:80/p/{p}")
        elif k == 1:
            urls.append(r + "?")
        elif k == 2:
            urls.append(f"http://{h}/p/" + "".join(f"%{ord(c):02X}" for c in str(p)))
        else:
            urls.append(r)
    frontier = pd.DataFrame(dict(url=urls, url_ref=ref, host=hosts,
                                 depth=depth, seq=ids))
    seen_pages = np.unique(page[in_seen[page]])
    extra = [f"http://host{i % N_HOSTS}.example/p/{n + i}" for i in range(n // 10)]
    seen = pd.DataFrame(dict(
        key=[f"http://{host_of(p, mega, host_no)}/p/{p}" for p in seen_pages] + extra))
    return frontier, seen


def host_of(page: int, mega: np.ndarray, host_no: np.ndarray) -> str:
    return "bighost.example" if mega[page] else f"host{host_no[page]}.example"


def reference(frontier: pd.DataFrame, seen: pd.DataFrame) -> pd.DataFrame:
    """The round's expected output, by window SQL in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("fr", frontier)
        con.register("seen", seen)
        return con.execute(f"""
            WITH firsts AS (
              SELECT url_ref AS url_norm, host, depth, seq FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY url_ref ORDER BY depth, seq) AS rn FROM fr)
              WHERE rn = 1),
            fresh AS (
              SELECT f.* FROM firsts f ANTI JOIN seen s ON f.url_norm = s.key),
            admitted AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY host ORDER BY depth, seq) AS rn FROM fresh)
              WHERE rn <= {HOST_BUDGET})
            SELECT url_norm, host, depth, seq,
                   row_number() OVER (ORDER BY depth, seq) - 1 AS fetch_seq
            FROM admitted
        """).df()
    finally:
        con.close()


class Inputs:
    """The generated frontier and seen table, persisted in one session."""

    def __init__(self, spark, frontier_pd: pd.DataFrame, seen_pd: pd.DataFrame):
        parts = spark.sparkContext.defaultParallelism * 2
        self.parts = parts
        self.frontier = spark.createDataFrame(
            frontier_pd[["url", "host", "depth", "seq"]]).repartition(parts).persist()
        self.seen = spark.createDataFrame(seen_pd).repartition(parts).persist()
        self.frontier.count()
        self.seen.count()

    def release(self):
        self.frontier.unpersist()
        self.seen.unpersist()


def stages(seen, parts: int, track: list) -> list:
    """The prelude as (layer span name, frame → frame) steps, in order."""
    from pyspark.sql import functions as F

    from ideacrawler_spark.functions.urlnorm import canonicalize_udf
    from ideacrawler_spark.operators.admission import admit_budget
    from ideacrawler_spark.operators.dedup import anti_join_seen, first_occurrence
    from ideacrawler_spark.operators.rank import global_rank

    canon = canonicalize_udf()
    return [
        ("urlnorm.canon", lambda df: df.withColumn("url_norm", canon(F.col("url")))
         .select("url_norm", "host", "depth", "seq")),
        ("dedup.first_occurrence", lambda df: first_occurrence(
            df, key="url_norm", order_cols=("depth", "seq"))),
        ("dedup.anti_join", lambda df: anti_join_seen(
            df, seen, key="url_norm", partitioned=True)),
        ("admission.admit", lambda df: admit_budget(
            df.withColumnRenamed("url_norm", "url"), F.lit(HOST_BUDGET), None,
            host_budget_max=HOST_BUDGET)[0]),
        ("rank.global_rank", lambda df: global_rank(
            df, ["depth", "seq"], out_col="fetch_seq", num_partitions=parts,
            persist_input=True, track=track)),
    ]


def prelude(inp: Inputs, track: list):
    df = inp.frontier
    for _, step in stages(inp.seen, inp.parts, track):
        df = step(df)
    return df


def run_round(inp: Inputs) -> float:
    """One timed prelude round into a noop sink; its caches are released
    afterwards so the next round recomputes everything."""
    track: list = []
    t0 = time.perf_counter()
    prelude(inp, track).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    for df in track:
        df.unpersist()
    return dt


def setup(spark, seed: int):
    frontier_pd, seen_pd = gen_frontier(seed)
    return frontier_pd, seen_pd, Inputs(spark, frontier_pd, seen_pd)


def release(state) -> None:
    state[2].release()


def measure(inp: Inputs, seconds: float, span=contextlib.nullcontext) -> list[float]:
    """The cold first prelude round of a fresh session, then warm rounds
    until ``seconds`` of them have run, at least MIN_ROUNDS. Each round
    runs inside ``span("frontier.round")``."""
    def one():
        with span("frontier.round"):
            return run_round(inp)

    times = [one()]
    while len(times) <= MIN_ROUNDS or sum(times[1:]) < seconds:
        times.append(one())
    return times


def check(inp: Inputs, frontier_pd, seen_pd, seed: int) -> tuple[int, int]:
    """(attempted, failed): every reference row must appear exactly once in
    the engine's output and nothing else may; every sampled URL must
    canonicalize in the UDF exactly as the scalar function does."""
    from pyspark.sql import functions as F

    from ideacrawler_spark.functions.urlnorm import canonicalize, canonicalize_udf

    track: list = []
    got = prelude(inp, track).select(
        F.col("url").alias("url_norm"), "host", "depth", "seq", "fetch_seq").toPandas()
    for df in track:
        df.unpersist()
    want = reference(frontier_pd, seen_pd)
    key = ["url_norm", "host", "depth", "seq", "fetch_seq"]
    both = got[key].astype(str).merge(want[key].astype(str), how="outer",
                                      indicator=True)
    failed = int((both["_merge"] != "both").sum()) + int(got.duplicated(key).sum())
    attempted = max(len(got), len(want))

    rng = np.random.default_rng(seed + 1)
    sample = sorted(set(int(i) for i in rng.integers(0, len(frontier_pd), SAMPLE)))
    rows = (inp.frontier.filter(F.col("seq").isin(sample))
            .select("seq", "url", canonicalize_udf()(F.col("url")).alias("norm"))
            .collect())
    by_seq = {r["seq"]: r for r in rows}
    for s in sample:
        r = by_seq.get(s)
        attempted += 1
        ok = (r is not None and r["norm"] == canonicalize(r["url"])
              and r["norm"] == frontier_pd["url_ref"].iat[s])
        failed += 0 if ok else 1
    return attempted, failed


def layers(inp: Inputs, tracer) -> dict:
    """Each prelude stage run alone into a noop sink on its persisted input
    (traced run only); returns each stage's output row count."""
    track: list = []
    held: list = []
    counts = {}
    df = inp.frontier
    for name, step in stages(inp.seen, inp.parts, track):
        out = step(df)
        with tracer.span(name):
            out.write.format("noop").mode("overwrite").save()
        df = out.persist()
        held.append(df)
        counts[name] = df.count()
    for df in track + held:
        df.unpersist()
    return counts


def scaling_pass(ctx, frontier_pd, seen_pd) -> list[float]:
    """The same rounds at local[1] (traced run only): rounds after the cold
    first one."""
    spark1 = session.start_session(1, ctx.run_dir, event_log=ctx.event_log)
    inp1 = Inputs(spark1, frontier_pd, seen_pd)
    times1 = measure(inp1, 0.0)[1:]
    inp1.release()
    spark1.stop()
    return times1


def run(ctx) -> dict:
    """Run the workload; ``ctx`` is the run context from run.py."""
    spark, (frontier_pd, seen_pd, inp), setups = session.timed_setups(
        ctx, setup, release, SETUP_REPS)
    store0 = session.storage_used_mb(spark)

    times = measure(inp, ctx.seconds, ctx.span)
    round_s = statistics.median(times[1:])
    held = session.storage_used_mb(spark) - store0
    attempted, failed = check(inp, frontier_pd, seen_pd, ctx.seed)
    counts = layers(inp, ctx.tracer) if ctx.tracer is not None else None
    inp.release()
    spark.stop()

    n = len(frontier_pd)
    urls_per_s = n / round_s
    res = dict(
        e2e={
            "setup_s": (statistics.median(setups), "s"),
            "first_round_s": (times[0], "s"),
            "round_s_p50": (round_s, "s"),
            "urls_per_s": (urls_per_s, "1/s"),
            "held_cache_mb": (held, "mb"),
        },
        attempted=attempted, failed=failed,
        detail=dict(n_urls=n, rounds=len(times), round_s=times, setup_s=setups),
    )
    if ctx.tracer is not None:
        times1 = scaling_pass(ctx, frontier_pd, seen_pd)
        eff = urls_per_s / (ctx.cores * (n / statistics.median(times1)))
        res["e2e"]["scaling_eff"] = (eff, "share")
        res["detail"]["round_s_local1"] = times1
        res["layer_fn"] = lambda log: dict(
            frontier_layers(log, ctx.tracer, counts, n, ctx.cores),
            **{"scaling.eff": (eff, "share")})
    return res


def frontier_layers(log: EventLog, tracer, counts: dict, n: int, cores: int) -> dict:
    rounds = tracer.named("frontier.round")
    win = log.window(rounds)
    py_rows = udf_rows(win, "urlnorm.canon") / max(len(rounds), 1)
    out = {
        "urlnorm.canon_s": (tracer.total("urlnorm.canon"), "s"),
        "urlnorm.py_rows": (py_rows, "count"),
        "urlnorm.py_row_share": (py_rows / n, "share"),
        "urlnorm.py_bytes": (udf_bytes_sent(win, "urlnorm.canon") / max(len(rounds), 1), "bytes"),
        "dedup.first_occurrence_s": (tracer.total("dedup.first_occurrence"), "s"),
        "dedup.anti_join_s": (tracer.total("dedup.anti_join"), "s"),
        "dedup.kept_share": (counts["dedup.anti_join"] / n, "share"),
        "admission.admit_s": (tracer.total("admission.admit"), "s"),
        "admission.admitted_share": (
            counts["admission.admit"] / max(counts["dedup.anti_join"], 1), "share"),
        "admission.task_skew": (task_skew(log.window(tracer.named("admission.admit"))["tasks"]), "ratio"),
        "rank.global_rank_s": (tracer.total("rank.global_rank"), "s"),
        "rank.jobs": (log.window(tracer.named("rank.global_rank"))["n_jobs"], "count"),
    }
    out.update(spark_metrics(win, cores, len(rounds)))
    return out
