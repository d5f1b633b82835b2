"""Workload ``serve_durable``: a polite, checkpointed crawl driven by one
closed-loop client through ``serving.CrawlServer``'s JSON-lines endpoint.

The client POSTs the job with pre-stamped pushes (synth_web's own plus
``PUSHES_PER_ROUND`` seeded page URLs per round, so every round fetches
a budget-bound number of pages) and a ``checkpoint_dir`` on local disk,
reads the round stream and sends one ``GET /jobs/<id>`` per streamed
round. It cancels while round 0 is in flight (once the engine
has started writing that round's tables under the checkpoint), so the
first stream ends after round 0, and then POSTs again with
``resume=true`` to the end. Every streamed round is checked against
``refsim.simulate`` on the same web, spec and pushes; the fetch order is
read back from the committed checkpoint tables.

The crawl has ``MAX_ROUNDS`` = 2 rounds, one per stream, so no stream has
a line-to-line gap: the one warm round is the resumed one, and
``round_s_p50`` is its latency from the resume POST (one sample, the same
as ``resume_s``: engine creation and checkpoint reload included). A third
round would add about 20 s to a run, which the benchmark's run budget
does not allow.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import threading
import time

from perfbench import crawl as crawl_workload
from perfbench import crawlcheck, session
from perfbench.trace import EventLog, spark_metrics, udf_rows

SCALE = 10
MAX_ROUNDS = 2
PUSHES_PER_ROUND = 40
SHUFFLE_PARTITIONS = crawl_workload.SHUFFLE_PARTITIONS
SETUP_REPS = 9


def spec_dict(seed: int, seed_url: str) -> dict:
    # polite: the robots UDF runs and hostb's 2 s crawl delay binds; per
    # round each host admits 60 pages (hostb 30)
    return dict(job_id=f"serve-{seed}", seed_url=seed_url, min_delay_s=1,
                round_seconds=60, max_concurrent=5, follow_other_domains=True,
                max_rounds=MAX_ROUNDS)


def client_pushes(seed: int, pages: list, pushes: list) -> list:
    """synth_web's pushes plus seeded page URLs, stamped per round."""
    rng = random.Random(seed)
    urls = [p["url"] for p in pages]
    out = list(pushes)
    seq = 1 + max(p["seq"] for p in pushes)
    for rnd in range(MAX_ROUNDS):
        for url in rng.sample(urls, PUSHES_PER_ROUND):
            out.append(dict(round=rnd, url=url, method="GET", meta=f"push-{seq}", seq=seq))
            seq += 1
    return out


class Client:
    """Closed loop: each request waits for the previous reply."""

    def __init__(self, port: int, tally: crawlcheck.Tally):
        self.port = port
        self.tally = tally

    def _conn(self):
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)

    def call(self, method: str, path: str, body=None) -> dict | None:
        conn = self._conn()
        try:
            conn.request(method, path, json.dumps(body) if body is not None else None,
                         {"Content-Type": "application/json", "Connection": "close"})
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        ok = resp.status == 200
        self.tally.op(ok, "http", method=method, path=path, status=resp.status)
        return json.loads(data) if ok else None

    def stream(self, body: dict, on_line):
        """POST /jobs and hand each streamed line (with its arrival time
        and size) to ``on_line``; returns the send time and the lines."""
        conn = self._conn()
        lines = []
        t_post = time.perf_counter()
        try:
            conn.request("POST", "/jobs", json.dumps(body),
                         {"Content-Type": "application/json", "Connection": "close"})
            resp = conn.getresponse()
            ok = resp.status == 200
            self.tally.op(ok, "http", method="POST", path="/jobs", status=resp.status)
            while ok:
                raw = resp.readline()
                if not raw:
                    break
                line = json.loads(raw)
                lines.append((time.perf_counter(), len(raw), line))
                if line.get("done"):
                    break
                on_line(line)
        finally:
            conn.close()
        self.tally.op(bool(lines) and lines[-1][2].get("done") is True,
                      "stream_done", lines=len(lines))
        return t_post, [x for x in lines if not x[2].get("done")]


def setup(spark, seed: int) -> dict:
    from ideacrawler_spark.serving import CrawlServer

    web = crawl_workload.setup(spark, seed, SCALE)
    web["pushes"] = client_pushes(seed, web["pages"], web["pushes"])
    web["srv"] = CrawlServer(spark, web["pages_df"], web["robots_df"],
                             shuffle_partitions=SHUFFLE_PARTITIONS).start()
    return web


def release(web: dict) -> None:
    web["srv"].stop()
    crawl_workload.release(web)


def crawl(web: dict, spec: dict, ckpt: str, tally: crawlcheck.Tally) -> dict:
    """One served crawl: stream, cancel during round 0, resume."""
    client = Client(web["srv"].port, tally)
    job = spec["job_id"]

    def on_line(line):
        status = client.call("GET", f"/jobs/{job}")
        tally.op(status is not None
                 and status.get("last_committed_round", -1) >= line["round"],
                 "status", round=line["round"])

    first_done = threading.Event()

    def cancel_in_round0():
        while not os.path.isdir(os.path.join(ckpt, "round=0")):
            if first_done.wait(0.02):
                tally.op(False, "cancel", reason="round 0 never started")
                return
        reply = client.call("POST", f"/jobs/{job}/cancel", {})
        tally.op(bool(reply and reply.get("cancelled")), "cancel")

    canceller = threading.Thread(target=cancel_in_round0, daemon=True)
    canceller.start()
    t0, first = client.stream(dict(spec=spec, pushes=web["pushes"],
                                   checkpoint_dir=ckpt), on_line)
    t_first_end = time.perf_counter()
    first_done.set()
    canceller.join(timeout=60)
    t1, second = client.stream(dict(spec=spec, pushes=web["pushes"],
                                    checkpoint_dir=ckpt, resume=True), on_line)
    t_second_end = time.perf_counter()
    lines = [x[2] for x in first + second]
    tally.op(len(first) == 1 and len(second) >= 1, "cancel_resume",
             first=len(first), second=len(second))
    return dict(
        first_page_s=first[0][0] - t0 if first else float("nan"),
        resume_s=second[0][0] - t1 if second else float("nan"),
        crawl_s=(t_first_end - t0) + (t_second_end - t1),
        line_bytes=[x[1] for x in first + second],
        lines=lines,
        engine=web["srv"].jobs.get(job),
    )


def check(spark, web, spec, ckpt, out, tally: crawlcheck.Tally) -> None:
    from ideacrawler_spark.config import JobSpec
    from ideacrawler_spark.plans.catalog import ParquetManifestCatalog
    from ideacrawler_spark.refsim import simulate

    golden = simulate(JobSpec(**spec), web["pages"], web["robots"], web["pushes"])
    cat = ParquetManifestCatalog(spark, ckpt)
    order = []
    for rnd in range(MAX_ROUNDS):
        if cat.is_committed(rnd) and cat.has_table(rnd, "order"):
            order += [r.asDict() for r in cat.read(rnd, "order").collect()]
    shipped = [dict(s, round=ln["round"]) for ln in out["lines"] for s in ln["shipped"]]
    metrics = [ln["metrics"] for ln in out["lines"]]
    eng = out["engine"]
    seen = [r["key"] for r in eng.seen.collect()] if eng is not None else []
    result = crawlcheck.compare(golden, order, shipped, metrics, seen)
    tally.attempted += result.attempted
    tally.failed += result.failed
    tally.failures += result.failures
    # every round refsim crawls must arrive as exactly one streamed line
    want_rounds = sorted(m["round"] for m in golden.metrics if m.get("admitted", 0))
    tally.op(sorted(ln["round"] for ln in out["lines"]) == want_rounds, "lines",
             got=[ln["round"] for ln in out["lines"]], want=want_rounds)


def run(ctx) -> dict:
    spark, web, setups = session.timed_setups(ctx, setup, release, SETUP_REPS)
    spec = spec_dict(ctx.seed, web["seeds"][0]["url"])
    store0 = session.storage_used_mb(spark)

    tally = crawlcheck.Tally()
    ckpt = str(session.fresh_dir(ctx.run_dir / "ckpt"))
    with ctx.span("serve.crawl"):
        out = crawl(web, spec, ckpt, tally)
    held = session.storage_used_mb(spark) - store0
    check(spark, web, spec, ckpt, out, tally)
    release(web)
    spark.stop()

    fetched = sum(int(ln["metrics"].get("fetched", 0)) for ln in out["lines"])
    pages_per_s = fetched / out["crawl_s"]
    res = dict(
        e2e={
            "setup_s": (statistics.median(setups), "s"),
            # the only warm round is the resumed one (see the module doc)
            "round_s_p50": (out["resume_s"], "s"),
            "first_round_s": (out["first_page_s"], "s"),
            "pages_per_s": (pages_per_s, "1/s"),
            "first_page_s": (out["first_page_s"], "s"),
            "resume_s": (out["resume_s"], "s"),
            "held_cache_mb": (held, "mb"),
        },
        attempted=tally.attempted, failed=tally.failed, failures=tally.failures,
        detail=dict(scale=SCALE, rounds=[ln["round"] for ln in out["lines"]],
                    fetched=fetched,
                    crawl_s=out["crawl_s"], setup_s=setups),
    )
    if ctx.tracer is not None:
        res["layer_fn"] = lambda log: serve_layers(log, ctx.tracer, out, ctx.cores)
    return res


def serve_layers(log: EventLog, tracer, out: dict, cores: int) -> dict:
    steps = tracer.named("crawl.step")
    n = max(len(steps), 1)
    win = log.window(steps)
    rounds = [c for c in tracer.counters if c["name"] == "catalog.round"]
    nr = max(len(rounds), 1)
    eng = out["engine"]
    actions = [s["actions_s"] for s in (eng.step_timings if eng is not None else [])]
    compaction = [s for s in tracer.named("catalog.write") if s.get("table") == "seen_full"]
    res = {
        "urlnorm.resolve_py_rows": (udf_rows(win, "urlnorm.resolve") / n, "count"),
        "extract.py_rows": (udf_rows(win, "extract") / n, "count"),
        "robots.py_rows": (udf_rows(win, "robots") / n, "count"),
        "round.plan_build_s": (tracer.total("round.plan_build") / n, "s"),
        "crawl.actions_s": (statistics.median(actions) if actions else 0.0, "s"),
        "crawl.jobs_per_round": (win["n_jobs"] / n, "count"),
        "crawl.tasks_per_round": (win["n_tasks"] / n, "count"),
        "crawl.compaction_s": (sum(s["end"] - s["start"] for s in compaction), "s"),
        "catalog.write_s": (tracer.total("catalog.write") / n, "s"),
        "catalog.commit_s": (tracer.total("catalog.commit") / n, "s"),
        "catalog.expire_s": (tracer.total("catalog.expire"), "s"),
        "catalog.files_per_round": (sum(c["files"] for c in rounds) / nr, "count"),
        "catalog.bytes_per_round": (sum(c["bytes"] for c in rounds) / nr, "bytes"),
        "catalog.resume_s": (tracer.total("catalog.resume"), "s"),
        "bloom.update_s": (tracer.total("bloom.update") / n, "s"),
        "bloom.bytes_per_round": (sum(c["bloom_bytes"] for c in rounds) / nr, "bytes"),
        "bloom.files_per_round": (sum(c["bloom_files"] for c in rounds) / nr, "count"),
        "serving.collect_s": (tracer.total("serving.collect") / n, "s"),
        "serving.line_bytes": (statistics.mean(out["line_bytes"]) if out["line_bytes"] else 0.0, "bytes"),
    }
    res.update(spark_metrics(win, cores, len(steps)))
    return res
