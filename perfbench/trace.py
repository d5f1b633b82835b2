"""Tracing for the traced run: spans recorded around calls into the
engine's layers, and Spark task/SQL metrics read back from the event log.

Spans are recorded from the benchmark's own files only. ``install_hooks``
wraps public functions and methods of the engine at run time (module
attributes, not source files) and ``remove`` puts the originals back.
Each span has a name, start and end (epoch seconds), an id and a parent
id; self time is the span's duration minus the part its children cover.
Spark metrics are attributed to a span by time window: a task belongs to
the span that contains the midpoint of its run, a job to the span that
contains its submission.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# ArrowEvalPython nodes are attributed to a layer by the UDF name in the
# node's plan string (the inner function names in ideacrawler_spark.functions)
UDF_LAYERS = {
    "_canon(": "urlnorm.canon",
    "_resolve(": "urlnorm.resolve",
    "_extract(": "extract",
    "_allowed(": "robots",
}


class Tracer:
    """In-memory span recorder; thread-safe, written out once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self.default_parent: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.default_parent
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec = dict(id=sid, parent=parent, name=name, start=start,
                       end=time.time(), **attrs)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def root(self, name: str):
        """A span that parents every span opened without an enclosing one,
        on any thread (the engine runs actions on its own threads)."""
        with self.span(name) as sid:
            self.default_parent = sid
            try:
                yield sid
            finally:
                self.default_parent = None

    def count(self, name: str, **values):
        with self._lock:
            self.counters.append(dict(name=name, **values))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path, extra: dict) -> None:
        st = self.self_times()
        spans = [dict(s, self_s=round(st[s["id"]], 6)) for s in self.spans]
        path.write_text(json.dumps(dict(extra, spans=spans,
                                        counters=self.counters), indent=1))


def _wrap(tracer: Tracer, fn, name: str, attrs=None, after=None):
    def wrapper(*args, **kwargs):
        extra = attrs(*args, **kwargs) if attrs else {}
        with tracer.span(name, **extra):
            out = fn(*args, **kwargs)
        if after is not None:
            after(out, *args, **kwargs)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def install_hooks(tracer: Tracer):
    """Wrap the crawl-path layer entry points; returns a function that
    restores the originals."""
    from ideacrawler_spark import serving
    from ideacrawler_spark.operators import bloom
    from ideacrawler_spark.plans import crawl
    from ideacrawler_spark.plans.catalog import ParquetManifestCatalog as Cat

    saved: list[tuple] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def after_commit(_out, cat, rnd, _manifest):
        round_dir = os.path.join(cat.root, f"round={rnd}")
        files, size = _dir_usage(round_dir)
        bfiles, bsize = _dir_usage(os.path.join(round_dir, "bloom"))
        tracer.count("catalog.round", round=rnd, files=files - bfiles,
                     bytes=size - bsize, bloom_files=bfiles, bloom_bytes=bsize)

    def materialize_attrs(_eng, _df, table, rnd):
        return dict(table=table, round=rnd)

    patch(crawl, "run_round", _wrap(tracer, crawl.run_round, "round.plan_build"))
    patch(crawl.CrawlEngine, "step",
          _wrap(tracer, crawl.CrawlEngine.step, "crawl.step"))
    patch(crawl.CrawlEngine, "_materialize",
          _wrap(tracer, crawl.CrawlEngine._materialize, "crawl.materialize",
                attrs=materialize_attrs))
    patch(crawl.CrawlEngine, "resume",
          _wrap(tracer, crawl.CrawlEngine.resume, "catalog.resume"))
    patch(Cat, "write", _wrap(tracer, Cat.write, "catalog.write",
                              attrs=lambda _c, _df, rnd, table: dict(
                                  table=table, round=rnd)))
    patch(Cat, "commit", _wrap(tracer, Cat.commit, "catalog.commit",
                               after=after_commit))
    patch(Cat, "expire", _wrap(tracer, Cat.expire, "catalog.expire"))
    patch(bloom, "update_shards",
          _wrap(tracer, bloom.update_shards, "bloom.update"))
    patch(serving, "_df_rows", _wrap(tracer, serving._df_rows, "serving.collect"))

    def remove():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return remove


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def _walk_plan(node: dict, accums: dict) -> None:
    if node.get("nodeName") == "ArrowEvalPython":
        desc = node.get("simpleString", "")
        layer = next((v for k, v in UDF_LAYERS.items() if k in desc), None)
        if layer is not None:
            for m in node.get("metrics", []):
                accums[int(m["accumulatorId"])] = (layer, m["name"])
    for child in node.get("children", []):
        _walk_plan(child, accums)


class EventLog:
    """Tasks, jobs and Python-UDF SQL metrics of every application log in
    ``log_dir`` (one per SparkContext the run started)."""

    def __init__(self, log_dir: Path):
        self.tasks: list[dict] = []
        self.job_submits: list[float] = []
        self.udf_accums: dict[int, tuple] = {}
        for path in sorted(Path(log_dir).iterdir()):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            accums = {}
            for a in info.get("Accumulables", []):
                if "Update" in a:
                    try:
                        accums[int(a["ID"])] = int(a["Update"])
                    except (TypeError, ValueError):
                        pass
            self.tasks.append(dict(
                stage=ev["Stage ID"],
                attempt=ev.get("Stage Attempt ID", 0),
                mid=(info["Launch Time"] + info["Finish Time"]) / 2000.0,
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                accums=accums,
            ))
        elif kind == "SparkListenerJobStart":
            self.job_submits.append(ev["Submission Time"] / 1000.0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _walk_plan(ev.get("sparkPlanInfo") or {}, self.udf_accums)

    def window(self, spans: list[dict]) -> dict:
        """Spark totals over the union of the given spans' windows."""
        wins = [(s["start"], s["end"]) for s in spans]

        def inside(t):
            return any(a <= t <= b for a, b in wins)

        tasks = [t for t in self.tasks if inside(t["mid"])]
        udf: dict[tuple, int] = {}
        for t in tasks:
            for aid, v in t["accums"].items():
                key = self.udf_accums.get(aid)
                if key is not None:
                    udf[key] = udf.get(key, 0) + v
        return dict(
            tasks=tasks,
            n_tasks=len(tasks),
            n_jobs=sum(1 for j in self.job_submits if inside(j)),
            shuffle_write_mb=sum(t["shuffle_write"] for t in tasks) / 2**20,
            shuffle_read_mb=sum(t["shuffle_read"] for t in tasks) / 2**20,
            spill_mb=sum(t["spill"] for t in tasks) / 2**20,
            gc_s=sum(t["gc_ms"] for t in tasks) / 1000.0,
            cpu_s=sum(t["cpu_ns"] for t in tasks) / 1e9,
            wall_s=sum(b - a for a, b in wins),
            udf=udf,
        )


def task_skew(tasks: list[dict]) -> float:
    """Largest max/median task run time over the stages of ``tasks`` that
    ran more than one task."""
    by_stage: dict[tuple, list] = {}
    for t in tasks:
        by_stage.setdefault((t["stage"], t["attempt"]), []).append(t["run_ms"])
    ratios = [max(v) / max(statistics.median(v), 1.0)
              for v in by_stage.values() if len(v) > 1]
    return max(ratios) if ratios else 1.0


def udf_rows(win: dict, layer: str) -> int:
    return win["udf"].get((layer, "number of output rows"), 0)


def udf_bytes_sent(win: dict, layer: str) -> int:
    return win["udf"].get((layer, "data sent to Python workers"), 0)


def spark_metrics(win: dict, cores: int, per: int) -> dict:
    """The ``spark.*`` per-layer metrics of one window, per unit of work."""
    per = max(per, 1)
    busy = win["cpu_s"] / (win["wall_s"] * cores) if win["wall_s"] else 0.0
    return {
        "spark.shuffle_write_mb": (win["shuffle_write_mb"] / per, "mb"),
        "spark.shuffle_read_mb": (win["shuffle_read_mb"] / per, "mb"),
        "spark.spill_mb": (win["spill_mb"] / per, "mb"),
        "spark.gc_s": (win["gc_s"] / per, "s"),
        "spark.cpu_busy_share": (busy, "share"),
        "spark.jobs": (win["n_jobs"] / per, "count"),
        "spark.tasks": (win["n_tasks"] / per, "count"),
    }
