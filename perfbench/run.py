"""spark-frontier benchmark: one command, three workloads.

    python3 perfbench/run.py --workload frontier --seed 1 --seconds 8 --trace 0

Workloads: ``frontier`` (the round prelude at scale), ``crawl`` (an
in-memory multi-round crawl) and ``serve_durable`` (a checkpointed crawl
driven over the serving endpoint, cancelled and resumed). See
perfbench/README.md for why each exists and what each metric means.

Output: one ``{"report": ...}`` line with every end-to-end metric of the
workload by name and unit, the reference-check tally and the host
loadavg at start and end; then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
``metrics`` holds the gated end-to-end metrics; with ``--trace 1`` it
holds every per-layer metric (0 where the workload does not reach the
layer) and the tracing overhead.

Exit status: 0 when the workload ran (whatever the checks found), 1 when
it could not run; nothing is printed as a result in that case.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import session  # noqa: E402

# end-to-end metrics the result line carries with --trace 0 (BENCHMARK.json)
GATED = [
    ("setup_s", "s"),
    ("first_round_s", "s"),
    ("round_s_p50", "s"),
    ("peak_rss_mb", "mb"),
]

# per-layer metrics the result line carries with --trace 1 (BENCHMARK.json)
LAYERS = [
    ("urlnorm.canon_s", "s"),
    ("urlnorm.py_rows", "count"),
    ("urlnorm.py_row_share", "share"),
    ("urlnorm.py_bytes", "bytes"),
    ("urlnorm.resolve_py_rows", "count"),
    ("extract.py_rows", "count"),
    ("robots.py_rows", "count"),
    ("dedup.first_occurrence_s", "s"),
    ("dedup.anti_join_s", "s"),
    ("dedup.kept_share", "share"),
    ("admission.admit_s", "s"),
    ("admission.admitted_share", "share"),
    ("admission.task_skew", "ratio"),
    ("rank.global_rank_s", "s"),
    ("rank.jobs", "count"),
    ("round.plan_build_s", "s"),
    ("crawl.actions_s", "s"),
    ("crawl.jobs_per_round", "count"),
    ("crawl.tasks_per_round", "count"),
    ("crawl.compaction_s", "s"),
    ("catalog.write_s", "s"),
    ("catalog.commit_s", "s"),
    ("catalog.expire_s", "s"),
    ("catalog.files_per_round", "count"),
    ("catalog.bytes_per_round", "bytes"),
    ("catalog.resume_s", "s"),
    ("bloom.update_s", "s"),
    ("bloom.bytes_per_round", "bytes"),
    ("bloom.files_per_round", "count"),
    ("serving.collect_s", "s"),
    ("serving.line_bytes", "bytes"),
    ("spark.shuffle_write_mb", "mb"),
    ("spark.shuffle_read_mb", "mb"),
    ("spark.spill_mb", "mb"),
    ("spark.gc_s", "s"),
    ("spark.cpu_busy_share", "share"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("storage.held_mb", "mb"),
    ("scaling.eff", "share"),
    ("trace.round_s_p50", "s"),
    ("trace.overhead_s", "s"),
]

# workload name → module of perfbench that runs it
WORKLOADS = {"frontier": "frontier", "crawl": "crawl", "serve_durable": "serve"}


class Context:
    """What a workload needs to know about its run."""

    def __init__(self, args, run_dir: Path, tracer):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.run_dir = run_dir
        self.tracer = tracer
        self.event_log = tracer is not None

    def span(self, name: str):
        """A root span for the engine's spans in the traced run; a no-op
        otherwise."""
        return self.tracer.root(name) if self.tracer is not None else contextlib.nullcontext()


def run_key(args) -> dict:
    """What an untraced run must share with a traced one for the tracing
    overhead: workload, seed, seconds, cores and the code (a digest of the
    engine's and the benchmark's sources)."""
    h = hashlib.sha256()
    root = session.ROOT
    for path in sorted([*(root / "ideacrawler_spark").rglob("*.py"),
                        *(root / "perfbench").glob("*.py")]):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return dict(workload=args.workload, seed=args.seed, seconds=float(args.seconds),
                cores=len(os.sched_getaffinity(0)), code=h.hexdigest()[:16])


UNTRACED = session.WORK / "untraced.jsonl"


def _untraced_records(key: dict) -> list[float]:
    if not UNTRACED.exists():
        return []
    return [r["round_s_p50"] for r in map(json.loads, UNTRACED.read_text().splitlines())
            if r.get("key") == key]


# workloads whose traced run, when no untraced record matches, first runs
# the untraced one itself: both fit in the 180 s a run may take. A
# serve_durable pair takes about 150 s and a crawl pair about 200 s, so
# those report no overhead until an untraced run of the same key exists.
CHILD_BASELINE = {"frontier"}


def untraced_round_s(args, key: dict) -> float | None:
    """Median ``round_s_p50`` of the untraced runs recorded in this
    checkout with the same ``key``. When there is none, a workload in
    CHILD_BASELINE runs one first, in a child process, exactly as an
    untraced run is; the others return None."""
    vals = _untraced_records(key)
    if not vals and args.workload in CHILD_BASELINE:
        subprocess.run(
            [sys.executable, __file__, "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
        vals = _untraced_records(key)
    return statistics.median(vals) if vals else None


def record_untraced(key: dict, round_s: float) -> None:
    with open(UNTRACED, "a") as f:
        f.write(json.dumps(dict(key=key, round_s_p50=round_s)) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any Spark work when the engine package is absent
    import ideacrawler_spark  # noqa: F401

    key = run_key(args)
    base_round_s = untraced_round_s(args, key) if args.trace else None
    load_start = session.loadavg()
    run_dir = session.fresh_dir(session.WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}")
    session.prepare_env(run_dir)
    tracer = None
    remove_hooks = None
    if args.trace:
        from perfbench.trace import Tracer, install_hooks

        tracer = Tracer()
        remove_hooks = install_hooks(tracer)
    ctx = Context(args, run_dir, tracer)
    try:
        res = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}").run(ctx)
        peak_rss = session.peak_rss_mb()
    finally:
        if remove_hooks is not None:
            remove_hooks()
        session.shutdown_jvm()
    load_end = session.loadavg()

    e2e = dict(res["e2e"])
    e2e["peak_rss_mb"] = (sum(peak_rss.values()), "mb")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    e2e["failed_share"] = (failed / max(attempted, 1), "share")
    round_s = e2e["round_s_p50"][0]

    report = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, cores=ctx.cores,
        loadavg_start=load_start, loadavg_end=load_end,
        metrics={k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        attempted=attempted, failed=failed,
        failures=res.get("failures", []), detail=res.get("detail", {}),
        peak_rss_parts_mb=peak_rss,
    )
    if args.trace:
        from perfbench.trace import EventLog

        log = EventLog(run_dir / "eventlog")
        layer = {name: (0.0, unit) for name, unit in LAYERS}
        layer.update(res["layer_fn"](log))
        layer["storage.held_mb"] = (e2e["held_cache_mb"][0], "mb")
        layer["trace.round_s_p50"] = (round_s, "s")
        # 0 when there is no untraced baseline; the report then says so
        layer["trace.overhead_s"] = (
            round_s - base_round_s if base_round_s is not None else 0.0, "s")
        report["untraced_round_s_p50"] = base_round_s
        if base_round_s is None:
            report["trace_overhead"] = (
                "unknown: no untraced run of this code, workload, seed and "
                "seconds is recorded in this checkout; run --trace 0 first")
        metrics = {k: layer[k] for k, _ in LAYERS}
        trace_dir = session.WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.write(trace_dir / f"{args.workload}-seed{args.seed}-{int(time.time())}.json",
                     dict(report=report, layers={k: v for k, (v, _) in metrics.items()}))
    else:
        record_untraced(key, round_s)
        metrics = {k: e2e[k] for k, _ in GATED}
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"report": report}, default=str))
    print(json.dumps(dict(
        correct=failed == 0, attempted=attempted, failed=failed,
        metrics={k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    )))
    return 0


if __name__ == "__main__":
    sys.exit(main())
