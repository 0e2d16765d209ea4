#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload retail_nightly --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --summarize

One run: generate the seed's inputs, start the engine's Spark session,
run closed-loop passes of the workload until ``--seconds`` have been
measured (at least one pass), check every output, and print one JSON
result as the last line of stdout. ``--trace 1`` reports per-layer
metrics instead of end-to-end ones and writes the span tree. Every run
appends its record to ``.perfbench_out/runs.jsonl``; ``--summarize``
reports medians, spreads and first-to-last-third drift over those
records. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "aws_glue_etl_sample_hist_spark"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "build_s": "s",
    "query_p50_s": "s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_stamp() -> dict:
    """Git commit when the tree is a repository, and always a hash of the
    engine's sources (a benchmark checkout has no .git)."""
    h = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"git_commit": commit, "source_sha1": h.hexdigest()[:16]}


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                kids.append(int(entry))
    return kids + [d for k in kids for d in _descendants(k)]


def peak_rss_mb() -> float:
    """Driver Python process plus its JVM (and any other child) VmHWM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return own + sum(_hwm_mb(p) for p in _descendants(os.getpid()))


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _thirds_drift(xs: list[float]) -> float | None:
    """Median of the last third over median of the first third, minus 1."""
    k = len(xs) // 3
    if k == 0:
        return None
    return _median(xs[-k:]) / _median(xs[:k]) - 1.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> dict:
    import gen
    import workloads

    from aws_glue_etl_sample_hist_spark.session import get_spark

    import bench  # the frozen drift probes, used as diagnostics only

    t_run0 = time.perf_counter()
    inputs = gen.generate(args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t_run0
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch inside the run directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })

    cores = _nproc()
    t_wall0 = time.time()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    t_session = time.time()
    session_s = time.perf_counter() - t0
    spark.range(1).count()  # first job: scheduler and executor start-up
    setup_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark.sparkContext)
        tracer.spans.append(
            spans.Span(0, spans.SESSION_SPAN, "session", None, t_wall0, t_session)
        )
        tracer.install()

    fn = workloads.WORKLOADS[args.workload]
    passes, phases = [], []
    t_measure = time.perf_counter()
    try:
        while not passes or time.perf_counter() - t_measure < args.seconds:
            pass_dir = os.path.join(work, "out", f"pass{len(passes)}")
            passes.append(fn(spark, inputs, pass_dir, args.seed, tracer))
            shutil.rmtree(pass_dir, ignore_errors=True)
        measured_s = time.perf_counter() - t_measure
        rss = peak_rss_mb()
        t_diag = time.perf_counter()
        if tracer:
            tracer.uninstall()
            phases = [s for s in tracer.spans if s.layer == "phase"]
        sentinel_s = bench._sentinel_trial(spark, inputs)
        job_overhead_s = bench._job_overhead_trial(spark)
        spark_version = spark.version
        diag_s = time.perf_counter() - t_diag
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    stop_s = time.perf_counter() - t_stop

    stamp = _source_stamp()
    ops = [op for p in passes for op in p.ops]
    checks = [ok for p in passes for _, ok in p.checks]
    attempted = len(ops) + len(checks)
    failed = sum(not op.ok for op in ops) + sum(not ok for ok in checks)

    def per_pass(role: str | None = None) -> float:
        return _median([
            sum(op.wall_s for op in p.ops if role in (None, op.role)) for p in passes
        ])

    queries = [op.wall_s for op in ops if op.role == "query" and op.ok]
    e2e = {
        "setup_s": setup_s,
        "pass_s": per_pass(),
        "build_s": per_pass("build"),
        "query_p50_s": _median([
            _median([op.wall_s for op in p.ops if op.role == "query" and op.ok] or [0.0])
            for p in passes
        ]),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "spark": spark_version,
        "python": platform.python_version(),
        **stamp,
        "started": t_wall0,
        "passes": len(passes),
        "attempted": attempted,
        "failed": failed,
        "failed_share": failed / attempted if attempted else 1.0,
        "end_to_end": e2e,
        "named": _named_metrics(passes),
        "peak_rss_mb": rss,
        "query_samples": len(queries),
        "query_drift_in_run": _thirds_drift(queries),
        "ops": [[op.name, op.role, round(op.wall_s, 6), op.ok] for op in ops],
        "errors": [e for p in passes for e in p.errors],
        "notes": [p.notes for p in passes],
        "diagnostics": {"sentinel_s": sentinel_s, "job_overhead_s": job_overhead_s},
        # where the run's own wall went: input generation, session start,
        # set-up, measured passes (of which output checks), diagnostics, stop
        "run_walls": {
            "gen_s": gen_s, "session_s": session_s, "setup_s": setup_s,
            "measured_s": measured_s, "checks_s": sum(p.check_s for p in passes),
            "diagnostics_s": diag_s, "stop_s": stop_s,
            "total_s": time.perf_counter() - t_run0,
        },
    }
    if tracer:
        record.update(
            _traced(args, tracer, phases, log_dir, cores, e2e["pass_s"], stamp)
        )
    return record


def _named_metrics(passes) -> dict:
    """The phase walls under their own names, median over passes: each
    DAG's wall, the median month reload, the SQL-set total, the serve
    p50."""
    names = {
        "medallion_full_s": ("medallion_full", _median),
        "medallion_month_s": ("medallion_month_", _median),
        "adhoc_sql_s": ("sql_", sum),
        "retrieval_build_s": ("retrieval_build", _median),
        "serve_p50_s": ("serve_", _median),
    }
    out = {}
    for key, (prefix, agg) in names.items():
        per_pass = [
            agg(xs) for p in passes
            if (xs := [op.wall_s for op in p.ops if op.ok and op.name.startswith(prefix)])
        ]
        if per_pass:
            out[key] = _median(per_pass)
    return out


def _traced(
    args, tracer, phases, log_dir: str, cores: int, traced_pass_s: float, stamp: dict,
) -> dict:
    import spans

    events = spans.read_event_log(log_dir)
    metrics, span_jobs = spans.layer_metrics(tracer.spans, events, phases, cores)
    tree = spans.span_tree(tracer.spans, span_jobs)
    os.makedirs(OUT, exist_ok=True)
    tree_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
    with open(tree_path, "w") as f:
        json.dump(tree, f, indent=1)
    untraced = [
        r["end_to_end"]["pass_s"]
        for r in _records()
        if r["workload"] == args.workload and not r["trace"]
        and r["source_sha1"] == stamp["source_sha1"]
    ]
    return {
        "per_layer": {k: v for k, (v, _) in metrics.items()},
        "per_layer_units": {k: u for k, (_, u) in metrics.items()},
        "span_tree": os.path.relpath(tree_path, ROOT),
        "traced_pass_s": traced_pass_s,
        "trace_overhead_s": traced_pass_s - _median(untraced) if untraced else None,
        "untraced_runs_compared": len(untraced),
    }


def _records() -> list[dict]:
    path = os.path.join(OUT, "runs.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarize() -> dict:
    """Per workload, over the untraced records in run order: each
    end-to-end metric's median, quartile spread as a share of the median,
    and drift from the first to the last third of the runs, beside the
    same drift of the frozen machine-state probes."""
    import collections

    groups = collections.defaultdict(list)
    for r in _records():
        if not r["trace"]:
            groups[(r["workload"], r["source_sha1"], r["nproc"])].append(r)
    out = []
    for (workload, sha, nproc), rs in groups.items():
        rs.sort(key=lambda r: r["started"])
        row = {"workload": workload, "source_sha1": sha, "nproc": nproc, "runs": len(rs),
               "seeds": [r["seed"] for r in rs], "failed": sum(r["failed"] for r in rs),
               "metrics": {}}
        series = {k: [r["end_to_end"][k] for r in rs if r["end_to_end"].get(k) is not None]
                  for k in END_TO_END}
        series.update({f"diag.{k}": [r["diagnostics"][k] for r in rs]
                       for k in ("sentinel_s", "job_overhead_s")})
        for k, xs in series.items():
            if not xs:
                continue
            med = _median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
            row["metrics"][k] = {
                "median": med, "spread": (q[2] - q[0]) / med if med else None,
                "drift_first_to_last_third": _thirds_drift(xs),
            }
        out.append(row)
    return {"summary": out}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summarize", action="store_true")
    args = ap.parse_args()
    if args.summarize:
        print(json.dumps(summarize(), indent=1))
        return 0
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401

        __import__(f"{PKG}.session")
        import workloads
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK)
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of the run (Python, Spark, the engine) stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    try:
        record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    if args.trace:
        metrics = {k: {"value": v, "unit": record["per_layer_units"][k]}
                   for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in record["end_to_end"].items() if v is not None}
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
