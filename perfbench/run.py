#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a second, traced phase (Spark event log on, job groups set
from the benchmark's spans). Lines before it are a human-readable table.
Workloads, traffic dimensions and baselines are described in
``perfbench/spec.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import Tracer, WorkerRss, median, quartiles  # noqa: E402

def load_spec() -> dict:
    """perfbench/spec.json plus the per-layer metric list of BENCHMARK.json."""
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec["per_layer"] = json.load(f)["per_layer"]
    return spec


def import_program() -> None:
    """The program under test lives at the root of the checkout."""
    sys.path.insert(0, os.getcwd())
    try:
        import __spark_entry__  # noqa: F401
        import claude_readability_hook_spark.plans.pipeline  # noqa: F401
    except ImportError as exc:
        sys.stderr.write(f"perfbench: program not found in {os.getcwd()}: {exc}\n")
        sys.exit(2)


def measure(wl, seconds: float) -> list[float]:
    """Iterations until their clocked time reaches ``seconds``, at least
    ``wl.min_iters`` and at most ``wl.max_iters`` of them."""
    times: list[float] = []
    while len(times) < wl.min_iters or (sum(times) < seconds and len(times) < wl.max_iters):
        times.append(wl.iteration(len(times)))
    return times


def failed_in_group(spark, group: str) -> int:
    """Failed jobs plus failed or retried tasks of a job group."""
    st = spark.sparkContext.statusTracker()
    bad = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        bad += info.status == "FAILED"
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                bad += si.numFailedTasks + (si.currentAttemptId > 0)
    return bad


def run(args, spec: dict) -> tuple[dict, list[str]]:
    import workloads
    from eventlog import EventLog

    wspec = spec["workloads"][args.workload]
    work = harness.make_workdir(args.workload, args.seed)
    cls = workloads.WORKLOADS[args.workload]
    lines: list[str] = []
    spark = None
    try:
        with WorkerRss() as rss:
            t0 = time.monotonic()
            spark = harness.start_session(work)
            session_s = time.monotonic() - t0
            tracer = Tracer(spark)
            wl = cls(spark, tracer, work, args.seed)
            reps = []
            for rep in range(wl.setup_reps):
                t0 = time.monotonic()
                wl.setup(rep)
                reps.append(time.monotonic() - t0)
            t0 = time.monotonic()
            wl.warm()
            warm_s = time.monotonic() - t0
            wl.iter_stats.clear()
            setup_s = session_s + median(reps) + warm_s

            spark.sparkContext.setJobGroup("perfbench-measure", "perfbench-measure")
            times = measure(wl, args.seconds)
            failed_runs = failed_in_group(spark, "perfbench-measure")
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

            layers: dict = {}
            if args.trace:
                harness.stop_session(spark)
                spark = None
                ev_dir = os.path.join(work, "eventlog")
                spark = harness.start_session(work, ev_dir)
                tracer.spark = spark
                wl.rebind(spark)
                n_untraced = len(wl.iter_stats)
                tracer.enabled = True
                traced_times = measure(wl, args.seconds)
                wl.iter_stats = wl.iter_stats[n_untraced:]
                layers.update(wl.check(trace=True))
                tracer.enabled = False
                harness.stop_session(spark)
                spark = None
                log = EventLog(ev_dir)
                layers.update(wl.layers(log))
                failed_runs += layers.pop("failed_tasks_total", 0)
                layers["trace.overhead_s"] = median(traced_times) - median(times)
                span_file = os.path.abspath(
                    os.path.join(harness.WORK_ROOT, f"spans-{args.workload}-s{args.seed}.jsonl")
                )
                tracer.dump(span_file, log.job_spans())
                lines.append(f"span file: {span_file}")
                if wspec.get("jobs_layer"):
                    layers.update(run_curate(wl, work, spec, args.seed))
            else:
                wl.check(trace=False)
                harness.stop_session(spark)
                spark = None
    finally:
        if spark is not None:
            harness.stop_session(spark)
        harness.remove_workdir(work)

    wl.attempted_ops += len(times)
    wl.failed_ops += failed_runs
    mismatch = wl.mismatch_rows / max(wl.checked_rows, 1)
    q1, q3 = quartiles(times)
    run_s = median(times)
    e2e = {
        "run_s": {"value": run_s, "unit": "s"},
        "docs_per_s": {"value": wl.docs / run_s, "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "worker_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
    }
    lines += [
        f"workload {args.workload}  seed {args.seed}  docs {wl.docs}  cores {harness.cores()}",
        f"  traffic          {json.dumps(getattr(wl, 'traffic', {}))}",
        f"  run_s            {run_s:.4f} s   (median of {len(times)}; q1 {q1:.4f}, q3 {q3:.4f})",
        f"  docs_per_s       {wl.docs / run_s:.1f} 1/s",
        f"  setup_s          {setup_s:.3f} s   (session {session_s:.2f} + median of "
        f"{len(reps)} set-ups {median(reps):.2f} + warm-up {warm_s:.2f})",
        f"  fail_frac        {wl.failed_ops / wl.attempted_ops:.6f}   "
        f"({wl.failed_ops}/{wl.attempted_ops} operations)",
        f"  oracle_mismatch  {mismatch:.6f}   ({wl.mismatch_rows}/{wl.checked_rows} rows; "
        f"{json.dumps(getattr(wl, 'mismatch_detail', {}))})",
        f"  worker_rss_mb    {rss.peak_mb:.1f} MB",
        f"  exact counts     {json.dumps(wl.exact, sort_keys=True)}",
    ]
    correct = wl.mismatch_rows == 0 and wl.failed_ops == 0 and wl.checked_rows > 0
    if args.trace:
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        missing = [n for n in names if n not in layers]
        for n in missing:  # layer not exercised by this workload
            layers[n] = 0
        metrics = {n: {"value": layers[n], "unit": u} for n, u in names.items()}
        if layers.get("jobs.golden_ok") is False:
            correct = False
        lines.append(f"  layers not exercised here (reported 0): {', '.join(missing) or '-'}")
        for n in names:
            lines.append(f"  {n:34s} {layers[n]}")
    else:
        metrics = e2e
    result = {
        "correct": bool(correct),
        "attempted": int(wl.attempted_ops),
        "failed": int(wl.failed_ops),
        "metrics": metrics,
    }
    return result, lines


def run_curate(wl, work: str, spec: dict, seed: int) -> dict:
    """The jobs layer: one spark-submit of the curation job over a
    golden-seed documents table, checked against its recorded summary."""
    import gen
    import workloads
    from eventlog import EventLog

    goldens = spec["curate_goldens"]
    gseed = sorted(goldens, key=int)[seed % len(goldens)]
    sf = os.path.join(work, "curate-input")
    gen.write_documents(gen.documents(int(gseed), spec["curate_docs"]), sf)
    ev_dir = os.path.join(work, "curate-eventlog")
    res = workloads.curate_submit(work, os.path.join(sf, "documents.parquet"), "t", ev_dir)
    wl.attempted_ops += 1
    if res["exit"] != 0:
        wl.failed_ops += 1
        return {"jobs.golden_ok": False}
    out = workloads.curate_layers(res, EventLog(ev_dir))
    golden = goldens[gseed]
    ok = (
        res["manifest_fingerprint"] == golden["manifest_fingerprint"]
        and {k: res["summary"].get(k) for k in golden["summary"]} == golden["summary"]
    )
    wl.exact["curate"] = {"golden_seed": gseed, "golden_ok": ok, **res["summary"]}
    out["jobs.golden_ok"] = ok
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    spec = load_spec()
    if args.workload not in spec["workloads"]:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(spec['workloads'])}")
    import_program()
    result, lines = run(args, spec)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
