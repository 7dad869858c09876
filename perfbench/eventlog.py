"""Parser for Spark's uncompressed JSON event log.

Turns the log into jobs (with their job group, i.e. the benchmark span
that launched them), stages and tasks, and sums the numbers the
per-layer metrics need: executor time, GC, shuffle, spill, the
MapInArrow SQL metrics of the Python boundary, and the shuffle bytes
of the salted repartition.
"""

from __future__ import annotations

import glob
import json
import os

from harness import percentile, union_length

UDF_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        found = glob.glob(os.path.join(path, "*", "events_*")) + glob.glob(
            os.path.join(path, "events_*")
        )
        if found:
            return sorted(found, key=lambda p: int(os.path.basename(p).split("_")[1]))
        return sorted(
            p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)
        )
    return [path]


def _walk(node, out):
    out.append(node)
    for c in node.get("children", []):
        _walk(c, out)


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.app_start: float | None = None
        actions: dict[str, str] = {}  # SQL execution id → its action's call site
        salted_ids: set[int] = set()
        for f in _files(path):
            with open(f) as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerApplicationStart":
                        self.app_start = e["Timestamp"] / 1000.0
                    elif kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        stages = e.get("Stage Infos", [])
                        self.jobs[e["Job ID"]] = {
                            "start": e["Submission Time"] / 1000.0,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "call_site": stages[-1]["Stage Name"] if stages else "",
                            "execution": props.get("spark.sql.execution.id"),
                            "ok": None,
                        }
                        for sid in e.get("Stage IDs", []):
                            self.stage_job.setdefault(sid, e["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        j = self.jobs[e["Job ID"]]
                        j["end"] = e["Completion Time"] / 1000.0
                        j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.append(_task(e))
                    elif kind.endswith(
                        ("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")
                    ):
                        if "description" in e:
                            actions[str(e["executionId"])] = e["description"]
                        nodes: list[dict] = []
                        _walk(e["sparkPlanInfo"], nodes)
                        for n in nodes:
                            if "Exchange" in n["nodeName"] and "xxhash64(" in n["simpleString"]:
                                for m in n["metrics"]:
                                    if m["name"] == "shuffle bytes written":
                                        salted_ids.add(m["accumulatorId"])
        for j in self.jobs.values():
            # AQE runs each query stage as its own job; the action that
            # launched them is the SQL execution's call site
            j["action"] = actions.get(str(j["execution"]), j["call_site"])
        for t in self.tasks:
            t["job"] = self.stage_job.get(t["stage"])
            t["salted_bytes"] = sum(v for k, v in t.pop("acc_ids").items() if k in salted_ids)

    def job_spans(self) -> list[dict]:
        """Spark jobs as spans, parented to the benchmark span whose id
        was the job group when the job was submitted."""
        return [
            {
                "id": f"job{jid}",
                "parent": j["group"],
                "name": j["action"],
                "kind": "spark_job",
                "start": j["start"],
                "end": j["end"] if j["end"] is not None else j["start"],
            }
            for jid, j in sorted(self.jobs.items())
        ]

    def summarize(self, job_ids) -> dict:
        """Layer numbers for one set of jobs (one measured run)."""
        job_ids = set(job_ids)
        tasks = [t for t in self.tasks if t["job"] in job_ids]
        stages: dict[int, list[dict]] = {}
        for t in tasks:
            stages.setdefault(t["stage"], []).append(t)
        heavy = max(stages.values(), key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
        heavy_s = [t["run_ms"] / 1000.0 for t in heavy]
        p50 = percentile(heavy_s, 50)
        out = {
            "spark.jobs": len(job_ids),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.task_s_p50": p50,
            "spark.task_s_p99": percentile(heavy_s, 99),
            "spark.stage_skew": (max(heavy_s) / p50) if p50 > 0 else 1.0,
            "skew.salted_shuffle_bytes": sum(t["salted_bytes"] for t in tasks),
            "failed_tasks": sum(1 for t in tasks if t["failed"] or t["attempt"] > 0),
            "failed_jobs": sum(1 for j in job_ids if self.jobs[j]["ok"] is False),
        }
        for key in UDF_METRICS.values():
            out[key] = sum(t["udf"].get(key, 0) for t in tasks)
        return out

    def busy_seconds(self, job_ids) -> float:
        """Length of the union of the jobs' [submit, complete] spans."""
        return union_length(
            [(self.jobs[j]["start"], self.jobs[j]["end"] or self.jobs[j]["start"]) for j in job_ids]
        )


def _task(e: dict) -> dict:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    udf = {}
    acc_ids = {}
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        upd = a.get("Update")
        if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.isdigit()):
            continue
        upd = int(upd)
        if name in UDF_METRICS:
            udf[UDF_METRICS[name]] = udf.get(UDF_METRICS[name], 0) + upd
        acc_ids[a["ID"]] = upd
    return {
        "stage": e["Stage ID"],
        "attempt": info.get("Attempt", 0),
        "failed": bool(info.get("Failed")) or e.get("Task End Reason", {}).get("Reason") != "Success",
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "udf": udf,
        "acc_ids": acc_ids,
    }
