"""The benchmark's workloads.

Each workload class has the same life cycle, driven by ``run.py``:

  setup(rep)     build inputs under a fresh path and load them (timed,
                 repeated; the last repetition's state is measured)
  warm()         one untimed-for-run_s pass so caches fill and Python
                 workers start (counted in set-up)
  iteration(i)   one run from input to complete result; returns the
                 clocked seconds
  check()        outputs against the oracles, outside the clock
  layers(log)    per-layer numbers of the traced iterations

Spans are recorded around the benchmark's own calls into the program
(``Tracer``); nothing inside the package is instrumented.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import checks
import gen
from harness import materialize, median, self_times, spark_conf


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def udf_metrics(spark_out: dict) -> dict:
    """udf.* from the MapInArrow SQL metrics of one run."""
    return {
        "udf.python_run_s": spark_out.get("python_run_ms", 0) / 1000.0,
        "udf.python_start_s": spark_out.get("python_start_ms", 0) / 1000.0,
        "udf.bytes_to_python": spark_out.get("bytes_to_python", 0),
        "udf.bytes_from_python": spark_out.get("bytes_from_python", 0),
    }


class Workload:
    name = ""
    docs = 0
    min_iters = 3
    max_iters = 1000
    setup_reps = 3

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.iter_stats: list[dict] = []
        self.failed_ops = 0
        self.attempted_ops = 0
        self.mismatch_rows = 0
        self.checked_rows = 0
        self.exact: dict = {}

    # -- shared helpers ------------------------------------------------------

    def rep_dir(self, rep: int) -> str:
        path = os.path.join(self.work, f"rep{rep}")
        os.makedirs(path, exist_ok=True)
        return path

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)

    def record_mismatch(self, bad: int, checked: int) -> None:
        self.mismatch_rows += bad
        self.checked_rows += checked

    def rebind(self, spark) -> None:
        """Attach to a new session (the traced phase), reload inputs and
        warm up as set-up did."""
        self.spark = spark
        self.reload()
        self.warm()

    def traced_runs(self, log):
        """Per traced iteration: (root span, ids of jobs under it)."""
        spans = self.tracer.spans
        parent = {s["id"]: s["parent"] for s in spans}

        def root(sid):
            while parent.get(sid):
                sid = parent[sid]
            return sid

        by_root: dict[str, list[int]] = {}
        for jid, j in log.jobs.items():
            if j["group"] in parent:
                by_root.setdefault(root(j["group"]), []).append(jid)
        return [(s, by_root.get(s["id"], [])) for s in spans if s["name"] == "run"]

    def spark_layers(self, log) -> dict:
        """spark.* / udf.* / plans.* medians over the traced iterations,
        plus the self-time table of the span tree."""
        runs = self.traced_runs(log)
        per_run = []
        for s, jobs in runs:
            summ = log.summarize(jobs)
            wall = s["end"] - s["start"]
            summ["plans.driver_gap_s"] = wall - log.busy_seconds(jobs)
            per_run.append(summ)
        out = {}
        for k in per_run[0] if per_run else ():
            out[k] = median([r[k] for r in per_run])
        spans = self.tracer.spans + log.job_spans()
        selfs = self_times(spans)
        out["unattributed_s"] = median([selfs[s["id"]] for s, _ in runs])
        out["failed_tasks_total"] = sum(r["failed_tasks"] + r["failed_jobs"] for r in per_run)
        return out


# -- extraction --------------------------------------------------------------


class _ExtractBase(Workload):
    docs = 5000
    FLAGSHIP_COLS = ("doc_id", "title", "engine", "score", "success", "needs_ssr", "n_spans")

    def build_inputs(self, rep: int) -> str:
        self.doc_rows = docs = gen.documents(self.seed, self.docs)
        self.traffic = gen.traffic(docs)
        d = self.rep_dir(rep)
        self.sf_dir = os.path.join(d, "sf")
        gen.write_documents(docs, self.sf_dir)
        self.spans_path = gen.write_spans(gen.span_rows(docs), os.path.join(d, "spans.parquet"))
        return d

    def check_output(self, extracted, core_spans) -> None:
        """Compare an extraction output (flagship projection + spans)
        with the DuckDB flagship oracle and with the core pass."""
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        tbl = extracted.select(
            "doc_id", "title", "engine", F.round("score", 4).alias("score"),
            "success", "needs_ssr", F.size("spans").alias("n_spans"), "spans", "error",
        ).toArrow()
        rows = tbl.to_pylist()
        ids = [r["doc_id"] for r in rows]
        missing = len(set(core_spans) - set(ids))
        dup_rows = len(ids) - len(set(ids))
        crashes = sum(1 for r in rows if (r["error"] or "").startswith("extractor crash:"))
        self.failed_ops += missing + crashes + dup_rows
        self.attempted_ops += len(core_spans)
        self.exact["output_docs"] = len(ids)
        self.exact["failure_rows"] = sum(1 for r in rows if not r["success"])

        cols = list(self.FLAGSHIP_COLS)
        srows = [tuple(r[c] for c in cols) for r in rows]
        dcols, drows = checks.duck_rows(entry.oracle_sql()["extract_flagship"], self.sf_dir)
        bad, n = checks.mismatches(cols, srows, dcols, drows)
        self.record_mismatch(bad, n)
        span_bad = sum(
            1 for r in rows if checks.span_key(r["spans"]) != core_spans.get(r["doc_id"])
        )
        self.record_mismatch(span_bad, len(rows))
        self.mismatch_detail = {"flagship_oracle": bad, "span_sequence": span_bad}

    def core_layers(self, corpus, trace: bool) -> dict:
        """The in-process core pass (its span sequences are the reference;
        its timings are the core layer), plus the boundary pass when
        tracing."""
        batches = corpus.select("doc_id", "spans").toArrow().to_batches(max_chunksize=4096)
        res = checks.core_pass(batches, lambda d: int(d) % 97 == 0)
        self.core = res
        self.failed_ops += res["core.crashes"]
        if trace:
            arrow_us = checks.arrow_fn_pass(batches)
            res["extract.arrow_fn_us_per_doc"] = arrow_us
            res["extract.boundary_us_per_doc"] = arrow_us - res["core_us_mean"]
        return res

    def udf_layers(self, spark_out: dict, docs_per_run: int) -> dict:
        """The Python boundary, plus in-worker over in-process µs per doc."""
        out = udf_metrics(spark_out)
        arrow_us = self.core.get("extract.arrow_fn_us_per_doc") or 1.0
        worker_us = out["udf.python_run_s"] * 1e6 / max(docs_per_run, 1)
        out["udf.worker_slowdown"] = worker_us / arrow_us
        return out

    def plan_layers(self, log) -> dict:
        calls, side = [], []
        for s in self.tracer.spans:
            if s["name"] == "run_extraction":
                calls.append(s["end"] - s["start"])
                side.append(sum(1 for j in log.jobs.values() if j["group"] == s["id"]))
        return {"plans.call_s": median(calls), "plans.side_jobs": median(side)}


class ExtractScan(_ExtractBase):
    """Flagship extraction over a persisted, pre-partitioned corpus into
    a noop sink: no resume, no side job, no write."""

    name = "extract_scan"

    def setup(self, rep: int) -> None:
        from harness import cores

        self.build_inputs(rep)
        self.partitions = 2 * cores()
        self.reload()

    def reload(self) -> None:
        old = getattr(self, "corpus", None)
        self.corpus = (
            self.spark.read.parquet(self.spans_path).repartition(self.partitions).persist()
        )
        self.corpus.count()
        if old is not None and old.sparkSession is self.spark:
            old.unpersist()

    def warm(self) -> None:
        self.iteration(-1)

    def iteration(self, i: int) -> float:
        from claude_readability_hook_spark.plans.pipeline import run_extraction

        with self.span("run", iteration=i) as run:
            with self.span("run_extraction") as call:
                r = run_extraction(
                    self.spark, self.corpus, catalog=None, num_partitions=self.partitions
                )
            with self.span("materialize"):
                materialize(r.extracted)
        self.iter_stats.append({"plans.call_s": call.seconds})
        return run.seconds

    def check(self, trace: bool) -> dict:
        from claude_readability_hook_spark.plans.pipeline import run_extraction

        out = self.core_layers(self.corpus, trace)
        with self.span("check_run"):
            r = run_extraction(self.spark, self.corpus, catalog=None, num_partitions=self.partitions)
            self.check_output(r.extracted, out["spans"])
        return out

    def layers(self, log) -> dict:
        out = self.spark_layers(log)
        out.update(self.plan_layers(log))
        out.update(self.udf_layers(out, self.docs))
        return out


class TimingCatalog:
    """Delegates every call to a ``TableCatalog`` and times it."""

    def __init__(self, inner, tracer):
        self._inner = inner
        self._tracer = tracer
        self.times: dict[str, float] = {}
        self.calls: dict[str, int] = {}

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"catalog.{name}") as s:
                result = attr(*args, **kwargs)
            self.times[name] = self.times.get(name, 0.0) + s.seconds
            self.calls[name] = self.calls.get(name, 0) + 1
            return result

        return timed


class ExtractResume(_ExtractBase):
    """The production commit path against a warehouse that already holds
    half the corpus: side job, resume anti-join, salted repartition,
    localCheckpoint, three appends and the lineage summary."""

    name = "extract_resume"
    setup_reps = 2

    def setup(self, rep: int) -> None:
        from claude_readability_hook_spark.plans.pipeline import run_extraction
        from claude_readability_hook_spark.sources.catalog import TableCatalog
        from pyspark.sql import functions as F

        d = self.build_inputs(rep)
        committed = random.Random(self.seed + 1).sample(self.doc_rows, self.docs // 2)
        self.committed = len(committed)
        self.template = os.path.join(d, "warehouse-template")
        half = self.spark.read.parquet(self.spans_path).filter(
            F.col("doc_id").isin([str(x["doc_id"]) for x in committed])
        )
        run_extraction(self.spark, half, catalog=TableCatalog(self.spark, self.template))
        self.reload()

    def reload(self) -> None:
        self.src = self.spark.read.parquet(self.spans_path)

    def fresh_warehouse(self, i: int) -> str:
        path = os.path.join(self.work, f"warehouse-{'t' if self.tracer.enabled else 'u'}{i}")
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(self.template, path)
        prev = getattr(self, "warehouse", None)
        if prev and prev != path:
            shutil.rmtree(prev, ignore_errors=True)
        self.warehouse = path
        return path

    def warm(self) -> None:
        # the template builds ran the commit path on an empty warehouse;
        # the resume anti-join is first planned here
        self.iteration(-1)

    def iteration(self, i: int) -> float:
        from claude_readability_hook_spark.plans.pipeline import run_extraction
        from claude_readability_hook_spark.sources.catalog import TableCatalog

        wh = self.fresh_warehouse(i)
        before = dir_bytes(wh)
        extracted_before = dir_bytes(os.path.join(wh, "extracted"))
        cat = TimingCatalog(TableCatalog(self.spark, wh), self.tracer)
        with self.span("run", iteration=i) as run:
            with self.span("run_extraction") as call:
                r = run_extraction(self.spark, self.src, catalog=cat)
            with self.span("lineage_summary"):
                summary = (
                    r.lineage.groupBy()
                    .sum("docs_in", "docs_out", "failures", "bytes_in")
                    .collect()[0]
                )
        written = dir_bytes(wh) - before
        out_bytes = dir_bytes(os.path.join(wh, "extracted")) - extracted_before
        self.iter_stats.append(
            {
                "plans.call_s": call.seconds,
                "catalog.append_s": cat.times.get("append", 0.0),
                "catalog.append_calls": cat.calls.get("append", 0),
                "catalog.read_s": cat.times.get("read", 0.0),
                "catalog.bytes_written": written,
                "catalog.bytes_per_output_byte": written / max(out_bytes, 1),
                "resume.docs_skipped": self.docs - (summary[0] or 0),
            }
        )
        return run.seconds

    def check(self, trace: bool) -> dict:
        from claude_readability_hook_spark.sources.catalog import TableCatalog

        out = self.core_layers(self.src, trace)
        skipped = {s["resume.docs_skipped"] for s in self.iter_stats}
        if skipped != {self.committed}:
            self.failed_ops += 1
        self.exact["resume.docs_skipped"] = sorted(skipped)
        with self.span("check_read"):
            extracted = TableCatalog(self.spark, self.warehouse).read("extracted")
            self.check_output(extracted, out["spans"])
        return out

    def layers(self, log) -> dict:
        out = self.spark_layers(log)
        out.update(self.plan_layers(log))
        out.update(self.udf_layers(out, self.docs - self.committed))
        for k in self.iter_stats[0] if self.iter_stats else ():
            if k.startswith(("catalog.", "resume.")):
                out[k] = median([s[k] for s in self.iter_stats])
        return out


# -- near-duplicate queries -----------------------------------------------------

QUERY_METRIC = {
    "dedup_minhash_lsh": "dedup.minhash_lsh_s",
    "dedup_ngram_jaccard": "dedup.ngram_jaccard_s",
    "dedup_clusters": "dedup.clusters_s",
    "image_dedup_pairs": "imagededup.pairs_s",
    "audio_dedup_pairs": "audiodedup.pairs_s",
    "video_dedup_pairs": "videodedup.pairs_s",
}
NEARDUP_QUERIES = tuple(QUERY_METRIC)
WARM_QUERIES = ("dedup_minhash_lsh", "image_dedup_pairs")


class NearDupPairs(Workload):
    """The registered near-dup queries over the generated documents:
    shuffles, bucket→pairs expansions and the label-propagation loop,
    with no extraction. Measured warm: see ``warm``."""

    name = "neardup_pairs"
    docs = 300
    min_iters = 1

    def setup(self, rep: int) -> None:
        docs = gen.documents(self.seed, self.docs)
        self.traffic = gen.traffic(docs)
        self.sf_dir = os.path.join(self.rep_dir(rep), "sf")
        gen.write_documents(docs, self.sf_dir)

    def reload(self) -> None:
        pass

    def warm(self) -> None:
        """The first query of a session carries about 13 s of one-time
        start-up (JIT, Python workers) that no change to these queries
        moves; running the two queries that pay it leaves the measured
        pass as fast as a second full pass."""
        import __spark_entry__ as entry

        qs = entry.queries()
        for q in WARM_QUERIES:
            qs[q](self.spark, self.sf_dir).collect()

    def iteration(self, i: int) -> float:
        import __spark_entry__ as entry

        qs = entry.queries()
        times, rows = {}, {}
        with self.span("run", iteration=i) as run:
            for q in NEARDUP_QUERIES:
                with self.span(q) as s:
                    df = qs[q](self.spark, self.sf_dir)
                    rows[q] = (df.columns, [tuple(r) for r in df.collect()])
                times[QUERY_METRIC[q]] = s.seconds
        self.last_rows = rows
        self.iter_stats.append(times)
        return run.seconds

    def check(self, trace: bool) -> dict:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        detail = {}
        for q in NEARDUP_QUERIES:
            cols, rows = self.last_rows[q]
            dcols, drows = checks.duck_rows(oracles[q], self.sf_dir)
            bad, n = checks.mismatches(cols, rows, dcols, drows)
            self.record_mismatch(bad, n)
            detail[q] = bad
            self.exact[f"{q}.pairs_out"] = len(rows)
        self.attempted_ops += len(NEARDUP_QUERIES)
        self.mismatch_detail = detail
        return {}

    def layers(self, log) -> dict:
        out = self.spark_layers(log)
        out.update(udf_metrics(out))
        for k in self.iter_stats[0] if self.iter_stats else ():
            out[k] = median([s[k] for s in self.iter_stats])
        # one convergence count() per label-propagation round
        rounds = [
            len(
                {
                    j["execution"]
                    for j in log.jobs.values()
                    if j["group"] == s["id"] and j["action"].startswith("count at")
                }
            )
            for s in self.tracer.spans
            if s["name"] == "dedup_clusters"
        ]
        out["dedup.clusters_rounds"] = median(rounds)
        for q in NEARDUP_QUERIES:
            out[f"{q}.pairs_out"] = self.exact[f"{q}.pairs_out"]
        return out


# -- spark-submit of the curation job -------------------------------------------

CURATE_GATES = {
    "lm": ["--lm-filter", "35.0"],
    "boiler": ["--boilerplate-filter", "0.5"],
    "linedup": ["--line-dup-filter", "0.3"],
    "domain": ["--domain-filter"],
    "dsir": ["--dsir-target-lang", "en"],
}


def package_zip(work: str) -> str:
    """Zip the package from the checkout for ``--py-files``."""
    base = os.path.join(work, "crh_spark")
    return shutil.make_archive(base, "zip", root_dir=".", base_dir="claude_readability_hook_spark")


def curate_submit(work: str, docs_path: str, tag: str, event_log: str | None) -> dict:
    """One ``spark-submit jobs/curate_job.py`` run with every optional
    gate on that needs no extra input."""
    from harness import cores

    out_dir = os.path.join(work, f"curate-{tag}")
    cmd = ["spark-submit", "--master", f"local[{cores()}]"]
    for k, v in spark_conf(work, event_log).items():
        if k != "spark.driver.memory":
            cmd += ["--conf", f"{k}={v}"]
    cmd += ["--driver-memory", "2g", "--py-files", package_zip(work), "jobs/curate_job.py"]
    cmd += ["--input", docs_path, "--output", out_dir, "--manifest-only"]
    for flags in CURATE_GATES.values():
        cmd += flags
    launched = time.time()
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    wall = time.monotonic() - t0
    res = {"wall_s": wall, "launched": launched, "exit": proc.returncode}
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-2000:])
        return res
    res["summary"] = json.loads(proc.stdout.strip().splitlines()[-1])
    res["manifest_fingerprint"] = manifest_fingerprint(os.path.join(out_dir, "manifest"))
    shutil.rmtree(out_dir, ignore_errors=True)
    return res


def manifest_fingerprint(path: str) -> str:
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    rows = sorted(json.dumps(r, sort_keys=True) for r in tbl.to_pylist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def curate_layers(res: dict, log) -> dict:
    out = {
        "jobs.jvm_start_s": (log.app_start - res["launched"]) if log.app_start else 0.0,
        "jobs.spark_jobs": len(log.jobs),
        "jobs.count_jobs": sum(1 for j in log.jobs.values() if j["action"].startswith("count at")),
        "jobs.driver_gap_s": res["wall_s"] - log.busy_seconds(list(log.jobs)),
    }
    summary = res.get("summary", {})
    for gate in CURATE_GATES:
        out[f"jobs.gate_drops.{gate}"] = summary.get(f"{gate}_dropped", 0)
    return out


WORKLOADS = {w.name: w for w in (ExtractScan, ExtractResume, NearDupPairs)}
