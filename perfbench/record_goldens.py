#!/usr/bin/env python3
"""Record the curation job's golden outputs for a list of seeds.

    python3 perfbench/record_goldens.py 0 1 2 3

Runs ``jobs/curate_job.py`` through spark-submit once per seed (from the
root of a checkout) and prints the ``curate_goldens`` object for
``perfbench/spec.json``: the job's JSON summary and the manifest
fingerprint. Record goldens only from a commit whose outputs are
trusted; the benchmark compares every later run against them.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as f:
        n_docs = json.load(f)["curate_docs"]
    out = {}
    for seed in sys.argv[1:]:
        work = harness.make_workdir("goldens", int(seed))
        try:
            sf = os.path.join(work, "sf")
            gen.write_documents(gen.documents(int(seed), n_docs), sf)
            res = workloads.curate_submit(work, os.path.join(sf, "documents.parquet"), seed, None)
            if res["exit"] != 0:
                sys.exit(f"curate job failed for seed {seed}")
            out[seed] = {
                "summary": res["summary"],
                "manifest_fingerprint": res["manifest_fingerprint"],
            }
        finally:
            harness.remove_workdir(work)
    print(json.dumps(out, indent=2, sort_keys=True))


if __name__ == "__main__":
    main()
