#!/usr/bin/env python3
"""Records expected/queries.tsv: the row count and digest of every query
`query_mix` runs, on the dataset it runs on (settings.json).

    python3 perfbench/record_expected.py

Run it only when the query lists in settings.json change, or a query's
declared output changes on purpose, and check the recorded outputs against
the DuckDB oracle first (tools/check_oracle.py on a graft.Verify dump of
the same dataset). Fails if any query throws.
"""

import os
import shutil
import sys
import tempfile

import run


def main():
    settings = run.load_settings()
    w = settings["workloads"]["query_mix"]
    classes, jars = run.build.ensure()
    dataset = "x%d" % w["scale"]
    data, _ = run.cached("fixture", dataset, lambda out: run.gen.scaled_fixture(run.FIXTURE, w["scale"], out))
    lists = [("sf0.01", run.FIXTURE, w["pipeline"]), (dataset, data, w["warehouse"])]
    lines = ["# dataset\tquery\trows\tdigest"]
    failed = False
    for ds, d, names in lists:
        os.makedirs(run.RUNS, exist_ok=True)
        work = tempfile.mkdtemp(prefix="record-", dir=run.RUNS)
        try:
            plan = {"workload": "query_mix", "trace": False, "work": work,
                    "queries": [{"name": n, "data": d, "rows": -1, "digest": ""} for n in names],
                    "settings": {k: settings[k] for k in ("cpus", "spark_conf")}}
            result = run.run_harness(plan, settings, classes, jars, work, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for o in result["ops"]:
            if o["digest"]:
                lines.append("\t".join([ds, o["name"], str(o["rows"]), o["digest"]]))
            else:
                print("%s/%s threw: %s" % (ds, o["name"], o["error"]), file=sys.stderr)
                failed = True
    if failed:
        sys.exit(1)
    with open(os.path.join(run.HERE, "expected", "queries.tsv"), "w", encoding="utf-8") as f:
        f.write("\n".join(sorted(lines, key=lambda line: (not line.startswith("#"), line))) + "\n")


if __name__ == "__main__":
    main()
