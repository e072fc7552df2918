#!/usr/bin/env python3
"""Record the batch_mix result digests, after checking each result against
the DuckDB oracle.

Usage, from the root of a checkout:
    python3 perfbench/record_digests.py

Runs perfbench.Record (every batch_mix query, twice, over the benchmark's
generated corpus), compares each result with its SparkEntry.oracleSql run by
DuckDB over the same parquet tables, using tools/check_oracle.py, and only
when every query passes and is stable writes the digests to
perfbench/src/main/resources/batch_mix_digests.json. Run it again whenever
the corpus generator or the query set changes.
"""
import json
import os
import shutil
import subprocess
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import check_oracle  # noqa: E402

DIGESTS = os.path.join(run.BENCH, "src", "main", "resources", "batch_mix_digests.json")


def main():
    cp = run.build()
    work = os.path.join(run.BENCH, "target", "work", f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = ["java", f"-Xmx{run.heap_mb()}m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        out = subprocess.run(cmd + ["-cp", cp, "perfbench.Record", "out"], cwd=work,
                             capture_output=True, text=True, check=True).stdout
        digests = {}
        for line in out.splitlines():
            if line.startswith("{"):
                r = json.loads(line)
                digests[r["query"]] = r["digest"]
        unstable = [q for q, d in digests.items() if d == "unstable"]
        if unstable:
            run.fail(f"results differ between two runs: {unstable}", 1)
        if check_oracle.main(os.path.join(work, "data"), os.path.join(work, "out")) != 0:
            run.fail("a batch_mix result differs from the DuckDB oracle; digests not written", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    with open(DIGESTS, "w") as fh:
        json.dump(dict(sorted(digests.items())), fh, indent=1)
        fh.write("\n")
    print(f"wrote {len(digests)} digests to {DIGESTS}")


if __name__ == "__main__":
    main()
