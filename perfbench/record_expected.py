#!/usr/bin/env python3
"""Record perfbench/expected.tsv: the result digest of every llm op.

Usage (from the repository root): python3 perfbench/record_expected.py

Runs every llm query once over the generated tables, dumps each
result as parquet, and runs the DuckDB oracle compare (scripts/check_oracle.py)
over the dump. A query's digest is recorded only if its result passed that
compare. The curation funnel has no oracle; its digest (output rows plus the
per-stage report) is recorded as a regression pin and marked so.
"""
import os
import re
import shutil
import subprocess
import sys

import run

WORK = os.path.join(run.BUILD, "record")


def main():
    classpath, _, tables = run.build()
    shutil.rmtree(WORK, ignore_errors=True)
    dump = os.path.join(WORK, "dump")
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(dump)
    cmd = run.java_cmd(WORK, run.DRIVER_HEAP, classpath, "record", WORK, tables, dump)
    subprocess.run(cmd, cwd=WORK, check=True, stdout=subprocess.DEVNULL)
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "scripts", "check_oracle.py"), tables, dump],
        capture_output=True, text=True)
    print(oracle.stdout)
    passed = set(re.findall(r"^ok\s+(\S+)", oracle.stdout, re.M))
    lines = ["# op\torder\trows\txxh64 digest (see Digest.scala); recorded by record_expected.py"]
    for row in open(os.path.join(dump, "digests.tsv")).read().splitlines():
        name = row.split("\t")[0]
        if name in passed:
            lines.append(row + "\toracle")
        elif name == "funnel_full":
            lines.append(row + "\tpinned")
        else:
            print(f"not recorded: {name} failed the oracle compare")
    with open(os.path.join(run.HERE, "expected.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"recorded {len(lines) - 1} digests")


if __name__ == "__main__":
    main()
