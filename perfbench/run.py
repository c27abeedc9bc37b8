#!/usr/bin/env python3
"""Runs one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

builds the program and the harness from source when needed (build.py), then
starts the harness JVM. The last line of standard output is the result JSON.

    python3 perfbench/run.py --selftest    # tests of the harness itself
    python3 perfbench/run.py --declare     # prints BENCHMARK.json
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 175


def main(argv):
    build.build()
    share = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if os.path.exists(build.ARCHIVE) else []
    try:
        return subprocess.run(build.jvm(*share) + argv, timeout=TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
