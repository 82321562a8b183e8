#!/usr/bin/env python3
"""One cold Spark set-up in a fresh process, for the set-up metrics.

    python3 perfbench/spark_setup.py

Builds the repository's Spark session, warms one Python worker per slot,
stops everything, and prints one JSON object with the `time.perf_counter()`
readings `t_built` and `t_ready`.  The process that started this one
subtracts its own reading taken just before the start.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Session, Workdir  # noqa: E402


def main() -> int:
    work = Workdir()
    try:
        session = Session(work)
        session.stop()
    finally:
        work.close()
    print(json.dumps({"t_built": session.t_built, "t_ready": session.t_ready}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
