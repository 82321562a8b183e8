#!/usr/bin/env python3
"""A fixed pure-Python workload that uses none of the program's code, for
the host speed factor (`perfbench.common.host_factor`).

    python3 perfbench/calibrate.py

Runs ROUNDS rounds of the workload after WARMUP_S of untimed ones and prints one
JSON object: `seconds`, the time the timed rounds took.  The work is of the
kind the kernel does: small objects with float coordinates, sorting,
grouping in dicts, string building.
"""

from __future__ import annotations

import json
import random
import time

ROUNDS = 15
WARMUP_S = 1.5


class Box:
    __slots__ = ("x0", "y0", "x1", "y1", "text")

    def __init__(self, x0: float, y0: float, x1: float, y1: float, text: str) -> None:
        self.x0, self.y0, self.x1, self.y1, self.text = x0, y0, x1, y1, text

    def overlaps(self, other: "Box") -> bool:
        return (
            self.x0 < other.x1
            and other.x0 < self.x1
            and self.y0 < other.y1
            and other.y0 < self.y1
        )


def work() -> int:
    rng = random.Random(7)
    boxes = []
    for i in range(6000):
        x = rng.random() * 500.0
        y = float(rng.randrange(60)) * 12.0
        boxes.append(Box(x, y, x + 6.5, y + 10.0, chr(97 + i % 26)))
    boxes.sort(key=lambda b: (-b.y0, b.x0))
    lines: dict = {}
    for b in boxes:
        lines.setdefault(b.y0, []).append(b)
    overlaps = 0
    rows = []
    for row in lines.values():
        overlaps += sum(1 for a, b in zip(row, row[1:]) if a.overlaps(b))
        rows.append("".join(b.text for b in row))
    counts: dict = {}
    for w in "\n".join(rows).split():
        counts[w[:3]] = counts.get(w[:3], 0) + 1
    return overlaps + len(counts)


def main() -> None:
    # a host that was idle runs the first second or so of work up to 4x slower
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < WARMUP_S:
        work()
    t0 = time.perf_counter()
    for _ in range(ROUNDS):
        work()
    print(json.dumps({"seconds": time.perf_counter() - t0}))


if __name__ == "__main__":
    main()
