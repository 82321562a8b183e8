#!/usr/bin/env python3
"""The rich_kernel measurement, in a process that imports only the kernel
and its input generator, so that its peak RSS is the kernel's.

    python3 perfbench/rich_kernel.py --seed <n> --seconds <s> [--worker k --workers n]

Imports `core.extract`, extracts six warm-up documents, then runs
`extract_text` once per document over alternating `synth_rich_pdf` /
`synth_cid_pdf` documents of the seed's generator-seed range (worker k of n
takes document pairs k, k + n, k + 2n, ...), each generated just before its
(timed) extraction, until `--seconds` of extraction time.
Every 8th document is extracted again, which must give the same text.
Prints one JSON object: the `time.perf_counter()` readings `t_built`
(modules imported) and `t_ready` (warm-up done), per-document latency and
CPU milliseconds, failure and mismatch counts, the digest of all texts and
the process's peak RSS.  With `--seconds 0` it is a set-up probe.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import hwm_mb  # noqa: E402

SEED_FOLD = 1000  # as in perfbench.inputs, which this process must not import
WARM = [("rich", s) for s in range(4)] + [("cid", s) for s in range(2)]
RECHECK_EVERY = 8


def document(kind: str, seed: int) -> bytes:
    from pdfminer_six_spark.datagen.transcripts import synth_cid_pdf, synth_rich_pdf

    return synth_rich_pdf(seed) if kind == "rich" else synth_cid_pdf(seed)


def documents(seed: int, start: int = 0, step: int = 1):
    """(kind, bytes) for the seed's documents, generated one at a time:
    a rich and a CID document from each of the pairs start, start + step,
    ..."""
    base = (seed % SEED_FOLD) * 1_000_003
    for pair in itertools.count(start, step):
        yield "rich", document("rich", base + 2 * pair)
        yield "cid", document("cid", base + 2 * pair + 1)


def _digest(text) -> str:
    if text is None:
        return ""
    return hashlib.sha256(text.encode("utf-8", "surrogatepass")).hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--worker", type=int, default=0)
    ap.add_argument("--workers", type=int, default=1)
    args = ap.parse_args(argv)

    from pdfminer_six_spark.core.extract import extract_text

    t_built = time.perf_counter()
    for kind, s in WARM:
        extract_text(document(kind, s))
    t_ready = time.perf_counter()

    def extract(data):
        try:
            return extract_text(data)
        except Exception:  # a failed document counts, the run goes on
            return None

    clock = time.perf_counter
    latency_ms, cpu_ms, digests = [], [], []
    kept = {}
    spent = 0.0
    docs = documents(args.seed, args.worker, args.workers)
    while spent < args.seconds:
        _, data = next(docs)  # generated outside the timed region
        c0, t0 = time.process_time(), clock()
        text = extract(data)
        dt = clock() - t0
        cpu_ms.append(1000.0 * (time.process_time() - c0))
        latency_ms.append(1000.0 * dt)
        spent += dt
        if len(digests) % RECHECK_EVERY == 0:
            kept[len(digests)] = data
        digests.append(_digest(text))
    mismatched = sum(1 for i, data in kept.items() if _digest(extract(data)) != digests[i])
    all_texts = hashlib.sha256("\n".join(digests).encode()).hexdigest()
    print(
        json.dumps(
            {
                "t_built": t_built,
                "t_ready": t_ready,
                "latency_ms": latency_ms,
                "cpu_ms": cpu_ms,
                "failed": digests.count(""),
                "rechecked": len(kept),
                "mismatched": mismatched,
                "docs_digest": all_texts,
                "peak_rss_mb": hwm_mb(os.getpid()),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
