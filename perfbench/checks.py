"""Correctness checks, run outside the timed region.  Each returns the number
of items that failed, so failures can be counted against items attempted."""

from __future__ import annotations

import os
import sys
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

from perfbench import inputs
from perfbench.common import ROOT

_WHITESPACE = set(" \n\f")


def turn_error(tool: str, text_in: str, text_out: str, status: str) -> Optional[str]:
    """Why one extracted turn is wrong, or None.

    Plain turns must come back unchanged.  For PDF and HTML turns every line
    the generator placed must appear in order, and nothing but whitespace may
    lie between, before or after them; a PDF turn also ends one form feed per
    page it holds."""
    if status != "ok":
        return f"status {status}"
    if not tool:
        return None if text_out == text_in else "plain text changed"
    pos = 0
    for line in inputs.placed_lines(tool, text_in):
        i = text_out.find(line, pos)
        if i < 0:
            return f"line missing or out of order: {line[:40]!r}"
        if not set(text_out[pos:i]) <= _WHITESPACE:
            return f"unexpected text before {line[:40]!r}"
        pos = i + len(line)
    if not set(text_out[pos:]) <= _WHITESPACE:
        return "unexpected trailing text"
    if tool == "pdf" and text_out.count("\f") != inputs.pdf_pages(text_in):
        return "page count differs"
    return None


def check_turns(
    source, extracted: Dict[Tuple[str, int], Tuple[str, str]]
) -> Tuple[int, List[str]]:
    """Check every input turn against its extracted (text, status) row.
    `source` is the staged transcripts frame.  Returns (failed, samples)."""
    failed = 0
    notes: List[str] = []
    for conv_id, turn_idx, tool, text in zip(
        source["conv_id"], source["turn_idx"], source["tool"], source["text"]
    ):
        got = extracted.get((conv_id, int(turn_idx)))
        err = "missing row" if got is None else turn_error(tool or "", text, *got)
        if err:
            failed += 1
            if len(notes) < 5:
                notes.append(f"{conv_id}/{turn_idx}: {err}")
    if len(extracted) != len(source):
        failed += abs(len(extracted) - len(source))
        notes.append(f"row count {len(extracted)} != {len(source)}")
    return failed, notes


def check_against_direct(
    source, extracted: Dict[Tuple[str, int], Tuple[str, str]], sample: int
) -> Tuple[int, List[str]]:
    """Spark output must equal a direct `_extract_one` call, turn for turn,
    on an evenly spaced sample of turns."""
    from pdfminer_six_spark.spark.pipeline import _extract_one

    n = len(source)
    step = max(1, n // max(sample, 1))
    failed = 0
    notes: List[str] = []
    for i in range(0, n, step):
        row = source.iloc[i]
        want_text, _, want_status, _ = _extract_one(row["tool"] or "", row["text"] or "", "")
        got = extracted.get((row["conv_id"], int(row["turn_idx"])))
        if got != (want_text, want_status):
            failed += 1
            if len(notes) < 5:
                notes.append(f"{row['conv_id']}/{row['turn_idx']}: differs from direct call")
    return failed, notes


def oracle_hasher():
    """`table_hash` from scripts/check_oracles.py, the repository's replica
    of the query harness canonicalisation."""
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_oracles

    return check_oracles.table_hash


def oracle_error(spark_pdf, oracle_pdf, table_hash) -> Optional[str]:
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return "columns differ from oracle"
    if table_hash(spark_pdf) != table_hash(oracle_pdf):
        return "value hash differs from oracle"
    return None


def digests_match(first: Sequence[str], again: Iterable[Tuple[int, str]]) -> int:
    """Count extractions whose text digest differs from the first run's."""
    return sum(1 for i, d in again if first[i] != d)
