"""The distributed extraction pipeline (the engine's flagship job).

Input: a transcripts DataFrame with the BASELINE.json input_hint schema
    (conv_id string, turn_idx int, role string, text string, tool string,
     ts timestamp).
Output: ``extracted`` rows — per-turn text + spans + status — plus optional
flattened layout relations (chars/lines/boxes) and per-partition lineage.

Design (SURVEY.md §2.11, §4):

* Extraction is a **row-local map** — no keyed shuffle is required at all.
  We use ``mapInPandas`` (Arrow-batched; never per-row Python).  The only
  shuffle in the whole job is an optional round-robin ``repartition(N)`` to
  rebalance skew (a 500-page payload next to one-liners), and an optional
  ``repartitionByRange(conv_id, turn_idx)`` before the sink when the
  stable-output-ordering invariant is requested.
* Per-executor warm caches: AFM/encodings/CMap resources load once per
  python worker at module import; fonts are cached per document.
* Failures never kill a task: each turn gets a ``status`` of
  ok | empty | bad_password | error, with the exception recorded —
  STRICT=False semantics, lifted to the pipeline level (reference
  pdfminer.six settings.py:1, permissive coercers pdftypes.py:148-218).
* Every path runs the one row kernel ``_extract_one`` (payload decode and
  the exception -> status mapping), timed per call: ``wall_ms`` is the
  turn's own kernel milliseconds — summed over its page groups on the
  split path, per distinct payload on the dedup path.
"""

from __future__ import annotations

import base64
import time
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    BooleanType,
)

from pdfminer_six_spark.spark.session import cached

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        # the turn's own kernel milliseconds (split path: summed over its
        # page groups; dedup path: the distinct payload's)
        StructField("wall_ms", DoubleType()),
        # character-span offsets (north rule): [start, end) into `text`
        # per page (PDF turns; pages end at \f) or one whole-text span
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("page", IntegerType()),
                        StructField("start", IntegerType()),
                        StructField("end", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _char_spans(text: str, n_pages: int):
    """[(page, start, end)] offsets into the extracted text; PDF page
    texts are terminated by \\f (the text sink emits one per page)."""
    if not text:
        return []
    if n_pages <= 0:
        return [(0, 0, len(text))]
    spans = []
    start = 0
    page = 0
    while True:
        i = text.find("\f", start)
        if i == -1:
            if start < len(text):
                spans.append((page, start, len(text)))
            break
        spans.append((page, start, i + 1))
        start = i + 1
        page += 1
    return spans

CHARS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("char_seq", IntegerType()),
        StructField("text", StringType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("size", DoubleType()),
        StructField("adv", DoubleType()),
        StructField("upright", BooleanType()),
        StructField("fontname", StringType()),
    ]
)

LINES_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("line_id", IntegerType()),
        StructField("box_id", IntegerType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("wmode", StringType()),
        StructField("text", StringType()),
    ]
)

BOXES_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("box_id", IntegerType()),
        StructField("box_index", IntegerType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("wmode", StringType()),
        StructField("text", StringType()),
    ]
)


_B85_DEC_LUT = None


def _b85decode_fast(s: str) -> bytes:
    """Vectorized ``base64.b85decode`` for every payload decode here —
    stdlib's pure-Python 5-char loop was ~10% of ``_extract_one`` in the
    kernel profile (each PDF payload is tens of KB of base85).  Identical
    semantics: same alphabet LUT, '~'-padding to a 5-multiple, stripped
    from the output; any invalid byte / non-ASCII input / 32-bit
    overflow falls back to stdlib so error messages stay byte-equal."""
    global _B85_DEC_LUT
    import numpy as np

    if _B85_DEC_LUT is None:
        lut = np.full(256, -1, dtype=np.int16)
        for i, c in enumerate(
            b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            b"abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
        ):
            lut[c] = i
        _B85_DEC_LUT = lut
    try:
        raw = s.encode("ascii")
    except UnicodeEncodeError:
        return base64.b85decode(s)  # stdlib raises its own ValueError
    pad = (-len(raw)) % 5
    arr = np.frombuffer(raw, dtype=np.uint8)
    digits = _B85_DEC_LUT[arr]
    if len(digits) and digits.min() < 0:
        return base64.b85decode(s)
    if pad:
        digits = np.concatenate(
            [digits, np.full(pad, 84, dtype=np.int16)]  # '~'
        )
    vals = (
        digits.astype(np.uint64).reshape(-1, 5)
        * np.array([85**4, 85**3, 85**2, 85, 1], dtype=np.uint64)
    ).sum(axis=1)
    if len(vals) and vals.max() > 0xFFFFFFFF:
        return base64.b85decode(s)
    out = vals.astype(">u4").view(np.uint8).tobytes()
    return out[: len(out) - pad] if pad else out


def _extract_one(
    tool: str, text: str, password: str, page_numbers=None
) -> tuple:
    """(text, n_pages, status, error) for one turn payload; the only place
    that decodes payloads and maps an exception to a status.
    ``page_numbers`` (0-based) restricts a PDF turn to a page group."""
    from pdfminer_six_spark.core.crypto import EncryptionError
    from pdfminer_six_spark.core.extract import extract_text
    from pdfminer_six_spark.core.html import extract_main_text

    if tool == "pdf":
        try:
            payload = _b85decode_fast(text)
        except ValueError as e:
            return ("", 0, "error", f"b85decode: {e}")
        try:
            out = extract_text(
                payload, password=password, page_numbers=page_numbers
            )
            return (out, out.count("\f"), "ok" if out else "empty", "")
        except EncryptionError as e:
            return ("", 0, "bad_password", str(e))
        except Exception as e:  # permissive: record, never fail the task
            return ("", 0, "error", f"{type(e).__name__}: {e}")
    if tool == "html":
        try:
            out = extract_main_text(text)
            return (out, 0, "ok" if out else "empty", "")
        except Exception as e:
            return ("", 0, "error", f"{type(e).__name__}: {e}")
    # plain turn: identity
    return (text, 0, "ok", "")


def _extract_timed(
    tool: str, text: str, password: str, page_numbers=None
) -> tuple:
    """``_extract_one``'s row plus the call's own wall time in ms."""
    t0 = time.perf_counter()
    row = _extract_one(tool, text, password, page_numbers)
    return row + ((time.perf_counter() - t0) * 1000.0,)


def _extracted_frame(conv_ids, turn_idxs, rows) -> pd.DataFrame:
    """An ``EXTRACTED_SCHEMA`` frame from timed kernel rows
    (text, n_pages, status, error, wall_ms), one per key."""
    texts, pages, statuses, errors, walls = (
        [list(c) for c in zip(*rows)] if rows else [[] for _ in range(5)]
    )
    return pd.DataFrame(
        {
            "conv_id": pd.Series(list(conv_ids), dtype="object"),
            "turn_idx": pd.Series(list(turn_idxs), dtype="int32"),
            "text": pd.Series(texts, dtype="object"),
            "n_pages": pd.Series(pages, dtype="int32"),
            "n_chars": pd.Series([len(t) for t in texts], dtype="int32"),
            "status": pd.Series(statuses, dtype="object"),
            "error": pd.Series(errors, dtype="object"),
            "wall_ms": pd.Series(walls, dtype="float64"),
            "spans": pd.Series(
                [_char_spans(t, p) for t, p in zip(texts, pages)],
                dtype="object",
            ),
        }
    )


def _sorted_turns(out: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering for the sink."""
    return out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def extract_transcripts(
    df: DataFrame,
    password: str = "",
    rebalance_partitions: Optional[int] = None,
    sort_output: bool = False,
) -> DataFrame:
    """transcripts -> extracted.  Arrow-batched, row-local, shuffle-free
    (unless rebalancing/sorting is requested)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _extracted_frame(
                b["conv_id"],
                b["turn_idx"],
                [
                    _extract_timed(tool or "", text or "", password)
                    for tool, text in zip(b["tool"], b["text"])
                ],
            )

    src = df.select("conv_id", "turn_idx", "text", "tool")
    if rebalance_partitions:
        # round-robin: uniform work distribution without a keyed shuffle
        src = src.repartition(rebalance_partitions)
    out = src.mapInPandas(run, schema=EXTRACTED_SCHEMA)
    return _sorted_turns(out) if sort_output else out


def extract_transcripts_dedup(
    df: DataFrame,
    password: str = "",
    rebalance_partitions: Optional[int] = None,
    sort_output: bool = False,
) -> DataFrame:
    """Extraction with payload-level dedup: each DISTINCT (tool, text)
    payload runs through the kernel once; results join back to every
    referencing turn.  Transcript corpora repeat attachments heavily (the
    same PDF pasted into thousands of conversations), so kernel cost
    divides by the repetition factor for the price of two shuffles (the
    payload distinct + the fingerprint join-back) — at 10^12 turns with
    shared attachments this is the dominant optimization.  Opt-in
    (jobs/extract.py --dedup-payloads) because on a distinct-payload
    corpus the shuffles buy nothing.

    Extraction is a pure function of (tool, text, password), so the
    joined-back rows are exactly what per-turn extraction would produce;
    ``wall_ms`` is the per-distinct-payload kernel cost (not re-scaled
    per turn).  Payload identity is xxhash64(tool, text) — a collision
    (2^-64 per pair) would silently share one extraction between two
    payloads.
    """
    fp = F.xxhash64(
        F.coalesce(F.col("tool"), F.lit("")),
        F.coalesce(F.col("_raw"), F.lit("")),
    ).cast("string")
    keyed = df.select(
        "conv_id", "turn_idx", F.col("text").alias("_raw"), "tool"
    ).withColumn("_fp", fp)
    # one row per distinct payload; the fingerprint rides in conv_id so
    # the unmodified kernel passes it through to the join key
    payloads = (
        keyed.select(
            F.col("_fp").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.col("_raw").alias("text"),
            "tool",
        )
        .dropDuplicates(["conv_id"])
    )
    per_payload = extract_transcripts(
        payloads, password=password, rebalance_partitions=rebalance_partitions
    ).select(
        F.col("conv_id").alias("_fp"),
        "text", "n_pages", "n_chars", "status", "error", "wall_ms", "spans",
    )
    # conv_id/turn_idx come from `keyed` (the caller's input dtypes), not
    # from the kernel's EXTRACTED_SCHEMA — cast so both the per-turn and
    # dedup paths emit byte-identical schemas (an int64 turn_idx input
    # would otherwise make downstream parquet type-diverge per path)
    out = keyed.join(per_payload, "_fp").select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "text", "n_pages", "n_chars", "status",
        "error", "wall_ms", "spans",
    )
    return _sorted_turns(out) if sort_output else out


# --- page-split extraction (intra-payload parallelism) ---------------------
#
# The unit of parallelism above is the turn, so one pathological 500-page /
# 100 MB payload owns one task end-to-end.  The split path caps task skew at
# the page group: pass 1 opens each oversized payload once and counts its
# pages (xref + page-tree DFS only — no content interpretation); the payload
# then explodes to ceil(n_pages / pages_per_group) rows, each carrying the
# payload bytes once per GROUP (shuffle volume = payload_bytes x n_groups —
# pages_per_group is the dial between skew cap and replication); pass 2
# runs the row kernel on each page range independently
# (_extract_one(page_numbers=...)); reassembly concatenates group texts in
# page order.  Page texts are \f-terminated by the text sink, so the
# concatenation is byte-identical to the unsplit output (differentially
# tested) — the distributed version of the reference's per-page lazy
# iteration (high_level.py:190-227).  A payload pass 1 cannot count
# (n_pages = 0) becomes ONE group over all its pages, i.e. exactly the
# unsplit kernel call, so it fails with the unsplit status and error.

_PAGED_COUNTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),  # 0 = could not count
    ]
)

_PAGED_PARTIAL_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("grp", IntegerType()),
        StructField("text", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("wall_ms", DoubleType()),
    ]
)


def _count_pages(text: str, password: str) -> int:
    """Pass-1 kernel: the page count of a b85 PDF payload (xref + page-tree
    DFS, no content interpretation), or 0 when it cannot be counted; the
    pass-2 kernel call then records why."""
    from pdfminer_six_spark.core.document import Document, iter_pages

    try:
        doc = Document(_b85decode_fast(text), password=password)
        return sum(1 for _ in iter_pages(doc))
    except Exception:
        return 0


def page_groups(
    counted: DataFrame,
    pages_per_group: int = 8,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Explode pass-1 rows to one row per page group (at least one) and
    spread the groups across tasks (hash on (conv_id, turn_idx, grp) — the
    whole point: two groups of the same document land on different tasks).
    Factored out so tests can assert the spread directly."""
    n_groups = F.ceil(F.col("n_pages") / F.lit(pages_per_group)).cast("int")
    g = counted.withColumn(
        "grp",
        F.explode(F.sequence(F.lit(0), F.greatest(n_groups - 1, F.lit(0)))),
    )
    return g.repartition(
        num_partitions or counted.sparkSession.sparkContext.defaultParallelism,
        "conv_id", "turn_idx", "grp",
    )


def extract_transcripts_split_pages(
    df: DataFrame,
    password: str = "",
    split_chars: int = 200_000,
    pages_per_group: int = 8,
    rebalance_partitions: Optional[int] = None,
    sort_output: bool = False,
) -> DataFrame:
    """Extraction with opt-in page-level splitting of oversized payloads
    (jobs/extract.py --split-pages): turns whose b85 payload is at least
    ``split_chars`` characters (~split_chars*4/5 bytes) AND tool='pdf' take
    the two-pass page-group path; everything else takes the standard
    row-local kernel.  Output is byte-identical to extract_transcripts
    modulo wall_ms (per-group costs are summed) — differentially tested.
    """
    is_big = F.coalesce(
        (F.col("tool") == F.lit("pdf"))
        & (F.length("text") >= F.lit(split_chars)),
        F.lit(False),
    )
    small_out = extract_transcripts(
        df.filter(~is_big),
        password=password,
        rebalance_partitions=rebalance_partitions,
    )

    def count_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield b.assign(
                n_pages=[_count_pages(t, password) for t in b["text"]]
            ).astype({"turn_idx": "int32", "n_pages": "int32"})

    counted = (
        df.filter(is_big)
        .select("conv_id", "turn_idx", "text")
        .mapInPandas(count_pages, schema=_PAGED_COUNTED_SCHEMA)
    )
    groups = page_groups(counted, pages_per_group, rebalance_partitions)

    def extract_group(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for text, n_pages, grp in zip(b["text"], b["n_pages"], b["grp"]):
                first = int(grp) * pages_per_group
                # n_pages = 0 (uncounted): the one group is the unsplit call
                pages = range(first, first + pages_per_group) if n_pages else None
                rows.append(_extract_timed("pdf", text, password, pages))
            rows = pd.DataFrame(
                rows, columns=["text", "n_pages", "status", "error", "wall_ms"]
            )
            keys = b[["conv_id", "turn_idx", "grp"]].reset_index(drop=True)
            yield pd.concat(
                [keys, rows.drop(columns="n_pages")], axis=1
            ).astype({"turn_idx": "int32", "grp": "int32"})

    partials = groups.mapInPandas(extract_group, schema=_PAGED_PARTIAL_SCHEMA)

    def reassemble(pdf: pd.DataFrame) -> pd.DataFrame:
        # one group key = one document's page-group partials (small by
        # construction: n_pages / pages_per_group rows)
        pdf = pdf.sort_values("grp")
        wall = float(pdf["wall_ms"].sum())
        failed = pdf[~pdf["status"].isin(["ok", "empty"])]
        if len(failed):
            # the unsplit kernel fails the WHOLE doc on its first failing
            # page — reproduce that contract (lowest failing group wins)
            row = ("", 0, failed["status"].iloc[0], failed["error"].iloc[0], wall)
        else:
            text = "".join(pdf["text"])
            row = (text, text.count("\f"), "ok" if text else "empty", "", wall)
        return _extracted_frame(
            pdf["conv_id"].iloc[:1], pdf["turn_idx"].iloc[:1], [row]
        )

    assembled = partials.groupBy("conv_id", "turn_idx").applyInPandas(
        reassemble, EXTRACTED_SCHEMA
    )
    out = small_out.unionByName(assembled)
    return _sorted_turns(out) if sort_output else out


LAYOUT_UNION_SCHEMA = StructType(
    [
        StructField("relation", StringType()),  # char | line | box
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("id1", IntegerType()),  # char_seq / line_id / box_id
        StructField("id2", IntegerType()),  # - / box_id / box_index
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("size", DoubleType()),
        StructField("adv", DoubleType()),
        StructField("upright", BooleanType()),
        StructField("fontname", StringType()),
        StructField("wmode", StringType()),
        StructField("text", StringType()),
    ]
)


def extract_layout_tables(
    df: DataFrame, password: str = "", persist: bool = True
) -> dict:
    """transcripts -> {chars, lines, boxes} flattened layout relations.

    Only PDF turns contribute.  Single-pass: ONE ``mapInPandas`` parses each
    payload once, walks the raw (unanalyzed) page for emission-ordered chars
    — the exact input order of the L1 char->line operator — then runs
    LAParams analysis on the same tree (identical to LayoutDevice.end_page,
    device.py:150-151) and walks boxes/lines.  With ``persist=True`` the
    tagged union is cached so the three filtered views share the one kernel
    run; PDF parsing is the dominant cost, so this is 3× cheaper than a
    kernel run per relation (VERDICT r01 'what's wrong' #5).  Callers that
    consume the views should read them inside a ``cache_scope()``, which
    releases the union on exit; callers consuming a SINGLE view should
    pass ``persist=False`` — caching a relation read once is pure overhead.
    """

    def run_union(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdfminer_six_spark.core.extract import extract_pages
        from pdfminer_six_spark.core.layout import (
            LAParams,
            LTChar,
            LTContainer,
            LTTextBox,
            LTTextBoxVertical,
            LTTextLine,
            LTTextLineVertical,
        )

        cols = [f.name for f in LAYOUT_UNION_SCHEMA.fields]
        for b in batches:
            rows = []
            for conv_id, turn_idx, tool, text in zip(
                b["conv_id"], b["turn_idx"], b["tool"], b["text"]
            ):
                if tool != "pdf":
                    continue
                try:
                    # laparams=None: raw trees, chars in content-stream
                    # emission order
                    pages = list(
                        extract_pages(
                            _b85decode_fast(text), password, laparams=None
                        )
                    )
                except Exception:
                    continue
                ti = int(turn_idx)
                for pageno, page in enumerate(pages):
                    seq = 0

                    def walk(item):
                        nonlocal seq
                        if isinstance(item, LTChar):
                            rows.append(
                                (
                                    "char", conv_id, ti, pageno, seq, None,
                                    item.x0, item.y0, item.x1, item.y1,
                                    item.size, item.adv, bool(item.upright),
                                    item.fontname, None, item.get_text(),
                                )
                            )
                            seq += 1
                        if isinstance(item, LTContainer):
                            for child in item:
                                walk(child)

                    walk(page)
                    # same call LayoutDevice.end_page makes when laparams
                    # is set — analyzing the already-built tree is identical
                    page.analyze(LAParams())
                    box_id = 0
                    line_id = 0
                    for item in page:
                        if not isinstance(item, LTTextBox):
                            continue
                        rows.append(
                            (
                                "box", conv_id, ti, pageno, box_id,
                                item.index, item.x0, item.y0, item.x1,
                                item.y1, None, None, None, None,
                                "tb-rl"
                                if isinstance(item, LTTextBoxVertical)
                                else "lr-tb",
                                item.get_text(),
                            )
                        )
                        for line in item:
                            if not isinstance(line, LTTextLine):
                                continue
                            rows.append(
                                (
                                    "line", conv_id, ti, pageno, line_id,
                                    box_id, line.x0, line.y0, line.x1,
                                    line.y1, None, None, None, None,
                                    "tb-rl"
                                    if isinstance(line, LTTextLineVertical)
                                    else "lr-tb",
                                    line.get_text(),
                                )
                            )
                            line_id += 1
                        box_id += 1
            yield pd.DataFrame(rows, columns=cols)

    src = df.select("conv_id", "turn_idx", "text", "tool")
    union = src.mapInPandas(run_union, schema=LAYOUT_UNION_SCHEMA)
    if persist:
        union = cached(union)
    common = ["conv_id", "turn_idx", "page_id"]
    chars = union.filter(F.col("relation") == "char").select(
        *common,
        F.col("id1").alias("char_seq"),
        "text", "x0", "y0", "x1", "y1", "size", "adv", "upright", "fontname",
    ).select([f.name for f in CHARS_SCHEMA.fields])
    lines = union.filter(F.col("relation") == "line").select(
        *common,
        F.col("id1").alias("line_id"),
        F.col("id2").alias("box_id"),
        "x0", "y0", "x1", "y1", "wmode", "text",
    ).select([f.name for f in LINES_SCHEMA.fields])
    boxes = union.filter(F.col("relation") == "box").select(
        *common,
        F.col("id1").alias("box_id"),
        F.col("id2").alias("box_index"),
        "x0", "y0", "x1", "y1", "wmode", "text",
    ).select([f.name for f in BOXES_SCHEMA.fields])
    return {"chars": chars, "lines": lines, "boxes": boxes}


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (SURVEY.md §1.1 lineage relation).

    Committed alongside results; a restarted job anti-joins its input
    against the already-committed (conv_id, turn_idx) pairs to resume.
    """
    return (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias(
                "n_error"
            ),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_pages").alias("n_pages"),
            F.avg("wall_ms").alias("avg_wall_ms"),
            # order-insensitive streaming content fingerprint: O(1) agg
            # buffer per partition (a collect_list of conv_ids would
            # materialize millions of ids in one buffer on a fat
            # partition at 100 TB).  SUM of a bounded hash rather than
            # bit_xor: XOR is blind to even-multiplicity duplicates
            # (a row duplicated twice cancels out — exactly the
            # corruption class lineage exists to catch), while the sum
            # shifts with every extra copy.  Per-row hashes are bounded
            # to 40 bits (a 20-bit bound let a dropped+added row pair
            # cancel with p=2^-20; 2^-40 is negligible) and accumulated
            # in DECIMAL so the ANSI sum cannot overflow at any
            # realistic partition size (~9e10 rows), then folded back to
            # the 40-bit domain as a long.  FORMAT NOTE: this fingerprint
            # changed r2->r3 (ordered xxhash64-of-collect_list -> 20-bit
            # sum) and r3->r4 (20-bit -> 40-bit pmod-folded); lineage
            # parquet written by different versions is NOT comparable —
            # resume correctness is unaffected (resume anti-joins on
            # (conv_id, turn_idx), never on this fingerprint).
            F.pmod(
                F.sum(
                    F.pmod(
                        F.xxhash64("conv_id", "turn_idx"), F.lit(1 << 40)
                    ).cast("decimal(13,0)")
                ),
                F.lit(1 << 40).cast("decimal(23,0)"),
            )
            .cast("long")
            .alias("conv_ids_hash"),
        )
    )


def resume_filter(transcripts: DataFrame, done: DataFrame) -> DataFrame:
    """Drop turns already present in the committed output (exact resume)."""
    return transcripts.join(
        done.select("conv_id", "turn_idx"),
        on=["conv_id", "turn_idx"],
        how="left_anti",
    )


def salted_repartition(df: DataFrame, num_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Keyed-but-salted repartition for when co-location by conv_id is
    wanted downstream, without letting one huge conversation own a task."""
    return df.repartition(
        num_partitions,
        F.col("conv_id"),
        F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets)),
    )
