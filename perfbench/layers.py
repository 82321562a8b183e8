"""Per-layer measurements, all taken from outside the program: spans are
timed around calls into each module's public functions, Spark layers are
found by subtraction, and query statistics come from Spark's status
tracker.  Nothing here changes the code being measured."""

from __future__ import annotations

import time
from typing import Callable, Dict, List, Sequence, Tuple

from perfbench.common import median, percentile

KERNEL_LAYERS = (
    "pipeline.decode_s",
    "document.parse_s",
    "interp.render_s",
    "layout.analyze_s",
    "device.emit_s",
    "html.extract_s",
)
KERNEL_COUNTS = ("document.pages", "device.chars", "layout.lines", "layout.boxes")
TOOLS = ("pdf", "html", "plain")


def _tool_name(tool: str) -> str:
    return tool if tool in ("pdf", "html") else "plain"


def _count_chars(item) -> int:
    from pdfminer_six_spark.core.layout import LTChar, LTContainer

    if isinstance(item, LTChar):
        return 1
    if isinstance(item, LTContainer):
        return sum(_count_chars(c) for c in item)
    return 0


def _count_boxes_lines(page) -> Tuple[int, int]:
    from pdfminer_six_spark.core.layout import LTTextBox, LTTextLine

    boxes = lines = 0
    for item in page:
        if isinstance(item, LTTextBox):
            boxes += 1
            lines += sum(1 for ln in item if isinstance(ln, LTTextLine))
    return boxes, lines


class KernelTrace:
    """Runs one workload's items through the kernel twice in this process:
    once by direct calls (per-item latency, direct time) and once split
    into layers.  An item is (tool, payload): tool "pdf" with base85 text
    (the `extract_transcripts` kernel), "pdfbytes" with raw PDF bytes
    (`extract_text`), "html", or "" for plain text."""

    def __init__(self) -> None:
        self.spans: Dict[str, float] = {k: 0.0 for k in KERNEL_LAYERS}
        self.counts: Dict[str, int] = {k: 0 for k in KERNEL_COUNTS}
        self.latency_ms: Dict[str, List[float]] = {t: [] for t in TOOLS}
        self.direct_s = 0.0
        self.mismatches = 0
        self.items = 0

    # -- direct calls ------------------------------------------------------

    def _direct(self, tool: str, payload) -> object:
        from pdfminer_six_spark.core.extract import extract_text
        from pdfminer_six_spark.spark.pipeline import _extract_one

        if tool == "pdfbytes":
            return extract_text(payload)
        return _extract_one(tool, payload, "")[0]

    # -- layered calls -----------------------------------------------------

    def _layered(self, tool: str, payload) -> object:
        from pdfminer_six_spark.core.device import LayoutDevice, TextDevice
        from pdfminer_six_spark.core.document import Document, iter_pages
        from pdfminer_six_spark.core.html import extract_main_text
        from pdfminer_six_spark.core.interp import Interpreter, ResourceManager
        from pdfminer_six_spark.core.layout import LAParams
        from pdfminer_six_spark.spark.pipeline import _b85decode_fast

        spans = self.spans
        clock = time.perf_counter
        if tool == "html":
            t0 = clock()
            out = extract_main_text(payload)
            spans["html.extract_s"] += clock() - t0
            return out
        if tool not in ("pdf", "pdfbytes"):
            return payload
        data = payload
        if tool == "pdf":
            t0 = clock()
            data = _b85decode_fast(payload)
            spans["pipeline.decode_s"] += clock() - t0
        t0 = clock()
        pages = list(iter_pages(Document(data, password="")))
        spans["document.parse_s"] += clock() - t0
        rsrcmgr = ResourceManager()
        sink = TextDevice(laparams=None)
        for pageno, page in enumerate(pages, 1):
            t0 = clock()
            device = LayoutDevice(laparams=None, pageno=pageno)
            Interpreter(rsrcmgr, device).process_page(page)
            ltpage = device.get_result()
            t1 = clock()
            n_chars = _count_chars(ltpage)
            t2 = clock()
            ltpage.analyze(LAParams())
            t3 = clock()
            boxes, lines = _count_boxes_lines(ltpage)
            t4 = clock()
            sink.receive_layout(ltpage)
            t5 = clock()
            spans["interp.render_s"] += t1 - t0
            spans["layout.analyze_s"] += t3 - t2
            spans["device.emit_s"] += t5 - t4
            self.counts["device.chars"] += n_chars
            self.counts["layout.boxes"] += boxes
            self.counts["layout.lines"] += lines
        self.counts["document.pages"] += len(pages)
        return sink.get_text()

    def run(self, items: Sequence[Tuple[str, object]]) -> None:
        """Each item once by direct call and once layered, alternating which
        goes first so neither side always meets the warmer caches."""
        clock = time.perf_counter
        for i, (tool, payload) in enumerate(items):
            if i % 2:
                got = self._layered(tool, payload)
            t0 = clock()
            want = self._direct(tool, payload)
            dt = clock() - t0
            if not i % 2:
                got = self._layered(tool, payload)
            self.direct_s += dt
            kind = "pdf" if tool == "pdfbytes" else tool
            self.latency_ms[_tool_name(kind)].append(dt * 1000.0)
            if got != want:
                self.mismatches += 1
        self.items += len(items)

    def metrics(self) -> Dict[str, Tuple[float, str]]:
        out: Dict[str, Tuple[float, str]] = {}
        for k, v in self.spans.items():
            out[k] = (v, "s")
        for k, v in self.counts.items():
            out[k] = (float(v), "count")
        layer_sum = sum(self.spans.values())
        out["kernel.layer_sum_s"] = (layer_sum, "s")
        out["kernel.direct_s"] = (self.direct_s, "s")
        out["kernel.trace_gap_s"] = (layer_sum - self.direct_s, "s")
        for tool in TOOLS:
            lat = self.latency_ms[tool]
            out[f"kernel.{tool}_p50_ms"] = (percentile(lat, 50), "ms")
            out[f"kernel.{tool}_p99_ms"] = (percentile(lat, 99), "ms")
        return out


# ---------------------------------------------------------------------------
# Spark layers by subtraction


def _identity(batches):
    for b in batches:
        yield b


def spark_variants(
    spark, staged: str, kernel: Callable, full_pass: Callable
) -> Dict[str, Callable[[], None]]:
    """The four cumulative pipelines: scan; scan + identity mapInPandas;
    scan + kernel; scan + kernel + sink (the workload's own pass)."""

    def src():
        return spark.read.parquet(staged).select("conv_id", "turn_idx", "text", "tool")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def boundary():
        df = src()
        noop(df.mapInPandas(_identity, schema=df.schema))

    return {
        "scan": lambda: noop(src()),
        "boundary": boundary,
        "kernel": lambda: noop(kernel(spark.read.parquet(staged))),
        "sink": full_pass,
    }


def spark_layers(
    variants: Dict[str, Callable[[], None]], reps: int
) -> Dict[str, Tuple[float, str]]:
    """Median time of each cumulative variant over `reps` interleaved
    rounds; each layer is the difference to the variant below it.  The
    workload's pass is timed once more in each round as the end-to-end
    wall; the residual is what the four layers leave unexplained."""
    runs = list(variants.items()) + [("e2e", variants["sink"])]
    times: Dict[str, List[float]] = {name: [] for name, _ in runs}
    for _ in range(reps):
        for name, fn in runs:
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
    m = {k: median(v) for k, v in times.items()}
    layers = {
        "spark.scan_s": m["scan"],
        "spark.boundary_s": m["boundary"] - m["scan"],
        "spark.kernel_s": m["kernel"] - m["boundary"],
        "spark.sink_s": m["sink"] - m["kernel"],
    }
    out = {k: (v, "s") for k, v in layers.items()}
    out["spark.e2e_s"] = (m["e2e"], "s")
    out["spark.residual_s"] = (m["e2e"] - sum(layers.values()), "s")
    return out


def split_stats(spark, staged: str) -> Dict[str, Tuple[float, str]]:
    """Input split count of the scan and its rows-per-split skew."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(staged)
    n = df.rdd.getNumPartitions()
    rows = [
        r["count"]
        for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    rows += [0] * (n - len(rows))
    mean = sum(rows) / max(n, 1)
    return {
        "spark.input_splits": (float(n), "count"),
        "spark.split_rows_max_over_mean": (max(rows) / mean if mean else 0.0, "ratio"),
    }


# ---------------------------------------------------------------------------
# query statistics


class QueryTrace:
    """Plan-build time on the Spark driver, action time, and job and stage
    counts per query, plus the persisted RDDs each query leaves behind."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.rows: Dict[str, Dict[str, float]] = {}
        self.persisted = 0

    def run(self, name: str, fn, sf_dir: str) -> None:
        self.spark.catalog.clearCache()
        self.sc.setJobGroup(name, name)
        try:
            t0 = time.perf_counter()
            df = fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info else 0
        left = self.sc._jsc.getPersistentRDDs().size()
        self.persisted += left
        self.rows[name] = {
            "plan_s": t1 - t0,
            "action_s": t2 - t1,
            "jobs": float(len(jobs)),
            "stages": float(stages),
            "persisted_rdds": float(left),
        }

    def metrics(self, names: Sequence[str]) -> Dict[str, Tuple[float, str]]:
        out: Dict[str, Tuple[float, str]] = {}
        for name in names:
            row = self.rows.get(name, {})
            out[f"queries.{name}.plan_s"] = (row.get("plan_s", 0.0), "s")
            out[f"queries.{name}.action_s"] = (row.get("action_s", 0.0), "s")
            out[f"queries.{name}.jobs"] = (row.get("jobs", 0.0), "count")
            out[f"queries.{name}.stages"] = (row.get("stages", 0.0), "count")
        out["queries.persisted_rdds"] = (float(self.persisted), "count")
        return out
