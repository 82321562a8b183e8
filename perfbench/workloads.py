"""The three workloads.  Each returns (details, result): `details` is printed
as one JSON line for a human reader, `result` is the contract's last line.
The set-up metrics are added by the runner, which owns the set-ups."""

from __future__ import annotations

import itertools
import os
import time
from typing import Callable, Dict, List, Tuple

import pandas as pd

from perfbench import checks, inputs, layers
from perfbench.common import (
    Session,
    Setups,
    WorkerPeak,
    Workdir,
    finish_child,
    kill_child,
    median,
    metric,
    percentile,
    slots,
    start_child,
    tree_cpu_s,
)

# Conversations per staged batch: ~1,350 turns in 12 files, which Spark
# packs into four even splits on four slots.
N_CONVS = 120
DIRECT_SAMPLE = 16  # turns per batch re-extracted by direct call
TRACE_REPS = 3  # interleaved rounds of the Spark subtraction variants
# Ops queries, each with a DuckDB oracle: one per never-released persist in
# ops/ (dedup.py incremental index, jaccard DF-cut and minhash candidates;
# ann.py k-means).  The first pass of a query in a fresh JVM costs 1.5-8 s
# of plan compilation on four slots, so the set is kept to what a run's
# time allows.
OPS_QUERIES = (
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "kmeans_assign",
)
# sf0.1 has 5,000 documents and 2,000 embeddings; at 5,000 documents a run
# would not fit the benchmark's time budget
OPS_DOCS = 2000
OPS_VECS = 2000
WARMUP_BATCH = inputs.BATCHES_PER_SEED - 1  # never used by a timed pass


def result(attempted: int, failed: int, metrics: Dict) -> Dict:
    return {
        "correct": failed == 0,
        "attempted": int(max(attempted, 1)),
        "failed": int(failed),
        "metrics": metrics,
    }


def per_layer(values: Dict[str, Tuple[float, str]], names: List[Tuple[str, str]]) -> Dict:
    """Every per-layer metric, 0 where the workload bypasses the layer."""
    out = {}
    for name, unit in names:
        value, got_unit = values.get(name, (0.0, unit))
        out[name] = metric(value, got_unit)
    return out


# ---------------------------------------------------------------------------
# Spark extraction workloads


class TranscriptsExtract:
    """Stage disjoint seeded batches of the transcript mix as parquet, run
    scan -> `extract_transcripts` -> parquet sink once per batch, read the
    sink back and check it."""

    name = "transcripts_extract"

    def __init__(self, session: Session, work: Workdir, seed: int) -> None:
        self.session = session
        self.spark = session.spark
        self.work = work
        self.seed = seed
        self.frames: Dict[int, pd.DataFrame] = {}

    def stage(self, batch: int) -> str:
        df = inputs.transcripts_frame(self.seed, N_CONVS, batch)
        self.frames[batch] = df
        out = os.path.join(self.work.path, "staged", f"b{batch:02d}")
        inputs.stage_transcripts(df, out)
        return out

    def sink(self, batch: int) -> str:
        return os.path.join(self.work.path, "sink", f"b{batch:02d}")

    def kernel(self, df):
        from pdfminer_six_spark.spark.pipeline import extract_transcripts

        return extract_transcripts(df)

    def run_pass(self, staged: str, sink: str) -> None:
        df = self.spark.read.parquet(staged)
        self.kernel(df).write.mode("overwrite").parquet(sink)

    def check(self, batch: int) -> Tuple[int, List[str]]:
        import pyarrow.parquet as pq

        out = pq.read_table(
            self.sink(batch), columns=["conv_id", "turn_idx", "text", "status"]
        ).to_pydict()
        extracted = {
            (c, int(t)): (x, s)
            for c, t, x, s in zip(out["conv_id"], out["turn_idx"], out["text"], out["status"])
        }
        src = self.frames[batch]
        failed, notes = checks.check_turns(src, extracted)
        f2, n2 = checks.check_against_direct(src, extracted, DIRECT_SAMPLE)
        return failed + f2, notes + n2

    def measure(self, seconds: float) -> Tuple[Dict, Dict]:
        warm_dir = self.stage(WARMUP_BATCH)
        with WorkerPeak() as peak:
            t0 = time.perf_counter()
            self.run_pass(warm_dir, self.sink(WARMUP_BATCH))
            warmup_s = time.perf_counter() - t0
            passes: List[Tuple[int, float, int, float]] = []
            batch = 0
            while sum(p[1] for p in passes) < seconds and batch < WARMUP_BATCH:
                staged = self.stage(batch)  # untimed
                c0, t0 = tree_cpu_s(), time.perf_counter()
                self.run_pass(staged, self.sink(batch))
                t1, c1 = time.perf_counter(), tree_cpu_s()
                passes.append((batch, t1 - t0, len(self.frames[batch]), c1 - c0))
                batch += 1
        failed = 0
        notes: List[str] = []
        for b, *_ in passes:
            f, n = self.check(b)
            failed += f
            notes += n
        turns = sum(p[2] for p in passes)
        mix = inputs.payload_mix(pd.concat([self.frames[p[0]] for p in passes]))
        # medians over passes: one pass hit by a burst of outside load, or
        # still warming the JIT, does not move the figure
        rate = median(n / dt for _, dt, n, _ in passes)
        cpu_ms = median(1000.0 * cpu / n for _, _, n, cpu in passes)
        details = {
            "workload": self.name,
            "slots": self.session.n_slots,
            "payload_mix": mix,
            "passes_s": [round(p[1], 4) for p in passes],
            "warmup_pass_s": warmup_s,
            "turns_per_s": {"value": rate, "unit": "1/s"},
            "cpu_ms_per_turn": {"value": cpu_ms, "unit": "ms"},
            "failed_share": {"value": failed / max(turns, 1), "unit": "share"},
            "peak_rss_mb": {"value": peak.python_mb, "unit": "MB"},
            "check_notes": notes[:10],
        }
        metrics = {
            "items_per_s": metric(rate, "1/s"),
            "cpu_ms_per_item": metric(cpu_ms, "ms"),
            "peak_rss_mb": metric(peak.python_mb, "MB"),
        }
        return details, result(turns, failed, metrics)

    def trace(self, names) -> Tuple[Dict, Dict]:
        batch = 0
        staged = self.stage(batch)
        sink = self.sink(batch)
        with WorkerPeak() as peak:
            self.run_pass(staged, sink)  # warm-up
            variants = layers.spark_variants(
                self.spark, staged, self.kernel, lambda: self.run_pass(staged, sink)
            )
            values = layers.spark_layers(variants, TRACE_REPS)
        values.update(layers.split_stats(self.spark, staged))
        values["spark.jvm_peak_rss_mb"] = (peak.jvm_mb, "MB")
        failed, notes = self.check(batch)
        df = self.frames[batch]
        kt = layers.KernelTrace()
        kt.run(list(zip(df["tool"].fillna(""), df["text"])))
        values.update(kt.metrics())
        failed += kt.mismatches
        details = {
            "workload": self.name,
            "trace": True,
            "slots": self.session.n_slots,
            "payload_mix": inputs.payload_mix(df),
            "kernel_trace_mismatches": kt.mismatches,
            "check_notes": notes[:10],
        }
        return details, result(len(df) + kt.items, failed, per_layer(values, names))


# ---------------------------------------------------------------------------
# rich_kernel: one kernel process per slot, no Spark


def rich_processes(seed: int, seconds: float, setups: Setups) -> List[Dict]:
    """One kernel process (perfbench/rich_kernel.py) per slot, all at once,
    each over its share of the seed's documents; each one's set-up counts
    in `setups`.  Running one per slot keeps the machine as busy as a Spark
    run does: a lone process is sped up or slowed down by how busy the
    other cores are."""
    n = slots()
    started = [
        start_child(
            "rich_kernel.py",
            ["--seed", str(seed), "--seconds", repr(seconds),
             "--worker", str(k), "--workers", str(n)],
        )
        for k in range(n)
    ]
    try:
        outs = [finish_child(proc, 150) for _, proc in started]
    finally:
        for _, proc in started:
            kill_child(proc)
    for (t0, _), out in zip(started, outs):
        setups.add(t0, out["t_built"], out["t_ready"])
    return outs


def rich_measure(seed: int, seconds: float, setups: Setups) -> Tuple[Dict, Dict]:
    outs = rich_processes(seed, seconds, setups)
    lat = [x for o in outs for x in o["latency_ms"]]
    n = len(lat)
    rate = sum(len(o["latency_ms"]) * 1000.0 / sum(o["latency_ms"]) for o in outs)
    cpu_per_doc = sum(x for o in outs for x in o["cpu_ms"]) / n
    failed = sum(o["failed"] + o["mismatched"] for o in outs)
    rss = max(o["peak_rss_mb"] for o in outs)
    details = {
        "workload": "rich_kernel",
        "slots": len(outs),
        "docs": n,
        "docs_per_process": [len(o["latency_ms"]) for o in outs],
        "docs_digests": [o["docs_digest"] for o in outs],
        "docs_per_s": {"value": rate, "unit": "1/s"},
        "cpu_ms_per_doc": {"value": cpu_per_doc, "unit": "ms"},
        "doc_p50_ms": {"value": percentile(lat, 50), "unit": "ms"},
        "doc_p99_ms": {"value": percentile(lat, 99), "unit": "ms"},
        "failed_share": {"value": failed / max(n, 1), "unit": "share"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }
    metrics = {
        "items_per_s": metric(rate, "1/s"),
        "cpu_ms_per_item": metric(cpu_per_doc, "ms"),
        "peak_rss_mb": metric(rss, "MB"),
    }
    return details, result(n + sum(o["rechecked"] for o in outs), failed, metrics)


def rich_trace(seed: int, seconds: float, names, setups: Setups) -> Tuple[Dict, Dict]:
    from perfbench.rich_kernel import WARM, document, documents

    rich_processes(seed, 0, setups)  # set-up only
    docs = list(itertools.islice(documents(seed), int(max(300, 60 * seconds))))
    kt = layers.KernelTrace()
    kt.run([("pdfbytes", document(kind, s)) for kind, s in WARM])  # not counted
    kt = layers.KernelTrace()
    kt.run([("pdfbytes", d) for _, d in docs])
    details = {"workload": "rich_kernel", "trace": True, "docs": len(docs),
               "kernel_trace_mismatches": kt.mismatches}
    return details, result(kt.items, kt.mismatches, per_layer(kt.metrics(), names))


# ---------------------------------------------------------------------------
# ops_queries


class OpsQueries:
    name = "ops_queries"

    def __init__(self, session: Session, work: Workdir, seed: int) -> None:
        self.session = session
        self.spark = session.spark
        self.sf_dir = os.path.join(work.path, "ops")
        inputs.write_ops_tables(seed, self.sf_dir, OPS_DOCS, OPS_VECS)

    def _queries(self) -> Dict[str, Tuple[Callable, str]]:
        from pdfminer_six_spark.queries import QUERIES

        return {name: QUERIES[name] for name in OPS_QUERIES}

    def check(self) -> Tuple[int, List[str]]:
        """Every query once, its result compared with its DuckDB oracle.
        Doubles as the warm-up pass."""
        import duckdb

        table_hash = checks.oracle_hasher()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            failed = 0
            notes: List[str] = []
            for name, (fn, sql) in self._queries().items():
                self.spark.catalog.clearCache()
                err = None
                try:
                    got = fn(self.spark, self.sf_dir).toPandas()
                    err = checks.oracle_error(got, con.sql(sql).df(), table_hash)
                except Exception as e:  # a query that fails counts, the run goes on
                    err = f"{type(e).__name__}: {str(e)[:200]}"
                if err:
                    failed += 1
                    notes.append(f"{name}: {err}")
            return failed, notes
        finally:
            con.close()

    def measure(self, seconds: float) -> Tuple[Dict, Dict]:
        with WorkerPeak() as peak:
            failed, notes = self.check()
            qs = self._queries()
            per_query: Dict[str, List[float]] = {n: [] for n in qs}
            pass_s: List[float] = []
            pass_cpu_s: List[float] = []
            while sum(pass_s) < seconds or len(pass_s) < 2:
                total = cpu = 0.0
                for name, (fn, _) in qs.items():
                    self.spark.catalog.clearCache()  # each query pays its own cache fills
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    try:
                        fn(self.spark, self.sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    except Exception as e:
                        failed += 1
                        notes.append(f"{name}: {type(e).__name__}")
                    dt = time.perf_counter() - t0
                    cpu += tree_cpu_s() - c0
                    per_query[name].append(dt)
                    total += dt
                pass_s.append(total)
                pass_cpu_s.append(cpu)
        n_runs = len(pass_s) * len(qs)
        rate = len(qs) / median(pass_s)
        cpu_ms = 1000.0 * median(pass_cpu_s) / len(qs)
        details = {
            "workload": self.name,
            "slots": self.session.n_slots,
            "documents": OPS_DOCS,
            "embeddings": OPS_VECS,
            "passes_s": pass_s,
            "query_median_s": {n: median(v) for n, v in per_query.items()},
            "query_wall_s": {"value": median(pass_s), "unit": "s"},
            "cpu_ms_per_query": {"value": cpu_ms, "unit": "ms"},
            "failed_share": {"value": failed / (n_runs + len(qs)), "unit": "share"},
            "peak_rss_mb": {"value": peak.python_mb, "unit": "MB"},
            "check_notes": notes[:12],
        }
        metrics = {
            "items_per_s": metric(rate, "1/s"),
            "cpu_ms_per_item": metric(cpu_ms, "ms"),
            "peak_rss_mb": metric(peak.python_mb, "MB"),
        }
        return details, result(n_runs + len(qs), failed, metrics)

    def trace(self, names) -> Tuple[Dict, Dict]:
        failed, notes = self.check()
        qt = layers.QueryTrace(self.spark)
        for name, (fn, _) in self._queries().items():
            qt.run(name, fn, self.sf_dir)
        values = qt.metrics(OPS_QUERIES)
        details = {
            "workload": self.name,
            "trace": True,
            "persisted_rdds_per_query": {n: r["persisted_rdds"] for n, r in qt.rows.items()},
            "check_notes": notes,
        }
        return details, result(2 * len(OPS_QUERIES), failed, per_layer(values, names))


SPARK_WORKLOADS = {
    "transcripts_extract": TranscriptsExtract,
    "ops_queries": OpsQueries,
}
