"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
rows and bytes.  The program under test only ever sees the generated inputs.
"""

from __future__ import annotations

import base64
import random
import re
import zlib
from typing import Dict, List, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The transcript generator stamps conversation `ci` with an offset of `ci`
# hours, so conversation ids must stay below ~6*10^7: seeds fold modulo
# SEED_FOLD and each seed owns BATCHES_PER_SEED disjoint batches.
SEED_FOLD = 1000
BATCHES_PER_SEED = 64
CONVS_PER_FILE = 10  # the file granularity `transcripts_df` writes


def conv_ids(seed: int, n_convs: int, batch: int = 0) -> range:
    """The conversation-id range a seed (and batch) selects."""
    if not 0 <= batch < BATCHES_PER_SEED:
        raise ValueError(f"batch {batch} outside 0..{BATCHES_PER_SEED - 1}")
    start = ((seed % SEED_FOLD) * BATCHES_PER_SEED + batch) * n_convs
    return range(start, start + n_convs)


def transcripts_frame(seed: int, n_convs: int, batch: int = 0) -> pd.DataFrame:
    """The `bench.py` transcript mix over the conversation ids that the seed
    and batch select: disjoint batches never share a conversation.

    Reference sample PDFs are switched off explicitly, so the input never
    depends on files outside the repository."""
    from pdfminer_six_spark.datagen.transcripts import (
        TRANSCRIPTS_COLUMNS,
        _conv_rows,
    )

    rows: List[tuple] = []
    for ci in conv_ids(seed, n_convs, batch):
        rows.extend(_conv_rows(ci, use_reference_samples=False))
    df = pd.DataFrame(rows, columns=TRANSCRIPTS_COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def stage_transcripts(df: pd.DataFrame, out_dir: str) -> int:
    """Write the frame as parquet, one file per CONVS_PER_FILE conversations
    (the layout `transcripts_df` produces).  Returns the file count."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    convs = df["conv_id"].drop_duplicates().tolist()
    n = 0
    for i in range(0, len(convs), CONVS_PER_FILE):
        part = df[df["conv_id"].isin(convs[i : i + CONVS_PER_FILE])]
        table = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{n:05d}.parquet"))
        n += 1
    return n


_TJ = re.compile(rb"\(((?:[^()\\]|\\.)*)\) Tj")
_STREAM = re.compile(rb"stream\n(.*?)\nendstream", re.S)
_P = re.compile(r"<p>(.*?)</p>", re.S)


def _unescape_pdf_string(s: bytes) -> str:
    return re.sub(rb"\\(.)", rb"\1", s).decode("cp1252")


def placed_lines(tool: str, text: str) -> List[str]:
    """The text lines the generator placed in one turn, in order, read back
    from the payload itself (PDF content streams or HTML <p> elements)."""
    if tool == "pdf":
        lines: List[str] = []
        for raw in _STREAM.findall(base64.b85decode(text)):
            try:
                stream = zlib.decompress(raw)
            except zlib.error:
                stream = raw
            lines.extend(_unescape_pdf_string(m) for m in _TJ.findall(stream))
        return lines
    if tool == "html":
        return _P.findall(text)
    return [text]


def pdf_pages(text: str) -> int:
    return base64.b85decode(text).count(b"/Type /Page ")


def payload_mix(df: pd.DataFrame) -> Dict[str, float]:
    """Measured shares of the staged input: tools, pages per PDF and the
    share of turns whose (tool, payload) repeats an earlier turn."""
    n = len(df)
    tools = df["tool"].fillna("")
    pdf = df[tools == "pdf"]["text"]
    pages = [pdf_pages(t) for t in pdf]
    dup = df.duplicated(subset=["tool", "text"]).sum()
    return {
        "turns": n,
        "pdf_share": round(float((tools == "pdf").mean()), 4),
        "html_share": round(float((tools == "html").mean()), 4),
        "plain_share": round(float((tools == "").mean()), 4),
        "pdf_pages_mean": round(float(np.mean(pages)), 4) if pages else 0.0,
        "pdf_pages_max": int(max(pages)) if pages else 0,
        "repeated_payload_share": round(float(dup) / max(n, 1), 4),
    }


# The documents and embeddings tables the ops queries read, shaped like the
# repository's sf0.1 test data as measured there: documents (doc_id, text,
# lang, source, n_chars) are 10-99 words drawn uniformly from a 30-word
# vocabulary; 5% of them are overwritten with another document's text plus
# the word "dup" (in random order, so a copy can be copied again or lose its
# source), which puts near-duplicate pairs at word-3-gram Jaccard 0.8-1.0,
# median ~0.98; lang is 40% en and 15% each zh/es/fr/de; source cycles over
# twenty values.  Embeddings are random unit vectors with random labels.
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05


def documents_frame(seed: int, n_docs: int) -> pd.DataFrame:
    rng = random.Random(f"documents-{seed}")
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(10, 100)))
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), int(n_docs * DUP_SHARE)):
        src = rng.randrange(n_docs - 1)
        texts[i] = texts[src + (src >= i)] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choices(_LANGS, _LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    """Random unit-norm float32 vectors with random labels 0-9."""
    rs = np.random.default_rng([abs(seed), 64])
    vecs = rs.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rs.integers(0, 10, size=n_vecs).astype(np.int32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_ops_tables(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """The `documents` and `embeddings` tables the ops queries read."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    docs = pa.Table.from_pandas(documents_frame(seed, n_docs), preserve_index=False)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(
        embeddings_table(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet")
    )


def digest(texts: Sequence[str]) -> str:
    import hashlib

    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return h.hexdigest()
