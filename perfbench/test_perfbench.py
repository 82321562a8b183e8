"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

from perfbench import checks, inputs, rich_kernel


def test_transcripts_deterministic_per_seed():
    a = inputs.transcripts_frame(7, 4, batch=2)
    b = inputs.transcripts_frame(7, 4, batch=2)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(inputs.transcripts_frame(8, 4, batch=2))


def test_batches_are_disjoint():
    seen = set()
    for batch in range(inputs.BATCHES_PER_SEED):
        ids = set(inputs.conv_ids(5, 10, batch))
        assert not ids & seen
        seen |= ids
    with pytest.raises(ValueError):
        inputs.conv_ids(5, 10, inputs.BATCHES_PER_SEED)


def test_transcripts_do_not_use_reference_samples():
    df = inputs.transcripts_frame(3, 6)
    mix = inputs.payload_mix(df)
    assert mix["repeated_payload_share"] == 0.0
    assert mix["pdf_share"] + mix["html_share"] + mix["plain_share"] == pytest.approx(1.0)
    # every PDF is a synthetic one whose lines can be read back
    for text in df[df["tool"] == "pdf"]["text"]:
        assert inputs.placed_lines("pdf", text)


def _rich(seed, n):
    return list(itertools.islice(rich_kernel.documents(seed), n))


def test_other_generators_deterministic():
    assert _rich(4, 6) == _rich(4, 6)
    assert _rich(4, 6) != _rich(5, 6)
    pd.testing.assert_frame_equal(
        inputs.documents_frame(4, 50), inputs.documents_frame(4, 50)
    )
    assert inputs.embeddings_table(4, 20).equals(inputs.embeddings_table(4, 20))
    assert not inputs.embeddings_table(4, 20).equals(inputs.embeddings_table(5, 20))


def test_documents_have_the_test_data_shape():
    df = inputs.documents_frame(2, 2000)
    assert df["text"].str.endswith(" dup").sum() == 2000 * inputs.DUP_SHARE
    assert set(" ".join(df["text"]).split()) == set(inputs._VOCAB) | {"dup"}
    originals = df["text"][~df["text"].str.contains("dup")].str.split().str.len()
    assert originals.min() >= 10 and originals.max() <= 99
    assert (df["n_chars"] == df["text"].str.len()).all()


def _flip(s: str, i: int) -> str:
    return s[:i] + ("x" if s[i] != "x" else "y") + s[i + 1 :]


@pytest.fixture(scope="module")
def extracted():
    from pdfminer_six_spark.spark.pipeline import _extract_one

    df = inputs.transcripts_frame(9, 3)
    out = {
        (c, int(t)): _extract_one(tool or "", text, "")[0::2]
        for c, t, tool, text in zip(df["conv_id"], df["turn_idx"], df["tool"], df["text"])
    }
    return df, out


def test_checks_pass_on_real_output(extracted):
    df, out = extracted
    assert checks.check_turns(df, out)[0] == 0
    assert checks.check_against_direct(df, out, sample=len(df))[0] == 0


@pytest.mark.parametrize("tool", ["pdf", "html", ""])
@pytest.mark.parametrize("where", [0, 0.5, -1])
def test_checks_reject_one_character_change(extracted, tool, where):
    df, out = extracted
    row = df[df["tool"] == tool].iloc[0]
    key = (row["conv_id"], int(row["turn_idx"]))
    text, status = out[key]
    i = int(where * len(text)) if where != -1 else len(text) - 1
    bad = dict(out)
    bad[key] = (_flip(text, i), status)
    assert checks.check_turns(df, bad)[0] == 1
    assert checks.check_against_direct(df, bad, sample=len(df))[0] == 1


def test_checks_reject_missing_row_and_bad_status(extracted):
    df, out = extracted
    key = next(iter(out))
    bad = dict(out)
    del bad[key]
    assert checks.check_turns(df, bad)[0] >= 1
    bad = dict(out)
    bad[key] = (out[key][0], "error")
    assert checks.check_turns(df, bad)[0] == 1


def test_oracle_compare_rejects_one_value_change():
    table_hash = checks.oracle_hasher()
    a = pd.DataFrame({"doc_a": [1, 2], "doc_b": [3, 4], "jaccard": [0.75, 0.6]})
    assert checks.oracle_error(a, a.iloc[::-1].reset_index(drop=True), table_hash) is None
    b = a.copy()
    b.loc[1, "doc_b"] = 5
    assert checks.oracle_error(a, b, table_hash) is not None
    assert checks.oracle_error(a, a.iloc[:1], table_hash) is not None


def test_digest_check_counts_changed_documents():
    first = ["a", "b", "c"]
    assert checks.digests_match(first, [(0, "a"), (2, "c")]) == 0
    assert checks.digests_match(first, [(0, "a"), (2, "z")]) == 1
