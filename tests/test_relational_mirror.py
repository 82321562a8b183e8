"""The relational layout mirrors must agree with the in-UDF kernel:
L1 window-op line grouping over the chars relation == the engine's
LTTextLine segmentation (same predicate, same order)."""

import pandas as pd
import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pdfminer_six_spark.spark.session import build_session

    s = build_session(app_name="relational-test", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tables(spark):
    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas
    from pdfminer_six_spark.spark.pipeline import extract_layout_tables
    from pdfminer_six_spark.spark.session import cache_scope

    df = spark.createDataFrame(
        transcripts_pandas(n_convs=12, use_reference_samples=True)
    )
    with cache_scope():
        t = extract_layout_tables(df)
        return {rel: t[rel].toPandas() for rel in ("chars", "lines", "boxes")}


def test_window_line_grouping_equals_kernel(spark, tables):
    """For horizontal, upright pages the window-op mirror reproduces the
    kernel's line segmentation (counts + per-line char text)."""
    from pdfminer_six_spark.spark.relational import lines_from_chars

    chars = tables["chars"]
    # restrict to pages that are purely horizontal text (the mirror models
    # halign only; vertical/mixed pages take the in-UDF path)
    lines_pdf = tables["lines"]
    vertical_pages = set(
        map(
            tuple,
            lines_pdf[lines_pdf.wmode == "tb-rl"][
                ["conv_id", "turn_idx", "page_id"]
            ].itertuples(index=False),
        )
    )
    key_cols = ["conv_id", "turn_idx", "page_id"]
    chars_h = chars[
        ~chars[key_cols].apply(tuple, axis=1).isin(vertical_pages)
    ]
    assert len(chars_h) > 1000
    mirror = lines_from_chars(spark.createDataFrame(chars_h)).toPandas()
    # the kernel drops whitespace-only lines (is_empty, layout.py:494-495)
    mirror = mirror[mirror.raw_text.str.strip() != ""]

    kernel_lines = lines_pdf[
        ~lines_pdf[key_cols].apply(tuple, axis=1).isin(vertical_pages)
    ]
    # per-page line counts must match
    got = mirror.groupby(key_cols).size().sort_index()
    want = kernel_lines.groupby(key_cols).size().sort_index()
    pd.testing.assert_series_equal(got, want, check_names=False)

    # per-line raw text must match the kernel's line text modulo the
    # virtual LTAnno chars (spaces/newlines) the kernel inserts
    strip = lambda s: s.replace(" ", "").replace("\n", "")
    got_texts = sorted(strip(t) for t in mirror.raw_text)
    want_texts = sorted(strip(t) for t in kernel_lines.text)
    assert got_texts == want_texts


def test_neighbor_pairs_nonempty(spark, tables):
    from pdfminer_six_spark.spark.relational import neighbor_pairs

    lines = spark.createDataFrame(tables["lines"])
    pairs = neighbor_pairs(lines).toPandas()
    assert len(pairs) > 0
    # the tolerance scales with the PROBE line's height (reference
    # layout.py:525: d = ratio*self.height), so the relation is NOT
    # symmetric in general; sanity: no self-pairs, keys resolve
    assert (pairs.line_a != pairs.line_b).all()
    line_keys = set(
        map(tuple, tables["lines"][["conv_id", "turn_idx", "page_id",
                                    "line_id"]].itertuples(index=False))
    )
    for r in pairs.head(50).itertuples(index=False):
        assert (r.conv_id, r.turn_idx, r.page_id, r.line_a) in line_keys


def test_words_from_chars(spark, tables):
    from pdfminer_six_spark.spark.relational import words_from_chars

    chars = spark.createDataFrame(tables["chars"])
    words = words_from_chars(chars).toPandas()
    assert len(words) > 100
    assert (words.word.str.len() > 0).all()
