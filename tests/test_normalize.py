"""N1-N8 normalization unit tests + Spark-vs-naive-oracle equality.

The per-turn text-equality invariant (BASELINE.json input_hint) is gated
here: the Spark plan's normalized text must equal an independently
implemented pure-Python oracle under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from tapes_spark.functions.normalize import (
    CONTENT_BEARING_TAGS,
    normalize_model_py,
    normalize_text_py,
    normalize_whitespace_col,
    normalized_and_preview_cols,
    normalized_text_col,
    preview_text,
    strip_harness_tags,
)
from tests.naive_oracle import naive_normalize, naive_preview, naive_strip


def preview_text_col(c):
    """N4 over a text column (content-bearing tags unwrapped) — the
    single-policy reference for the pipeline's fused two-policy strip.
    The UDF is built here so it pickles by value: Python workers cannot
    import this module."""

    @pandas_udf(StringType())
    def preview_tags(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: strip_harness_tags(s, CONTENT_BEARING_TAGS)
            if s is not None else None
        )

    stripped = F.when(c.contains("<"), preview_tags(c)).otherwise(c)
    return normalize_whitespace_col(stripped)


class TestStripHarnessTags:
    def test_simple(self):
        assert strip_harness_tags("a <status>x</status> b") == "a  b"

    def test_nested_same_tag(self):
        s = "a <status>x <status>y</status> z</status> b"
        assert strip_harness_tags(s) == "a  b"

    def test_nested_different_tags(self):
        s = "a <status>x <summary>y</summary> z</status> b"
        assert strip_harness_tags(s) == "a  b"

    def test_unterminated_swallows_rest(self):
        assert strip_harness_tags("keep <status>rest is gone") == "keep "

    def test_non_catalog_tag_untouched(self):
        assert strip_harness_tags("a <b>bold</b> c") == "a <b>bold</b> c"

    def test_attributes(self):
        assert strip_harness_tags('x <status kind="y">z</status> w') == "x  w"

    def test_preview_unwraps_content_bearing(self):
        s = "ask <session>inner text</session> end"
        assert preview_text(s) == "ask inner text end"
        assert strip_harness_tags(s) == "ask  end"

    def test_preview_nested_keep_inside_drop(self):
        s = "<status>a <session>S</session> b</status> tail"
        assert preview_text(s) == " tail"

    def test_preview_drop_inside_keep(self):
        s = "<session>a <status>x</status> b</session>"
        assert preview_text(s) == "a  b"

    def test_all_19_tags_stripped(self):
        # 19 tags mirroring reference HarnessTags (projection.go:23-56),
        # including local-command-caveat
        from tapes_spark.functions.normalize import TAG_CATALOG

        assert len(TAG_CATALOG) == 19
        assert "local-command-caveat" in TAG_CATALOG
        for tag in TAG_CATALOG:
            assert strip_harness_tags(f"a <{tag}>x</{tag}> b") == "a  b"

    def test_preview_wrapper_tags_match_reference(self):
        # previewWrapperTags (projection.go:181-185) keeps ONLY
        # session / conversation / command-args; command-message is
        # stripped whole
        from tapes_spark.functions.normalize import CONTENT_BEARING_TAGS

        assert CONTENT_BEARING_TAGS == {"session", "conversation",
                                        "command-args"}
        assert preview_text("a <command-message>hidden</command-message> b") \
            == "a  b"


class TestWhitespace:
    def test_crlf_and_collapse(self):
        assert normalize_text_py("a\r\n\r\nb") == "a\nb"

    def test_trailing_line_space(self):
        assert normalize_text_py("a  \nb") == "a\nb"

    def test_trim(self):
        assert normalize_text_py("  a  ") == "a"

    def test_empty_after_strip(self):
        assert normalize_text_py("<system-reminder>only</system-reminder>") == ""


class TestModelNorm:
    def test_cases(self):
        assert normalize_model_py("Claude-Sonnet-4-5-20260203") == "claude-sonnet-4.5"
        assert normalize_model_py("GPT-5-2026-01-10") == "gpt-5"
        assert normalize_model_py("llama-4-70b[1m]") == "llama-4-70b"
        assert normalize_model_py(" qwen-3-coder-20251220 ") == "qwen-3-coder"
        assert normalize_model_py("deepseek-v4") == "deepseek-v4"


# cross-implementation equivalence (engine scanner vs naive regex oracle)
_tag_text = st.text(
    alphabet=st.sampled_from(list("ab <>/-statusumryeion\n\r\t")), max_size=120
)


@given(_tag_text)
@settings(max_examples=300, deadline=None)
def test_strip_equivalence_fuzz(s):
    assert strip_harness_tags(s) == naive_strip(s)


@given(_tag_text)
@settings(max_examples=300, deadline=None)
def test_preview_equivalence_fuzz(s):
    assert strip_harness_tags(s, CONTENT_BEARING_TAGS) == naive_strip(
        s, CONTENT_BEARING_TAGS
    )


def test_spark_normalization_matches_oracle(spark, transcripts):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering;
    the pipeline's fused two-policy strip must equal the single-policy
    columns."""
    fused_norm, fused_preview = normalized_and_preview_cols(F.col("text"))
    got = (
        transcripts.select(
            "conv_id",
            "turn_idx",
            normalized_text_col(F.col("text")).alias("text_norm"),
            preview_text_col(F.col("text")).alias("text_preview"),
            fused_norm.alias("fused_norm"),
            fused_preview.alias("fused_preview"),
        )
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    src = transcripts.select("conv_id", "turn_idx", "text").orderBy(
        "conv_id", "turn_idx"
    ).collect()
    assert len(got) == len(src) > 0
    for g, s in zip(got, src):
        assert (g["conv_id"], g["turn_idx"]) == (s["conv_id"], s["turn_idx"])
        assert g["text_norm"] == naive_normalize(s["text"]), (
            s["conv_id"],
            s["turn_idx"],
        )
        assert g["text_preview"] == naive_preview(s["text"])
        assert (g["fused_norm"], g["fused_preview"]) == (
            g["text_norm"], g["text_preview"]
        )
