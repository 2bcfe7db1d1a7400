"""Text normalization — the per-turn text-equality invariant.

Rebuilds the reference's projection layer (SURVEY.md §2.3; tapes
pkg/merkle/projection.go):

  N1  harness-tag stripping — remove every ``<tag>…</tag>`` span for the
      cataloged tags (projection.go:23-56, 246-263).  Tags can nest, and an
      unterminated open tag swallows the rest of the string, so a single
      regex pass is insufficient — this is the one place the pipeline uses a
      vectorized pandas UDF (Arrow-batched; never per-row Python UDFs).
  N2  whitespace normalization — CRLF→LF, strip trailing line space,
      collapse >=2 newlines to 1, trim (projection.go:265-282).  Pure native
      ``regexp_replace`` chain (JVM-side, whole-stage codegen).
  N4  PreviewText — like N1 but content-bearing tags are UNWRAPPED (inner
      text kept) for human-facing previews (projection.go:181-234).
  N6  model-name normalization (pkg/sessions/pricing.go:137-196) — the
      enrichment-join key prep.  Pure native.
  N8  UTF-8-safe preview truncation (spans.go:1192-1201) — Spark ``substr``
      is codepoint-based, so a plain substring is already rune-safe.

Scale notes: the pandas UDF only runs on rows whose text can possibly
contain a tag (cheap native ``contains('<')`` pre-filter via ``when``);
everything else stays inside whole-stage codegen.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

# The 19-tag catalog (reference projection.go:23-56).  `command-*` and
# `local-command-*` families are enumerated explicitly.
TAG_CATALOG: tuple[str, ...] = (
    "system-reminder",
    "command-name",
    "command-message",
    "command-args",
    "local-command-stdout",
    "local-command-stderr",
    "local-command-caveat",
    "session",
    "conversation",
    "new-diagnostics",
    "task-notification",
    "status",
    "summary",
    "transcript",
    "event",
    "tool-use-id",
    "output-file",
    "task-id",
    "environment_context",
)

# Tags whose inner text is kept (unwrapped) by PreviewText
# (projection.go:181-234 keeps session / conversation / command-args).
CONTENT_BEARING_TAGS: frozenset[str] = frozenset(
    {"session", "conversation", "command-args"}
)

_OPEN_RE = re.compile(
    r"<(" + "|".join(re.escape(t) for t in TAG_CATALOG) + r")(?:\s[^>]*)?>"
)

_CRLF_RE = re.compile(r"\r\n")
_TRAIL_WS_RE = re.compile(r"[ \t]+\n")
_MULTI_NL_RE = re.compile(r"\n{2,}")


def _find_close(s: str, tag: str, start: int) -> int:
    """Index just past the matching ``</tag>`` for an open at *start*,
    counting nested same-tag opens; -1 if unterminated."""
    open_pat = re.compile(r"<" + re.escape(tag) + r"(?:\s[^>]*)?>")
    close_lit = "</" + tag + ">"
    depth = 1
    pos = start
    while depth > 0:
        nxt_close = s.find(close_lit, pos)
        if nxt_close == -1:
            return -1
        m = open_pat.search(s, pos, nxt_close)
        if m:
            depth += 1
            pos = m.end()
        else:
            depth -= 1
            pos = nxt_close + len(close_lit)
    return pos


def strip_harness_tags(s: str, keep_content: frozenset[str] = frozenset()) -> str:
    """N1: remove every cataloged ``<tag>…</tag>`` span (nesting-aware).

    An unterminated open tag swallows the rest of the string
    (projection.go:246-263).  Tags in *keep_content* are unwrapped
    instead of removed (the PreviewText policy, projection.go:181-234).
    """
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        m = _OPEN_RE.search(s, i)
        if m is None:
            out.append(s[i:])
            break
        out.append(s[i : m.start()])
        tag = m.group(1)
        end = _find_close(s, tag, m.end())
        if end == -1:
            # unterminated: swallow the rest
            if tag in keep_content:
                out.append(strip_harness_tags(s[m.end() :], keep_content))
            break
        if tag in keep_content:
            inner = s[m.end() : end - len(tag) - 3]
            out.append(strip_harness_tags(inner, keep_content))
        i = end
    return "".join(out)


def preview_text(s: str) -> str:
    """N4: strip tags but keep inner text of content-bearing tags."""
    return strip_harness_tags(s, CONTENT_BEARING_TAGS)


def normalize_whitespace_py(s: str) -> str:
    """N2 (pure-python mirror of the native column chain)."""
    s = _CRLF_RE.sub("\n", s)
    s = _TRAIL_WS_RE.sub("\n", s)
    s = _MULTI_NL_RE.sub("\n", s)
    return s.strip(" \t\r\n")


def normalize_text_py(s: str) -> str:
    """N1+N2 composition — the ProjectContent text path (N3 core)."""
    return normalize_whitespace_py(strip_harness_tags(s))


# NOTE: return types are DataType objects, not DDL strings — a DDL string
# would be parsed lazily and fail when the module is imported inside a Python
# worker where no SparkSession exists.
@pandas_udf(StringType())
def _strip_tags_udf(texts: pd.Series) -> pd.Series:
    # Arrow-batched; only invoked on rows that might contain a tag.
    return texts.map(lambda s: strip_harness_tags(s) if s is not None else None)


_STRIP_BOTH_TYPE = StructType(
    [
        StructField("stripped", StringType()),
        StructField("preview", StringType()),
    ]
)


@pandas_udf(_STRIP_BOTH_TYPE)
def _strip_both_udf(texts: pd.Series) -> pd.DataFrame:
    """Both tag-strip policies in ONE Arrow round-trip (the pipeline needs
    text_norm and text_preview for every row; two separate UDF columns
    would ship the text to Python twice)."""
    stripped = []
    preview = []
    for s in texts:
        if s is None:
            stripped.append(None)
            preview.append(None)
        elif "<" not in s:
            stripped.append(s)
            preview.append(s)
        else:
            stripped.append(strip_harness_tags(s))
            preview.append(strip_harness_tags(s, CONTENT_BEARING_TAGS))
    return pd.DataFrame({"stripped": stripped, "preview": preview})


def normalize_whitespace_col(c: Column) -> Column:
    """N2 as a native JVM expression chain (whole-stage codegen).

    ONE gate around the whole replace chain (<10% of real turns carry
    CRLF / blank-line drift).  Gating each step individually nests the
    previous step's expression into every condition — the tree grows
    exponentially and falls out of whole-stage codegen; keep conditions
    on the RAW column only.  The final trim is `btrim` with an explicit
    charset (Spark's `trim` strips only 0x20 spaces; btrim matches python
    str.strip(" \\t\\r\\n")).
    """
    needs = (
        c.contains("\r")
        | c.contains("\n\n")
        | c.contains(" \n")
        | c.contains("\t\n")
    )
    chain = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(c, r"\r\n", "\n"), r"[ \t]+\n", "\n"),
        r"\n{2,}",
        "\n",
    )
    return F.btrim(F.when(needs, chain).otherwise(c), F.lit(" \t\r\n"))


# A row can only need the pandas-UDF path if it contains "<" at all —
# the common (tagless) case stays fully JVM-side.
def _maybe_tagged(c: Column) -> Column:
    return c.contains("<")


def normalized_text_col(c: Column) -> Column:
    """N1+N2 over a text column: tag-strip (UDF, gated) + native whitespace."""
    stripped = F.when(_maybe_tagged(c), _strip_tags_udf(c)).otherwise(c)
    return normalize_whitespace_col(stripped)


def normalized_and_preview_cols(c: Column) -> tuple[Column, Column]:
    """Both N1+N2 and N4 from ONE pandas-UDF pass (struct-returning UDF,
    gated on the native contains('<') pre-filter).  Use this in the
    pipeline hot path; :func:`normalized_text_col` serves callers that
    need only N1+N2."""
    both = F.when(
        _maybe_tagged(c), _strip_both_udf(c)
    ).otherwise(F.struct(c.alias("stripped"), c.alias("preview")))
    return (
        normalize_whitespace_col(both["stripped"]),
        normalize_whitespace_col(both["preview"]),
    )


def normalize_model_col(c: Column) -> Column:
    """N6: model-name normalization (pricing.go:137-196).

    lowercase, trim, strip ``[1m]``, strip ``-YYYYMMDD`` / ``-YYYY-MM-DD``
    date suffixes, rewrite trailing ``-D-D`` to ``-D.D``.
    """
    c = F.lower(F.trim(c))
    # literal replace — no regex matcher for a fixed substring
    c = F.replace(c, F.lit("[1m]"), F.lit(""))
    c = F.regexp_replace(c, r"-\d{8}$", "")
    c = F.regexp_replace(c, r"-\d{4}-\d{2}-\d{2}$", "")
    c = F.regexp_replace(c, r"-(\d+)-(\d+)$", r"-$1.$2")
    return c


def normalize_model_py(s: str) -> str:
    """Pure-python mirror of :func:`normalize_model_col`."""
    s = s.strip().lower()
    s = s.replace("[1m]", "")
    s = re.sub(r"-\d{8}$", "", s)
    s = re.sub(r"-\d{4}-\d{2}-\d{2}$", "", s)
    s = re.sub(r"-(\d+)-(\d+)$", r"-\1.\2", s)
    return s


def preview_cap_col(c: Column, max_chars: int = 120) -> Column:
    """N8: codepoint-safe preview cap (Spark substr is codepoint-based,
    mirroring the reference's rune-boundary truncation, spans.go:1192-1201)."""
    return F.substring(c, 1, max_chars)
