from tapes_spark.functions.normalize import (  # noqa: F401
    TAG_CATALOG,
    CONTENT_BEARING_TAGS,
    strip_harness_tags,
    preview_text,
    normalize_whitespace_py,
    normalize_text_py,
    normalize_whitespace_col,
    normalized_text_col,
    normalize_model_col,
    preview_cap_col,
)
