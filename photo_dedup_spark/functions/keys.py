"""Exact-duplicate key columns (the reference's hash layer, Spark-side).

Reference operators reproduced here (SURVEY.md §2.3):
  H1 ``get_file_md5``          -> sha2(content, 256)        (hasher.py:54-63)
  H2 ``get_file_partial_md5``  -> head+len+tail staged key  (hasher.py:66-92)
  H3 ``get_pixel_hash``        -> sha2(normalize(content))  (hasher.py:95-154)
  H4 ``compute_hash`` dispatch -> key_kind column           (hasher.py:157-172)

All pure built-in expressions — JVM-side, whole-stage codegen, no UDF.
Each has a DuckDB SQL twin (suffix ``_sql``) used by the oracle gate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from photo_dedup_spark.functions.normalize import normalize_col, normalize_py, normalize_sql

# Partial-key chunk: the reference hashes head 64 KiB + size + tail 64 KiB
# for large files and the whole content for small ones (hasher.py:66-92).
PARTIAL_CHUNK = 65536


def exact_key_col(content: Column) -> Column:
    """Raw-content key: per-row sha256 invariant (BASELINE.json input_hint)."""
    return F.sha2(content, 256)


def exact_key_sql(expr: str) -> str:
    return f"sha256({expr})"


def norm_key_col(content: Column) -> Column:
    """Normalized-content key — the pixel-hash analog (hasher.py:95-154)."""
    return F.sha2(normalize_col(content), 256)


def norm_key_sql(expr: str) -> str:
    return f"sha256({normalize_sql(expr)})"


def partial_key_col(content: Column) -> Column:
    """Cheap staged prefilter key (hasher.py:66-92): files ≤ 2*CHUNK hash
    fully; larger ones hash head + length + tail.  Only (size, partial)
    collisions proceed to the full key — same staging the reference
    proves with call-count tests (test_core.py:1590-1620)."""
    n = F.length(content)
    small = F.sha2(content, 256)
    big = F.sha2(
        F.concat_ws(
            ":",
            F.substring(content, 1, PARTIAL_CHUNK),
            n.cast("string"),
            content.substr(n - PARTIAL_CHUNK + 1, F.lit(PARTIAL_CHUNK)),
        ),
        256,
    )
    return F.when(n <= 2 * PARTIAL_CHUNK, small).otherwise(big)


def partial_key_sql(expr: str) -> str:
    n = f"length({expr})"
    head = f"substr({expr}, 1, {PARTIAL_CHUNK})"
    tail = f"substr({expr}, {n} - {PARTIAL_CHUNK} + 1, {PARTIAL_CHUNK})"
    big = f"sha256(concat_ws(':', {head}, cast({n} as varchar), {tail}))"
    return f"case when {n} <= {2 * PARTIAL_CHUNK} then sha256({expr}) else {big} end"


def key_kind_col(lang: Column, normalize_langs: tuple[str, ...]) -> Column:
    """H4 dispatch kind (hasher.py:157-172): 'NORM' when the row's lang
    is keyed on normalized content (the ``use_pixel and ext in
    IMAGE_EXTENSIONS`` branch), else 'RAW' — the ``FILE:`` prefix
    analog; the prefix is load-bearing in the reference
    (scanner.py:553 strict-verify targets FILE-kind groups only)."""
    return F.when(lang.isin(*normalize_langs), F.lit("NORM")).otherwise(F.lit("RAW"))


def key_kind_sql(lang_expr: str, normalize_langs: tuple[str, ...]) -> str:
    langs = ", ".join(f"'{x}'" for x in normalize_langs)
    return f"(case when {lang_expr} in ({langs}) then 'NORM' else 'RAW' end)"


def dispatch_key_col(
    lang: Column, content: Column, normalize_langs: tuple[str, ...]
) -> Column:
    """H4 ``compute_hash`` dispatch: normalized key for *normalize_langs*
    rows, raw key otherwise — one conditional column, both branches
    codegen'd."""
    return F.when(
        lang.isin(*normalize_langs), norm_key_col(content)
    ).otherwise(exact_key_col(content))


def dispatch_key_sql(
    lang_expr: str, content_expr: str, normalize_langs: tuple[str, ...]
) -> str:
    langs = ", ".join(f"'{x}'" for x in normalize_langs)
    return (
        f"(case when {lang_expr} in ({langs}) then {norm_key_sql(content_expr)} "
        f"else {exact_key_sql(content_expr)} end)"
    )


# --- pure-Python twins (sequential oracle / unit tests) ---

def exact_key_py(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def norm_key_py(text: str) -> str:
    return exact_key_py(normalize_py(text))
