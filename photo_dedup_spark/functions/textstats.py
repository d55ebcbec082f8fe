"""Text-analysis operators for training-data pipelines.

Beyond the reference's operator set (driver mandate): token counting,
quality scoring, language-ID heuristic, document fingerprinting — each
a pure column-expression with a DuckDB SQL twin (integer outputs only,
so oracle value-hashes are float-free).

All stay JVM-side (no UDFs): split/regexp/array built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens; empty/blank text → empty array."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def token_count_sql(expr: str) -> str:
    t = f"trim({expr})"
    return (
        f"(case when length({t}) = 0 then 0 "
        f"else len(regexp_split_to_array({t}, '\\s+')) end)::bigint"
    )


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens_col(text))).cast("long")


def distinct_token_count_sql(expr: str) -> str:
    t = f"trim({expr})"
    return (
        f"(case when length({t}) = 0 then 0 "
        f"else len(list_distinct(regexp_split_to_array({t}, '\\s+'))) end)::bigint"
    )


def count_matches(text: Column, pattern: str) -> Column:
    """Occurrences of a regex in text (regexp_count)."""
    return F.regexp_count(text, F.lit(pattern)).cast("long")


def count_matches_sql(expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({expr}, '{pattern}'))::bigint"


def quality_counts(text: Column) -> list[Column]:
    """Integer quality-signal columns: length, tokens, punct, digits,
    uppercase letters, max line length, line count."""
    return [
        F.length(text).cast("long").alias("q_len"),
        token_count(text).alias("q_tokens"),
        count_matches(text, r"[^\sA-Za-z0-9]").alias("q_punct"),
        count_matches(text, r"[0-9]").alias("q_digits"),
        count_matches(text, r"[A-Z]").alias("q_upper"),
        F.size(F.split(text, "\n")).cast("long").alias("q_lines"),
    ]


def quality_counts_sql(expr: str) -> list[str]:
    punct_pat = r"[^\sA-Za-z0-9]"
    return [
        f"length({expr})::bigint as q_len",
        f"{token_count_sql(expr)} as q_tokens",
        f"{count_matches_sql(expr, punct_pat)} as q_punct",
        f"{count_matches_sql(expr, '[0-9]')} as q_digits",
        f"{count_matches_sql(expr, '[A-Z]')} as q_upper",
        f"len(string_split({expr}, chr(10)))::bigint as q_lines",
    ]


# tiny stopword tables for the n-gram language heuristic: counts of
# common function words per language family (integer evidence columns;
# the argmax is a CASE, so the whole operator stays SQL-parity-safe)
_LANG_MARKERS = {
    "en": r"(^| )(the|and|of|to|is)( |$)",
    "de": r"(^| )(der|die|das|und|ist)( |$)",
    "es": r"(^| )(el|la|los|que|es)( |$)",
    "fr": r"(^| )(le|la|les|et|est)( |$)",
}


def lang_id_cols(text: Column) -> list[Column]:
    """Marker-hit counts + predicted language (most hits, ties → 'und').

    Overlapping-match caveat: patterns consume their trailing space, so
    back-to-back markers count once — identically in both engines."""
    counts = [
        count_matches(F.lower(text), pat).alias(f"hits_{lang}")
        for lang, pat in _LANG_MARKERS.items()
    ]
    return counts


def lang_id_pred(hit_cols: list[str]) -> Column:
    """argmax over hit columns with deterministic tie-break (column
    order), 'und' when all are zero."""
    best = F.greatest(*[F.col(c) for c in hit_cols])
    expr = F.when(best == 0, F.lit("und"))
    for c in hit_cols:
        expr = expr.when(F.col(c) == best, F.lit(c.split("_", 1)[1]))
    return expr.otherwise(F.lit("und"))


def lang_id_sql(expr: str) -> tuple[list[str], str]:
    cols = [
        f"{count_matches_sql(f'lower({expr})', pat)} as hits_{lang}"
        for lang, pat in _LANG_MARKERS.items()
    ]
    names = [f"hits_{lang}" for lang in _LANG_MARKERS]
    best = f"greatest({', '.join(names)})"
    branches = " ".join(
        f"when hits_{lang} = {best} then '{lang}'" for lang in _LANG_MARKERS
    )
    pred = f"(case when {best} = 0 then 'und' {branches} else 'und' end)"
    return cols, pred


def token_set_fingerprint(text: Column) -> Column:
    """Document fingerprint: sha256 over the sorted distinct token set —
    order/duplication-invariant content identity (the SQL-parity-safe
    stand-in for a rolling-hash winnowing fingerprint; the MinHash
    signature layer covers the sketching role at scale)."""
    toks = F.array_sort(F.array_distinct(tokens_col(text)))
    # separator must equal chr(1) in token_set_fingerprint_sql below --
    # written as the visible escape, never as a raw control byte
    return F.sha2(F.array_join(toks, "\x01"), 256)


def token_set_fingerprint_sql(expr: str) -> str:
    t = f"trim({expr})"
    toks = (
        f"(case when length({t}) = 0 then []::varchar[] "
        f"else list_sort(list_distinct(regexp_split_to_array({t}, '\\s+'))) end)"
    )
    return f"sha256(list_aggregate({toks}, 'string_agg', chr(1)))"


# --- secret / PII scan (training-data hygiene tier) -------------------------
#
# Code-corpus pipelines scan for leaked credentials and contact PII
# before training (no reference analog — photo-dedup never reads
# content semantically; this comes from the training-data mandate).
# Detectors are JVM-side regex counts (whole-stage codegen'd, no UDF)
# restricted to the Java∩RE2 dialect subset so the DuckDB oracle runs
# the IDENTICAL patterns.  Counts, not booleans: a quality gate
# typically thresholds on density (secrets per KB), and redaction
# pipelines want the match count to verify complete masking.

_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_AWS_KEY_PAT = r"AKIA[0-9A-Z]{16}"
_PRIVKEY_PAT = r"-----BEGIN [A-Z ]*PRIVATE KEY-----"
# sha1-and-longer-shaped tokens; unbounded upper so 128-hex sha512
# blobs and concatenated tokens still count (a {40,64} cap matches
# NOTHING for runs past 64 chars — the longest secrets scored zero).
_HEX_SECRET_PAT = r"\b[0-9a-f]{40,}\b"


def secret_scan_cols(text: Column) -> list[Column]:
    """Per-doc detector counts: emails, AWS access-key ids, PEM private
    key headers, long lowercase-hex tokens (sha-shaped credentials)."""
    return [
        count_matches(text, _EMAIL_PAT).alias("n_emails"),
        count_matches(text, _AWS_KEY_PAT).alias("n_aws_keys"),
        count_matches(text, _PRIVKEY_PAT).alias("n_private_keys"),
        count_matches(text, _HEX_SECRET_PAT).alias("n_hex_secrets"),
    ]


def redact_emails(text: Column) -> Column:
    """Mask every email match (the redaction leg of the scan); the
    count column above verifies completeness: redact(text) must re-scan
    to zero."""
    return F.regexp_replace(text, _EMAIL_PAT, "<EMAIL>")
