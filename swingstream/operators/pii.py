"""PII redaction — scrub emails, phone numbers, and IPv4 addresses from
crawl text before it enters a training mix, with per-document counts
for pipeline telemetry.

No reference-repo twin exists (mount empty; the reference is a network-
inference tool) — the semantics follow published curation practice
(Dolma's PII tagger redacts emails/phones/IPs with typed placeholder
tokens; C4/RefinedWeb drop or mask the same classes), re-expressed as a
pure Catalyst plan:

* detection + replacement are JVM-side ``regexp_count`` /
  ``regexp_replace`` chains — no Python touches the hot path, the text
  column never shuffles, and the whole stage is a narrow map
  (embarrassingly parallel at 10^12 rows: zero exchanges, the scan's
  partitioning is preserved end-to-end);
* counts are taken on the ORIGINAL text, replacements applied in a
  fixed order (email → phone → ipv4), so the operator is a pure
  function of the input text regardless of pattern overlap;
* placeholders are idempotence-safe: no placeholder matches any of the
  patterns, so re-redacting already-redacted text is a no-op (pinned
  by test — an at-least-once upstream can safely re-run the stage);
* patterns are restricted to the regex dialect intersection of Java
  (Spark) and RE2 (the DuckDB oracle): character classes, bounded
  repetition, ``\\b`` word boundaries, non-capturing groups — no
  backreferences or lookaround, so both engines match identically and
  the driver's oracle replays the redaction byte-for-byte.

Scale note: at web scale the regex set grows (IBANs, SSNs, street
addresses) and precision work moves to a model-based tagger; this
operator is the regex tier — add patterns to ``PII_PATTERNS`` and the
plan shape (narrow map, no exchange) is unchanged.

Relationship to ``textquality.pii_scrub``: that is the legacy
email+phone form embedded in the streaming admission gate (its
``<EMAIL>``/``<PHONE>`` placeholders and output schema are pinned by
the q_docs_textquality oracle); it delegates to this module's
``count_matches``/``redact`` helpers so there is ONE regex engine.
This module is the canonical standalone redaction surface (adds IPv4,
fixed-order counts-on-original semantics and idempotence-safe
placeholders).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (kind, pattern, placeholder) — pattern must mean the same thing in
# Java regex and RE2 (see module docstring).  Order is the application
# order for replacement; counts are always on the original text.
PII_PATTERNS: list[tuple[str, str, str]] = [
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "|||EMAIL|||",
    ),
    (
        "phone",
        r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
        "|||PHONE|||",
    ),
    (
        "ipv4",
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "|||IP|||",
    ),
]


def count_matches(text: Column, pattern: str) -> Column:
    """BIGINT occurrence count of ``pattern`` in ``text`` — the shared
    counting primitive (JVM ``regexp_count``)."""
    return F.regexp_count(text, F.lit(pattern)).cast("long")


def redact(text: Column, replacements: Sequence[tuple[str, str]]) -> Column:
    """``text`` with each (pattern, placeholder) applied in order — the
    shared replacement chain (JVM ``regexp_replace``)."""
    out = text
    for pat, placeholder in replacements:
        out = F.regexp_replace(out, pat, placeholder)
    return out


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "phone", "ipv4"),
) -> DataFrame:
    """Input columns with ``text_col`` redacted in place plus one BIGINT
    ``n_<kind>`` count per requested kind (counted on the original
    text).  Pure narrow map — no shuffle, no Python."""
    active = [p for p in PII_PATTERNS if p[0] in kinds]
    if len(active) != len(kinds):
        unknown = set(kinds) - {k for k, _, _ in PII_PATTERNS}
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    out = docs
    # counts first (original text), then the replacement chain
    for kind, pat, _ in active:
        out = out.withColumn(f"n_{kind}", count_matches(F.col(text_col), pat))
    return out.withColumn(
        text_col,
        redact(F.col(text_col), [(p, ph) for _, p, ph in active]),
    )
