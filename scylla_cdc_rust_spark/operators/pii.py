"""PII scrubbing for training corpora — the redaction pass every
production dataset runs before tokenization (emails, bare IPv4
addresses, long account-number digit runs → typed placeholder tokens).

Scale shape: chained ``regexp_replace`` / ``regexp_count`` column
expressions — pure map-side, whole-stage-codegen, zero shuffle, stacks
directly on the scan like the quality and repetition filters.  The
regex subset used (character classes, non-capturing groups, bounded
repetition, ``\\b`` word boundaries) behaves identically under Java's
regex engine and RE2, so the operator is DuckDB-oracle-checkable.

Classes are scrubbed SEQUENTIALLY (emails, then IPs, then digit runs)
and each class is counted on the text as it looked when that class was
scrubbed — the well-defined semantics when classes overlap (an email
with a 9-digit local part is one email, not also an account number).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
LONGNUM_RE = r"\b[0-9]{9,}\b"

#: (column-suffix, pattern, placeholder) — applied in order
PII_CLASSES = (
    ("emails", EMAIL_RE, "<EMAIL>"),
    ("ips", IPV4_RE, "<IP>"),
    ("longnums", LONGNUM_RE, "<NUM>"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Scrub ``text_col`` (in place by default) and attach per-class
    match counts ``n_emails`` / ``n_ips`` / ``n_longnums``.

    When scrubbing in place the output keeps the input's column order
    (downstream positional consumers see the same schema); a
    pre-existing count column raises instead of silently duplicating."""
    out_col = out_col or text_col
    c = F.col(text_col)
    counts = []
    for name, pat, tok in PII_CLASSES:
        if f"n_{name}" in df.columns:
            raise ValueError(
                f"input already has a column 'n_{name}'; rename it before "
                "pii_scrub (refusing to emit a duplicate column name)"
            )
        counts.append(F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}"))
        c = F.regexp_replace(c, pat, tok)
    passthrough = [
        c.alias(out_col) if x == out_col else F.col(x) for x in df.columns
    ]
    if out_col not in df.columns:
        passthrough.append(c.alias(out_col))
    return df.select(*passthrough, *counts)
