"""Label anonymization (X4) — ``ANON_CLIENT {i}`` replacement.

Reference semantics (reference/anonymize_datasets.py:86-110), applied
per label column over the *sorted global distinct* label list:

  * singleton universe: exact match → ``ANON_CLIENT`` (no number);
    word-boundary case-insensitive substring → substitute the label.
  * multi-label universe: exact match of the i-th sorted label
    (1-based) → ``ANON_CLIENT {i}``; otherwise, if the FIRST sorted
    label appears as a word substring → substitute it with
    ``ANON_CLIENT 1``; otherwise pass through. (The reference's loop
    tests ``list_items[0]`` instead of ``item`` on the substring
    branch — SURVEY.md Q1. That bug is replicated for golden parity.)

Everything here is JVM-side: the exact path is a literal map lookup
and the substring path is ``rlike``/``regexp_replace`` — no Python in
the row loop. Only the label *universe* (a dimension) is collected.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def label_universe(df: DataFrame, col: str) -> list[str]:
    """A3 — sorted distinct non-null labels (driver-side; label
    universes are dimension-sized by definition — do not call this on
    a high-cardinality column, use uid pseudonymization instead)."""
    rows = df.select(col).distinct().collect()
    return sorted(r[0] for r in rows if r[0] is not None)


def _word_pattern(label: str) -> str:
    # (?i)\b{label}\b — same pattern the reference builds; re.escape
    # produces Java-regex-compatible escapes for string labels.
    return rf"(?i)\b{re.escape(label)}\b"


def anonymize_label_column(col: str, labels: list[str]) -> Column:
    """Build the replacement expression for one label column."""
    labels = sorted(labels)
    c = F.col(col)
    if not labels:
        return c

    if len(labels) == 1:
        p0 = _word_pattern(labels[0])
        return (
            F.when(c == F.lit(labels[0]), F.lit("ANON_CLIENT"))
            .when(c.rlike(p0), F.regexp_replace(c, p0, "ANON_CLIENT"))
            .otherwise(c)
        )

    # Branch ORDER matters and must mirror the reference's loop: the
    # substring test runs inside iteration 1, so it can shadow exact
    # matches of LATER labels (e.g. universe ['Acme','Acme Corp']:
    # x='Acme Corp' hits the \bAcme\b substring branch, not its own
    # exact entry). A when-chain reproduces that precedence exactly.
    # Universe size is dimension-scale (collected), so the chain stays
    # small; huge-cardinality identifier columns belong in the uid
    # pseudonymization path instead.
    # Q1 bug-faithful: only the FIRST sorted label is ever tested/
    # substituted on the substring branch, tagged index 1.
    p0 = _word_pattern(labels[0])
    chain = F.when(c == F.lit(labels[0]), F.lit("ANON_CLIENT 1")).when(
        c.rlike(p0), F.regexp_replace(c, p0, "ANON_CLIENT 1")
    )
    for i, label in enumerate(labels[1:], start=2):
        chain = chain.when(c == F.lit(label), F.lit(f"ANON_CLIENT {i}"))
    return chain.otherwise(c)
