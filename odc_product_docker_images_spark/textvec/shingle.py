"""Shared k-word shingle expression (SURVEY.md §2.10 X2).

Lives in its own non-registering module so every consumer (the dedup
family, the pairwise near-dup closures, curation's repetition scoring)
can import it without triggering another module's query-key registrations
— registration ORDER is load-bearing for the driver's grading window
(see registry._MODULES).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _shingles(col: str = "text", k: int = 3, distinct: bool = True) -> F.Column:
    """k-word shingles as an array column (pure exprs); ``distinct=False``
    keeps positional duplicates (intra-doc repetition scoring needs them).

    Tokens are the fields of ``split(col, " ")`` (empty fields included),
    and shingle i joins tokens i..i+k-1 with single spaces — which is the
    text itself from token i's start to token i+k-1's end.  So one regex
    pass extracts them all: a zero-width match at every token start (the
    text's start or just after a space) that is followed by k tokens,
    capturing those k tokens as written.  ``regexp_extract_all`` runs as
    generated code; the per-position ``transform`` of ``concat_ws`` over
    ``element_at`` it replaced is an interpreted higher-order function
    (5,000 documents on 4 vCPUs, with the hash of each shingle: 1.37 s →
    0.23 s)."""
    # a positive lookbehind: the negated class (?<![^ ]) also matches
    # between the two halves of a surrogate pair (an emoji)
    token_start_then_k = rf"(?<=^| )(?=([^ ]*(?: [^ ]*){{{k - 1}}}))"
    make = F.coalesce(
        F.regexp_extract_all(F.col(col), F.lit(token_start_then_k), 1),
        F.array().cast("array<string>"),  # null text: no shingles
    )
    return F.array_distinct(make) if distinct else make
