"""F1-F6: native validation predicates (SURVEY §2.2).

These are the reference's admission checks re-expressed as Catalyst
column predicates so they participate in predicate pushdown / whole-stage
codegen. In the main pipeline the same checks are fused into the parse
UDF's short-circuit path (one scan); these standalone predicates serve
the oracle-checked queries() entries that demonstrate a check in
isolation (F3, F4).

Reference: method filter handlers/handler_common.go:15-18 (F1),
content-type prefix :21-26 (F2), 10 MB cap :28-31 (F3), empty body
:37-41 (F4), envelope presence database/*.go:17-25 (F5), required
fields database/traces.go:92-100 / database/metrics.go:97-100 (F6).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def non_empty_text(col: str = "text") -> Column:
    """F4: reject empty/whitespace bodies (400)."""
    return F.col(col).isNotNull() & (F.trim(F.col(col)) != "")


def within_size_limit(max_bytes: int, col: str = "text") -> Column:
    """F3: DoS guard, byte length (octet_length ≙ MaxBytesReader cap)."""
    return F.octet_length(F.col(col)) <= F.lit(max_bytes)
