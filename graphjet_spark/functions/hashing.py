"""THE cross-engine hash: md5-prefix parsed as a BIGINT.

Spark ``conv(substr(md5(s), 1, 15), 16, 10)`` cast to BIGINT is
byte-equal to DuckDB ``('0x' || substr(md5(s), 1, 15))::BIGINT`` —
the one hash both engines share (xxhash64 and pandas hashes are
engine-private), so every deterministic-"random" operator (Luby
priorities, hash walks, WL refinement, minhash shingles, CMS/HLL
sketches, threshold sampling) derives from this single expression and
stays VALUE-oracle-able.  60-bit uniform output (15 hex chars)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_prefix_bigint(col: Column) -> Column:
    """Cross-engine md5-prefix hash of a string column -> BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
