"""Portable deterministic hashing expressions.

Everything here is built on ``md5``/``sha1``/``sha2`` instead of Spark's
``hash()``/``xxhash64`` because the correctness oracle (DuckDB) must be able
to reproduce every value bit-for-bit: ``md5(s)`` returns the identical hex
string in Spark SQL and DuckDB, so any derived integer/sample/minhash agrees
across engines.  (Spark's ``hash`` is Murmur3 with Spark-specific seeding —
not portable.)

Reference parity:
- seeded random scoring (seed 12345678910) — /root/reference/queries.py:96-103.
  Spark's ``rand(seed)`` is partitioning-dependent, so seeded sampling here is
  derived from ``md5(key || seed)`` instead: stable under any repartitioning
  (SURVEY.md §7.3 "Seeded randomness").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex chars = 60 bits: always fits a signed BIGINT in both engines.
_HEX_PREFIX_LEN = 15

#: The reference's sampling seed, queries.py:99,267.
DEFAULT_SEED = 12345678910


def md5_i64(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative bigint (portable to DuckDB via
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, _HEX_PREFIX_LEN), 16, 10).cast("bigint")


def md5_i64_sql(expr: str) -> str:
    """Spark-SQL text form of :func:`md5_i64`."""
    return f"CAST(conv(substring(md5({expr}), 1, {_HEX_PREFIX_LEN}), 16, 10) AS BIGINT)"


def md5_i64_duckdb(expr: str) -> str:
    """DuckDB text form of :func:`md5_i64` (same value)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {_HEX_PREFIX_LEN})) AS BIGINT)"


def seeded_unit(col: Column | str, seed: int = DEFAULT_SEED) -> Column:
    """Deterministic pseudo-uniform in [0, 1) keyed by (value, seed).

    Partitioning-invariant replacement for ``rand(seed)`` /
    ES ``random_score`` (queries.py:96-103).
    """
    c = F.col(col) if isinstance(col, str) else col
    denom = float(1 << 60)
    return md5_i64(F.concat(c.cast("string"), F.lit(f"#{seed}"))) / F.lit(denom)


def seeded_unit_duckdb(expr: str, seed: int = DEFAULT_SEED) -> str:
    keyed = f"CAST(({expr}) AS VARCHAR) || '#{seed}'"
    return f"{md5_i64_duckdb(keyed)} / 1152921504606846976.0"


def ent_id(fine_type: Column, canonical: Column) -> Column:
    """Canonical entity id: deterministic from (fine_type, canonical surface)."""
    return F.concat(F.lit("ent_"), F.sha1(F.concat_ws("|", fine_type, canonical)))
