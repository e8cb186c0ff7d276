"""Engine-portable hash expressions, one SQL text per hash for Spark and DuckDB.

``knuth32_sql`` is Knuth's multiplicative hash ``(x * 2654435761) mod 2^32``
in a form that never overflows BIGINT.

The md5 slices are one definition of the Spark/DuckDB twin pair used
across the dedup / selection family (winnowing, DSIR, streaming LSH;
textops3's Bloom filter predates this helper and keeps its local copy): a
4-hex-digit slice of md5(x) at 1-based offset ``off``, decoded to a BIGINT
in [0, 65536).  The two spellings are value-identical because md5 hex
output is identical in both engines and both decodes are plain base-16
positional arithmetic.
"""

from __future__ import annotations


def spark_md5_slice(col: str, off: int = 1) -> str:
    """Spark SQL: 16-bit integer from md5(col) hex digits [off, off+3]."""
    return f"CAST(conv(substring(md5({col}), {off}, 4), 16, 10) AS BIGINT)"


def duck_md5_slice(col: str, off: int = 1) -> str:
    """DuckDB SQL twin of :func:`spark_md5_slice` (digit-by-digit strpos)."""
    digit = (
        lambda p: f"(strpos('0123456789abcdef', substr(md5({col}), {p}, 1)) - 1)"
    )
    return (
        f"({digit(off)} * 4096 + {digit(off + 1)} * 256"
        f" + {digit(off + 2)} * 16 + {digit(off + 3)})"
    )


#: Knuth's multiplicative-hash constant (2^32 / golden ratio)
KNUTH = 2654435761


def knuth32_sql(x: str) -> str:
    """``(x * 2654435761) mod 2^32`` for any BIGINT ``x >= 0``, as one SQL
    text that Spark and DuckDB both evaluate exactly.

    The plain product overflows BIGINT once ``x`` reaches ~3.5e9, and
    reducing ``x mod 2^32`` first does not help (a residue near 2^32 times
    the constant is ~1.1e19).  Splitting ``x`` into 16-bit halves
    ``x = h * 65536 + l`` does: ``x * K = h * K * 65536 + l * K``, and modulo
    2^32 only ``(h * K) mod 65536`` of the high product matters, so every
    intermediate stays below 2^49.
    """
    return (
        f"((((({x}) >> 16) % 65536) * {KNUTH} % 65536) * 65536"
        f" + (({x}) % 65536) * {KNUTH}) % 4294967296"
    )
