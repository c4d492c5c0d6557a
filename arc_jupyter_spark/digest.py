"""Every digest form of the package, for Spark and for DuckDB.

The rule: a digest whose value an oracle can observe (an output
column, a rank, a sample, shard or bucket choice, a key an oracle
rebuilds) is md5, because DuckDB computes the same md5 over the same
UTF-8 bytes, and NULL stays NULL. :func:`md5_hex` is the hex digest
(oracle ``md5(x)``); :func:`md5_prefix_hash` its first hex digits as a
BIGINT, 7 for the 28-bit base hash and 15 for a 60-bit digest (oracle
:func:`duck_md5_prefix_hash`); :func:`band_digests` the MinHash LSH band
keys (oracle :func:`duck_band_digests`). A key that only groups or
joins rows inside one Spark plan and is dropped before the output is
:func:`internal_digest` (``xxhash64``: faster per byte, 64 bits wide,
no DuckDB twin). An oracle groups by its own md5 or by the raw value
instead, the same grouping up to collisions.

``tests/test_digest.py`` fails on a raw ``F.md5(``, ``F.xxhash64(`` or
``substr(md5(`` elsewhere in the package, and checks each Spark form
against its DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


# -- Spark ------------------------------------------------------------

def md5_hex(value: Column | str) -> Column:
    """32-char lowercase hex md5 of a string or binary column; the
    oracle writes ``md5(x)``."""
    return F.md5(value)


def md5_prefix_hash(value: Column, hex_digits: int = 7) -> Column:
    """The first ``hex_digits`` hex chars of md5 as a BIGINT. MinHash
    derives its seed family arithmetically from one 7-digit hash per
    shingle, and long signatures keep the min-aggregation in
    HashAggregate (string mins force SortAggregate)."""
    digest = md5_hex(value.cast("binary"))
    return F.conv(F.substring(digest, 1, hex_digits), 16, 10).cast("long")


def band_digests(bands: int, rows_per_band: int) -> list[Column]:
    """LSH band keys over the signature columns ``_s0.._sN`` of
    ``dedup.minhash_signature_table``: md5 of ``band{b}|`` + the
    ``|``-joined band rows, first 15 hex digits as a BIGINT."""
    def rows(b: int) -> list[Column]:
        first = b * rows_per_band
        return [F.col(f"_s{first + j}").cast("string") for j in range(rows_per_band)]

    return [
        md5_prefix_hash(F.concat(F.lit(f"band{b}|"), F.concat_ws("|", *rows(b))), 15)
        for b in range(bands)
    ]


def internal_digest(*cols: Column | str) -> Column:
    """Plan-internal 64-bit ``xxhash64`` key: for grouping and joining
    only, never for an output column or anything an oracle sees."""
    return F.xxhash64(*cols)


# -- DuckDB (SQL text) ------------------------------------------------

def duck_md5_prefix_hash(expr: str, hex_digits: int = 7) -> str:
    """DuckDB twin of :func:`md5_prefix_hash` over the SQL ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, {hex_digits}))::BIGINT"


def duck_band_digests(bands: int, rows_per_band: int) -> str:
    """DuckDB twin of :func:`band_digests` over signature columns
    ``s0..sN``: the select list ``<digest> AS band0, ...``."""
    def rows(b: int) -> str:
        first = b * rows_per_band
        return " || '|' || ".join(f"s{first + r}::VARCHAR" for r in range(rows_per_band))

    return ", ".join(
        duck_md5_prefix_hash(f"'band{b}|' || {rows(b)}", 15) + f" AS band{b}"
        for b in range(bands)
    )
