"""Shared derivation expressions, evaluated identically by Spark and DuckDB.

The driver's correctness gate compares our Spark queries against DuckDB on
the same parquet tables. Spatial inputs (points over the KAZA bbox) are
therefore *derived* from the driver's tables with pure integer Lehmer-style
arithmetic + one division — the exact same SQL text runs on both engines,
so the derived doubles are bit-identical and downstream sign/floor tests
(PIP cross products, Morton quantization) agree exactly.

Reference semantics re-grounded here: randomPoints/randomColumn seeding
(/root/reference/src/utils/sampling.py:101,104,144,153) — GEE's seeded,
tiling-independent randomness — becomes key-hashed arithmetic that is a
pure function of the row key (SURVEY.md §2.5 R2/R3).
"""

from __future__ import annotations

# Lehmer / MINSTD constants: multiplier 48271 and 69621 are classic
# full-period multipliers mod the Mersenne prime 2^31-1 (public domain).
M31 = 2147483647


def detrand_sql(key: str, mult: int = 48271, mult2: int = 69621) -> str:
    """Deterministic int in [0, 2^31-1): quadratic congruential mix,
    bit-identical to functions.detrand_int (see its docstring)."""
    h1 = f"((({key}) * {mult} + 11) % {M31})"
    h2 = f"(({h1} * {h1}) % {M31})"
    return f"(({h2} * {mult2} + {h1}) % {M31})"


def detrand_unit_sql(key: str, mult: int = 48271, mult2: int = 69621) -> str:
    """Deterministic U[0,1): detrand_sql / 2^31-1 in double."""
    return f"({detrand_sql(key, mult, mult2)} / CAST(2147483647.0 AS DOUBLE))"


def lon_sql(key: str) -> str:
    """Deterministic lon in the KAZA bbox [18, 27] from an integer key.

    Every literal is CAST to DOUBLE: Spark parses bare decimal literals
    as DECIMAL and would otherwise evaluate the chain in decimal
    arithmetic, diverging from DuckDB's double math in the 7th decimal.
    """
    return (f"CAST(18.0 AS DOUBLE) + ((({key}) * 48271) % {M31} % 9001)"
            f" / CAST(9001.0 AS DOUBLE) * CAST(9.0 AS DOUBLE)")


def lat_sql(key: str) -> str:
    """Deterministic lat in the KAZA bbox [-20.5, -13.5]."""
    return (f"CAST(-20.5 AS DOUBLE) + ((({key}) * 69621) % {M31} % 7001)"
            f" / CAST(7001.0 AS DOUBLE) * CAST(7.0 AS DOUBLE)")


def points_from_orders_sql(limit_mod: int | None = None) -> str:
    """Derived KAZA point set from the orders table (both dialects).

    One point per order row: (pt_id, lon, lat, val). `limit_mod` keeps a
    deterministic 1/limit_mod subsample for quadratic operators.
    """
    where = f"WHERE o_orderkey % {limit_mod} = 0" if limit_mod else ""
    return f"""
        SELECT o_orderkey AS pt_id,
               {lon_sql('o_orderkey')} AS lon,
               {lat_sql('o_orderkey')} AS lat,
               o_totalprice AS val
        FROM orders {where}
    """


def landcover_class_sql(lon: str, lat: str) -> str:
    """Blocky 8-class LANDCOVER stratum from a point — integer arithmetic
    over a coarse grid cell (reference strata 1..8,
    /root/reference/src/misc/strata.py:12-21). Same text on both engines."""
    ix = f"CAST(FLOOR((({lon}) - 18.0) / 9.0 * 32.0) AS BIGINT)"
    iy = f"CAST(FLOOR((({lat}) + 20.5) / 7.0 * 32.0) AS BIGINT)"
    return f"((({ix}) * 7349 + ({iy}) * 4793) % {M31} % 8) + 1"
