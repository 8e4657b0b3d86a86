"""Spark-vs-DuckDB result comparison — the driver's correctness
contract, factored out so both the CLI gate (tools/check_oracle.py) and
the local oracle re-proof (tests/test_oracle_reproof.py) apply the
identical normalization: columns sorted by name, rows sorted by their
normalized string form, doubles to 9 significant digits, NaN/None unified,
timestamps to ISO strings.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(norm_cell(x) for x in seq) + "]"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def _norm_rows(df: pd.DataFrame) -> list[str]:
    df = df[sorted(df.columns)]
    return sorted(
        "|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False)
    )


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256("\n".join(_norm_rows(df)).encode()).hexdigest()[:16]


def compare_frames(
    sdf: pd.DataFrame, ddf: pd.DataFrame, strict: bool = False
) -> list[str]:
    """Problems list, empty when the frames match under the driver's
    row-count + column-set + order-insensitive value-hash contract.
    On a hash mismatch the first few one-side-only rows are included
    for diagnosis.

    ``strict=True`` additionally applies :func:`strict_problems` — the
    dtype-faithful check that refuses the numeric unification above, so
    a divergence the normalized hash would mask (int64 vs float64,
    Decimal vs double) fails here exactly as it would under the driver's
    exact hash (round-5 lesson: ``sessionize_events`` passed 122/122
    locally while the driver hashed DuckDB-HUGEINT-as-float ``3.0``
    against Spark bigint ``3``)."""
    problems: list[str] = []
    if len(sdf) != len(ddf):
        problems.append(f"rows {len(sdf)} != {len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"cols {sorted(sdf.columns)} != {sorted(ddf.columns)}")
    elif value_hash(sdf) != value_hash(ddf):
        problems.append("value hash mismatch")
        s_rows, d_rows = _norm_rows(sdf), _norm_rows(ddf)
        s_only = [r for r in s_rows if r not in set(d_rows)][:3]
        d_only = [r for r in d_rows if r not in set(s_rows)][:3]
        if s_only:
            problems.append(f"spark-only: {s_only}")
        if d_only:
            problems.append(f"duckdb-only: {d_only}")
    if strict:
        problems += strict_problems(sdf, ddf)
    return problems


def _dtype_kind(s: pd.Series) -> str:
    """Collapse a pandas dtype to the kind the driver's exact hash
    distinguishes: int / float / bool / timestamp / decimal / other.
    Object columns are classified by their first non-null value so a
    DuckDB DECIMAL (object-of-Decimal) is told apart from a string."""
    import decimal

    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "timestamp"
    if k == "O":
        for v in s:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, decimal.Decimal):
                return "decimal"
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                return "float"
            break
    return "other"


def strict_problems(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Dtype-kind divergences between the Spark and DuckDB result frames
    that the normalized hash masks but the driver's exact hash does not.

    The driver materializes both sides with pandas and hashes cell reprs
    verbatim — so a DuckDB HUGEINT window sum (→ float64 ``3.0``)
    against a Spark bigint (→ int64 ``3``) is a driver FAIL even when
    every value is numerically identical. Any int-vs-float, decimal-vs-
    float, or similar kind mismatch per column is therefore reported as
    a problem here, making local-green/driver-red structurally
    impossible for this bug class."""
    problems: list[str] = []
    for col in sorted(set(sdf.columns) & set(ddf.columns)):
        sk, dk = _dtype_kind(sdf[col]), _dtype_kind(ddf[col])
        if sk != dk:
            problems.append(
                f"strict dtype mismatch on {col!r}: spark={sk} "
                f"({sdf[col].dtype}) vs duckdb={dk} ({ddf[col].dtype})"
            )
    return problems
