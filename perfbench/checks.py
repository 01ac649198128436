"""Output checks shared by the benchmark and by ``make_expected.py``.

A result is summarised as ``(n_rows, sig)``: the row count and an
order-free checksum. Rows are canonicalised the way
``driver_suite.facet_checksum`` does it (integers exact, floats to six
decimals as integer micro-units, NULL as ``<N>``, fields joined with
``|``), each row is hashed with md5, the first 12 hex digits are taken
modulo 1e9+7, and the per-row values are summed. Columns are taken in
name order. The canonicalisation works on Arrow tables, so the Spark
result and the DuckDB oracle go through the same code.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.compute as pc

MOD = 1_000_000_007
NULL = "<N>"


def _float_col(arr: pa.Array) -> pa.Array:
    arr = pc.cast(arr, pa.float64())
    finite = pc.is_finite(arr)
    micro = pc.cast(
        pc.round(pc.multiply(pc.round(arr, 6), 1_000_000.0)),
        pa.int64(),
        safe=False,
    )
    return pc.if_else(
        finite, pc.cast(micro, pa.string()), pc.cast(arr, pa.string())
    )


def _int_col(arr: pa.Array) -> pa.Array:
    # integer v and float v.0 must canonicalise alike: v * 10^6 as text
    s = pc.cast(pc.cast(arr, pa.int64()), pa.string())
    scaled = pc.binary_join_element_wise(s, pa.scalar("000000"), "")
    return pc.if_else(pc.equal(arr, 0), pa.scalar("0"), scaled)


def _canon_col(arr: pa.ChunkedArray) -> pa.Array:
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    t = arr.type
    if pa.types.is_integer(t):
        out = _int_col(arr)
    elif pa.types.is_floating(t) or pa.types.is_decimal(t):
        out = _float_col(arr)
    elif pa.types.is_timestamp(t):
        out = pc.cast(
            pc.cast(pc.cast(arr, pa.timestamp("us", tz=t.tz)), pa.int64()),
            pa.string(),
        )
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        out = pc.cast(arr, pa.string())
    else:
        raise TypeError(f"no canonical form for column type {t}")
    return pc.fill_null(out, NULL)


def signature(table: pa.Table) -> tuple[int, int]:
    """``(n_rows, order-free checksum)`` of an Arrow table."""
    if table.num_rows == 0:
        return 0, 0
    names = sorted(table.column_names)
    cols = [_canon_col(table.column(n)) for n in names]
    rows = pc.binary_join_element_wise(*cols, "|") if len(cols) > 1 else cols[0]
    sig = 0
    for s in rows.to_pylist():
        sig += int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16) % MOD
    return table.num_rows, sig


def shingles(text: str, k: int = 5) -> set[bytes]:
    """Byte k-gram set of ``text``: the shingles MinHash near-dedup
    verifies against (a text shorter than ``k`` is one shingle)."""
    b = (text or "").encode("utf-8") or bytes(k)
    if len(b) < k:
        return {b}
    return {b[i : i + k] for i in range(len(b) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0
