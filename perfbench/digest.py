"""Order-insensitive result digests: (row count, sum of a per-row hash).

The rule matches the repo's oracle check (row count plus a value hash
that ignores row order) but is computed where the rows are: a Spark
aggregate for the engine's result and NumPy for the reference result,
so no large result is collected to the driver. Both sides build the
same integer hash from the same typed columns:

    int   -> value mod P
    round -> round(value * 1e6) mod P          (doubles, 6 decimals)
    str   -> first 7 hex digits of md5(value)  (strings and binaries)
    h     = fold(h * 1000003 + v) mod P ;  null -> P - 1

P < 2^31 keeps every intermediate inside a signed 64-bit long, which
Spark's ANSI mode requires (an overflow would raise, not wrap).
"""

from __future__ import annotations

import hashlib

import numpy as np

P = 2_147_483_629
MUL = 1_000_003

Spec = list[tuple[str, str]]  # (column, kind)


def spark_row_hash(spec: Spec):
    from pyspark.sql import functions as F
    h = F.lit(0).cast("long")
    for col, kind in spec:
        c = F.col(col)
        if kind == "int":
            v = F.pmod(c.cast("long"), F.lit(P))
        elif kind == "round":
            v = F.pmod(F.round(c * F.lit(1e6)).cast("long"), F.lit(P))
        elif kind == "str":
            v = F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")
        else:
            raise ValueError(kind)
        v = F.coalesce(v, F.lit(P - 1).cast("long"))
        h = F.pmod(h * F.lit(MUL) + v, F.lit(P))
    return h


def spark_digest(df, spec: Spec, extra=()) -> tuple:
    """One Spark job: (count, hash sum, *extra aggregates)."""
    from pyspark.sql import functions as F
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(spark_row_hash(spec)).alias("h"),
                 *extra).collect()[0]
    return tuple(0 if v is None else int(v) for v in row)


def _md5_7(v) -> int:
    if v is None:
        return P - 1
    b = v.encode() if isinstance(v, str) else bytes(v)
    return int(hashlib.md5(b).hexdigest()[:7], 16)


def np_digest(cols: dict, spec: Spec) -> tuple[int, int]:
    """Reference twin of ``spark_digest`` over host columns
    (NumPy arrays or lists, all of one length)."""
    n = len(cols[spec[0][0]]) if spec else 0
    h = np.zeros(n, dtype=np.int64)
    for col, kind in spec:
        raw = cols[col]
        if kind == "str":
            v = np.array([_md5_7(x) for x in raw], dtype=np.int64)
        else:
            a = np.asarray(raw)
            null = np.isnan(a) if a.dtype.kind == "f" else np.zeros(n, bool)
            if kind == "round":
                # Spark's round() is half-up; np.round is half-even
                a = np.where(null, 0.0, a) * 1e6
                a = np.sign(a) * np.floor(np.abs(a) + 0.5)
            a = np.where(null, 0, a).astype(np.int64)
            v = np.where(null, P - 1, np.mod(a, P))
        h = np.mod(h * MUL + v, P)
    return n, int(h.sum())
