"""Order-independent output digests and oracle comparison.

Two digests, one rule: a multiset of rows maps to one value whatever the
row order or partitioning.

- :func:`frame_digest` runs inside Spark as one aggregate action: every
  row is hashed over all columns (sorted by name), and the two 32-bit
  halves of the hashes are summed separately so no sum can overflow. The
  hash reads every column, so nothing is pruned: the action computes the
  whole output, like a write, and returns one row. Digests of column
  subsets and row counters can ride on the same action.
- :func:`rows_digest` runs in Python on collected rows, normalized the way
  the repo's oracle-parity test compares Spark with DuckDB (floats at six
  decimals, NaN as ``nan``, columns sorted by name, rows sorted).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import numpy as np

_MASK32 = 0xFFFFFFFF


def frame_digest(df, *, parts: dict | None = None,
                 counts: dict | None = None) -> tuple[int, str, dict]:
    """(row count, digest, extras) of a DataFrame from one Spark action.

    ``parts`` maps a name to a list of Columns digested on their own (a
    subset of the output); ``counts`` maps a name to a boolean Column
    counted over all rows. Both ride on the same aggregate."""
    from pyspark.sql import functions as F

    parts = {"all": [F.col(c) for c in sorted(df.columns)], **(parts or {})}
    counts = counts or {}
    hashed = df.select(
        *[F.xxhash64(*cols).alias(f"h_{name}") for name, cols in parts.items()],
        *[cond.cast("long").alias(f"c_{name}") for name, cond in counts.items()])
    aggs = [F.count(F.lit(1)).alias("n")]
    for name in parts:
        h = F.col(f"h_{name}")
        aggs += [F.sum(h.bitwiseAND(F.lit(_MASK32))).alias(f"{name}_lo"),
                 F.sum(F.shiftrightunsigned(h, 32)).alias(f"{name}_hi")]
    aggs += [F.sum(f"c_{name}").alias(name) for name in counts]
    r = hashed.agg(*aggs).first()
    n = int(r["n"])
    extras = {name: f"{n}:{(r[name + '_lo'] or 0):x}:{(r[name + '_hi'] or 0):x}"
              for name in parts}
    extras.update({name: int(r[name] or 0) for name in counts})
    return n, extras.pop("all"), extras


def norm_value(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return str(v)


def rows_digest(names: list[str], rows) -> tuple[int, str]:
    """(row count, digest) of rows given as tuples in ``names`` order."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    keyed = sorted("\x1f".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(names[i] for i in order).encode())
    for line in keyed:
        h.update(b"\x1e" + line.encode())
    return len(keyed), h.hexdigest()[:24]


def arrow_digest(table) -> tuple[int, str]:
    return rows_digest(table.column_names, zip(*table.to_pydict().values())
                       if table.num_columns else [])


def allclose_tables(got, exp, keys: list[str], value: str,
                    *, atol: float = 1e-9) -> str | None:
    """Compare two Arrow tables that hold the same key set: keys must match
    exactly after sorting, values must be allclose (NaN equals NaN).
    Returns ``None`` when they agree, else a one-line reason."""
    import pyarrow as pa

    if got.num_rows != exp.num_rows:
        return f"row count {got.num_rows} != {exp.num_rows}"

    def _prep(t):
        cols = {}
        for k in keys:
            c = t.column(k)
            if pa.types.is_timestamp(c.type):
                c = c.cast(pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
            cols[k] = c
        cols[value] = t.column(value).cast(pa.float64())
        return pa.table(cols).sort_by([(k, "ascending") for k in keys])

    g, e = _prep(got), _prep(exp)
    for k in keys:
        if not g.column(k).equals(e.column(k)):
            return f"key column {k} differs"
    gv = g.column(value).to_numpy(zero_copy_only=False)
    ev = e.column(value).to_numpy(zero_copy_only=False)
    bad = ~np.isclose(gv, ev, rtol=0.0, atol=atol, equal_nan=True)
    if bad.any():
        i = int(np.argmax(bad))
        return f"{int(bad.sum())} values differ, first {gv[i]!r} != {ev[i]!r}"
    return None
