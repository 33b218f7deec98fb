"""Memoized Catalyst expression construction.

Building a Column through the fluent API costs one py4j round trip
PER OPERATOR NODE: profiling one polygon_join construction showed
2,222 driver↔JVM socket round trips (~1.4 s of pure socket wait) just
to assemble the expression trees, dwarfing the 0.5 s the query spent
executing. The grid tessellation, join conditions and dedup
expressions are all built from FIXED column names, so each can be
parsed ONCE per process from its SQL form (a single py4j call) and
the resulting immutable unresolved Column reused across every query.

Two rules keep the SQL forms bit-identical to the fluent originals:

* double literals carry the ``D`` suffix (``180.0D``) — a bare
  ``180.0`` parses as DECIMAL(4,1) in Spark SQL and would silently
  switch the arithmetic to decimal;
* long literals carry ``L`` where the fluent code used
  ``F.lit(...).cast("long")``.

The cache key includes the py4j gateway identity: a Column wraps a
JVM expression object, which dies with the JVM — a fresh gateway
(new JVM) must re-parse.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_CACHE: dict = {}


def _gateway_key():
    from pyspark import SparkContext

    return id(SparkContext._gateway)


def cexpr(sql: str) -> Column:
    """``F.expr(sql)``, parsed once per (gateway, sql)."""
    key = (_gateway_key(), sql)
    col = _CACHE.get(key)
    if col is None:
        col = F.expr(sql)
        _CACHE[key] = col
    return col


def cselect(df, *sql: str):
    """``df.select(*map(cexpr, sql))`` with the column list memoized
    too: the JVM Seq of the parsed columns is built once per (gateway,
    sql), so the projection costs one py4j round trip instead of one
    per column plus the list conversion."""
    key = (_gateway_key(), "select", sql)
    seq = _CACHE.get(key)
    if seq is None:
        from pyspark.sql.classic.column import _to_seq

        seq = _to_seq(df.sparkSession.sparkContext, [cexpr(s)._jc for s in sql])
        _CACHE[key] = seq
    return type(df)(df._jdf.select(seq), df.sparkSession)


def dlit(x: float) -> str:
    """Spark-SQL double literal (``D`` suffix — see module doc)."""
    return f"{float(x)!r}D"


def named_colfn(fn):
    """Memoize a Column-builder when it is called with a column NAME
    instead of a Column: the (identical, immutable) fluent-built
    Column is constructed once per process and reused — same
    construction path, zero semantic risk, none of the per-call py4j
    chatter (lang_id_col alone measured 0.7 s of construction per
    query). Column arguments bypass the cache unchanged."""
    import functools

    @functools.wraps(fn)
    def wrapper(col, *args, **kwargs):
        if isinstance(col, str):
            key = (
                _gateway_key(), fn.__module__, fn.__qualname__, col,
                args, tuple(sorted(kwargs.items())),
            )
            c = _CACHE.get(key)
            if c is None:
                c = fn(F.col(col), *args, **kwargs)
                _CACHE[key] = c
            return c
        return fn(col, *args, **kwargs)

    return wrapper


@named_colfn
def ccol(col: Column, alias: str | None = None) -> Column:
    """``F.col(name)``, aliased when ``alias`` is given, built once per
    process: a caller's column name keeps ``F.col``'s resolution (dotted
    paths, backticks) without its per-call py4j round trips."""
    return col if alias is None else col.alias(alias)
