"""Suite combinator: fold several oracle-checked queries into ONE
registered query so the whole registry fits the driver's 50-entry
CORRECTNESS window (r01 recorded exactly the first 50 of 68 entries;
see COVERAGE.md "driver cap").

Each folded sub-query keeps its full evidential value: its entire
result set is canonicalized row-by-row to a ``(q, payload)`` string
pair — ``q`` the sub-query name, ``payload`` a '|'-joined rendering of
every column — and the union of all sub-results is what the driver
hash-compares against the UNION ALL of the identically-canonicalized
oracle SQL.  A single divergent value in any sub-query still flips the
suite's hash.

Canonicalization kinds (both sides generated from ONE spec so they
cannot drift):

- ``"s"``  — exact cast to string (ints, strings, dates, booleans);
- ``"dK"`` — double rendered as CAST(round(value * 10^K) AS BIGINT):
  doubles never go through engine-specific float formatting (Spark
  prints 2.7e7 as '2.7E7', DuckDB as '27000000.0'), and the inputs are
  already rounded to <= K decimals by each sub-query, so the scaled
  integer is exact on both engines.

NULLs render as a sentinel so (a, NULL) and (NULL, a) stay distinct.
String values have '\\' and '|' escaped before joining, so the
'|'-separated payload is injective — a value containing the separator
cannot mask a column-boundary divergence between engines.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register

#: NULL sentinel, chosen to be UNREACHABLE by any escaped rendering:
#: the escapes below only ever emit backslash before '\\' or '|', so
#: the two-char sequence backslash-N cannot appear in a rendered
#: value — a literal string can no longer collide with SQL NULL
#: (r08: closes the canon's last non-injective corner; the old
#: '<NULL>' token was producible by a document actually containing
#: that text).
NULL_TOKEN = "\\N"


class SubQuery(NamedTuple):
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    sql: str
    spec: list[tuple[str, str]]  # (column, kind)


def _spark_canon(col: str, kind: str) -> Column:
    c = F.col(col)
    if kind == "s":
        # Escape the join separator (r07 verdict nit): without this,
        # concat_ws('|', ...) is non-injective — a text value
        # containing '|' could mask a column-boundary divergence
        # between engines.  Backslash first, then the pipe, mirrored
        # exactly in _duck_canon.
        rendered = F.replace(
            F.replace(c.cast("string"), F.lit("\\"), F.lit("\\\\")),
            F.lit("|"),
            F.lit("\\|"),
        )
    elif kind.startswith("d"):
        scale = 10 ** int(kind[1:])
        rendered = F.round(c * scale).cast("long").cast("string")
    else:  # pragma: no cover - spec typo guard
        raise ValueError(f"unknown canon kind {kind!r} for column {col!r}")
    return F.coalesce(rendered, F.lit(NULL_TOKEN))


def _duck_canon(col: str, kind: str) -> str:
    if kind == "s":
        # same backslash-then-pipe escape as _spark_canon
        rendered = (
            "replace(replace(CAST({c} AS VARCHAR),"
            " '\\', '\\\\'), '|', '\\|')"
        ).format(c=col)
    elif kind.startswith("d"):
        scale = 10 ** int(kind[1:])
        rendered = f"CAST(CAST(round(({col}) * {scale}) AS BIGINT) AS VARCHAR)"
    else:  # pragma: no cover
        raise ValueError(f"unknown canon kind {kind!r} for column {col!r}")
    return f"coalesce({rendered}, '{NULL_TOKEN}')"


def _suite_builder(subs: list[SubQuery]):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for sub in subs:
            df = sub.builder(spark, sf_dir)
            part = df.select(
                F.lit(sub.name).alias("q"),
                F.concat_ws(
                    "|", *[_spark_canon(c, k) for c, k in sub.spec]
                ).alias("payload"),
            )
            out = part if out is None else out.unionByName(part)
        return out

    return build


def _suite_sql(subs: list[SubQuery]) -> str:
    parts = []
    for sub in subs:
        canon = ", ".join(_duck_canon(c, k) for c, k in sub.spec)
        parts.append(
            f"SELECT '{sub.name}' AS q, concat_ws('|', {canon}) AS payload\n"
            f"FROM (\n{sub.sql}\n) AS _{sub.name}"
        )
    return "\nUNION ALL\n".join(parts)


#: suite name -> member list, for mechanical per-member itemization
#: (bench.py measures each member builder separately so multi-member
#: suite drift decomposes without hand-written member tables)
SUITES: dict[str, list[SubQuery]] = {}


def register_suite(name: str, subs: list[SubQuery], doc: str = "") -> None:
    """Register the folded suite as one oracle-checked query."""
    build = _suite_builder(subs)
    build.__name__ = name
    build.__doc__ = doc or (
        "Folded oracle suite over: " + ", ".join(s.name for s in subs)
    )
    SUITES[name] = list(subs)
    register(name, sql=_suite_sql(subs))(build)
