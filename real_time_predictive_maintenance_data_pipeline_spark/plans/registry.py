"""Query catalog registry.

Every engine query is registered once with:
- a Spark callable ``(spark, sf_dir) -> DataFrame``
- optionally, the equivalent ANSI SQL for the DuckDB oracle (driver
  correctness gate). Queries whose semantics are not SQL-expressible
  (LSH, ML scoring, streaming state) register with ``oracle=None`` and
  get a rows-only check — their correctness lives in tests/ instead.

Oracle-parity conventions (keep these or hashes diverge):
- Alias every computed column IDENTICALLY in Spark and SQL.
- Round every floating aggregate to 4 decimals on BOTH sides (summation
  order differs between engines; raw double sums never hash-match).
- Cast every HUGEINT-returning DuckDB aggregate (``SUM(int)``,
  ``count_if``, ...) to BIGINT to match Spark's long: pandas
  materializes HUGEINT as float64, and the driver's value hash is
  dtype-sensitive, so 1996 vs 1996.0 hash-differ (the r03
  ``rel_agg_bool_bit`` fail).
- Never emit raw timestamps: project dates via ``yyyy-MM-dd`` strings
  and timestamps via Unix-microsecond bigints on both sides.
- Rounded floats that can land near zero need ``+ 0.0`` on BOTH sides:
  engines disagree on whether a tiny negative rounds to -0.0 or 0.0,
  and the harness distinguishes signed zeros.
- When the data is fixed-decimal (prices/readings with 2 dp) and the
  aggregate's magnitude is large (>= ~1e9) or the result is an AVG,
  sum EXACT INTEGER CENTS — ``SUM(ROUND(x * 100)) / 100`` — with NO
  final round: integral doubles sum exactly in any partial-agg order,
  so both engines produce bit-identical results. A raw double sum's
  order-dependent error can exceed the 4-dp round at large magnitude,
  and ROUND itself diverges on exact .xxxx5 (Spark rounds the
  shortest-decimal string HALF_UP; DuckDB rounds the binary value).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str = ""
    bench: bool = False  # included in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    *,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(
            name=name,
            spark=fn,
            oracle=oracle.strip() if oracle else None,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            tags=tags,
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered query, in registration order."""
    return dict(_REGISTRY)


def get_query(name: str) -> Query:
    return all_queries()[name]
