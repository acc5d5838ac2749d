"""One row per registry query.

Each query that the driver contract, ``bench.py``, the correctness
sweep and the soaks run is one :class:`Query` row, written once in the
module of its family (``tpch``, ``relops``, ``extops``, ``scanops``,
``tpcds``) and listed in that module's ``ROWS``.
``__spark_entry__.REGISTRY`` joins the five families with :func:`table`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """``build(spark, sf_dir)`` returns the query's DataFrame over the
    fixtures in ``sf_dir``. ``oracle`` is DuckDB SQL whose rows must
    hash-match it. A query with no oracle is checked by row count only
    and says why in ``why_no_oracle``; a row must carry exactly one of
    the two, so an oracle cannot go missing without a reason. A row sets
    ``warms`` when a first run of it spins up engine machinery (codegen,
    the Python worker pool, ...): ``__spark_entry__.warm`` runs those
    rows once, untimed, before ``bench.py`` and ``scripts/scale_soak.py``
    time anything."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    why_no_oracle: str | None = None
    warms: bool = False

    def __post_init__(self):
        if (self.oracle is None) == (self.why_no_oracle is None):
            raise ValueError(
                f"query {self.name!r} needs exactly one of an oracle "
                "or a why_no_oracle reason")


def table(*families: Iterable[Query]) -> dict[str, Query]:
    """The rows of ``families`` by name, in order. A name registered
    twice raises instead of letting the later row shadow the earlier."""
    out: dict[str, Query] = {}
    for rows in families:
        for q in rows:
            if q.name in out:
                raise ValueError(f"query {q.name!r} is registered twice")
            out[q.name] = q
    return out
