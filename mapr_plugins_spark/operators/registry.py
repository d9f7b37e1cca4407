"""Declared extension queries (north-star operators) + DuckDB oracles.

Keys q22/q23/q24 match FIXTURES.md Part 3; ``x_*`` keys extend the
declared surface (SURVEY §2 north-star rows). Queries without an oracle
entry (LSH ANN, mapInPandas feature extraction) get the driver's
rows-only check and are additionally pinned by unit tests.

The query and oracle bodies live in per-family modules over shared
``reg_common``; this module only aggregates them with the
``discovery`` rule.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapr_plugins_spark.discovery import family_queries, merge_disjoint
from mapr_plugins_spark.operators import (
    reg_analytics,
    reg_ann,
    reg_curation,
    reg_dedup,
    reg_relops,
    reg_sketch_graph,
    reg_text,
)

_FAMILIES = (
    reg_ann,
    reg_dedup,
    reg_text,
    reg_curation,
    reg_analytics,
    reg_sketch_graph,
    reg_relops,
)


def extension_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return merge_disjoint((family_queries(m) for m in _FAMILIES), "query")


def extension_oracles() -> dict[str, str]:
    """Aggregate the per-family oracle dicts. Key sets must stay
    disjoint — a duplicate key would silently shadow a graded oracle,
    so it fails loudly instead."""
    return merge_disjoint((m.oracles() for m in _FAMILIES), "oracle")
