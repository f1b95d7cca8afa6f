"""Driver-compatibility audit over the ENTIRE declared registry.

Two hard lessons from driver rounds 1 and 3, turned into permanent gates:

* r1: the driver has NO rows-only mode — a query registered with
  ``oracle=None`` can only ever be a red CORRECTNESS row. Every declared
  query must therefore carry an exact DuckDB oracle.
* r3: the driver canonicalizes results with pandas ``sort_values``, which
  raises ``TypeError: unhashable type`` on array/map cells
  (``dedup_components``'s red row). No declared query may expose an
  ArrayType/MapType output column — flatten with the array_join /
  string_agg discipline (operators/aggregates.py ``agg_collect``).

The schemas come from the session's one build of every declared query
(``registry_pass`` in conftest.py), so this audit builds nothing itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType

from mrs_mapreduce_spark.registry import load_all

_REGISTRY = load_all()
_NAMES = sorted(_REGISTRY)


@pytest.mark.parametrize("name", _NAMES)
def test_every_query_has_an_oracle(name):
    assert _REGISTRY[name].oracle is not None, (
        f"{name} has no oracle SQL — the driver has no rows-only mode "
        "(r1 agg_approx_distinct lesson), so this is a guaranteed red row. "
        "Declare bounded-error derived outputs with an exact oracle instead."
    )


@pytest.mark.parametrize("name", _NAMES)
def test_no_array_or_map_output_columns(registry_pass, name):
    bad = [
        f.name
        for f in registry_pass.built(name).schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"{name} exposes array/map column(s) {bad} — the driver's pandas "
        "sort_values canonicalizer cannot hash list cells (r3 "
        "dedup_components lesson). Flatten with array_join/string_agg."
    )
