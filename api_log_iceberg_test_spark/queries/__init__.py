"""Query library and the one query catalog.

- :mod:`api_logs` — the reference's documented SQL surface (SURVEY.md §2):
  counts, group-by frequency, top-k by recency, range/numeric predicates,
  error analysis — expressed as DataFrame plans over the driver testdata
  (``events`` stands in for the reference's ``api`` table, FIXTURES.md §1)
  and reusable over any api-schema DataFrame.
- :mod:`analytics` — join / window / set-op / rollup extensions the
  reference lacks (SURVEY.md §2.5), built for 100 TB plans.
- :mod:`sql_surface` — Spark SQL text paired with its DuckDB twin.
- :mod:`..operators.registry` — the LLM-data-pipeline operator queries.

:data:`QUERIES` (name → ``builder(spark, sf_dir) -> DataFrame``) and
:data:`ORACLE` (name → DuckDB SQL) are the catalog every consumer reads:
``__spark_entry__``, ``bench.py`` and the tools. QUERIES keeps registration
order, which the driver's verification window falls back on
(``__spark_entry__._select_window``), so new entries go at the end of their
module's map.
"""

from ..operators import registry
from . import analytics, api_logs, sql_surface

QUERIES = {
    **api_logs.QUERIES,
    **registry.QUERIES,
    **sql_surface.QUERIES,
    **analytics.QUERIES,
    **registry.QUERIES_TAIL,
}

ORACLE = {
    **api_logs.ORACLE,
    **registry.ORACLE,
    **sql_surface.ORACLE,
    **analytics.ORACLE,
}
