"""The declared query surface: every operator id from SURVEY.md §2 that is
implemented gets a (spark, sf_dir) -> DataFrame callable here, plus a
DuckDB-oracle SQL string where the semantics are SQL-expressible.

Submodules register into QUERIES / ORACLES via the ``query`` decorator in
``plans.common``.
"""

import importlib
import pkgutil

from habits_etl_spark.plans.common import QUERIES, ORACLES  # noqa: F401

# Importing the submodules populates the registries.
for _mod in pkgutil.iter_modules(__path__):
    importlib.import_module(f"{__name__}.{_mod.name}")
