"""Query plans: the engine's public query surface.

Every operator from SURVEY.md §2 is registered here as a named query
(Spark DataFrame builder) with, where SQL-expressible, a DuckDB oracle
string. ``__spark_entry__.py`` exposes these to the correctness driver.
"""

from pyspark import cloudpickle

from equity_volatility_lakehouse_platform_spark.plans import fold
from equity_volatility_lakehouse_platform_spark.plans.registry import (
    all_oracles,
    all_queries,
    register,
)

# Arrow kernels call the fold helpers on Python workers, which may not be
# able to import this package: pickle the helpers into the kernel itself.
cloudpickle.register_pickle_by_value(fold)


def load_all() -> None:
    """Import every plan module so registrations run."""
    from equity_volatility_lakehouse_platform_spark.plans import (  # noqa: F401
        relational,
        windows,
        features,
        dedup,
        similarity,
        text,
        multimodal,
        streaming_plans,
        silver,
        mlprep_plans,
        sinks_plans,
        volatility,
    )


__all__ = ["register", "all_queries", "all_oracles", "load_all"]
