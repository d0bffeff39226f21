"""Driver-facing query registry.

Every implemented operator from SURVEY.md §2 (and the beyond-reference
LLM-pipeline operators) registers a named query here. Each entry pairs a
PySpark DataFrame builder with an equivalent ANSI-SQL oracle string that
DuckDB runs on the same parquet tables; the driver hash-compares the two.
"""

from cioos_siooc_data_transform_spark.plans.registry import (  # noqa: F401
    QUERIES,
    ORACLES,
    register,
    all_queries,
    all_oracles,
)

# Importing these modules populates the registry.
from cioos_siooc_data_transform_spark.plans import relational  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import scalar_functions  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import dedup_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import similarity_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import text_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import windowed  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import ios_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import oceanography_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import analytics  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import json_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import asof_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import sampling_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import packing_queries  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import tpch_extra  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r5  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r6  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r7  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r8  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r9  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r10  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r11  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r12  # noqa: F401,E402
from cioos_siooc_data_transform_spark.plans import staged_r13  # noqa: F401,E402
