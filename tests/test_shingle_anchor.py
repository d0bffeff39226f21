"""Round-14 pin: the shared `_distinct_shingles` reuse anchor is
repartition(doc_id), not a global distinct.

Three facts the optimization rests on (plans/dedup_queries.py):
1. rows are globally unique BY CONSTRUCTION (array_distinct within the
   doc + doc_id in every row), so dropping the distinct changes nothing;
2. the helper still emits exactly the distinct (doc_id, shingle) rows;
3. the anchor Exchange is keyed on doc_id alone, so the minhash
   signature aggregate (and every other groupBy(doc_id) consumer) plans
   with ZERO additional Exchange on top of it.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE


def _explain(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_anchor_rows_match_explicit_distinct(spark):
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _distinct_shingles,
    )

    sh = _distinct_shingles(spark, SF_DIR_SMOKE)
    explicit = sh.distinct()
    assert sh.exceptAll(explicit).count() == 0
    assert explicit.exceptAll(sh).count() == 0
    # and uniqueness holds by construction, not by the (removed) dedup
    assert sh.count() == sh.distinct().count()


def test_signature_agg_plans_no_extra_exchange(spark):
    from cioos_siooc_data_transform_spark.operators.dedup import (
        minhash_signature,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _distinct_shingles,
    )

    sh = _distinct_shingles(spark, SF_DIR_SMOKE)
    sig = minhash_signature(sh, "doc_id", "s", num_hashes=8)
    plan = _explain(sig)
    # count the formatted plan's numbered operator list, not tree-art
    # prefixes (a root-level or differently-drawn Exchange has neither
    # "+- " nor ":- " in front of it)
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, (
        "expected exactly the repartition(doc_id) anchor Exchange; the "
        f"signature groupBy must reuse its partitioning:\n{plan}"
    )
    assert "hashpartitioning(doc_id" in plan


def test_anchor_key_is_doc_id_alone(spark):
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _distinct_shingles,
    )

    plan = _explain(_distinct_shingles(spark, SF_DIR_SMOKE))
    assert "hashpartitioning(doc_id" in plan
    # the old anchor shuffled on (doc_id, s) and ran two no-op
    # HashAggregates; neither may come back silently
    assert "hashpartitioning(doc_id#" in plan
    assert "HashAggregate" not in plan
