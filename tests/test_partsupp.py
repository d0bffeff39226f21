"""sources/partsupp.ensure_partsupp: one derived copy per version of its
source files."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR_SMOKE


def test_rewritten_part_derives_new_pairs(spark, tmp_path):
    from cioos_siooc_data_transform_spark.sources.partsupp import ensure_partsupp

    for t in ("part", "supplier", "lineitem"):
        shutil.copy(os.path.join(SF_DIR_SMOKE, f"{t}.parquet"), tmp_path)
    copies = set()

    def derive():
        df = ensure_partsupp(spark, str(tmp_path))
        copies.update(os.path.dirname(f) for f in df.inputFiles())
        return {(r[0], r[1]) for r in df.select("ps_partkey", "ps_suppkey").collect()}

    try:
        before = derive()
        assert derive() == before and len(copies) == 1

        part = pq.read_table(tmp_path / "part.parquet")
        new_key = max(part["p_partkey"].to_pylist()) + 1000
        extra = pa.table(
            {c: pa.array([part[c][0].as_py()], part.schema.field(c).type) for c in part.column_names}
        ).set_column(0, "p_partkey", pa.array([new_key], part.schema.field("p_partkey").type))
        pq.write_table(pa.concat_tables([part, extra]), tmp_path / "part.parquet")

        after = derive()
        assert len(copies) == 2
        assert before < after
        assert {k for k, _ in after - before} == {new_key}
    finally:
        for copy in copies:
            shutil.rmtree(copy.removeprefix("file:"), ignore_errors=True)
