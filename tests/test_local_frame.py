"""``operators.util.local_frame``: the package's one constructor for
frames built from driver-side rows."""

from __future__ import annotations

import inspect
import os

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

import hdb_resale_price_data_pipeline_spark as pkg
from hdb_resale_price_data_pipeline_spark import schemas
from hdb_resale_price_data_pipeline_spark.operators import util
from hdb_resale_price_data_pipeline_spark.operators.util import local_frame

# One schema per call-site shape: the four seed StructTypes and the DDL
# strings the profiling, similarity, unigram, components, index-store
# and CDC sites pass.
CALL_SITE_SCHEMAS = [
    schemas.TOWN_DISTRICT_SCHEMA,
    schemas.DISTRICT_REGION_SCHEMA,
    schemas.DISTRICT_CODE_SCHEMA,
    schemas.AGENCY_SCHEMA,
    "fd string, ndv_det bigint, ndv_dep bigint, status string, violation_ppm bigint",
    "ind string, ndv_child bigint, ndv_parent bigint, coverage_ppm bigint, "
    "status string, n_violating bigint",
    "ind string, ndv_child bigint, ndv_parent bigint, coverage_ppm bigint",
    "od string, ndv_a bigint, ndv_b bigint, status string, asc_viol_groups bigint, "
    "desc_viol_groups bigint, n_groups bigint, disorder_ppm bigint",
    "od string, ndv_a bigint, ndv_b bigint",
    "vec_id bigint, label int, mmr_rank int, mmr_score bigint",
    "step int, vec_id bigint, sel_d_q double",
    "piece string, pid int",
    "node bigint, component bigint",
    "cid int, cent array<double>",
    "m int, code int, cent array<double>",
    "o_orderkey bigint, price_cents bigint, last_seq int, deleted boolean, bucket int",
]

# (typical, extreme) value per column type
_VALUES = {
    IntegerType: (-7, 2**31 - 1),
    LongType: (1 << 40, -(2**63)),
    StringType: ("Ang Mo Kio", "★ 🏠 ñ"),
    DoubleType: (0.1, -1e308),
    BooleanType: (True, False),
}


def _value(dt, extreme: int):
    if isinstance(dt, ArrayType):
        return [[1.5, None, -0.0], []][extreme]
    return _VALUES[type(dt)][extreme]


def _rows(schema: StructType) -> list[tuple]:
    """A typical row, a row with NULL in every nullable column, and a
    row of extreme values."""
    fields = schema.fields
    return [
        tuple(_value(f.dataType, 0) for f in fields),
        tuple(None if f.nullable else _value(f.dataType, 0) for f in fields),
        tuple(_value(f.dataType, 1) for f in fields),
    ]


@pytest.mark.core
def test_local_frame_matches_list_path_and_is_the_only_constructor(spark):
    from pyspark.sql.types import _parse_datatype_string

    for schema in CALL_SITE_SCHEMAS:
        struct = (
            _parse_datatype_string(schema) if isinstance(schema, str) else schema
        )
        for rows in (_rows(struct), []):
            got = local_frame(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got.schema == want.schema, schema
            assert got.collect() == want.collect(), schema
    # DISTRICT_CODE_SCHEMA keeps its non-nullable postal_sector
    assert not local_frame(spark, [], schemas.DISTRICT_CODE_SCHEMA).schema[
        "postal_sector"
    ].nullable

    plan = (
        local_frame(spark, [(1, "a")], "k int, v string")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    # Arrow and the list path read naive datetimes in different zones
    with pytest.raises(TypeError, match="timestamp"):
        local_frame(spark, [], "k int, t timestamp")
    with pytest.raises(TypeError, match="timestamp"):
        local_frame(
            spark, [], StructType([StructField("t", TimestampNTZType(), True)])
        )

    # every other site goes through the helper
    lines, start = inspect.getsourcelines(util.local_frame)
    helper = (os.path.abspath(util.__file__), range(start, start + len(lines)))
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    outside = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if "createDataFrame(" not in line:
                        continue
                    if path == helper[0] and lineno in helper[1]:
                        continue
                    outside.append(f"{os.path.relpath(path, root)}:{lineno}")
    assert outside == []
