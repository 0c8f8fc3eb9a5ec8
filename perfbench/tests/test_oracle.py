"""The graded-query check accepts the program's result, from a fresh and
from a cached DuckDB twin, and rejects a changed one."""

import pyarrow as pa

import datagen
import workloads
from tracing import Tracer


def test_oracle_check_accepts_the_result_and_rejects_a_changed_one(spark, tmp_path):
    from canvas_data_2_aws_spark import registry

    registry.load_all()
    snap = tmp_path / "sf0.1-test"
    datagen.write_snapshot(str(snap), datagen.snapshot_tables(scale=0.01))
    ctx = workloads.Context(
        spark, Tracer(spark, False), str(tmp_path / "work"), str(snap), 1, 1.0
    )
    sdf = registry.QUERIES["agg_group_sum"](spark, str(snap))
    tbl = sdf.toArrow()
    oracle = workloads.OracleCheck(ctx)
    try:
        assert oracle.check("agg_group_sum", sdf, tbl) is None
        assert oracle.con is not None  # the twin ran in DuckDB
    finally:
        oracle.close()

    cached = workloads.OracleCheck(ctx)
    assert cached.check("agg_group_sum", sdf, tbl) is None
    assert cached.con is None  # and came from the work directory this time
    first = tbl.column_names[0]
    changed = tbl.set_column(0, first, pa.nulls(tbl.num_rows, tbl.schema.field(first).type))
    assert "VALUES" in cached.check("agg_group_sum", sdf, changed)
    assert "ROWCOUNT" in cached.check("agg_group_sum", sdf, tbl.slice(1))
