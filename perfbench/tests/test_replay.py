"""The DuckDB replay that defines the expected replica state agrees with
the program's merge operator on a small change stream."""

import os

import duckdb
import pyarrow.parquet as pq

import datagen
import replay


def test_replay_matches_apply_changeset(spark, tmp_path):
    from canvas_data_2_aws_spark.operators.merge import apply_changeset
    from canvas_data_2_aws_spark.sources.envelope import read_changeset_jsonl
    from tools.check_oracle import canon_rows

    snap = tmp_path / "snap"
    datagen.write_snapshot(str(snap), datagen.snapshot_tables(scale=0.01))
    live = {
        t: pq.read_table(snap / f"{t}.parquet", columns=[k]).column(0).to_numpy()
        for t, k in datagen.SYNC_KEYS.items()
    }
    stream = datagen.ChangeStream(11, live)
    files = {t: [] for t in datagen.SYNC_KEYS}
    for i, size in enumerate(datagen.BLOCK):
        for t, (path, _) in stream.write_batch(size, str(tmp_path / f"b{i}")).items():
            files[t].append(path)

    con = duckdb.connect()
    for table, key in datagen.SYNC_KEYS.items():
        expected_path = str(tmp_path / "expected" / f"{table}.parquet")
        n = replay.replay_table(
            con, str(snap / f"{table}.parquet"), key, files[table], expected_path
        )
        base = spark.read.parquet(str(snap / f"{table}.parquet"))
        for path in files[table]:
            changes = read_changeset_jsonl(
                spark, path, table=table, key_cols=[key], ts_col="_ts", seq_col="_seq"
            )
            merged = apply_changeset(base, changes, keys=[key], compact_by=["_ts", "_seq"])
            out = str(tmp_path / "spark" / f"{table}-{os.path.basename(os.path.dirname(path))}")
            merged.write.parquet(out)
            base = spark.read.parquet(out)
        got = base.toArrow()
        want = pq.read_table(expected_path)
        assert got.num_rows == n == want.num_rows
        assert sorted(got.column_names) == sorted(want.column_names)

        def rows(tbl):
            return [tuple(r) for r in zip(*[c.to_pylist() for c in tbl.columns])]

        assert canon_rows(got.column_names, rows(got)) == canon_rows(
            want.column_names, rows(want)
        )
    con.close()
