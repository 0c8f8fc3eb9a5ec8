"""A failed check always reaches the report: FAILED lines, a result line
marked incorrect and exit code 1, also when no warm sample was taken."""

import argparse
import json

import datagen
import run
import workloads
from tracing import Tracer

HOST = {
    "cores": 2, "spark": "x", "java": "x", "python": "x", "seed": 1,
    "host_factor_start": 1.0, "host_factor_end": 1.0,
}


def _report(tmp_path, out, workload, trace, per_layer):
    args = argparse.Namespace(workload=workload, seed=1, trace=trace)
    return run.report(
        args, str(tmp_path / "work"), out, 1.0, HOST, per_layer, 1.0, Tracer(None, False)
    )


def _last_json(text):
    return json.loads(text.strip().splitlines()[-1])


def test_a_wrong_cold_query_is_reported_and_exits_1(spark, tmp_path, monkeypatch, capsys):
    from canvas_data_2_aws_spark import registry

    registry.load_all()
    snap = tmp_path / "snap"
    datagen.write_snapshot(str(snap), datagen.snapshot_tables(scale=0.01))
    monkeypatch.setattr(workloads, "RELATIONAL", ["agg_group_sum"])
    monkeypatch.setattr(workloads, "CURATION", [])
    monkeypatch.setattr(workloads, "QUERIES", ["agg_group_sum"])
    monkeypatch.setattr(workloads.OracleCheck, "check", lambda *a: "fake mismatch")
    ctx = workloads.Context(
        spark, Tracer(spark, False), str(tmp_path / "work"), str(snap), 1, 60.0
    )
    out = workloads.replica_query(ctx)
    assert out.op_samples == []  # the cold failure stopped the warm loop

    rc = _report(tmp_path, out, "replica_query", 0, {})
    text = capsys.readouterr().out
    assert rc == 1
    assert "FAILED agg_group_sum: wrong result: fake mismatch" in text
    result = _last_json(text)
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (1, 1)
    assert set(result["metrics"]) == {n for n, _ in run.END_TO_END}


def test_a_layer_called_against_its_bypass_prediction_fails(tmp_path, capsys):
    out = workloads.Outcome(first_s=1.0, op_samples=[0.5, 0.7], work_done=2, attempted=3)
    per_layer = {name: 0.0 for name, _ in run.PER_LAYER}
    assert run.bypass_failures("replica_query", per_layer) == []
    per_layer["cli.syncdb.calls"] = 1.0

    rc = _report(tmp_path, out, "replica_query", 1, per_layer)
    text = capsys.readouterr().out
    assert rc == 1
    assert "bypass cli.syncdb.calls = 1 (NOT BYPASSED)" in text
    assert "FAILED bypass cli.syncdb.calls = 1, predicted 0" in text
    assert _last_json(text)["correct"] is False
