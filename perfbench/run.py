"""Benchmark of the replica pipeline and the graded queries.

Run from the root of a checkout of the program:

    python3 perfbench/run.py --workload replica_sync --seed 1 --seconds 5 --trace 0

Workloads: ``replica_sync`` and ``replica_query`` (see perfbench/README.md).
One process, one closed-loop client, a Spark session built by the
program's own ``session.get_spark`` on ``local[nproc]``. Every run checks the program's outputs; the last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). The exit code is 0
only if every check passed, and 2 without a result when the program is
not in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

import datagen
import percentiles
import workloads

#: (name, unit) of the end-to-end metrics every workload reports; the
#: README maps each to the workload's own figure.
END_TO_END = [
    ("setup_s", "s"),
    ("first_s", "s"),
    ("op_gmean_s", "s"),
    ("throughput", "1/s"),
]

QUERY_MODULES = [
    "relational", "joins", "aggregates", "windows", "analytics", "scalars",
    "dedup", "text", "vectors", "pipelines", "curation", "multimodal", "udfs",
]

_SPARK = [
    ("jobs", "count"), ("tasks", "count"), ("exec_run_s", "s"), ("exec_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("slot_util", "ratio"),
]

#: (name, unit) of the per-layer metrics of a traced run.
PER_LAYER = [
    ("sources.envelope.calls", "count"),
    ("sources.envelope.read_s", "s"),
    ("sources.envelope.records", "count"),
    ("sources.envelope.bytes", "bytes"),
    ("operators.merge.calls", "count"),
    ("operators.merge.apply_changeset_s", "s"),
    ("cli.syncdb.calls", "count"),
    ("cli.syncdb_s", "s"),
    ("cli.syncdb.jobs", "count"),
    ("cli.syncdb.exec_run_s", "s"),
    ("cli.syncdb.input_bytes", "bytes"),
    ("cli.syncdb.shuffle_write_bytes", "bytes"),
    ("cli.syncdb.output_bytes", "bytes"),
    ("cli.syncdb.files_written", "count"),
    ("cli.syncdb.write_amp", "ratio"),
    ("cli.syncdb.after_commit_s", "s"),
    ("replica.commit_s", "s"),
    ("replica.vacuum_s", "s"),
    ("replica.vacuum.removed", "count"),
    ("replica.load.calls", "count"),
    ("replica.space_amp", "ratio"),
    ("cli.initdb_s", "s"),
    ("cli.validate_s", "s"),
    ("cli.validate.input_bytes", "bytes"),
    ("session.load_table.calls", "count"),
    ("session.load_table_s", "s"),
    *[
        (f"queries.{m}.{k}", u)
        for m in QUERY_MODULES
        for k, u in (("build_s", "s"), ("drain_s", "s"), ("jobs", "count"))
    ],
    ("cache.memo.calls", "count"),
    ("cache.memo.builds", "count"),
    ("cache.memo.hit_ratio", "ratio"),
    ("cache.memo.build_s", "s"),
    ("cache.memo.entries", "count"),
    ("cache.corpus.entries", "count"),
    *[(f"spark.{k}", u) for k, u in _SPARK],
]

#: Layers each workload is predicted never to call; the traced run checks.
BYPASS = {
    "replica_sync": [
        "cache.memo.calls", "cache.corpus.entries",
        *[f"queries.{m}.jobs" for m in QUERY_MODULES],
    ],
    "replica_query": [
        "cli.syncdb.calls", "operators.merge.calls", "sources.envelope.calls",
        "replica.load.calls", "cli.initdb_s", "cli.validate_s",
    ],
}


def _contain(root: str, work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout and size the
    session to this host. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The JVM would otherwise write its perf data and temp files to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the program by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


def _warm_up(spark, tmp_dir: str) -> None:
    """JIT and Python-worker warm-up, the same for every workload: the
    engine paths the workloads share (parquet write and read, JSON
    decode, hash aggregate, window, anti join, union) on generated rows,
    and one Arrow Python-worker job on every core."""
    from pyspark.sql import Window, functions as F

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 200_000, numPartitions=cores).selectExpr(
        "id", "id % 97 AS k", "to_json(named_struct('v', id, 's', cast(id AS string))) AS j"
    )
    path = os.path.join(tmp_dir, "warm-up")
    for _ in range(2):
        df.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path).select(
            "id", "k", F.from_json("j", "v BIGINT, s STRING").alias("r")
        )
        ranked = back.withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy(F.col("id").desc()))
        )
        kept = ranked.where("rn = 1").select("id", "k")
        survivors = back.select("id", "k").join(kept, "id", "left_anti")
        survivors.unionByName(kept).groupBy("k").count().collect()

    def identity(batches):
        yield from batches

    df.select("id", "k").mapInPandas(identity, "id BIGINT, k BIGINT").count()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def _per_layer(tracer, cores: int) -> dict[str, float]:
    from canvas_data_2_aws_spark.operators import fuzzy_graph, similarity

    c = tracer.counters

    def g(key: str) -> float:
        return float(c.get(key, 0.0))

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    op_wall = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    memo_calls, memo_builds = g("cache.memo.calls"), g("cache.memo.builds")
    m = {
        "sources.envelope.calls": g("sources.envelope.read.calls"),
        "sources.envelope.read_s": g("sources.envelope.read_s"),
        "sources.envelope.records": g("sources.envelope.records"),
        "sources.envelope.bytes": g("sources.envelope.bytes"),
        "operators.merge.calls": g("operators.merge.apply_changeset.calls"),
        "operators.merge.apply_changeset_s": g("operators.merge.apply_changeset_s"),
        "cli.syncdb.calls": g("cli.syncdb.calls"),
        "cli.syncdb_s": g("cli.syncdb_s"),
        "cli.syncdb.files_written": g("cli.syncdb.files_written"),
        "cli.syncdb.write_amp": ratio(
            g("cli.syncdb.spark.output_bytes"), g("cli.syncdb.changeset_bytes")
        ),
        "cli.syncdb.after_commit_s": g("cli.syncdb.after_commit_s"),
        "replica.commit_s": g("replica.commit_s"),
        "replica.vacuum_s": g("replica.vacuum_s"),
        "replica.vacuum.removed": g("replica.vacuum.removed"),
        "replica.load.calls": g("replica.load.calls"),
        "replica.space_amp": g("replica.space_amp"),
        "cli.initdb_s": g("cli.initdb_s"),
        "cli.validate_s": g("cli.validate_s"),
        "cli.validate.input_bytes": g("cli.validate.spark.input_bytes"),
        "session.load_table.calls": g("session.load_table.calls"),
        "session.load_table_s": g("session.load_table_s"),
        "cache.memo.calls": memo_calls,
        "cache.memo.builds": memo_builds,
        "cache.memo.hit_ratio": ratio(memo_calls - memo_builds, memo_calls),
        "cache.memo.build_s": g("cache.memo.build_s"),
        "cache.memo.entries": float(len(fuzzy_graph._CACHE)),
        "cache.corpus.entries": float(len(similarity._CORPUS_CACHE)),
        "spark.spill_bytes": g("spark.disk_spill_bytes"),
        "spark.slot_util": ratio(g("spark.exec_run_s"), op_wall * cores),
    }
    for k in ("jobs", "exec_run_s", "input_bytes", "shuffle_write_bytes", "output_bytes"):
        m[f"cli.syncdb.{k}"] = g(f"cli.syncdb.spark.{k}")
    for mod in QUERY_MODULES:
        q = f"queries.{mod}"
        m[f"{q}.build_s"] = g(f"{q}.build_s")
        m[f"{q}.drain_s"] = g(f"{q}.drain_s")
        m[f"{q}.jobs"] = g(f"{q}.build.spark.jobs") + g(f"{q}.drain.spark.jobs")
    for k, _ in _SPARK:
        m.setdefault(f"spark.{k}", g(f"spark.{k}"))
    return m


def _result(correct: bool, attempted: int, failed: int, metrics, units) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units},
        }
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "canvas_data_2_aws_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "tools", "check_oracle.py"))
    ):
        print(
            "perfbench: canvas_data_2_aws_spark/ and tools/ not found in the "
            "working directory; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, "perfbench", ".work")
    cores = len(os.sched_getaffinity(0))
    _contain(root, work, cores)
    snapshot = datagen.ensure_snapshot(work)

    # Set-up: the program's imports, its session factory and registry,
    # and the warm-up, timed from before the first import of either.
    t0 = time.perf_counter()
    from canvas_data_2_aws_spark import registry, session

    spark = session.get_spark("perfbench")
    registry.load_all()
    _warm_up(spark, os.environ["TMPDIR"])
    setup_s = time.perf_counter() - t0

    from pyspark import SparkContext

    from tools import check_oracle
    from tracing import Tracer

    gateway = SparkContext._gateway
    try:
        spin_start = check_oracle.spin_probe()
        tracer = Tracer(spark, enabled=bool(args.trace))
        workloads.instrument(tracer)
        try:
            out = workloads.WORKLOADS[args.workload](
                workloads.Context(spark, tracer, work, snapshot, args.seed, args.seconds)
            )
            per_layer = _per_layer(tracer, cores) if args.trace else {}
        finally:
            tracer.restore()
        peak_rss_mb = _vm_hwm_mb(gateway.proc.pid) + _vm_hwm_mb("self")
        spin_end = check_oracle.spin_probe()
        host = {
            "cores": cores,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": args.seed,
            "host_factor_start": spin_start / check_oracle._REF_SPIN_S,
            "host_factor_end": spin_end / check_oracle._REF_SPIN_S,
        }
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=60)

    return report(args, work, out, setup_s, host, per_layer, peak_rss_mb, tracer)


def bypass_failures(workload: str, per_layer: dict[str, float]) -> list[str]:
    """One message per layer the workload was predicted never to call
    but did."""
    return [
        f"bypass {name} = {per_layer[name]:g}, predicted 0"
        for name in BYPASS[workload]
        if per_layer[name] != 0
    ]


def report(args, work: str, out, setup_s: float, host: dict, per_layer: dict,
           peak_rss_mb: float, tracer) -> int:
    """Print the report and the JSON result line, write the results
    files and return the exit code: 0 only if every check passed. Works
    on a run that failed before any warm sample (the medians are NaN)."""
    if args.trace:
        for problem in bypass_failures(args.workload, per_layer):
            out.fail(problem)
    e2e = {
        "setup_s": setup_s,
        "first_s": out.first_s,
        "op_gmean_s": percentiles.gmean(out.op_samples),
        "throughput": workloads.per_second(out.work_done, out.op_samples),
    }
    named = {
        "setup_s": (setup_s, "s", 1, "imports, session, registry, warm-up"),
        **out.named,
        "error_rate": (out.failed / max(out.attempted, 1), "ratio", out.attempted, "ops"),
        "peak_rss_mb": (peak_rss_mb, "MB", 1, "VmHWM driver JVM + Python"),
    }
    correct = out.failed == 0
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "host": host,
        "end_to_end": e2e,
        "named": named,
        "ops": out.ops,
        "errors": out.errors,
        "per_layer": per_layer,
    }

    print(
        f"{args.workload} seed={args.seed} cores={host['cores']} spark={host['spark']} "
        f"java={host['java']} python={host['python']} host_factor="
        f"{host['host_factor_start']:.2f}/{host['host_factor_end']:.2f}"
    )
    for name, (value, unit, n, note) in named.items():
        print(f"  {name:24s} {value:14.4f} {unit:5s} n={n:<4d} {note}")
    for e in out.errors:
        print(f"  FAILED {e}")

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    last_untraced = os.path.join(results, f"last-{args.workload}.json")
    if args.trace:
        tracer.write(os.path.join(results, f"trace-{args.workload}-{args.seed}.json"))
        for name in BYPASS[args.workload]:
            verdict = "as predicted" if per_layer[name] == 0 else "NOT BYPASSED"
            print(f"  bypass {name} = {per_layer[name]:g} ({verdict})")
        if os.path.exists(last_untraced):
            with open(last_untraced, encoding="utf-8") as fh:
                base = json.load(fh)["end_to_end"]
            record["trace_overhead"] = {k: e2e[k] - base[k] for k in e2e}
            for k, d in record["trace_overhead"].items():
                print(f"  trace overhead {k:16s} {d:+.4f} (untraced {base[k]:.4f})")
    with open(
        os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
        "w",
        encoding="utf-8",
    ) as fh:
        json.dump(record, fh, indent=1)
    if not args.trace:
        with open(last_untraced, "w", encoding="utf-8") as fh:
            json.dump(record, fh, indent=1)

    if args.trace:
        print(_result(correct, out.attempted, out.failed, per_layer, PER_LAYER))
    else:
        print(_result(correct, out.attempted, out.failed, e2e, END_TO_END))
    return 0 if correct else 1

if __name__ == "__main__":
    sys.exit(main())
