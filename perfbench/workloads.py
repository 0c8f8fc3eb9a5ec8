"""The workloads, their correctness checks and the traced run's hooks.

Each workload drives the program only through its public surface: the
``cli`` verbs and the graded queries in ``registry.QUERIES``. Timed
regions hold the program's calls only; input generation, DuckDB replays
and oracle comparisons run outside them.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np

import datagen
import percentiles
import replay

#: Oracle-backed relational graded queries (scan, join, aggregate, window,
#: scalar), at least one from each relational module: read-only Catalyst
#: work that no session cache serves.
RELATIONAL = [
    "agg_group_sum",
    "scan_project_filter",
    "join_inner_agg",
    "join_left_outer",
    "agg_grouping_sets",
    "agg_pivot",
    "window_topk_per_group",
    "scalar_string",
]

#: The LLM-data curation mix, at least one query from each curation module.
#: Python/Arrow workers, BLAS kernels and the two session caches: the BM25
#: postings frame has three consumers in a pass (bm25, rocchio, hybrid),
#: the embedding-corpus broadcast two (knn, hybrid), and every memoized
#: frame is read again by each warm pass.
CURATION = [
    "dedup_duplicate_spans",
    "text_bm25",
    "search_rocchio_expand",
    "knn_cosine_exact",
    "search_hybrid_rrf",
    "text_naive_bayes_quality",
    "multimodal_phash_dedup",
    "udf_grouped_zscore",
]

QUERIES = RELATIONAL + CURATION


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    snapshot: str
    seed: int
    seconds: float

    @property
    def run_dir(self) -> str:
        return os.path.join(self.work, "run")


@dataclass
class Outcome:
    """What a workload measured: the generic end-to-end values, the
    workload's own named figures (for the report) and the op counts."""

    first_s: float
    op_samples: list[float]
    work_done: float  # changes or queries the op samples completed
    #: name -> (value, unit, samples, note), printed by name in the report
    named: dict[str, tuple] = field(default_factory=dict)
    #: (query or verb, phase, wall seconds) of every timed operation
    ops: list[tuple[str, str, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message)


def _verb(argv: list[str]) -> str | None:
    """Run one ``cli`` verb as a user would, keeping its prints off the
    benchmark's stdout. ``None`` if it succeeded, else why not."""
    from canvas_data_2_aws_spark import cli

    try:
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv)
    except Exception as exc:  # a failed op counts against the run
        return f"raised {type(exc).__name__}: {exc}"[:500]
    return None if rc == 0 else f"exited {rc}"


def per_second(work: float, samples: list[float]) -> float:
    """Work done per second of the timed samples, NaN without samples."""
    return work / sum(samples) if samples else float("nan")


def _timing(prefix: str, samples: list[float]) -> dict[str, tuple]:
    """``{prefix}_p50_s`` and ``{prefix}_tail_s``: the median and the
    highest percentile with enough samples beyond it (NaN when there
    are too few samples for any), each with its sample count."""
    t = percentiles.tail(samples)
    n = len(samples)
    return {
        f"{prefix}_p50_s": (percentiles.median(samples), "s", n, "p50"),
        f"{prefix}_tail_s": (t[1], "s", n, f"p{t[0]}")
        if t
        else (float("nan"), "s", n, f"n/a: fewer than {percentiles.TAIL_MIN_BEYOND + 1} samples"),
    }


# --- replica_sync -----------------------------------------------------------


def _manifest(root: str) -> dict:
    """The replica manifest, empty when there is none (a failed initdb)."""
    path = os.path.join(root, "_manifest.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.startswith("part-")
    return total, files


def replica_sync(ctx: Context) -> Outcome:
    """``initdb`` of orders, customer and part and two ``syncdb`` batches
    (the cold phase), whole blocks of seeded three-table ``syncdb``
    batches until ``seconds`` of sync time, then the ``validate`` audit
    against an independent DuckDB replay."""
    tracer = ctx.tracer
    root = os.path.join(ctx.run_dir, "replica")
    changes_dir = os.path.join(ctx.run_dir, "changes")
    expected_dir = os.path.join(ctx.run_dir, "expected")
    for d in (root, changes_dir, expected_dir):
        shutil.rmtree(d, ignore_errors=True)

    out = Outcome(first_s=0.0, op_samples=[], work_done=0)
    boot = []
    for table in datagen.SYNC_KEYS:
        t0 = time.perf_counter()
        with tracer.op("cli.initdb"):
            problem = _verb(
                ["initdb", "--table", table, "--source-dir", ctx.snapshot,
                 "--replica", root]
            )
            boot.append(time.perf_counter() - t0)
        out.attempted += 1
        if problem:
            out.fail(f"initdb {table} {problem}")
    stream = datagen.ChangeStream(ctx.seed, datagen.live_keys(ctx.snapshot))
    files: dict[str, list[str]] = {t: [] for t in datagen.SYNC_KEYS}
    token = None

    def sync(size: str, phase: str) -> tuple[float, int]:
        nonlocal token
        batch = stream.write_batch(size, os.path.join(changes_dir, f"{stream.batches:04d}"))
        token = f"{ctx.seed}:{stream.batches}"
        argv = ["syncdb"]
        for table, key in datagen.SYNC_KEYS.items():
            argv += ["--table", table, "--changes", batch[table][0], "--key", key]
            files[table].append(batch[table][0])
        argv += ["--replica", root, "--token", token]
        t0 = time.perf_counter()
        with tracer.op("cli.syncdb"):
            problem = _verb(argv)
            t1 = time.perf_counter()
        out.ops.append((f"syncdb:{size}", phase, t1 - t0))
        out.attempted += 1
        if problem:
            out.fail(f"syncdb {token} {problem}")
        if tracer.enabled and not problem:
            _trace_sync_batch(tracer, root, batch, t1)
        return t1 - t0, sum(n for _, n in batch.values())

    # The first syncs of a fresh replica pay one-off costs (plan code
    # generation, JIT compilation of the decode and merge paths: the
    # first took 3.4-4.3 s, the second 2.5-3.4 s, later ones 2.0-2.5 s),
    # so two trickle syncs belong to the cold phase.
    first_sync = sum(sync("trickle", "cold")[0] for _ in range(2))
    out.first_s = sum(boot) + first_sync
    while sum(out.op_samples) < ctx.seconds and not out.failed:
        for size in datagen.BLOCK:
            wall, records = sync(size, "warm")
            out.op_samples.append(wall)
            out.work_done += records

    # Correctness, untimed: the expected final tables from the snapshot
    # and the JSONL, then the program's own audit verb against them.
    con = duckdb.connect()
    try:
        for table, key in datagen.SYNC_KEYS.items():
            replay.replay_table(
                con,
                os.path.join(ctx.snapshot, f"{table}.parquet"),
                key,
                files[table],
                os.path.join(expected_dir, f"{table}.parquet"),
            )
    finally:
        con.close()
    validate = []
    for table, key in datagen.SYNC_KEYS.items():
        t0 = time.perf_counter()
        with tracer.op("cli.validate"):
            problem = _verb(
                ["validate", "--table", table, "--source-dir", expected_dir,
                 "--replica", root, "--key", key]
            )
            validate.append(time.perf_counter() - t0)
        out.attempted += 1
        if problem:
            out.fail(f"validate {table} {problem}: replica differs from the DuckDB replay")
    if _manifest(root).get("token") != token:
        out.fail(f"manifest token {_manifest(root).get('token')!r} != last sent {token!r}")
    if tracer.enabled and not out.failed:
        on_disk = _dir_bytes(root)[0]
        live = sum(
            _dir_bytes(os.path.join(root, e["dir"]))[0]
            for e in _manifest(root)["tables"].values()
        )
        tracer.add("replica.space_amp", on_disk / live)

    out.named = {
        "bootstrap_s": (sum(boot), "s", 1, "initdb x3"),
        "sync_first_s": (first_sync, "s", 2, "two syncdb after bootstrap"),
        **_timing("sync", out.op_samples),
        "sync_changes_per_s": (
            per_second(out.work_done, out.op_samples), "1/s", len(out.op_samples), "changes"
        ),
        "validate_s": (sum(validate), "s", 1, "validate x3"),
    }
    return out


def _trace_sync_batch(tracer, root: str, batch: dict, verb_end: float) -> None:
    tracer.add(
        "cli.syncdb.changeset_bytes", sum(os.path.getsize(p) for p, _ in batch.values())
    )
    commit_end = tracer.marks.pop("replica.commit.end", None)
    if commit_end is not None:
        tracer.add("cli.syncdb.after_commit_s", verb_end - commit_end)
    for entry in _manifest(root)["tables"].values():
        tracer.add("cli.syncdb.files_written", _dir_bytes(os.path.join(root, entry["dir"]))[1])


# --- graded queries -----------------------------------------------------------


class OracleCheck:
    """Compares each drained result with the query's ``registry.ORACLES``
    twin run in DuckDB over the same snapshot, with the comparison
    ``tools/check_oracle.run_one`` makes: row count, column set, dtype
    labels, no nested output, then canonical bit-exact values,
    order-insensitive.

    The DuckDB side is a pure function of the oracle SQL, the snapshot
    and the DuckDB version, so its canonical rows are kept in the work
    directory under a hash of all three (the snapshot directory is named
    after a hash of its generator). Running the sixteen twins and
    canonicalising their rows takes about 13 s a pass on a 4-core host,
    twice a run.
    """

    def __init__(self, ctx: Context):
        from tools import check_oracle

        self.co = check_oracle
        self.cache_dir = os.path.join(ctx.work, "oracle")
        self.work = ctx.work
        self.snapshot = ctx.snapshot
        self.con = None

    def close(self) -> None:
        if self.con is not None:
            self.con.close()

    def _duck(self) -> duckdb.DuckDBPyConnection:
        if self.con is None:
            from canvas_data_2_aws_spark import schemas

            self.con = duckdb.connect()
            self.con.execute("SET threads=2")
            self.con.execute("SET memory_limit='2GB'")
            self.con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
            for t in schemas.TABLE_NAMES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.snapshot}/{t}.parquet'"
                )
        return self.con

    def expected(self, name: str) -> dict:
        """Columns, dtype labels and canonical rows of the DuckDB twin."""
        from canvas_data_2_aws_spark import registry

        sql = registry.ORACLES[name]
        key = hashlib.sha256(
            f"{os.path.basename(self.snapshot)}\0{duckdb.__version__}\0{sql}".encode()
        ).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return json.load(fh)
        rel = self._duck().sql(sql)
        cols = list(rel.columns)
        exp = {
            "columns": cols,
            "labels": {c: self.co.duck_dtype_label(t) for c, t in zip(cols, rel.types)},
            "rows": self.co.canon_rows(cols, rel.fetchall()),
        }
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(exp, fh)
        os.replace(path + ".tmp", path)
        return exp

    def check(self, name: str, sdf, tbl) -> str | None:
        """``None`` if the result is right, else what differs."""
        exp = self.expected(name)
        cols = tbl.column_names
        rows = [tuple(r) for r in zip(*[c.to_pylist() for c in tbl.columns])] if cols else []
        msgs = []
        if len(rows) != len(exp["rows"]):
            msgs.append(f"ROWCOUNT spark={len(rows)} duckdb={len(exp['rows'])}")
        if sorted(cols) != sorted(exp["columns"]):
            msgs.append(f"SCHEMA spark={sorted(cols)} duckdb={sorted(exp['columns'])}")
        labels = {
            f.name: self.co.spark_dtype_label(f.dataType.simpleString())
            for f in sdf.schema.fields
        }
        dtype = [
            f"{c}: spark={labels[c]} duckdb={exp['labels'][c]}"
            for c in sorted(set(labels) & set(exp["labels"]))
            if labels[c] != exp["labels"][c]
        ]
        if dtype:
            msgs.append("DTYPE " + "; ".join(dtype))
        nested = [c for c, lab in labels.items() if lab == "nested"]
        if nested:
            msgs.append(f"NESTED-OUTPUT {nested}")
        if not msgs:
            got = self.co.canon_rows(cols, rows)
            want = [tuple(r) for r in exp["rows"]]
            if got != want:
                diffs = [(a, b) for a, b in zip(got, want) if a != b][:3]
                msgs.append(f"VALUES first-diffs={diffs}")
        return "; ".join(msgs) or None


def _run_query(
    ctx: Context, oracle: OracleCheck, out: Outcome, name: str, sf_dir: str, phase: str
) -> float:
    """One graded query: build (the graded function call, with any eager
    checkpoint jobs) then drain (``toArrow``, the path
    ``check_oracle.fetch_rows`` takes). Returns its wall time; the
    oracle comparison runs after the clock stops."""
    from canvas_data_2_aws_spark import registry

    module = registry.MODULES[name].rsplit(".", 1)[-1]
    tracer = ctx.tracer
    out.attempted += 1
    t_start = t0 = time.perf_counter()
    try:
        with tracer.op(f"queries.{module}.build"):
            sdf = registry.QUERIES[name](ctx.spark, sf_dir)
            wall = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.op(f"queries.{module}.drain"):
            tbl = sdf.toArrow()
            wall += time.perf_counter() - t0
    except Exception as exc:  # a failed op counts against the run
        out.fail(f"{name}: {type(exc).__name__}: {exc}"[:500])
        return time.perf_counter() - t_start
    out.ops.append((name, phase, wall))
    try:
        problem = oracle.check(name, sdf, tbl)
    except Exception as exc:
        problem = f"the check raised {type(exc).__name__}: {exc}"
    if problem is not None:
        out.fail(f"{name}: wrong result: {problem}"[:500])
    return wall


def replica_query(ctx: Context) -> Outcome:
    """The analyst's closed loop over the snapshot: the relational and the
    curation mix interleaved, in a fresh seeded order each pass. The cold
    pass reads the snapshot through a path alias this session has never
    read, so every session cache builds afresh, as a daily job reading a
    new snapshot would; warm passes repeat the alias until ``seconds`` of
    warm query time."""
    rng = np.random.default_rng([ctx.seed, 0x51])
    os.makedirs(ctx.run_dir, exist_ok=True)
    alias = os.path.join(ctx.run_dir, f"snapshot-{ctx.seed}")
    if os.path.lexists(alias):
        os.remove(alias)
    os.symlink(ctx.snapshot, alias)
    oracle = OracleCheck(ctx)
    out = Outcome(first_s=0.0, op_samples=[], work_done=0)
    passes = []
    try:
        cold = {
            str(n): _run_query(ctx, oracle, out, str(n), alias, "cold")
            for n in rng.permutation(QUERIES)
        }
        out.first_s = sum(cold.values())
        while sum(out.op_samples) < ctx.seconds and not out.failed:
            walls = {
                str(n): _run_query(ctx, oracle, out, str(n), alias, "warm")
                for n in rng.permutation(QUERIES)
            }
            out.op_samples += walls.values()
            passes.append(walls)
        out.work_done = len(out.op_samples)
    finally:
        oracle.close()
        os.remove(alias)
    relational = [w for p in passes for n, w in p.items() if n in RELATIONAL]
    curation = [sum(p[n] for n in CURATION) for p in passes]
    out.named = {
        "cold_pass_s": (out.first_s, "s", 1, f"{len(QUERIES)} queries, new alias"),
        "relational_first_s": (sum(cold[n] for n in RELATIONAL), "s", 1, "relational mix"),
        "curation_cold_s": (sum(cold[n] for n in CURATION), "s", 1, "curation mix"),
        **_timing("query", out.op_samples),
        "queries_per_s": (
            per_second(out.work_done, out.op_samples), "1/s", len(out.op_samples), "warm"
        ),
        **_timing("relational_query", relational),
        "curation_warm_s": (
            percentiles.median(curation), "s", len(curation), "curation mix per warm pass"
        ),
    }
    return out


WORKLOADS = {"replica_sync": replica_sync, "replica_query": replica_query}


# --- traced-run hooks ---------------------------------------------------------


def instrument(tracer) -> None:
    """Wrap the program's layer entry points for the traced run."""
    if not tracer.enabled:
        return
    from canvas_data_2_aws_spark import cli, replica, session
    from canvas_data_2_aws_spark.operators import fuzzy_graph

    def envelope(original):
        def wrapper(spark, path, *args, **kwargs):
            with tracer.span("sources.envelope.read"):
                df = original(spark, path, *args, **kwargs)
            tracer.add("sources.envelope.bytes", os.path.getsize(path))
            with open(path, "rb") as fh:
                tracer.add("sources.envelope.records", sum(1 for _ in fh))
            return df

        return wrapper

    def commit(original):
        def wrapper(*args, **kwargs):
            with tracer.span("replica.commit"):
                result = original(*args, **kwargs)
            tracer.marks["replica.commit.end"] = time.perf_counter()
            return result

        return wrapper

    def vacuum(original):
        def wrapper(*args, **kwargs):
            with tracer.span("replica.vacuum"):
                removed = original(*args, **kwargs)
            tracer.add("replica.vacuum.removed", len(removed))
            return removed

        return wrapper

    def memo(original):
        depth = [0]

        def wrapper(spark, sf_dir, kind, build):
            built = []

            def counted_build():
                built.append(kind)
                return build()

            t0 = time.perf_counter()
            depth[0] += 1
            try:
                with tracer.span("cache.memo"):
                    return original(spark, sf_dir, kind, counted_build)
            finally:
                depth[0] -= 1
                if built:
                    tracer.add("cache.memo.builds", 1)
                    if depth[0] == 0:  # nested builds are inside this one
                        tracer.add("cache.memo.build_s", time.perf_counter() - t0)

        return wrapper

    tracer.wrap(cli, "read_changeset_jsonl", envelope)
    tracer.wrap(cli, "apply_changeset", tracer.timed("operators.merge.apply_changeset"))
    tracer.wrap(replica, "commit", commit)
    tracer.wrap(replica, "vacuum", vacuum)
    tracer.wrap(replica, "load", tracer.timed("replica.load"))
    tracer.wrap(session, "load_table", tracer.timed("session.load_table"))
    tracer.wrap(fuzzy_graph, "memoized_checkpoint", memo)
