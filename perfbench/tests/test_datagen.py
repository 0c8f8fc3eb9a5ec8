import filecmp
import json

import numpy as np

import datagen


def _live(scale=0.01):
    tables = datagen.snapshot_tables(scale=scale)
    return {
        t: tables[t].column(k).to_numpy() for t, k in datagen.SYNC_KEYS.items()
    }


def _write(seed, out_dir, blocks=2):
    stream = datagen.ChangeStream(seed, _live())
    paths = []
    for b in range(blocks):
        for i, size in enumerate(datagen.BLOCK):
            batch = stream.write_batch(size, str(out_dir / f"{b}-{i}"))
            paths += [p for p, _ in batch.values()]
    return paths


def test_change_stream_is_deterministic_per_seed(tmp_path):
    a = _write(7, tmp_path / "a")
    b = _write(7, tmp_path / "b")
    c = _write(8, tmp_path / "c")
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_snapshot_is_deterministic():
    x = datagen.snapshot_tables(scale=0.01)
    y = datagen.snapshot_tables(scale=0.01)
    assert all(x[t].equals(y[t]) for t in x)
    assert x["orders"].num_rows == 1500


def test_batches_mix_every_change_kind(tmp_path):
    live = _live()
    stream = datagen.ChangeStream(3, live)
    batch = stream.write_batch("bulk", str(tmp_path))
    path, n = batch["orders"]
    recs = [json.loads(line) for line in open(path)]
    assert len(recs) == n
    keys = [r["key"]["o_orderkey"] for r in recs]
    base = set(live["orders"].tolist())
    actions = {(r["meta"]["action"], r["key"]["o_orderkey"] in base) for r in recs}
    assert {("U", True), ("U", False), ("D", True), ("D", False)} <= actions
    counts = np.unique(keys, return_counts=True)[1]
    assert counts.max() >= 3  # keys changed several times in one batch
    seen = {}
    ties = 0
    for r in recs:
        k, ts = r["key"]["o_orderkey"], r["meta"]["ts"]
        ties += ts in seen.get(k, set())
        seen.setdefault(k, set()).add(ts)
    assert ties > 0  # equal meta.ts on one key: file order decides
