"""Seeded upsert feed for ``versioned_ingest``, built from the fixture's
``orders`` table, together with the results expected from applying it.

    python3 perfbench/datagen.py <orders.parquet> <out_dir> <seed> <n_batches>

writes into ``out_dir``:

- ``batch_NNNNN.parquet``, the batches in apply order;
- ``expected.json``, the read-side aggregate after each batch, from the
  independent pandas replay in ``oracle.IngestReplay``;
- ``expected_final.parquet``, the live snapshot after the last batch.

``run.py`` starts this as a process of its own before the Spark session,
so neither the arrays nor the replay count in the measured process's
memory.

Batch ``i`` rewrites ``UPDATE_FRAC`` of the keys live after batch
``i-1`` and appends ``INSERT_FRAC`` of the base table's row count as new
keys. Every batch row takes its customer and order date from a fixture
row (the one with its key, if there is one, else a random one), a total
price within 10% of that row's, and a status and priority drawn from
the fixture's own columns. The same seed always gives byte-identical
batches.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

UPDATE_FRAC = 0.02  # of the live keys, rewritten by each upsert batch
INSERT_FRAC = 0.005  # of the base table's rows, appended by each batch


def _replace(table: pa.Table, name: str, values) -> pa.Table:
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def generate_batches(base_path: str, out_dir: str, seed: int, n_batches: int) -> list[str]:
    """Write the ``n_batches`` upsert batches for the table at
    ``base_path``; returns their paths in apply order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    base = pq.read_table(base_path)
    key = base.column(oracle.KEY).to_numpy()
    assert (key == np.arange(len(key))).all(), "fixture keys are expected to be 0..n-1"
    statuses = base.column("o_orderstatus").to_numpy(zero_copy_only=False)
    priorities = base.column("o_orderpriority").to_numpy(zero_copy_only=False)
    n_base = len(key)
    live = n_base  # keys are 0..live-1: a batch never deletes
    n_new = int(n_base * INSERT_FRAC)
    paths = []
    for i in range(n_batches):
        upd = np.sort(rng.choice(live, int(live * UPDATE_FRAC), replace=False))
        src = np.where(upd < n_base, upd, rng.integers(0, n_base, len(upd)))
        src = np.concatenate([src, rng.integers(0, n_base, n_new)])
        batch = base.take(pa.array(src))
        n = len(src)
        price = batch.column("o_totalprice").to_numpy() * rng.uniform(0.9, 1.1, n)
        batch = _replace(batch, oracle.KEY, np.concatenate([upd, np.arange(live, live + n_new)]))
        batch = _replace(batch, "o_totalprice", np.round(price, 2))
        batch = _replace(batch, "o_orderstatus", statuses[rng.integers(0, n_base, n)])
        batch = _replace(batch, "o_orderpriority", priorities[rng.integers(0, n_base, n)])
        live += n_new
        path = os.path.join(out_dir, f"batch_{i:05d}.parquet")
        pq.write_table(batch.replace_schema_metadata(None), path, compression="snappy")
        paths.append(path)
    return paths


def main(argv: list[str]) -> int:
    base_path, out_dir, seed, n_batches = argv[0], argv[1], int(argv[2]), int(argv[3])
    paths = generate_batches(base_path, out_dir, seed, n_batches)
    replay = oracle.IngestReplay(base_path)
    aggregates = [replay.apply(p) for p in paths]
    replay.write_snapshot(os.path.join(out_dir, "expected_final.parquet"))
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump({"batches": paths, "aggregates": aggregates}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
