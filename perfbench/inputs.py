"""Seeded inputs for one workload run.

The program only ever sees the directory this module writes: one
``<table>.parquet`` per registered table. Tables a workload draws are
sampled without replacement from the read-only fixtures (schema and id
uniqueness kept); every other table is a symlink to the fixture file.
A generated corpus is ``tools.diverse_corpus.generate`` at that tool's
own seed, with document ids and row order permuted by the run's seed:
the near-duplicate graph, and so the number of label-propagation rounds
and Spark jobs, is the same for every seed, while the bytes, ids and
row order the program reads differ. The same seed gives identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from __spark_entry__ import SF0001
from perfbench.workloads import FIXTURE_SF, Workload
from quty_server_spark.sources.tables import TABLES
from tools.diverse_corpus import SEED, generate

# The read-only fixture sets (TESTDATA.md).
FIXTURES = os.path.dirname(SF0001)

# Unique key per drawable table.
ID_COLUMN = {"events": "event_id", "documents": "doc_id"}


def draw(src: str, dst: str, n: int, seed: int, key: str) -> int:
    """Write ``n`` rows of ``src`` drawn without replacement, in fixture
    order, to ``dst``."""
    table = pq.read_table(src)
    if n > table.num_rows:
        raise ValueError(f"{src}: cannot draw {n} of {table.num_rows} rows")
    idx = np.sort(np.random.default_rng(seed).choice(table.num_rows, n, replace=False))
    out = table.take(idx)
    if len(set(out.column(key).to_pylist())) != n:
        raise ValueError(f"{src}: {key} is not unique in the draw")
    pq.write_table(out, dst)
    return n


def permute_ids(path: str, seed: int, key: str) -> None:
    """Rewrite ``path`` with its ``key`` values permuted and its rows
    shuffled, both by ``seed``."""
    table = pq.read_table(path)
    rng = np.random.default_rng(seed)
    ids = np.asarray(table.column(key).to_pylist())
    table = table.set_column(
        table.schema.get_field_index(key), key,
        pa.array(rng.permutation(ids), table.schema.field(key).type),
    )
    pq.write_table(table.take(rng.permutation(table.num_rows)), path)


def build(spec: Workload, seed: int, out_dir: str) -> dict[str, int]:
    """Materialize ``spec``'s inputs under ``out_dir``; return rows per table."""
    fixture_dir = os.path.join(FIXTURES, FIXTURE_SF)
    if not os.path.isdir(fixture_dir):
        raise FileNotFoundError(f"fixture directory {fixture_dir} is missing")
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    for t in TABLES:
        src = os.path.join(fixture_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t == "documents" and spec.corpus_docs:
            generate(out_dir, spec.corpus_docs, SEED)
            permute_ids(dst, seed, ID_COLUMN[t])
            rows[t] = spec.corpus_docs
        elif t in spec.draws:
            rows[t] = draw(src, dst, spec.draws[t], seed, ID_COLUMN[t])
        else:
            os.symlink(src, dst)
            rows[t] = pq.ParquetFile(src).metadata.num_rows
    return rows
