"""Workload definitions: op lists, inputs and the cold/warm memo convention.

Each workload is a closed loop with one client: the runner calls the
registered query functions in list order, one at a time, each timed from
outside the program. Why each workload exists is recorded in
``BENCHMARK.json``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Fixture set (TESTDATA.md) that supplies every table not drawn or generated.
FIXTURE_SF = "sf0.01"


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    # table → rows drawn without replacement from the fixture.
    draws: dict[str, int] = field(default_factory=dict)
    # > 0: documents are tools.diverse_corpus.generate(n), ids permuted by seed.
    corpus_docs: int = 0
    # Timed passes per untraced run. A count, not a time, because the
    # first pass after set-up still carries JIT warm-up and costs more
    # CPU than later ones: with a time-based count a run that made one
    # pass instead of three read up to 70% higher.
    passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_pubsub",
            ops=(
                "flagship_delivery_report",
                "q6_forecast_revenue",
                "route_fanout",
                "stream_route_fanout",
                "q13_order_distribution",
            ),
            draws={"events": 4000},
            passes=2,
        ),
        Workload(
            name="llm_detect",
            ops=(
                "dedup_cluster",
                "text_quality_score",
                "sim_ann_ivf_artifact",
                "mm_decode_features",
                "graph_degree_distribution",
                "doc_quality_gate",
                "sink_lake_artifacts_retract",
            ),
            corpus_docs=300,
        ),
    )
}

# Session memo reset before an op, so the op is timed COLD on every pass
# (the same resets bench.py makes). Every other op is WARM: it reads
# whatever memo the warm pass or an earlier op of the same pass built.
COLD_MEMO = {
    "dedup_cluster": "_quty_cluster_labels",
    "dedup_cluster_incremental": "_quty_incremental_cluster_labels",
    "text_bpe_train_n": "_quty_bpe_state",
}

# (producer, consumer): the consumer's WARM number assumes the producer
# ran earlier in the pass — bench.py's HEADLINE order asserts.
RUNS_BEFORE = (
    ("dedup_cluster", "dedup_cluster_stats"),
    ("dedup_cluster", "corpus_training_snapshot"),
    ("dedup_cluster", "corpus_training_snapshot_mm"),
    ("dedup_cluster", "sink_training_shards_bpe"),
    ("text_bpe_train_n", "text_bpe_encode"),
    ("text_bpe_train_n", "text_bpe_encode_vocab"),
    ("text_bpe_train_n", "sink_training_shards_bpe"),
    ("text_bpe_train_n", "sink_bpe_merges_artifact"),
    ("sink_bpe_merges_artifact", "text_bpe_encode_artifact"),
)


def check_order(ops: tuple[str, ...]) -> None:
    """Raise if a memo consumer precedes its producer in ``ops``."""
    for first, then in RUNS_BEFORE:
        if first in ops and then in ops and ops.index(first) > ops.index(then):
            raise ValueError(f"{first} must run before {then}")


def memo_convention(ops: tuple[str, ...]) -> dict[str, str]:
    return {op: "cold" if op in COLD_MEMO else "warm" for op in ops}


for _w in WORKLOADS.values():
    check_order(_w.ops)
