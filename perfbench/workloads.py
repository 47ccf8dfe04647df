"""The benchmark's workloads: registry queries run one at a time.

A pass runs every op of a workload once; an op is one call to a registry
query function with its result collected on the driver. ``tables`` are
the fixture tables the ops read; they are the only inputs the program
receives.

The two workloads bypass each other: graph_iterate runs no filekafka and
no streaming code, kafka_ingest no graph round loop. Op lists are kept
short because every run pays a fresh JVM and a cold pass: on a 4-core
box a run of either workload takes about a minute end to end.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]
    ops: tuple[str, ...]
    # untimed passes between the cold pass and the timed ones: the ops'
    # pass times still fall while the JIT compiles their hot paths
    warmup: int
    # fewest timed passes; warm_s is their median
    timed: int
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kafka_ingest",
            ("events", "documents"),
            # the only streaming op with a warm pass under 5 s, and the
            # cheapest op that folds CDC batches through apply_cdc_batch
            ("kafka_stream_decode_agg", "cdc_state_time_travel"),
            # the first warm pass is at most about a tenth slower than the
            # later ones; three passes of ~7 s are what the run budget holds
            0,
            3,
            "the ingest side: an availableNow stream over the filekafka log "
            "with Confluent decode, and CDC batches folded by apply_cdc_batch",
        ),
        Workload(
            "graph_iterate",
            ("lineitem",),
            # the two round loops changed last (exchange-free k_core
            # rounds, frontier bfs with its per-round isEmpty probe)
            ("graph_kcore", "graph_bfs"),
            # driver-side planning of the round loops keeps getting faster
            # for three to five passes after the cold one
            3,
            4,
            "hand-rolled round loops of operators.graph with per-round jobs "
            "and checkpoints; no filekafka, no streaming",
        ),
    )
}
