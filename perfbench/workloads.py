"""The benchmark's workloads: which registry queries run, at what size.

Timed passes send every result to Spark's ``noop`` sink, which runs the
whole plan with all its columns and discards the rows on the executors
(``count()`` would let Catalyst prune unaggregated columns).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sf: float  # input scale; see inputs.generate
    # wall of one warm pass on the reference box (4 vCPUs, see
    # STEADINESS.md); sets how many timed passes --seconds buys
    nominal_pass_s: float


WORKLOADS = {
    # Plan building through py4j, eager driver jobs inside the build
    # and checkpointed memory.
    "dedup_similarity": Workload(
        (
            "x_minhash_signatures",
            "x_dedup_jaccard_prefix",
            "x_sim_knn_join",
            "x_embed_semdedup",
            "x_text_quality",
        ),
        0.02,
        9.0,
    ),
    # Micro-batches and the state store; the workload that writes
    # replay, sink and checkpoint files.
    "stream_state": Workload(
        (
            "s31_streaming_session_windows",
            "s32_streaming_dedup_ingest",
            "s40_streaming_agg_resume",
        ),
        0.1,
        8.5,
    ),
}
