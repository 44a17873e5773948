"""The benchmark's workloads: which registry queries run, at which scale.

Each workload is a closed loop with one client: a pass runs every query
once (build the DataFrame, then write it to the noop sink), in an order
the seed permutes, and the next query starts when the previous ends.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str
    # Fewest timed passes per run. At least three let the median pass drop
    # the first one (still warming the JIT). With an odd number of passes
    # and of queries the median of the (query, pass) samples is one sample
    # inside one query's samples, not the mean of two queries of different
    # cost; OLAP, whose neighbouring queries overlap in cost, takes five.
    passes: int


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="olap_sf0.1",
            sf=0.1,
            # an odd number of queries: see Workload.passes
            queries=(
                "tpch_q9_profit",
                "tpch_q18_large_volume",
                "h2o_g2_sum_by_id1_id2",
                "ev_range_join_bucketed",
                "tpcds_real_q98",
            ),
            passes=5,
            why=(
                "Catalyst-only joins and aggregates: planning, stage work "
                "and the driver gap do the work; no build jobs and no "
                "Python boundary."
            ),
        ),
        Workload(
            name="llm_ingest",
            sf=0.01,
            queries=(
                "dedup_minhash_lsh",
                "sketch_kll_quantiles",
                # the cheapest stateful stream: with three queries of
                # similar cost the median sample is steadier than with the
                # stream-stream join, which costs twice the others
                "stream_dedup_watermarked",
            ),
            passes=3,
            why=(
                "LLM curation and streaming ingest: eager build jobs, the "
                "Python boundary and state-store commits do the work."
            ),
        ),
    )
}
