"""The benchmark's workloads: which registered queries each one runs,
with how many closed-loop clients, and under which cache policy.

Every request builds one ``covid_engineering_spark.queries.registry()``
callable and materializes it with the ``noop`` sink. Clients run whole
passes over their mix; the order inside a pass is drawn from the
workload seed, so every run executes the same multiset of requests.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: Closed-loop clients sharing one session.
    clients: int
    #: ``caching.reset()`` before every request (a batch job pays its
    #: cache builds each time) instead of keeping engine caches resident
    #: across requests (a long-lived dashboard session).
    reset_caches: bool


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="covid_dashboard",
            why=(
                "many short per-country, time-series and SIR queries from 2 "
                "clients with resident caches: driver-side build, planning "
                "and per-job scheduling dominate"
            ),
            queries=(
                "p2_filter_eq",
                "p3_date_range",
                "w1_cumsum",
                "w7_rank",
                "m3_param_series",
                "w6_interpolate",
                "x3_sird_mse",
                "covid_wave_peaks",
                "stream_session",
                "a12_cube",
                "j1_broadcast_lookup",
            ),
            clients=2,
            reset_caches=False,
        ),
        Workload(
            name="corpus_curation",
            why=(
                "one client running the LLM-data composites and a sink that "
                "stages its output, caches reset per request: eager "
                "build-time jobs and writes dominate"
            ),
            queries=(
                "pipe_bloom_decontaminate",
                "dedup_substring",
                "text_perplexity",
                "emb_knn_graph",
                "s9_sink_range_sorted",
            ),
            clients=1,
            reset_caches=True,
        ),
    )
}


def pass_order(workload: Workload, seed: int, client: int, n: int) -> list[str]:
    """The ``n``-th pass of ``client``: every query of the mix exactly
    once, in an order drawn from (seed, client, n) alone."""
    order = list(workload.queries)
    random.Random(f"{seed}:{client}:{n}").shuffle(order)
    return order
