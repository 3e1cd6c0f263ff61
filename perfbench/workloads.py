"""The benchmark's named workloads.

Each workload is a fixed list of registry queries (``__spark_entry__``)
over seeded tables at one scale factor, run as a closed loop by one client
on one ``local[<cpus>]`` session. The lists are slices of the query
families, sized so that one pass takes a few seconds on a 4-vCPU host and
a whole run (one cold session start, the oracle check, the warm-up passes
and the timed ones) takes 50 to 60 s on a quiet host.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    # a search caller reads its hits, so search results are collected; the
    # other families are materialized by the noop sink
    collect: bool
    why: str


WARMUP_QUERY = "psum_fixed_1h"

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "psum_flows",
            0.01,
            (
                "psum_fixed_1h",
                "psum_cal_month_lineitem",
                "flow_sessions",
                "stream_psum_fixed_tz",
            ),
            False,
            "the paper's proportional_sum operator in batch and as a bounded "
            "stream replay, plus flow sessions; bound by scan, explode, "
            "shuffle-aggregate and micro-batch overhead",
        ),
        Workload(
            "es_search",
            0.001,
            (
                "es_search_dh_fill_terms",
                "es_dsl_terms_lookup",
                "es_dsl_query_string",
                "ann_pq_rerank",
            ),
            True,
            "_search bodies, DSL and ANN queries on small inputs, collected as a "
            "search caller does; stresses query construction (py4j round trips) "
            "and planning",
        ),
    )
}
