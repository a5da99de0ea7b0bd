"""The benchmark's workloads: which operations a pass runs, in what order.

An operation is either a registered query (``QUERIES[name](spark, dir)``,
its result collected to the client) or one scheduled ``driver.run_job``
publish. The ``--seed`` sets the order of operations in every pass and the
days the ``daily_publish`` jobs run; the tables themselves are fixed
(``perfbench/fixture``), so oracle results can be cached per checkout. WORKLOADS.md records why each
workload exists and which layer metrics should move it.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

@dataclass(frozen=True)
class Op:
    name: str  # query name, or "<job>@<day>" for a run_job op
    job: str | None = None
    day: str | None = None

    @property
    def is_job(self) -> bool:
        return self.job is not None


# Pair enumeration (ROADMAP item 2: the wrapper, containment and substring
# pair joins, the exact all-pairs cosine top-k), memo-index builds (LSH
# signatures) and pandas/Arrow Python workers (the quality scorer). The three
# pair joins are the slowest operations, so the tail percentile falls inside
# them rather than on the edge between them and the cheap text queries.
LLM_PAIRS = (
    "l_wrapper_pair_audit",
    "l_containment_pairs",
    "l_substring_span_pairs",
    "l5_cosine_topk",
    "l4_minhash_lsh_neardup",
    "l_model_quality_scorer",
    "l_repetition_stats",
    "l3_exact_dedup_keep_first",
)

# The reference's daily T+1 job plus the table-format commit protocol:
# the balance report published twice through sources.sinks.write_partitioned,
# optimistic-concurrency commits, and a watermarked stream.
DAILY_PROTOCOL = (
    "pipeline_daily_publish",
    "pipeline_commit_storm",
    "x5_stream_dedup_watermark",
)
DAILY_JOBS = (
    ("account_statement", 2),
    ("daily_events", 2),
    ("balance_report", 1),
)
# Event days 2024-01-01..29 (a statement covers [day, day+1) and the events
# table spans 2024-01-01..30); balance reports run on quarter-end as-of dates
# 1995-12-31..2000-09-30, inside the orders' 1995-01..2001-08 range.
EVENT_DAYS = tuple(
    (dt.date(2024, 1, 1) + dt.timedelta(days=i)).isoformat() for i in range(29)
)
AS_OF_DAYS = tuple(
    (dt.date(y, m % 12 + 1, 1) - dt.timedelta(days=1)).isoformat()
    for y in range(1996, 2001)
    for m in (3, 6, 9, 12)
)

WORKLOADS = ("llm_pairs", "daily_publish")
# Workloads whose every pass must reach sources.sinks.write_* (traced check).
WRITES_VIA_SINKS = ("daily_publish",)


def operations(workload: str, seed: int) -> list[Op]:
    """The operations one pass of ``workload`` runs, in canonical order."""
    if workload == "llm_pairs":
        return [Op(n) for n in LLM_PAIRS]
    if workload == "daily_publish":
        rng = random.Random(seed)
        ops = []
        for job, count in DAILY_JOBS:
            days = AS_OF_DAYS if job == "balance_report" else EVENT_DAYS
            ops += [Op(f"{job}@{d}", job, d) for d in sorted(rng.sample(days, count))]
        return ops + [Op(n) for n in DAILY_PROTOCOL]
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def pass_order(ops: list[Op], seed: int, pass_index: int) -> list[Op]:
    """A seeded permutation of ``ops`` for pass ``pass_index``."""
    order = list(ops)
    random.Random(seed * 1_000_003 + pass_index).shuffle(order)
    return order


def all_query_names() -> list[str]:
    return sorted(set(LLM_PAIRS) | set(DAILY_PROTOCOL))
