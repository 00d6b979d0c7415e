"""The benchmark's workloads: fixed lists of registered query names.

Each job is tagged with the engine module family it exercises (or
``None``); ``run.py`` reports the steady wall summed per family.  The
lists are short because every run pays a fresh JVM, a cold first pass
and an oracle check of every job.  ``unregistered`` is the check that
``run.py`` makes before a run and ``selftest.py`` makes on its own.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    jobs: dict[str, str | None]


WORKLOADS = {
    # Read-only scan / exchange / aggregate / join: no Python, no staged
    # memo, no writes.
    "olap_sf01": Workload(0.1, {
        "grouping_sets_levels": "operators.aggregate",
        "order_priority_exists": "operators.joins",
        "shipping_priority": "operators.joins",
        "incremental_enrichment": "plans.caged_pipeline",
    }),
    # The LLM-data operators and the write path at sf0.01, the scale of
    # the engine's oracle parity checks: the Python boundary
    # (multimodal_avi_stats' ``mapInPandas``), a staged session memo
    # (embed_ann_ivf's ``ivf_model``, built in the first pass) and a
    # versioned-table commit feeding a vtable-to-vtable availableNow
    # stream.  Fixed per-job, per-commit and per-stream cost dominates.
    "curate_ingest_sf001": Workload(0.01, {
        "dedup_exact": "operators.dedup",
        "embed_ann_ivf": "operators.similarity",
        "text_quality_score": "operators.text",
        "multimodal_avi_stats": "operators.multimodal",
        "vtable_sink_roundtrip": None,
    }),
}


def unregistered(jobs, queries, oracles) -> list[str]:
    """The jobs ``queries()`` does not register or ``oracle_sql()`` has
    no oracle for, each with the reason."""
    return [f"{job} is not registered" if job not in queries
            else f"{job} has no oracle"
            for job in jobs if job not in queries or job not in oracles]
