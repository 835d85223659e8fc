"""Workload definitions: which operations one run performs, resolved from a seed.

Everything here is pure Python over the engine's query names, so a run's
inputs can be listed (and replayed) without starting Spark.
"""

from __future__ import annotations

import random

from stats import median, percentile, tail_level

# The registry workload: 20 queries in this order, whatever the seed (the
# seed varies the tables only). The four job-heavy anchors (fk_conformance,
# fd_discovery, max_coverage_select, corpus_pipeline), 12 other plain queries,
# 3 consumers of session spools (ipw_ate, minhash_signatures, holt_trend)
# and 1 streaming drain (stream_running_totals). The list is pinned so a
# change to the registry cannot change which queries are timed or their
# order. Query costs are heavy-tailed (0.1 s to 10 s each in the full
# sweep), and the first query of a process pays its first-touch JIT and
# codegen (stream_running_totals: 7.3 s when first, 3.2-3.5 s elsewhere).
REGISTRY_MIX = (
    "corpus_pipeline",
    "top_bigrams",
    "label_centroids",
    "embedding_near_dup_blocked",
    "stream_running_totals",
    "half_sample_ci",
    "fk_conformance",
    "winsorized_stats",
    "max_coverage_select",
    "holt_winters",
    "isotonic_calibration",
    "union_by_name",
    "ipw_ate",
    "fd_discovery",
    "mad_outliers",
    "minhash_signatures",
    "audio_chunk_near_dup",
    "state_snapshot_diff",
    "holt_trend",
    "schema_evolution_ingest",
)
# Helpers in the engine's ``queries`` module that memoize a session artifact
# (a spool or a collected frame, keyed on the application id). The traced
# run wraps them to count builds against reuses.
SESSION_ARTIFACTS = (
    "_bpe_top_merges",
    "_doc_clusters",
    "_edges_sym_deg",
    "_edges_uv",
    "_event_transition_census",
    "_hb_round_regs",
    "_minhash_sig8",
    "_nation_week_rev",
    "_obs_customer_frame",
    "_order_spans",
    "_pair_support",
    "_pq_codes_spooled",
    "_weekly_nation_census",
)

ALL = "__all__"
BRANDS = [f"Brand#{k}" for k in range(1, 26)]
CONSULTANTS = ["A", "N", "R"]
SORT_KEYS = ["n_interacoes", "total_qtd", "ultima_data", "cliente"]
PAGE_SIZE = 50
MAX_PAGE = 10
DASHBOARD_INTERACTIONS = 200


# Workload name -> scale factor of its timed tables.
WORKLOADS = {"dashboard": 0.01, "registry": 0.01}


def interaction_specs(seed: int, n: int = DASHBOARD_INTERACTIONS) -> list[dict]:
    """The analyst's filter / sort / page choices, drawn from the seed."""
    rng = random.Random(seed)
    return [
        {
            "filter": {
                "subgrupo": rng.choice(BRANDS + [ALL] * 5),
                "ultimo_consultor": rng.choice(CONSULTANTS + [ALL]),
            },
            "sort": rng.choice(SORT_KEYS),
            "page": rng.randint(1, MAX_PAGE),
        }
        for _ in range(n)
    ]


def sort_order(key: str) -> list[tuple[str, bool]]:
    """(column, descending) pairs: the chosen key, then the history's
    (produto, cliente) key as tie-breaker so every page is well defined."""
    return [(key, key != "cliente")] + [(c, False) for c in ("produto", "cliente") if c != key]


def page_matches(page, working_set, spec: dict) -> bool:
    """True when ``page`` holds exactly the rows pandas selects from the
    collected working set for the same filter, sort and slice."""
    ws = working_set
    for col, value in spec["filter"].items():
        if value != ALL:
            ws = ws[ws[col] == value]
    cols, desc = zip(*sort_order(spec["sort"]))
    asc = [not d for d in desc]
    lo = (spec["page"] - 1) * PAGE_SIZE
    expected = ws.sort_values(list(cols), ascending=asc, kind="mergesort").iloc[lo : lo + PAGE_SIZE]
    got = page.sort_values(list(cols), ascending=asc, kind="mergesort")
    if len(got) != len(expected):
        return False
    return len(got) == 0 or got.reset_index(drop=True).equals(expected.reset_index(drop=True))


def plan(workload: str, seed: int, names: list[str]) -> dict:
    """Resolve one run's operations from its seed; ``names`` are the
    registry's query names, and a pinned query missing from them fails."""
    if workload == "dashboard":
        ops: list = ["process", *interaction_specs(seed)]
    elif workload == "registry":
        missing = [q for q in REGISTRY_MIX if q not in names]
        if missing:
            raise ValueError(f"registry queries missing from queries.QUERIES: {missing}")
        ops = list(REGISTRY_MIX)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"workload": workload, "seed": seed, "ops": ops}


def named_metrics(workload: str, latencies_ms: list[float], samples: dict, pass_walls: list[float]) -> dict:
    """The workload's own names for its timings, each with unit and sample count."""
    n = len(latencies_ms)
    tail = tail_level(n)
    out = {"wall_s": {"value": median(pass_walls), "unit": "s", "samples": len(pass_walls)}}
    if workload == "dashboard":
        process = samples.get("process_s", [])
        out["process_s"] = {"value": median(process), "unit": "s", "samples": len(process)}
        for p in (50, tail):
            out[f"interaction_p{p}_ms"] = {"value": percentile(latencies_ms, p), "unit": "ms", "samples": n}
    else:
        for p in (50, tail):
            out[f"query_p{p}_s"] = {"value": percentile(latencies_ms, p) / 1000, "unit": "s", "samples": n}
    return out
