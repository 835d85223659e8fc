"""Tests for the benchmark's own code: ``python3 -m pytest perfbench -q``.

The first group is pure Python. The last two start the benchmark itself at
sf0.001 (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import datagen
import run
import stats
import workloads as wl
from worker import Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from manipula_o_de_dataframes_spark import queries  # noqa: E402

NAMES = list(queries.QUERIES)


def test_dashboard_plan_is_deterministic_in_the_seed():
    a = wl.plan("dashboard", 5, NAMES)
    assert a == wl.plan("dashboard", 5, NAMES)
    assert a["ops"] != wl.plan("dashboard", 6, NAMES)["ops"]


def test_registry_mix_is_pinned():
    a = wl.plan("registry", 1, NAMES)["ops"]
    assert a == wl.plan("registry", 2, NAMES)["ops"] == list(wl.REGISTRY_MIX)
    anchors = {"fk_conformance", "fd_discovery", "max_coverage_select", "corpus_pipeline"}
    assert len(set(a)) == 20 and anchors <= set(a)
    assert not any(q.startswith("tpch_q") for q in a)


def test_registry_mix_fails_when_a_query_is_missing():
    with pytest.raises(ValueError, match="holt_trend"):
        wl.plan("registry", 1, [q for q in NAMES if q != "holt_trend"])


def test_session_artifacts_exist():
    assert all(callable(getattr(queries, name, None)) for name in wl.SESSION_ARTIFACTS)


def test_interaction_specs_are_deterministic():
    specs = wl.interaction_specs(9)
    assert specs == wl.interaction_specs(9) != wl.interaction_specs(10)
    assert len(specs) == wl.DASHBOARD_INTERACTIONS
    assert all(1 <= s["page"] <= wl.MAX_PAGE for s in specs)


def test_tables_are_deterministic_and_checked(tmp_path):
    a = datagen.build_tables(0.001, 3)
    b = datagen.build_tables(0.001, 3)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(datagen.build_tables(0.001, 4)["lineitem"])
    datagen.write_tables(0.001, 3, str(tmp_path))
    assert datagen.check_tables(str(tmp_path))["lineitem"] == 6000
    os.remove(tmp_path / "events.parquet")
    with pytest.raises(FileNotFoundError, match="events"):
        datagen.check_tables(str(tmp_path))


@pytest.mark.parametrize("n,level", [(20, 50), (39, 50), (40, 75), (100, 90), (199, 90), (200, 95)])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    values = list(range(n))
    p = stats.percentile(values, level)
    assert sum(v > p for v in values) >= stats.MIN_BEYOND


def test_percentile_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail_level(19)
    with pytest.raises(ValueError):
        stats.percentile(list(range(39)), 75)


def test_wrong_results_count_as_failures(tmp_path):
    data = str(tmp_path)
    datagen.write_tables(0.001, 3, data)
    from manipula_o_de_dataframes_spark.oracles import ORACLES  # noqa: PLC0415
    from manipula_o_de_dataframes_spark.parity import run_oracle  # noqa: PLC0415

    good = run_oracle(ORACLES["pending_by_week"], data)
    bad = good.copy()
    col = bad.select_dtypes("number").columns[0]
    bad.loc[0, col] += 1
    r = Run(SimpleNamespace(), queries.QUERIES)
    r.attempted = 2
    r.results = [("query", "pending_by_week", good), ("query", "pending_by_week", bad)]
    r.gate(data)
    assert len(r.failures) == 1 and "pending_by_week" in r.failures[0]

    hist = run_oracle(ORACLES["product_client_history"], data)
    spec = {"filter": {"subgrupo": wl.ALL, "ultimo_consultor": "R"}, "sort": "n_interacoes", "page": 2}
    ws = hist[hist.ultimo_consultor == "R"].sort_values(["n_interacoes", "produto", "cliente"],
                                                        ascending=[False, True, True])
    page = ws.iloc[wl.PAGE_SIZE : 2 * wl.PAGE_SIZE]
    assert wl.page_matches(page.sample(frac=1, random_state=0), hist, spec)
    assert not wl.page_matches(ws.iloc[: wl.PAGE_SIZE], hist, spec)


def _dry_run(trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "dashboard",
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_dry_run_prints_every_end_to_end_metric():
    details, result = _dry_run(0)
    assert result["correct"] and result["failed"] == 0
    end_to_end, _ = run.metric_names()
    assert set(result["metrics"]) == set(end_to_end)
    for name in end_to_end:
        assert result["metrics"][name]["value"] > 0
        assert details["metrics"][name]["samples"] >= 1 and details["metrics"][name]["unit"]
    named = details["workload_metrics"]
    assert {"wall_s", "process_s", "interaction_p50_ms", "interaction_p95_ms"} <= set(named)
    assert all(m["samples"] >= 1 and m["unit"] for m in named.values())
    assert details["failed_share"] == 0


def test_traced_dry_run_prints_every_layer_metric():
    _, result = _dry_run(1)
    assert set(result["metrics"]) == set(run.metric_names()[1])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sources.read_calls"] > 0 and m["sources.interaction_read_calls"] == 0
    assert m["spool.writes"] == 0 and m["scheduler.jobs"] > 0
    assert m["plans.history_cache_s"] > 0 and m["operators.interaction_collect_ms"] > 0
