"""Round-11 optimization-pass structural tests.

VERDICT r10 #1: an explicit ``F.broadcast`` hint bypasses Spark's size
check, so a hint on a data-proportional table (customer is ~15 B rows at
100 TB TPC-H scale; supplier/part/orders likewise grow with SF) OOMs
every executor at scale. The r11 pass removed every such hint (AQE and
the 10 MB auto-threshold still broadcast those sides at local SFs where
they actually fit); this test keeps them out.

Also checks the session-artifact registry (``operators.spool``): its
key, its eviction, and the served record bench.py builds the spool
consumer ledger from.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "manipula_o_de_dataframes_spark")

# Names that, throughout this codebase, bind bounded frames: nation and
# region (n, r, amer/eur/asia), literal grids and model tables, one-row
# aggregates, top-k results, per-query probes, and censuses keyed on a
# bounded domain (event types, languages, sources, buckets, weeks ×
# nations, support-pruned pairs). A broadcast of any other name fails,
# so a new hint must be argued bounded here. Frames derived 1:1 from
# customer/supplier/part/orders/lineitem never belong on this list.
_BOUNDED = frozenset({
    "aa", "ab", "agg_sat", "amer", "asia", "bands", "bench_grams", "best",
    "bl", "bloom_row", "bounds", "brute", "census", "center_tbl", "crank",
    "den", "eur", "first_wk", "fn", "fp", "fr", "g_tot", "glob", "gmax",
    "grand", "grid", "ideal", "idf", "k", "kf", "lags", "mad",
    "mask_counts", "max_m", "max_week", "means", "med", "mid", "mom", "n",
    "n4", "n_baskets", "n_docs", "n_rows", "n_types", "n_users", "offsets",
    "pairs", "per_region", "pos", "probe", "probe_id", "q", "quota", "r",
    "reach", "reps", "sampled", "seasonal", "sizes", "sketch", "solo",
    "sources", "stats", "statuses", "straddle", "summary", "top20", "tot",
    "total", "totals", "types", "u1", "u2", "v", "v0", "v1", "va", "vb",
    "vocab", "vs", "vw", "w", "wbv",
})
_BOUNDED_TABLES = frozenset({"nation", "region"})
_COMBINES = frozenset({"join", "crossJoin", "union", "unionAll", "unionByName"})
# ``F.broadcast(x) if <gate> else x``: joins.inner/left's explicit
# opt-in for callers that know their dim is bounded, and dedup's
# size-checked local component table.
_GATES = frozenset({"broadcast_dim", "used_local"})
# The O(n²) exact contrast baseline; its scale twin,
# cosine_near_dup_blocked, carries no such hint.
_EXEMPT_FUNCS = frozenset({"cosine_near_dup_pairs"})


def _py_sources():
    for root, _dirs, files in os.walk(_PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _is_hint(node) -> bool:
    f = node.func
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "broadcast"
        and isinstance(f.value, ast.Name)
        and f.value.id == "F"
    )


def _bounded(node) -> bool:
    """The frame expression stays small whatever the data size. Walks
    its method chain outside-in: a global aggregate or a limit bounds
    everything inside it; a join or union is bounded only if its
    other side is; the chain must start at a bounded name or at
    ``read_table`` of a bounded table."""
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        if not isinstance(node, ast.Call):
            node = node.value
            continue
        f = node.func
        if _is_hint(node):
            node = node.args[0]
            continue
        if isinstance(f, ast.Name) and f.id == "read_table":
            table = node.args[2] if len(node.args) > 2 else None
            return isinstance(table, ast.Constant) and table.value in _BOUNDED_TABLES
        if isinstance(f, ast.Attribute):
            recv = f.value
            grouped = (
                isinstance(recv, ast.Call)
                and isinstance(recv.func, ast.Attribute)
                and recv.func.attr in ("groupBy", "groupby", "rollup", "cube")
            )
            if f.attr == "limit" or (f.attr == "agg" and not grouped):
                return True
            if f.attr in _COMBINES and not (node.args and _bounded(node.args[0])):
                return False
        node = f
    return isinstance(node, ast.Name) and node.id in _BOUNDED


class _BroadcastHints(ast.NodeVisitor):
    def __init__(self, rel: str) -> None:
        self.rel = rel
        self.funcs: list[str] = []
        self.gated = 0
        self.hits: list[str] = []

    def visit_FunctionDef(self, node) -> None:
        self.funcs.append(node.name)
        self.generic_visit(node)
        self.funcs.pop()

    def visit_IfExp(self, node) -> None:
        gate = isinstance(node.test, ast.Name) and node.test.id in _GATES
        self.gated += gate
        self.visit(node.body)
        self.gated -= gate
        self.visit(node.test)
        self.visit(node.orelse)

    def visit_Call(self, node) -> None:
        if (
            _is_hint(node)
            and not self.gated
            and not _EXEMPT_FUNCS.intersection(self.funcs)
            and not _bounded(node.args[0])
        ):
            self.hits.append(f"{self.rel}:{node.lineno}: {ast.unparse(node)[:120]}")
        self.generic_visit(node)


def test_no_broadcast_hints_on_unbounded_tables():
    hits = []
    for path in _py_sources():
        with open(path) as fh:
            v = _BroadcastHints(os.path.relpath(path, _REPO))
            v.visit(ast.parse(fh.read()))
        hits += v.hits
    assert not hits, (
        "explicit broadcast hints on frames not known to be bounded (OOM "
        "at 100 TB — VERDICT r10 #1; let the size-checked planner/AQE "
        "decide, or argue the name bounded in _BOUNDED):\n" + "\n".join(hits)
    )


def test_broadcast_guard_flags_aliases():
    def flagged(src: str) -> bool:
        v = _BroadcastHints("t.py")
        v.visit(ast.parse(src))
        return bool(v.hits)

    # everything the identifier blacklist caught ...
    for name in (
        "c", "s", "p", "o", "li", "of", "dim", "dims", "dimk", "sn", "versioned",
        "customer", "supplier", "part", "orders", "lineitem",
    ):
        assert flagged(f"F.broadcast({name})")
        assert flagged(f"F.broadcast({name}.select('k'))")
    # ... plus the aliases it missed, which is how cn slipped through
    assert flagged("F.broadcast(cn)")
    assert flagged("F.broadcast(read_table(spark, d, 'customer'))")
    assert flagged("F.broadcast(c.groupBy('k').agg(F.count('*')))")
    assert flagged("F.broadcast(n.join(c, 'k'))")
    assert flagged("F.broadcast(n.limit(5).crossJoin(o))")
    assert not flagged("F.broadcast(n)")
    assert not flagged("F.broadcast(n.join(F.broadcast(r), 'k'))")
    assert not flagged("F.broadcast(read_table(spark, d, 'nation').select('k'))")
    assert not flagged("F.broadcast(li.agg(F.max('d')))")
    assert not flagged("F.broadcast(dim) if broadcast_dim else dim")


def test_session_artifact_key_eviction_and_served_record(spark):
    from manipula_o_de_dataframes_spark.operators import spool as sp
    from manipula_o_de_dataframes_spark.queries import QUERIES, _hb_round
    from tests.conftest import SF_SMOKE

    sp.clear_artifacts()
    path = os.path.abspath(SF_SMOKE)
    stale = ("another-application", path, "hb_round", (4,), ())
    sp._MEMO[stale] = object()
    first = _hb_round(spark, SF_SMOKE)
    assert stale not in sp._MEMO, "a miss must evict other applications' entries"
    # positional, keyword and defaulted spellings bind to one key
    assert _hb_round(spark, SF_SMOKE, 4) is first
    assert _hb_round(spark, SF_SMOKE, r=4) is first
    assert sum(k[2:4] == ("hb_round", (4,)) for k in sp._MEMO) == 1

    # pq_recall reaches the pq_codes artifact only through pq_serve;
    # the served record sees it anyway
    sp.drain_served()
    QUERIES["pq_recall"](spark, SF_SMOKE).collect()
    assert "pq_codes" in sp.drain_served()


def test_global_ranks_scaled_rejects_bad_specs():
    import pytest

    from manipula_o_de_dataframes_spark.operators.windows import global_ranks_scaled

    # validation fires before any Spark work, so no session is needed
    with pytest.raises(ValueError, match="non-empty"):
        global_ranks_scaled(None, ())
    with pytest.raises(ValueError, match="duplicate out_col"):
        global_ranks_scaled(
            None,
            (("a", "rank", True, ()), ("b", "rank", False, ())),
        )
