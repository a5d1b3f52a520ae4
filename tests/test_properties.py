"""Property-based tests (hypothesis) for the orchestration layer — the
pieces whose input space is combinatorial: dependency extraction, cycle
detection, scheduling. Mirrors and extends the reference's unit-test
strategy (src/main.rs:463-548) with generated cases instead of three
fixtures. Only the parse round-trip needs the Spark session (refs come
from its parser); the rest, and the kernel mirrors below, are pure
Python.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from powersql_spark.orchestrator.dag import (
    build_graph,
    detect_cycles,
    get_dependencies,
    topo_order,
)
from powersql_spark.orchestrator.sqlparse import Model, parse_model_file

# Bare SQL keywords aren't legal relation names without quoting; keep
# generated names out of that space (the reference's parser would
# reject them too).
_KEYWORDS = {
    "select", "from", "join", "on", "as", "where", "group", "order",
    "by", "left", "right", "full", "cross", "inner", "outer", "union",
    "and", "or", "not", "in", "is", "null", "case", "when", "then",
    "end", "else", "exists", "with", "view", "table", "create",
    "limit", "having", "distinct", "between", "like", "cast", "assert",
}

names = st.lists(
    st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
        lambda s: s not in _KEYWORDS
    ),
    min_size=1,
    max_size=12,
    unique=True,
)


@st.composite
def random_dags(draw):
    """Random acyclic deps: edges only from earlier to later names in a
    drawn order, so acyclicity holds by construction."""
    ns = draw(names)
    deps = {}
    for i, n in enumerate(ns):
        pool = ns[:i]
        refs = draw(
            st.lists(st.sampled_from(pool), unique=True, max_size=len(pool))
            if pool
            else st.just([])
        )
        deps[n] = refs
    return deps


@given(random_dags())
@settings(max_examples=200, deadline=None)
def test_topo_order_respects_deps(deps):
    order = topo_order(deps)
    assert sorted(order) == sorted(deps)
    pos = {n: i for i, n in enumerate(order)}
    for name, refs in deps.items():
        for r in refs:
            assert pos[r] < pos[name], f"{r} must run before {name}"


@given(random_dags())
@settings(max_examples=200, deadline=None)
def test_detect_cycles_accepts_dags(deps):
    detect_cycles(deps)  # must not raise


@given(random_dags(), st.data())
@settings(max_examples=200, deadline=None)
def test_detect_cycles_rejects_injected_cycle(deps, data):
    """Closing any dependency path back on itself must be detected."""
    with_refs = [n for n, refs in deps.items() if refs]
    if not with_refs:
        deps["a0"] = ["a0"]  # self-loop
    else:
        name = data.draw(st.sampled_from(with_refs))
        # Walk to a root of name's dependency tree, then point it at name.
        cur = deps[name][0]
        seen = {name}
        while deps[cur] and cur not in seen:
            seen.add(cur)
            cur = deps[cur][0]
        deps[cur] = deps[cur] + [name] if cur != name else [name]
    try:
        detect_cycles(deps)
    except ValueError as e:
        assert "Cycle" in str(e)
    else:
        raise AssertionError("cycle not detected")


@given(random_dags())
@settings(max_examples=200, deadline=None)
def test_build_graph_degrees_consistent(deps):
    """Draining the scheduler hands out every model exactly once, and
    only after all of its parents are done."""
    graph = build_graph(deps)
    done: list[str] = []
    while graph.is_active():
        ready = graph.get_ready()
        assert ready, "active graph with nothing ready"
        for name in ready:
            assert set(deps[name]) <= set(done), name
        graph.done(*ready)
        done.extend(ready)
    assert sorted(done) == sorted(deps)


@given(random_dags())
@settings(max_examples=100, deadline=None)
def test_parse_roundtrip_models_and_deps(spark, deps):
    """Generate a model file whose FROM/JOIN clauses encode ``deps``
    exactly; parsing + extraction must reproduce them. External tables
    (never defined as models) must be filtered out of the DAG, like the
    reference does (src/main.rs:221)."""
    stmts = []
    for name, refs in deps.items():
        if not refs:
            sql = f"CREATE VIEW {name} AS SELECT 1 AS c FROM ext_src"
        else:
            first, *rest = refs
            joins = " ".join(f"JOIN {r} ON 1 = 1" for r in rest)
            sql = f"CREATE VIEW {name} AS SELECT 1 AS c FROM {first} {joins}"
        stmts.append(sql)
    models = parse_model_file(";\n".join(stmts) + ";")
    assert set(models) == set(deps)
    assert all(isinstance(m, Model) for m in models.values())
    extracted = get_dependencies(spark, models)
    assert {n: sorted(r) for n, r in extracted.items()} == {
        n: sorted(r) for n, r in deps.items()
    }


# ---- kernels added in round 3: pure-python mirrors property-tested ----

from tests.test_semantics import _xy2d  # noqa: E402


@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_hilbert_locality_beats_random_pairs(cells):
    """Hilbert indices of grid-adjacent cells are closer on average
    than arbitrary pairs' — the locality property the layout relies
    on. Weak form per example: adjacent cells always have distinct
    indices and the index stays in range."""
    for x, y in cells:
        d = _xy2d(8, x, y)
        assert 0 <= d < 256 * 256
        if x + 1 < 256:
            d2 = _xy2d(8, x + 1, y)
            assert d2 != d


@given(
    st.lists(
        st.tuples(
            st.floats(-100, 100, allow_nan=False),
            st.integers(1, 50),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_lower_weighted_median_properties(pairs):
    """The lower weighted median (first value whose cumulative weight
    reaches half the total) is an observed value, at least half the
    weight sits at-or-above it, and scaling all weights preserves
    it."""
    pairs = sorted((round(v, 6), w) for v, w in pairs)
    tw = sum(w for _v, w in pairs)
    cum = 0
    med = None
    for v, w in pairs:
        cum += w
        if 2 * cum >= tw:
            med = v
            break
    assert med is not None
    assert any(v == med for v, _w in pairs)
    at_or_above = sum(w for v, w in pairs if v >= med)
    assert 2 * at_or_above >= tw
    # weight scaling invariance
    cum = 0
    med2 = None
    for v, w in pairs:
        cum += 7 * w
        if 2 * cum >= 7 * tw:
            med2 = v
            break
    assert med2 == med


@given(
    st.lists(st.floats(-50, 50, allow_nan=False), min_size=1, max_size=50),
    st.lists(st.floats(-50, 50, allow_nan=False), min_size=1, max_size=50),
)
@settings(max_examples=200, deadline=None)
def test_ks_integer_formulation_matches_float_ecdf(a, b):
    """|f1*n2 - f2*n1| / (n1*n2) == max |ECDF1 - ECDF2| (the integer
    form the operator keeps until the final division), and D is
    invariant under any strictly increasing transform."""
    import numpy as np

    a = np.sort(np.round(np.asarray(a), 6))
    b = np.sort(np.round(np.asarray(b), 6))
    n1, n2 = len(a), len(b)
    vs = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(a, vs, side="right")
    f2 = np.searchsorted(b, vs, side="right")
    d_int = np.abs(f1 * n2 - f2 * n1).max()
    d_float = np.abs(f1 / n1 - f2 / n2).max()
    assert abs(d_int / (n1 * n2) - d_float) < 1e-9
    # monotone transform invariance (x -> x^3 preserves order)
    a3 = a**3
    b3 = b**3
    vs3 = np.unique(np.concatenate([a3, b3]))
    g1 = np.searchsorted(np.sort(a3), vs3, side="right")
    g2 = np.searchsorted(np.sort(b3), vs3, side="right")
    assert np.abs(g1 * n2 - g2 * n1).max() == d_int


# ---------------------------------------------------------------------------
# Round-4 oracle-machinery properties (pure Python, no Spark):
# the BPE oracle's wrapped-symbol replace encoding and the KMV
# sketch's merge invariance.
# ---------------------------------------------------------------------------


def _greedy_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Reference greedy left-to-right fold (the F.aggregate semantics
    in pipeline/bpe.py)."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


@given(
    st.lists(
        st.sampled_from(["a", "b", "ab", "ba", "aa"]),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(["a", "b", "ab", "ba", "aa"]),
    st.sampled_from(["a", "b", "ab", "ba", "aa"]),
)
@settings(max_examples=500, deadline=None)
def test_wrapped_replace_equals_greedy_fold(syms, left, right):
    """The BPE oracle's core identity: applying a merge via
    non-overlapping string replace over the '(s1)(s2)...' encoding is
    EXACTLY the greedy left-to-right fold — including overlapping-pair
    cases like aaa->[aa,a] and aaaa->[aa,aa] and look-alike symbols
    (merging (a,b) must not fire inside symbol 'ab'). This is what
    makes the unrolled DuckDB oracle exact."""
    encoded = "".join(f"({s})" for s in syms)
    replaced = encoded.replace(f"({left})({right})", f"({left}{right})")
    decoded = [
        s for s in replaced.replace(")(", ")\x00(").split("\x00")
    ]
    decoded = [s[1:-1] for s in decoded]
    assert decoded == _greedy_merge(syms, left, right)


@given(
    st.lists(
        st.integers(min_value=1, max_value=2**32 - 1),
        min_size=1,
        max_size=300,
    ),
    st.lists(
        st.integers(min_value=1, max_value=2**32 - 1),
        min_size=1,
        max_size=300,
    ),
)
@settings(max_examples=200, deadline=None)
def test_kmv_sketch_merge_invariance(ha, hb):
    """KMV mergeability (what lets a 1000-executor rollup combine
    per-partition sketches): cutting the union of two scopes' k-minima
    at k gives the SAME kth value and estimate as sketching the unioned
    hash set directly."""
    k = 16

    def sketch(hashes):
        return sorted(set(hashes))[:k]

    direct = sketch(ha + hb)
    merged = sketch(sketch(ha) + sketch(hb))
    assert merged == direct
    n_kept = len(direct)
    if n_kept == k:
        est_direct = (k - 1) * 2**32 / direct[-1]
        est_merged = (k - 1) * 2**32 / merged[-1]
        assert est_direct == est_merged


@given(st.integers(min_value=1, max_value=100_000))
@settings(max_examples=300, deadline=None)
def test_granger_fcrit_table_is_conservative_and_monotone(d):
    """ADVICE r6 invariants of the shared F(1, d) 0.95 step table: the
    lookup is defined for every d >= 1, never drops below the d=1000
    table value (so it can never be anti-conservative vs the exact F
    quantile, which decreases in d), and is non-increasing in d (more
    degrees of freedom never tightens the gate the wrong way)."""
    from powersql_spark.pipeline.timeseries import _GRANGER_FTABLE

    # Table well-formed: d_min strictly decreasing, crit strictly
    # increasing as d_min decreases (first match = tightest bucket).
    dmins = [dm for dm, _ in _GRANGER_FTABLE]
    crits = [c for _, c in _GRANGER_FTABLE]
    assert dmins == sorted(dmins, reverse=True)
    assert crits == sorted(crits)

    def lookup(dd):
        return next(c for dm, c in _GRANGER_FTABLE if dd >= dm)

    assert lookup(d) >= 3.8508
    assert lookup(d + 1) <= lookup(d)
