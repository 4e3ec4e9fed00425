"""Property-based equivalence: the distributed fuzzy operators vs a
driver-side brute-force reference on randomized inputs (hypothesis).

The oracle-parity suite pins the operators on the fixed test corpora;
these properties hunt the edges those corpora don't reach — duplicate
keys, empty normalizations, extreme length spreads, all-far probes —
and assert all THREE pairing strategies and the top-k return exactly
the reference answer.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_finder_comparator_spark.operators.fuzzy_join import (
    tiered_fuzzy_join,
    topk_fuzzy_join,
)

# alphabet chosen to exercise normalization (case folds, punctuation
# strips to possibly-empty keys) and the length-band edges
_KEY = st.text(alphabet="ab !-Z", min_size=0, max_size=12)


def _norm(s: str) -> str:
    return re.sub(r"[^a-z0-9]", "", s.lower())


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute_tiers(probes, cands, t):
    """Reference semantics (main.py:197-230 re-derived): exact / best /
    potential; poor = global argmin ties only when no 0<dist<=t pair,
    including the exact∩poor overlap."""
    out = set()
    for pid, pv in probes:
        scored = [(cid, cv, _lev(_norm(pv), _norm(cv))) for cid, cv in cands]
        pos = [d for _, _, d in scored if 0 < d <= t]
        for cid, cv, d in scored:
            if d == 0:
                out.add((pid, cid, d, "exact"))
            if pos and d == min(pos):
                out.add((pid, cid, d, "best"))
            elif pos and 0 < d <= t:
                out.add((pid, cid, d, "potential"))
        if not pos and scored:
            m = min(d for _, _, d in scored)
            for cid, cv, d in scored:
                if d == m:
                    out.add((pid, cid, d, "poor"))
    return out


# the fourth variant is the qgram strategy's string-dedup plan — the
# tiny alphabet makes duplicate keys frequent, which is exactly the
# regime dedup_strings rewrites (pairs expanded back from distinct
# normalized strings must still match brute force per-id)
@pytest.mark.parametrize(
    "strategy,dedup",
    [("broadcast", False), ("band", False), ("qgram", False), ("qgram", True)],
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    probe_keys=st.lists(_KEY, min_size=0, max_size=6),
    cand_keys=st.lists(_KEY, min_size=0, max_size=8),
    t=st.integers(min_value=1, max_value=4),
)
def test_tiered_join_matches_brute_force(
    spark, strategy, dedup, probe_keys, cand_keys, t
):
    probes = list(enumerate(probe_keys))
    cands = [(i + 100, v) for i, v in enumerate(cand_keys)]
    got = {
        (r.probe_id, r.cand_id, r.dist, r.tier)
        for r in tiered_fuzzy_join(
            spark.createDataFrame(probes, "probe_id long, probe string")
            if probes
            else spark.createDataFrame([], "probe_id long, probe string"),
            spark.createDataFrame(cands, "cand_id long, cand string")
            if cands
            else spark.createDataFrame([], "cand_id long, cand string"),
            threshold=t,
            strategy=strategy,
            dedup_strings=dedup,
        ).collect()
    }
    # all inputs are non-null strings, so the engine's null-key
    # exclusion never applies; empty normalizations ('' keys) stay in
    # and must match brute force exactly
    assert got == _brute_tiers(probes, cands, t)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    probe_keys=st.lists(_KEY, min_size=1, max_size=5),
    cand_keys=st.lists(_KEY, min_size=1, max_size=8),
    k=st.integers(min_value=1, max_value=4),
)
def test_topk_matches_brute_force_random(spark, probe_keys, cand_keys, k):
    probes = list(enumerate(probe_keys))
    cands = [(i + 100, v) for i, v in enumerate(cand_keys)]
    got = {
        (r.probe_id, r.cand_id, r.dist, r.rnk)
        for r in topk_fuzzy_join(
            spark.createDataFrame(probes, "probe_id long, probe string"),
            spark.createDataFrame(cands, "cand_id long, cand string"),
            k=k,
        ).collect()
    }
    expect = set()
    for pid, pv in probes:
        scored = sorted((_lev(_norm(pv), _norm(cv)), cid) for cid, cv in cands)
        for rnk, (d, cid) in enumerate(scored[:k], 1):
            expect.add((pid, cid, d, rnk))
    assert got == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    probe_keys=st.lists(_KEY, min_size=0, max_size=6),
    cand_keys=st.lists(_KEY, min_size=0, max_size=8),
    t=st.integers(min_value=1, max_value=4),
)
def test_dense_prepared_matches_brute_force(spark, probe_keys, cand_keys, t):
    """The dense one-pass path (prepared + broadcast-small — the
    streaming micro-batch plan) on randomized inputs, including empty
    sides, empty-normalizing keys, and duplicate values, must equal the
    same brute-force reference as the banded strategies."""
    from data_finder_comparator_spark.operators.fuzzy_join import (
        prepare_candidates,
    )

    probes = list(enumerate(probe_keys))
    cands = [(i + 100, v) for i, v in enumerate(cand_keys)]
    p_df = (
        spark.createDataFrame(probes, "probe_id long, probe string")
        if probes
        else spark.createDataFrame([], "probe_id long, probe string")
    )
    c_df = (
        spark.createDataFrame(cands, "cand_id long, cand string")
        if cands
        else spark.createDataFrame([], "cand_id long, cand string")
    )
    reg: list = []
    prepared = prepare_candidates(c_df, cache_registry=reg)
    try:
        got = {
            (r.probe_id, r.cand_id, r.dist, r.tier)
            for r in tiered_fuzzy_join(p_df, prepared, threshold=t).collect()
        }
    finally:
        for df in reg:
            df.unpersist()
    assert got == _brute_tiers(probes, cands, t)


# ---------------------------------------------------------------------------
# Funnel fold vs a driver-side reference state machine: random per-user
# timelines (including timestamp ties, repeated stages, stage types
# arriving out of order) must produce exactly the reference's strict-
# ordering stage, for every user.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]


def _funnel_ref(timeline):
    """Reference: scan (ts, type) sorted like the fold (ts, then type),
    advancing only on a strictly-later matching event."""
    stage, at = 0, None
    need = {0: "view", 1: "click", 2: "purchase"}
    for ts, et in sorted(timeline):
        if stage < 3 and et == need[stage] and (stage == 0 or ts > at):
            stage, at = stage + 1, ts
    return stage


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),       # user
            st.integers(min_value=0, max_value=6),       # hour (ties likely)
            st.sampled_from(_EVENT_TYPES),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_event_funnel_matches_reference_state_machine(spark, tmp_path_factory, data):
    from datetime import datetime, timedelta

    from data_finder_comparator_spark.plans.queries_relational import event_funnel

    base = datetime(2024, 1, 1)
    rows = [
        (u, base + timedelta(hours=h), et) for u, h, et in data
    ]
    d = tmp_path_factory.mktemp("funnel")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string"
    ).write.parquet(str(d / "events.parquet"))
    got = {
        r.user_id: r.funnel_stage for r in event_funnel(spark, str(d)).collect()
    }
    want = {}
    for u, h, et in data:
        want.setdefault(u, []).append((base + timedelta(hours=h), et))
    want = {u: _funnel_ref(tl) for u, tl in want.items()}
    assert got == want


# ---------------------------------------------------------------------------
# Staged-operator properties: randomized inputs vs pure-Python
# references for the round-7 registration candidates.
# ---------------------------------------------------------------------------

_WORD = st.sampled_from(["a", "b", "c", "dd", "ee"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(st.lists(_WORD, min_size=0, max_size=12), min_size=1, max_size=10),
    min_docs=st.integers(min_value=2, max_value=4),
)
def test_scrub_hot_spans_property(spark, data, min_docs):
    """Randomized corpora (tiny alphabet -> dense gram collisions,
    overlapping hot spans, whole-doc removals, empty docs): the scrub
    must match the order-free reference exactly."""
    import hashlib

    from data_finder_comparator_spark.operators.textops import scrub_hot_spans

    span = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(data)]
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for i, toks in enumerate(data):
        for j in range(len(toks) - span + 1):
            gram_docs[" ".join(toks[j : j + span])].add(i)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    want = {}
    for i, toks in enumerate(data):
        covered = set()
        for j in range(len(toks) - span + 1):
            if " ".join(toks[j : j + span]) in hot:
                covered.update(range(j, j + span))
        kept = [t for k, t in enumerate(toks) if k not in covered]
        want[i] = (
            len(toks),
            len(covered),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_md5)
        for r in scrub_hot_spans(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_docs=min_docs,
            span=span,
        ).collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=15
    ),
    lengths=st.lists(st.integers(0, 6), min_size=10, max_size=10),
)
def test_cluster_canonical_property(spark, edges, lengths):
    """Random graphs + random text lengths: the canonical per component
    must be the longest text with ties to the smallest id, and every
    node lands in exactly one cluster."""
    from data_finder_comparator_spark.operators.dedup import (
        cluster_canonical,
        connected_components,
    )

    docs = [(i, "x" * lengths[i]) for i in range(10)]
    e = [(a, b) for a, b in edges if a != b]
    # reference union-find
    parent = list(range(10))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for i in range(10):
        comps.setdefault(find(i), []).append(i)
    want = {}
    for root, members in comps.items():
        best = max(members, key=lambda m: (lengths[m], -m))
        want[min(members)] = (best, len(members))

    edges_df = (
        spark.createDataFrame(e, "doc_a long, doc_b long")
        if e
        else spark.createDataFrame([], "doc_a long, doc_b long")
    )
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    reg: list = []
    labels = connected_components(
        edges_df, nodes=docs_df.select("doc_id"), cache_registry=reg
    )
    try:
        got = {
            r.cluster_id: (r.canonical_id, r.n_members)
            for r in cluster_canonical(labels, docs_df).collect()
        }
    finally:
        for df in reg:
            df.unpersist()
    assert got == want
