"""Reference-semantics tests for the tiered fuzzy join: a pure-Python
re-statement of find_matches' contract (/root/reference/main.py:197-230)
checked against the Spark operator on controlled inputs."""

from __future__ import annotations

import re

import pytest

from data_finder_comparator_spark.operators.fuzzy_join import tiered_fuzzy_join


def _norm(s):
    return re.sub(r"[^a-z0-9]", "", s.lower())


def _lev(a, b):
    a, b = _norm(a), _norm(b)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = prev[j - 1] if ca == cb else 1 + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return prev[len(b)]


def reference_tiers(q, cands, t=3):
    """find_matches semantics, restated independently: returns
    {(cand_id, tier)} including the exact∩poor overlap quirk."""
    dists = {cid: _lev(q, c) for cid, c in cands}
    out = set()
    pos_within = {cid: d for cid, d in dists.items() if 0 < d <= t}
    for cid, d in dists.items():
        if d == 0:
            out.add((cid, "exact"))
    if pos_within:
        m = min(pos_within.values())
        for cid, d in pos_within.items():
            out.add((cid, "best" if d == m else "potential"))
    else:
        m = min(dists.values())
        for cid, d in dists.items():
            if d == m:
                out.add((cid, "poor"))
    return out


CANDS = [
    (0, "cold widget"),
    (1, "old widget"),
    (2, "bold widget"),
    (3, "zzz"),
    (4, "Cold-Widget"),
    (5, "q"),
]

PROBES = [
    (10, "cold widget"),   # exact + ties at best
    (11, "cold widgetx"),  # best distance 1 (two+ ties deeper)
    (12, "mmmmmmmmmmmm"),  # nothing within 3 -> poor fallback
    (13, "zz"),            # best 1 via zzz
    (14, ""),              # empty string edge
    (15, "COLDWIDGET"),    # exact after normalization, no positive <=3? has
]


@pytest.mark.parametrize("strategy", ["broadcast", "band", "qgram"])
def test_tier_semantics_vs_reference(spark, strategy):
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    got = tiered_fuzzy_join(probe, cand, threshold=3, strategy=strategy).collect()
    got_set = {(r.probe_id, r.cand_id, r.tier) for r in got}
    want = set()
    for pid, q in PROBES:
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert got_set == want
    # distances faithful
    for r in got:
        assert r.dist == _lev(r.probe, r.cand)


@pytest.mark.parametrize("strategy", ["broadcast", "band", "qgram"])
def test_empty_probe_side(spark, strategy):
    """Zero probes must yield zero rows (not crash in the window /
    fallback machinery) under every blocking strategy."""
    probe = spark.createDataFrame([], "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    assert tiered_fuzzy_join(probe, cand, threshold=3, strategy=strategy).count() == 0


def test_empty_candidate_side(spark):
    """Zero candidates: nothing within threshold and nothing to rescan —
    every tier is empty (the reference would min() over an empty list;
    the rebuild defines it as no output)."""
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame([], "cand_id long, cand string")
    assert tiered_fuzzy_join(probe, cand, threshold=3).count() == 0


@pytest.mark.parametrize("strategy", ["broadcast", "band", "qgram"])
def test_null_keys_excluded(spark, strategy):
    """NULL keys on either side are excluded from matching (the
    reference would crash on a NaN cell; the engine defines nulls out),
    and a null candidate doesn't perturb the poor fallback."""
    probe = spark.createDataFrame([(1, None), (2, "abc")], "probe_id long, probe string")
    cand = spark.createDataFrame([(10, "abc"), (11, None)], "cand_id long, cand string")
    rows = tiered_fuzzy_join(probe, cand, threshold=3, strategy=strategy).collect()
    assert sorted((r.probe_id, r.cand_id, r.tier) for r in rows) == [
        (2, 10, "exact"),
        (2, 10, "poor"),  # no positive within-threshold pair -> quirk overlap
    ]


def test_fallback_preserves_value_column_types(spark):
    """Non-string probe/cand value columns must keep their type through
    the poor-fallback path (the escalation's empty seed frame derives
    its schema from the inputs, not a hardcoded string schema)."""
    probe = spark.createDataFrame([(1, 111222333)], "probe_id long, probe long")
    cand = spark.createDataFrame([(10, 999888777)], "cand_id long, cand long")
    out = tiered_fuzzy_join(probe, cand, threshold=1)
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["probe"] == "bigint" and types["cand"] == "bigint"
    rows = out.collect()
    assert [(r.probe, r.cand, r.tier) for r in rows] == [(111222333, 999888777, "poor")]


def test_exact_poor_overlap_quirk(spark):
    """A probe whose only close candidate is at distance 0 must appear
    in BOTH exact and poor (main.py:218-228 rescans all candidates)."""
    probe = spark.createDataFrame([(1, "abc")], "probe_id long, probe string")
    cand = spark.createDataFrame(
        [(1, "abc"), (2, "zzzzzzzzz")], "cand_id long, cand string"
    )
    rows = tiered_fuzzy_join(probe, cand, threshold=3).collect()
    tiers = {(r.cand_id, r.tier) for r in rows}
    assert (1, "exact") in tiers
    assert (1, "poor") in tiers
    assert (2, "poor") not in tiers


# ---------------------------------------------------------------------------
# topk_fuzzy_join (O2 escalating-band top-k)
# ---------------------------------------------------------------------------

def _brute_topk(probe_rows, cand_rows, k):
    """Driver-side reference: full rank by (dist, cand_id) per probe."""
    import re

    def norm(s):
        return re.sub(r"[^a-z0-9]", "", s.lower())

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for pid, pv in probe_rows:
        scored = sorted(
            (lev(norm(pv), norm(cv)), cid) for cid, cv in cand_rows
        )
        for rnk, (d, cid) in enumerate(scored[:k], 1):
            out.add((pid, cid, d, rnk))
    return out


TOPK_PROBES = [(1, "almond blue"), (2, "xqzzwv"), (3, "a"), (4, "chocolate lace grand")]
TOPK_CANDS = [
    (10, "almond blue!"),
    (11, "almond blues"),
    (12, "Almond Blue"),
    (13, "chocolate lace grande"),
    (14, "mmmmmmmmmmmmmmmmmmmmmmmmmmmmmm"),
    (15, "b"),
]


@pytest.mark.parametrize("ladder", [False, True], ids=["one_round", "ladder"])
def test_topk_matches_brute_force(spark, monkeypatch, ladder):
    """Escalating-band top-k must equal the full-rank answer on a mixed
    corpus: near matches (resolve in round 1), far-only probes (force
    escalation), and length outliers (cross band buckets). The
    ``ladder`` case disables the small-product shortcut so width
    doubling and the anti-join remainder run instead of one exact
    round."""
    from data_finder_comparator_spark.operators import fuzzy_join as fj

    if ladder:
        monkeypatch.setattr(fj, "_FALLBACK_SMALL_PRODUCT", 0)
    got = {
        (r.probe_id, r.cand_id, r.dist, r.rnk)
        for r in fj.topk_fuzzy_join(
            spark.createDataFrame(TOPK_PROBES, "probe_id long, probe string"),
            spark.createDataFrame(TOPK_CANDS, "cand_id long, cand string"),
            k=3,
        ).collect()
    }
    assert got == _brute_topk(TOPK_PROBES, TOPK_CANDS, 3)


@pytest.mark.parametrize("mode", ["tiered", "topk"])
def test_ladder_cap_remainder_matches_brute_force(spark, monkeypatch, mode):
    """One capped round, then the broadcast nested-loop scan of the
    probes still unresolved: the result must equal brute force, and the
    remainder's plan must be map-side over candidates, never a shuffled
    CartesianProduct."""
    from data_finder_comparator_spark.operators import fuzzy_join as fj

    monkeypatch.setattr(fj, "_FALLBACK_SMALL_PRODUCT", 0)
    monkeypatch.setattr(fj, "_FALLBACK_MAX_ROUNDS", 1)
    if mode == "tiered":
        # 'cold w' resolves in the first round (global min 5 <= 2t);
        # the x-run is farther than 2t from everything
        probes = PROBES + [(20, "cold w"), (21, "x" * 20)]
        probe = spark.createDataFrame(probes, "probe_id long, probe string")
        cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    else:
        probe = spark.createDataFrame(TOPK_PROBES, "probe_id long, probe string")
        cand = spark.createDataFrame(TOPK_CANDS, "cand_id long, cand string")
    # the ladder's result is localCheckpoint-ed: read the plan it
    # checkpoints, which holds every round and the remainder scan
    plans: list[str] = []
    cls = type(probe)
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    if mode == "tiered":
        got = {
            (r.probe_id, r.cand_id, r.tier)
            for r in fj.tiered_fuzzy_join(probe, cand, threshold=3).collect()
        }
        want = {
            (pid, cid, tier)
            for pid, q in probes
            for cid, tier in reference_tiers(q, CANDS, 3)
        }
    else:
        got = {
            (r.probe_id, r.cand_id, r.dist, r.rnk)
            for r in fj.topk_fuzzy_join(probe, cand, k=3).collect()
        }
        want = _brute_topk(TOPK_PROBES, TOPK_CANDS, 3)
    assert got == want
    assert len(plans) == 1
    assert "BroadcastNestedLoopJoin" in plans[0], plans[0]
    assert "CartesianProduct" not in plans[0], plans[0]


def test_topk_fewer_candidates_than_k(spark):
    """With |C| < k every candidate is emitted, ranked, once."""
    from data_finder_comparator_spark.operators.fuzzy_join import topk_fuzzy_join

    out = topk_fuzzy_join(
        spark.createDataFrame([(1, "abc")], "probe_id long, probe string"),
        spark.createDataFrame([(10, "abd"), (11, "zz")], "cand_id long, cand string"),
        k=5,
    ).collect()
    assert sorted((r.cand_id, r.dist, r.rnk) for r in out) == [(10, 1, 1), (11, 3, 2)]


def test_topk_dense_prepared_path_matches_brute_force(spark):
    """r18: the dense broadcast top-k path (prepared candidates under
    the broadcast-small cap) must equal the full-rank answer — same
    corpus as the ladder test, so the two paths are pinned to one
    reference. Null-valued probes/candidates must be excluded exactly
    like the ladder's isNotNull filters (a null would otherwise sort
    first under the rank window)."""
    from data_finder_comparator_spark.operators.fuzzy_join import (
        prepare_candidates,
        topk_fuzzy_join,
    )

    cand_df = spark.createDataFrame(
        TOPK_CANDS + [(99, None)], "cand_id long, cand string"
    )
    reg: list = []
    prepared = prepare_candidates(cand_df, cache_registry=reg)
    try:
        got = {
            (r.probe_id, r.cand_id, r.dist, r.rnk)
            for r in topk_fuzzy_join(
                spark.createDataFrame(
                    TOPK_PROBES + [(9, None)], "probe_id long, probe string"
                ),
                prepared,
                k=3,
            ).collect()
        }
    finally:
        for df in reg:
            df.unpersist()
    assert got == _brute_topk(TOPK_PROBES, TOPK_CANDS, 3)
    assert not any(pid == 9 or cid == 99 for pid, cid, _, _ in got)


def test_dense_prepared_path_matches_reference(spark):
    """The dense one-pass path (prepared candidates under the
    broadcast-small cap — the streaming micro-batch regime) must produce
    exactly the banded plan's tiers, including the exact∩poor overlap
    and null exclusion."""
    from data_finder_comparator_spark.operators.fuzzy_join import prepare_candidates

    probe = spark.createDataFrame(
        PROBES + [(16, None)], "probe_id long, probe string"
    )
    cand = spark.createDataFrame(
        CANDS + [(6, None)], "cand_id long, cand string"
    )
    reg: list = []
    prepared = prepare_candidates(cand, cache_registry=reg)
    try:
        got = tiered_fuzzy_join(probe, prepared, threshold=3).collect()
    finally:
        for df in reg:
            df.unpersist()
    got_set = {(r.probe_id, r.cand_id, r.tier) for r in got}
    want = set()
    for pid, q in PROBES:
        if q is None:
            continue
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert got_set == want
    for r in got:
        assert r.dist == _lev(r.probe, r.cand)


@pytest.mark.parametrize("mode", ["tiered", "topk"])
def test_dense_path_gated_on_candidate_count(spark, monkeypatch, mode):
    """Above _DENSE_CAND_MAX prepared candidates must still take the
    banded plan — the tiered join's two phases, top-k's ladder — since
    the dense cross product is only the right trade under the
    broadcast-small cap."""
    from data_finder_comparator_spark.operators import fuzzy_join as fj

    monkeypatch.setattr(fj, "_DENSE_CAND_MAX", 0)
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    reg: list = []
    prepared = fj.prepare_candidates(cand, cache_registry=reg)
    try:
        if mode == "tiered":
            got = {
                (r.probe_id, r.cand_id, r.tier)
                for r in fj.tiered_fuzzy_join(probe, prepared, threshold=3).collect()
            }
        else:
            got = {
                (r.probe_id, r.cand_id, r.dist, r.rnk)
                for r in fj.topk_fuzzy_join(probe, prepared, k=3).collect()
            }
    finally:
        for df in reg:
            df.unpersist()
    if mode == "tiered":
        want = {
            (pid, cid, tier)
            for pid, q in PROBES
            for cid, tier in reference_tiers(q, CANDS, 3)
        }
    else:
        want = _brute_topk(PROBES, CANDS, 3)
    assert got == want


def test_tier_semantics_qgram_dedup_strings(spark):
    """dedup_strings=True must reproduce the reference tier semantics
    exactly — the string-level dedup is a plan transform, not a
    semantic one (equal normalized strings have equal grams, distances
    and band membership; the string itself is the dedup key)."""
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    got = tiered_fuzzy_join(
        probe, cand, threshold=3, strategy="qgram", dedup_strings=True
    ).collect()
    got_set = {(r.probe_id, r.cand_id, r.tier) for r in got}
    want = set()
    for pid, q in PROBES:
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert got_set == want
    for r in got:
        assert r.dist == _lev(r.probe, r.cand)


def test_qgram_dedup_strings_equivalence_on_duplicates(spark):
    """On a duplicate-heavy corpus (every key repeated 8x under
    distinct ids — the corpus-inflation regime) the dedup_strings plan
    must emit the IDENTICAL (probe_id, cand_id, dist, tier) row set as
    the default qgram plan, duplicates expanded and all."""
    base_p = [(i, p) for i, (_, p) in enumerate(PROBES)]
    base_c = [(i, c) for i, (_, c) in enumerate(CANDS)]
    dup_p = [(pid + 100 * k, p) for k in range(8) for pid, p in base_p]
    dup_c = [(cid + 100 * k, c) for k in range(8) for cid, c in base_c]
    probe = spark.createDataFrame(dup_p, "probe_id long, probe string")
    cand = spark.createDataFrame(dup_c, "cand_id long, cand string")

    def rows(dedup):
        return sorted(
            (r.probe_id, r.cand_id, r.dist, r.tier)
            for r in tiered_fuzzy_join(
                probe, cand, threshold=3, strategy="qgram", dedup_strings=dedup
            ).collect()
        )

    a, b = rows(False), rows(True)
    assert a == b
    assert len(a) > 0


def test_qgram_dedup_strings_auto_resolves_by_duplication(spark):
    """dedup_strings="auto" (round 9): the duplication probe flips the
    plan — identical output either way (it only ever selects between
    two already-equivalence-tested plans), duplicate-heavy corpora take
    the dedup path, unique corpora the default. The 8x-duplicated
    corpus (dup product 64 >= 4) and the unique corpus (product ~1 < 4)
    pin both sides of the threshold."""
    base_p = [(i, p) for i, (_, p) in enumerate(PROBES)]
    base_c = [(i, c) for i, (_, c) in enumerate(CANDS)]
    dup_p = [(pid + 100 * k, p) for k in range(8) for pid, p in base_p]
    dup_c = [(cid + 100 * k, c) for k in range(8) for cid, c in base_c]

    for pd, cd in ((base_p, base_c), (dup_p, dup_c)):
        probe = spark.createDataFrame(pd, "probe_id long, probe string")
        cand = spark.createDataFrame(cd, "cand_id long, cand string")

        def rows(dedup):
            return sorted(
                (r.probe_id, r.cand_id, r.dist, r.tier)
                for r in tiered_fuzzy_join(
                    probe, cand, threshold=3, strategy="qgram", dedup_strings=dedup
                ).collect()
            )

        auto = rows("auto")
        assert auto == rows(False) and len(auto) > 0
