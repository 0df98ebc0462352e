"""Round-13 pins: the probe-gated ``collapse_exact='auto'`` default
(VERDICT r12 Next #3 / What's-wrong #1), the cluster_silhouette k >= 2
guard (ADVICE r12), and the structural kmeans-oracle parts split
(ADVICE r12)."""
from __future__ import annotations

import pytest

from conftest import load


# ------------------------------------------ collapse_exact='auto'


def _dup_dense(spark):
    a = "the quick brown fox jumps over the lazy dog tonight"
    b = "the quick brown fox jumps over the lazy dog today instead"
    c = "unrelated text about catalyst plans and shuffle partitions"
    rows = [(1, a), (4, a), (7, a), (2, b), (5, b), (3, c), (6, c)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _dup_free(spark):
    rows = [(i, " ".join(f"tok{i}w{j}" for j in range(12)) +
             " the quick brown fox jumps over the lazy dog")
            for i in range(8)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_auto_equals_true_and_false_jaccard(spark):
    """'auto' is output-identical to both forced modes on a dup-dense
    AND a dup-free corpus — the probe changes only the plan."""
    from cascading_flink_spark.extensions import ngram_jaccard_pairs

    for df in (_dup_dense(spark), _dup_free(spark)):
        outs = []
        for mode in ("auto", True, False):
            outs.append(sorted(
                (r.id_a, r.id_b, r.jaccard) for r in
                ngram_jaccard_pairs(df, n=3, threshold=0.5,
                                    collapse_exact=mode).collect()))
        assert outs[0] == outs[1] == outs[2]


def test_auto_equals_true_and_false_containment(spark):
    from cascading_flink_spark.extensions import ngram_containment_pairs

    for df in (_dup_dense(spark), _dup_free(spark)):
        outs = []
        for mode in ("auto", True, False):
            outs.append(sorted(
                (r.id_a, r.id_b, r.n_common, r.containment) for r in
                ngram_containment_pairs(df, n=3, threshold=0.8,
                                        collapse_exact=mode).collect()))
        assert outs[0] == outs[1] == outs[2]


def test_auto_equals_true_and_false_edit(spark):
    from cascading_flink_spark.extensions import edit_dup_pairs

    base = " ".join(f"tok{i}" for i in range(40))
    dense = spark.createDataFrame(
        [(i, base) for i in range(4)]
        + [(4, base.replace("tok5", "tok5z", 1))],
        "doc_id long, text string")
    for df in (dense, _dup_free(spark)):
        outs = []
        for mode in ("auto", True, False):
            outs.append(sorted(
                (r.id_a, r.id_b, r.edit_dist) for r in
                edit_dup_pairs(df, max_dist=5,
                               collapse_exact=mode).collect()))
        assert outs[0] == outs[1] == outs[2]


def test_collapse_probe_decision(spark):
    """The probe itself: collapse machinery engages iff verbatim-copy
    mass reaches _COLLAPSE_AUTO_MIN_FRAC of rows — a handful of stray
    copies in a large corpus stays on the raw plan (the sf0.1 fixture
    case: 8 copies in 5000 docs), a dup-dense corpus engages."""
    from pyspark.sql import functions as F
    from cascading_flink_spark.extensions.dedup import (
        _COLLAPSE_AUTO_MIN_FRAC, _collapse_effective)

    probe = F.xxhash64("text")
    dense = _dup_dense(spark)
    free = _dup_free(spark)
    assert _collapse_effective(dense, probe, "auto") is True
    assert _collapse_effective(free, probe, "auto") is False
    assert _collapse_effective(free, probe, True) is True
    assert _collapse_effective(dense, probe, False) is False
    # 1 duplicate pair in 300 rows = 0.33% copy mass: below the
    # threshold, the raw plan wins — probe must skip
    rows = [(i, f"doc number {i} unique text body") for i in range(299)]
    rows.append((299, rows[0][1]))
    sparse = spark.createDataFrame(rows, "doc_id long, text string")
    assert 1 / 300 < _COLLAPSE_AUTO_MIN_FRAC
    assert _collapse_effective(sparse, probe, "auto") is False
    with pytest.raises(ValueError, match="collapse_exact"):
        _collapse_effective(free, probe, "sometimes")
    # None is rejected like every other invalid value (ADVICE r13),
    # not silently mapped to False
    with pytest.raises(ValueError, match="collapse_exact"):
        _collapse_effective(free, probe, None)


def test_collapse_auto_is_default_everywhere(spark):
    import inspect
    from cascading_flink_spark.extensions import (
        ngram_jaccard_pairs, ngram_containment_pairs, edit_dup_pairs)

    for fn in (ngram_jaccard_pairs, ngram_containment_pairs,
               edit_dup_pairs):
        assert inspect.signature(fn).parameters[
            "collapse_exact"].default == "auto", fn.__name__


def test_collapse_auto_skips_expansion_joins_when_dup_free(spark):
    """On a dup-free corpus the 'auto' plan must be the RAW plan — no
    representative expansion joins (the r12 1.26-1.47x overhead class).
    Proxy: the executed plan of the auto output frame is identical in
    join count to the raw path's and strictly smaller than the forced
    collapse path's."""
    from cascading_flink_spark.extensions import ngram_jaccard_pairs

    df = _dup_free(spark)
    plans = {}
    for mode in ("auto", True, False):
        out = ngram_jaccard_pairs(df, n=3, threshold=0.5,
                                  collapse_exact=mode)
        plans[str(mode)] = out._jdf.queryExecution().optimizedPlan() \
                              .toString()
    assert plans["auto"].count("Join") == plans["False"].count("Join")
    assert plans["True"].count("Join") > plans["auto"].count("Join")


# --------------------------------------- cluster_silhouette k guard


def test_cluster_silhouette_rejects_k1(spark, sf_dir):
    from cascading_flink_spark.extensions import cluster_silhouette

    emb = load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="k >= 2"):
        cluster_silhouette(emb, k=1)


# ------------------------------------- kmeans oracle parts (ADVICE)


def test_kmeans_oracle_parts_assemble():
    """The structural (chain, final) split assembles to the exact
    oracle string and the silhouette oracle reuses the chain without
    substring surgery."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    chain, final = mod._kmeans_oracle_parts(k=8, iters=2, dim=64)
    assert chain + final == mod._kmeans_oracle(k=8, iters=2, dim=64)
    assert "SELECT vec_id, cluster, sim FROM (" in final
    assert final not in chain
    sil = mod._silhouette_oracle(k=8, iters=2)
    assert sil.startswith(chain)
    assert "SELECT vec_id, cluster, sim FROM (" not in sil


# ------------------------------------------- krippendorff_alpha


def _kripp_model(votes, scale=1_000_000, max_panel=12):
    """Exact integer twin of the operator's LCM-cleared spelling."""
    from collections import defaultdict
    from math import lcm as _l
    L = 1
    for x in range(1, max_panel):
        L = _l(L, x)
    units = defaultdict(lambda: defaultdict(int))
    for i, lab in votes:
        if lab is not None:
            units[i][lab] += 1
    T = n = nu = 0
    nc = defaultdict(int)
    for cnt in units.values():
        m = sum(cnt.values())
        if m < 2:
            continue
        nu += 1
        n += m
        T += (m * m - sum(v * v for v in cnt.values())) * (L // (m - 1))
        for lab, v in cnt.items():
            nc[lab] += v
    S = sum(v * v for v in nc.values())
    if nu == 0 or n * n == S:
        return None
    return (nu, n, scale - (n - 1) * T * scale // (L * (n * n - S)))


def test_krippendorff_matches_model_and_handles_missing(spark):
    from cascading_flink_spark.extensions import krippendorff_alpha

    votes = []
    for i in range(120):
        panel = i % 4          # 0..3 votes: single-vote units drop
        for j in range(panel):
            lab = "good" if (i + j // 2) % 3 else "bad"
            if (i * 3 + j) % 7 == 0:
                lab = None     # NULL vote = abstention, dropped
            votes.append((i, lab))
    df = spark.createDataFrame(votes, "item long, label string")
    r = krippendorff_alpha(df, "item", "label").collect()[0]
    exp = _kripp_model(votes)
    assert (r.n_units, r.n_vals, r.alpha_x) == exp
    # pairable rule: n_units counts only multi-vote units
    from collections import Counter
    m = Counter(i for i, lab in votes if lab is not None)
    assert r.n_units == sum(1 for v in m.values() if v >= 2)


def test_krippendorff_limits_and_guards(spark, sf_dir):
    import pyspark.sql.utils
    from cascading_flink_spark.extensions import krippendorff_alpha

    # perfect agreement -> alpha exactly 1e6
    p = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(30)
         for _ in range(3)], "item long, label string")
    assert krippendorff_alpha(p, "item", "label") \
        .collect()[0].alpha_x == 1_000_000
    # systematic disagreement on a balanced binary -> negative alpha
    d = spark.createDataFrame(
        [(i, lab) for i in range(40) for lab in ("a", "b")],
        "item long, label string")
    assert krippendorff_alpha(d, "item", "label") \
        .collect()[0].alpha_x < 0
    # degenerate one-label group is EXCLUDED (alpha undefined)
    one = spark.createDataFrame(
        [(i, "only") for i in range(10) for _ in range(2)],
        "item long, label string")
    assert krippendorff_alpha(one, "item", "label").count() == 0
    # max_panel in-plan raise
    big = spark.createDataFrame(
        [(1, f"l{j % 2}") for j in range(20)],
        "item long, label string")
    with pytest.raises(Exception, match="max_panel"):
        krippendorff_alpha(big, "item", "label",
                           max_panel=4).collect()
    with pytest.raises(ValueError, match="max_panel"):
        krippendorff_alpha(big, "item", "label", max_panel=1)
    with pytest.raises(ValueError, match="scale"):
        krippendorff_alpha(big, "item", "label", scale=0)


def test_dup_partners_plan_shape(spark, sf_dir):
    """The partner attribution must stay hash-join-only: no cartesian
    or broadcast-nested-loop anywhere, no Python eval in the plan
    (native tokenizer), and the span columns' plan untouched."""
    from cascading_flink_spark.extensions import dup_substring_spans

    docs = load(spark, sf_dir, "documents")
    out = dup_substring_spans(docs, min_len=12, min_count=2,
                              with_partners=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan


def _kripp_ordinal_model(votes, order, scale=1_000_000, max_panel=12):
    """Independent textbook coincidence-matrix ordinal alpha (exact
    integers), mapped to the operator's output convention."""
    from collections import defaultdict
    from math import lcm as _l
    L = 1
    for x in range(1, max_panel):
        L = _l(L, x)
    rank = {v: i + 1 for i, v in enumerate(order)}
    units = defaultdict(lambda: defaultdict(int))
    for i, lab in votes:
        if lab is not None:
            units[i][rank[lab]] += 1
    nc = defaultdict(int)
    n = nu = 0
    keep = []
    for cnt in units.values():
        m = sum(cnt.values())
        if m < 2:
            continue
        nu += 1
        n += m
        keep.append(cnt)
        for r, v in cnt.items():
            nc[r] += v
    ranks = sorted(nc)
    cum, run = {}, 0
    for r in ranks:
        run += nc[r]
        cum[r] = run

    def D(c, k):
        return 2 * cum[k] - 2 * cum[c] + nc[c] - nc[k]

    E = sum(nc[c] * nc[k] * D(c, k) ** 2
            for ci, c in enumerate(ranks) for k in ranks[ci + 1:])
    U = 0
    for cnt in keep:
        m = sum(cnt.values())
        rs = sorted(cnt)
        for ci, c in enumerate(rs):
            for k in rs[ci + 1:]:
                U += cnt[c] * cnt[k] * D(c, k) ** 2 * (L // (m - 1))
    if nu == 0 or E == 0:
        return None
    return (nu, n, scale - (n - 1) * U * scale // (L * E))


def test_krippendorff_ordinal_matches_model(spark):
    from cascading_flink_spark.extensions import krippendorff_alpha

    order = ["terrible", "bad", "ok", "good", "great"]
    votes = []
    for i in range(150):
        for j in range(2 + (i % 3)):
            if (i + j) % 6 == 0:
                continue
            votes.append(
                (i, order[min(4, max(0, (i % 5) + (j % 3) - 1))]))
    df = spark.createDataFrame(votes, "item long, label string")
    r = krippendorff_alpha(df, "item", "label",
                           order=order).collect()[0]
    assert (r.n_units, r.n_vals, r.alpha_x) \
        == _kripp_ordinal_model(votes, order)


def test_krippendorff_ordinal_semantics_and_guards(spark):
    from cascading_flink_spark.extensions import krippendorff_alpha

    # binary alphabet: D^2 is constant, ordinal == nominal exactly
    bv = [(i, "a" if (i + j) % 3 else "b")
          for i in range(60) for j in range(3)]
    bdf = spark.createDataFrame(bv, "item long, label string")
    rn = krippendorff_alpha(bdf, "item", "label").collect()[0]
    ro = krippendorff_alpha(bdf, "item", "label",
                            order=["a", "b"]).collect()[0]
    assert rn.alpha_x == ro.alpha_x
    # adjacent-step disagreement scores HIGHER ordinal alpha than the
    # same votes scored nominally (the metric's whole point)
    order = ["1", "2", "3", "4", "5"]
    near = [(i, order[i % 4]) for i in range(80)] \
        + [(i, order[i % 4 + 1]) for i in range(80)]
    ndf = spark.createDataFrame(near, "item long, label string")
    a_nom = krippendorff_alpha(ndf, "item", "label").collect()[0]
    a_ord = krippendorff_alpha(ndf, "item", "label",
                               order=order).collect()[0]
    assert a_ord.alpha_x > a_nom.alpha_x
    # labels outside the declared order raise IN-PLAN
    bad = spark.createDataFrame([(1, "x"), (1, "zz")],
                                "item long, label string")
    with pytest.raises(Exception, match="outside the declared"):
        krippendorff_alpha(bad, "item", "label",
                           order=["x", "y"]).collect()
    with pytest.raises(ValueError, match="distinct"):
        krippendorff_alpha(bad, "item", "label", order=["x", "x"])
    # unanimous units but cross-unit disagreement: Do = 0, alpha = 1
    un = spark.createDataFrame(
        [(i, "a" if i % 2 else "c") for i in range(20)
         for _ in range(2)], "item long, label string")
    assert krippendorff_alpha(un, "item", "label",
                              order=["a", "b", "c"]) \
        .collect()[0].alpha_x == 1_000_000
