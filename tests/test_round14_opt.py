"""Round-14 optimization pins: the PPJoin positional filter must be an
exact prune (guide §3 prefix/positional filtering) — same pairs, same
jaccard values, as a brute-force all-pairs model, including pairs that
sit exactly ON the threshold and candidates the filter prunes."""
import random

import pytest
from pyspark.sql import functions as F


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.lower().strip().split()
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _brute_pairs(rows, threshold, n=3):
    out = {}
    for i, (ida, ta) in enumerate(rows):
        sa = _shingles(ta, n)
        if not sa:
            continue
        for idb, tb in rows[i + 1:]:
            sb = _shingles(tb, n)
            if not sb:
                continue
            inter = len(sa & sb)
            union = len(sa | sb)
            j = inter / union
            if j >= threshold:
                a, b = min(ida, idb), max(ida, idb)
                out[(a, b)] = j
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_jaccard_positional_filter_matches_bruteforce(spark, threshold):
    """Random corpus from a small vocabulary (dense shared shingles — the
    regime where the prefix join generates many candidates and the
    positional filter actually prunes) plus handcrafted exact-threshold
    pairs: the operator's output must equal the brute-force model
    bit-for-bit.  A wrongly-strict positional bound would DROP pairs
    here; a wrongly-lax one is just slow and still passes."""
    from cascading_flink_spark.extensions import ngram_jaccard_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 25))))
            for i in range(60)]
    # exact J == 0.5: 4-token docs sharing 1 of their 2 3-gram shingles
    # is 1/3; instead share the middle window: "a b c d" vs "b c d e"
    # gives shingles {abc,bcd} vs {bcd,cde} -> J = 1/3.  For J == 0.5
    # exactly: 5-token docs "a b c d e" vs "a b c d f":
    # {abc,bcd,cde} vs {abc,bcd,cdf} -> 2/4 = 0.5.
    rows += [(100, "a b c d e"), (101, "a b c d f")]
    # exact J == 0.8: 3/4 = 0.75 < 0.8; use 9/11? simplest: identical
    # docs (J == 1.0) plus a 4/5 pair: 6 tokens sharing first 5:
    # "t1 t2 t3 t4 t5 x" vs "t1 t2 t3 t4 t5 y" -> {123,234,345,45x}
    # vs {123,234,345,45y} -> 3/5 = 0.6.  Construct 4/5 via 8 tokens
    # sharing first 7: windows 6 each, shared 5, union 7 -> 5/7.
    # Take 12 tokens sharing first 11: 10 windows, 9 shared,
    # union 11 -> 9/11 = 0.818 >= 0.8.
    rows += [(102, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 p"),
             (103, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 q"),
             (104, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 p")]  # == 102

    df = spark.createDataFrame(rows, "doc_id long, text string")
    expect = _brute_pairs(rows, threshold)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(df, n=3, threshold=threshold)
           .collect()}
    assert set(got) == set(expect), (
        set(expect) - set(got), set(got) - set(expect))
    for k, j in expect.items():
        # operator rounds jaccard to 4dp at the OUTPUT (repo convention:
        # round only at the output; half-up)
        assert got[k] == pytest.approx(j, abs=5.0001e-5), (k, j, got[k])
    # the threshold-exact pairs must survive the positional prune
    if threshold == 0.5:
        assert (100, 101) in got
    assert (102, 104) in got  # J == 1.0 at either threshold


def test_jaccard_positional_filter_plan_shape(spark):
    """The candidate stage is a partial-aggregated groupBy (count/max
    over the shared-prefix matches) followed by the positional-bound
    Filter — no extra Exchange vs the old dropDuplicates spelling, and
    the verify's array_intersect still evaluates post-join (no
    BatchEvalPython anywhere in the path)."""
    from cascading_flink_spark.extensions import ngram_jaccard_pairs
    df = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5} w{(i + 3) % 5}")
         for i in range(20)], "doc_id long, text string")
    plan = ngram_jaccard_pairs(df, n=3, threshold=0.8,
                               collapse_exact=False) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_strip_rebuild_matches_token_level_model(spark):
    """The round-14 map-side reassembly (_strip_rebuild: per-doc
    drop-set array + array_except/transform, replacing the token
    posexplode -> anti-join -> collect_list regroup) must reproduce
    the old spelling's output exactly — including empty docs,
    fully-stripped docs, docs with no dropped positions, and
    duplicate positions in the removed frame."""
    from cascading_flink_spark.extensions.dedup import _strip_rebuild
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]),     # partial strip
         (2, ["x", "y"]),               # fully stripped
         (3, ["k", "l", "m"]),          # untouched
         (4, [])],                      # empty doc
        "id long, t array<string>")
    # k=1 windows: each removed row names exactly one position
    removed = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 2),        # duplicate position must fold
         (2, 0), (2, 1)],
        "id long, pos int")
    got = {r["doc_id"]: (r["clean_text"], r["kept"], r["gone"])
           for r in _strip_rebuild(base, removed, 1, "doc_id",
                                   "kept", "gone").collect()}
    assert got == {1: ("a d", 2, 2),
                   2: ("", 0, 2),
                   3: ("k l m", 3, 0),
                   4: ("", 0, 0)}


def test_strip_ops_no_token_level_shuffle(spark):
    """The strip family's executed plans must not regroup token rows:
    no collect_list aggregate and no (id, ti) anti-join remain — the
    reassembly is the map-side array_except/transform."""
    from cascading_flink_spark.extensions.dedup import (
        strip_boilerplate, strip_dup_spans, strip_dup_substrings)
    df = spark.createDataFrame(
        [(i, "the same header text " + f"body{i} w{i % 3}")
         for i in range(12)], "doc_id long, text string")
    for op, kw in ((strip_boilerplate, dict(k=4, max_df=3)),
                   (strip_dup_spans, dict(k=4, min_docs=2)),
                   (strip_dup_substrings, dict(min_len=4, min_count=2))):
        plan = op(df, **kw)._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan, op.__name__
        assert "LeftAnti" not in plan, op.__name__


def _brute_containment(rows, threshold, n=3):
    out = {}
    for ida, ta in rows:
        sa = _shingles(ta, n)
        if not sa:
            continue
        for idb, tb in rows:
            if idb == ida:
                continue
            sb = _shingles(tb, n)
            if not sb:
                continue
            inter = len(sa & sb)
            if inter / len(sa) >= threshold:
                out[(ida, idb)] = (inter, inter / len(sa))
    return out


@pytest.mark.parametrize("threshold", [0.6, 0.8])
@pytest.mark.parametrize("extend", [0.0, 0.25, 2.0])
def test_containment_extended_prefix_matches_bruteforce(spark, threshold,
                                                        extend):
    """The round-14 EXTENDED prefix (index d extra rarest shingles,
    require op >= L - n_sh + ceil(t*n_sh) shared entries) must stay an
    exact candidate filter: same directed pairs, same n_common and
    containment, as the brute-force all-pairs model.  extend=2.0 caps
    the prefix at the WHOLE document for most rows — the regime where
    a wrong capped-requirement formula (d+1 instead of ceil(t*n_sh))
    over-prunes; the short 3-6-token docs exercise the cap at every
    extend value.  Random dense-vocabulary rows cover the chance-pair
    regime the count filter actually prunes."""
    from cascading_flink_spark.extensions import ngram_containment_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(25)]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 22))))
            for i in range(50)]
    # exact containment boundaries: A = 7 tokens -> 5 shingles; B
    # contains 3 of them -> C(A->B) = 0.6 exactly
    rows += [(200, "a b c d e f g"),
             (201, "a b c d e zz qq rr")]   # shares {abc,bcd,cde} = 3/5
    # C = 0.8 exactly: A = 12 tokens -> 10 shingles, B holds 8 of them
    rows += [(202, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"),
             (203, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 xx yy")]
    # tiny docs: 3 tokens = 1 shingle (prefix == whole doc at any t)
    rows += [(204, "p q r"), (205, "p q r"), (206, "p q r s")]

    df = spark.createDataFrame(rows, "doc_id long, text string")
    expect = _brute_containment(rows, threshold)
    got = {(r.id_a, r.id_b): (r.n_common, r.containment)
           for r in ngram_containment_pairs(
               df, n=3, threshold=threshold,
               prefix_extend=extend).collect()}
    assert set(got) == set(expect), (
        set(expect) - set(got), set(got) - set(expect))
    for k, (nc, c) in expect.items():
        assert got[k][0] == nc, (k, nc, got[k])
        assert got[k][1] == pytest.approx(c, abs=5.0001e-5), (k, c, got[k])
    if threshold == 0.6:
        assert (200, 201) in got       # exactly ON the 0.6 threshold
    assert (202, 203) in got           # C == 0.8 exactly
    assert (204, 205) in got and (205, 204) in got  # capped tiny docs


def test_containment_prefix_extend_rejects_negative(spark):
    from cascading_flink_spark.extensions import ngram_containment_pairs
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="prefix_extend"):
        ngram_containment_pairs(df, prefix_extend=-0.1)


def test_pair_verify_uses_hash_arrays(spark):
    """Both pair cores verify candidates over xxhash64 long arrays, not
    shingle strings (round 14): the executed plan's array_intersect
    operates on the hashed __ha/__hb columns (the xxhash64 transform
    itself lives behind the hashed frame's checkpoint boundary), and no
    EvalPython or cartesian appears."""
    from cascading_flink_spark.extensions import (ngram_containment_pairs,
                                                  ngram_jaccard_pairs)
    df = spark.createDataFrame(
        [(i, f"w{i % 4} w{(i + 1) % 4} w{(i + 2) % 4} w{(i + 3) % 4} x{i}")
         for i in range(16)], "doc_id long, text string")
    for op in (lambda d: ngram_jaccard_pairs(d, n=3, threshold=0.5,
                                             collapse_exact=False),
               lambda d: ngram_containment_pairs(d, n=3, threshold=0.6,
                                                 collapse_exact=False)):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "array_intersect(__ha" in plan
        assert "array_intersect(sh_a" not in plan
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_paragraph_dedup_no_text_regroup(spark):
    """paragraph_dedup's executed plan must not regroup segment text:
    no collect_list aggregate remains (round 14 — drops fold to a
    per-doc position set and the text rebuilds map-side from the pinned
    segment array), and the keep-decision join carries metadata only."""
    from cascading_flink_spark.extensions import paragraph_dedup
    df = spark.createDataFrame(
        [(i, "shared header block " + f"unique body {i}")
         for i in range(10)], "doc_id long, text string")
    plan = paragraph_dedup(df, window_words=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "collect_set" in plan          # the per-doc drop-position fold
    assert "EvalPython" not in plan


def test_dsir_mixture_matches_per_domain_weights_replay(spark):
    """dsir_mixture_select must equal the greedy model built from
    INDEPENDENT dsir_weights runs: per domain in sorted-name order,
    top-quota by (logw desc, id) among docs no earlier domain took — a
    per-domain scoring drift (shared fit reuse gone wrong, wrong weight
    table, leaked exclusion) breaks this exactly.  Added in round 14 as
    the cross-entry-point pin while adjudicating (and rejecting) the
    join-free scoring spellings; implementation-agnostic."""
    from cascading_flink_spark.extensions import (dsir_mixture_select,
                                                  dsir_weights)
    raw = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "alpha beta beta"),
         (3, "gamma gamma delta"), (4, "gamma delta delta"),
         (5, "alpha gamma"), (6, "beta delta"),
         (7, "alpha beta gamma delta")],
        "doc_id long, text string")
    targets = {
        "a": spark.createDataFrame([(100, "alpha alpha alpha beta")],
                                   "doc_id long, text string"),
        "g": spark.createDataFrame([(200, "gamma gamma gamma delta")],
                                   "doc_id long, text string")}
    quotas = {"a": 3, "g": 3}
    got = {(r.domain, r.doc_id, r.n_feats, r.logw_x1e6)
           for r in dsir_mixture_select(raw, targets, quotas,
                                        buckets=64).collect()}
    taken: set = set()
    exp: set = set()
    for dom in sorted(targets):
        w = {r.doc_id: (r.n_feats, r.logw_x1e6)
             for r in dsir_weights(raw, targets[dom],
                                   buckets=64).collect()}
        picks = sorted((d for d in w if d not in taken),
                       key=lambda d: (-w[d][1], d))[:quotas[dom]]
        taken.update(picks)
        exp.update((dom, d, w[d][0], w[d][1]) for d in picks)
    assert got == exp
