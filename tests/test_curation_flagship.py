"""End-to-end tests for the curation flagship (`curate_corpus`) —
each stage's effect is asserted on a hand-built corpus where the
expected survivors are known, plus plan-shape checks on the composed
pipeline (no cartesian product, filters fused into one gated scan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_flink_spark.extensions import curate_corpus

# A paragraph that passes the relaxed Gopher gate used below: >= 10
# words, ordinary mean word length, no bullets/ellipses.
GOOD = ("the quick brown fox jumps over the lazy dog and then it runs "
        "far away into the green quiet forest to rest for a while")
GOOD2 = ("a completely different second document about cooking pasta "
         "with fresh tomatoes garlic and olive oil for dinner tonight "
         "it is simple and everyone enjoys the final warm result")
GOOD3 = ("this third article describes mountain hiking trails with "
         "steady climbs broad views and careful planning advice for "
         "weather food water and safe return routes before darkness")


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "url string")


def _curate(docs, bench, **kw):
    base = dict(use_md5=False,
                gopher_kwargs=dict(min_words=10, max_words=500,
                                   min_stop_hits=0),
                total_budget=100000, test_frac=0.2, context_len=64)
    base.update(kw)
    return curate_corpus(docs, bench, **base)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, GOOD, "en", "s1", "https://www.a.example.com/x"),
        # 2: exact near-dup of 1 (identical text) -> minhash dedup drops it
        (2, GOOD, "en", "s2", "https://b.example.com/y"),
        (3, GOOD2, "en", "s3", "https://c.example.com/z"),
        # 4: same canonical URL as 3 (tracking params + fragment) -> url dedup
        (4, GOOD3, "en", "s4",
         "https://c.example.com/z?utm_source=rss#frag"),
        # 5: fails the word-count gate (too short)
        (5, "way too short", "en", "s5", "https://d.example.com/"),
        (6, GOOD3, "de", "s6", "https://e.example.com/w"),
    ]
    return _mk(spark, rows)


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_stagewise_survivors(spark, corpus):
    # benchmark shares an 8-gram with GOOD2 -> doc 3 is decontaminated;
    # its URL-twin doc 4 was already dropped by URL dedup (min id kept).
    bench = spark.createDataFrame(
        [(100, "irrelevant words then " + " ".join(GOOD2.split()[:8]))],
        "doc_id long, text string")
    out = _curate(corpus, bench).orderBy("doc_id")
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    # 1 survives (rep of cluster {1,2}); 2 near-dup; 3 decontaminated;
    # 4 url-dup of 3 (min id 3 kept at the url stage, then 3 dropped
    # later -> 4 stays gone, matching a real single-pass pipeline);
    # 5 gated; 6 survives.
    assert ids == [1, 6]
    assert out.columns == ["doc_id", "lang", "source", "split",
                           "n_tokens", "start_offset", "first_chunk",
                           "last_chunk"]
    for r in rows:
        assert r.split in ("train", "test")
        assert r.first_chunk == r.start_offset // 64
        assert r.last_chunk == (r.start_offset + r.n_tokens - 1) // 64


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_budget_respected_per_lang(spark, corpus):
    bench = spark.createDataFrame([(100, "nothing shared here")],
                                  "doc_id long, text string")
    unlimited = _curate(corpus, bench).count()
    out = _curate(corpus, bench, total_budget=55)
    per_lang = (out.groupBy("lang").agg(F.sum("n_tokens").alias("t"))
                   .collect())
    total = sum(r.t for r in per_lang)
    assert total <= 55
    assert out.count() <= unlimited


def test_md5_twin_same_shape_and_blocklist(spark, corpus):
    bench = spark.createDataFrame([(100, "nothing shared here")],
                                  "doc_id long, text string")
    out = _curate(corpus, bench, use_md5=True,
                  blocklist_terms=["tomatoes"]).collect()
    ids = sorted(r.doc_id for r in out)
    # blocklist kills GOOD2 (doc 3) at the gate; 4 then survives URL
    # dedup alone, and the near-dup stage collapses the identical-text
    # pair {4, 6} onto its min id 4.
    assert ids == [1, 4]


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_no_url_column_mode(spark, corpus):
    bench = spark.createDataFrame([(100, "nothing shared here")],
                                  "doc_id long, text string")
    out = _curate(corpus.drop("url"), bench, url_col=None).collect()
    ids = sorted(r.doc_id for r in out)
    # without URL dedup both 3 and 4 reach minhash; identical-URL pair
    # (3,4) have different texts so both survive near-dup too.
    assert 3 in ids and 4 in ids


def test_null_and_empty_urls_are_exempt_from_url_dedup(spark):
    # three gate-passing docs with no usable URL must ALL survive the
    # URL stage (NULL/empty mean "no URL", not "the same URL"); their
    # distinct texts keep them clear of the near-dup stage too
    rows = [
        (1, GOOD, "en", "s1", None),
        (2, GOOD2, "en", "s2", None),
        (3, GOOD3, "en", "s3", ""),
    ]
    docs = _mk(spark, rows)
    bench = spark.createDataFrame([(100, "nothing shared here")],
                                  "doc_id long, text string")
    ids = sorted(r.doc_id for r in _curate(docs, bench).collect())
    assert ids == [1, 2, 3]


def test_plan_has_no_cartesian_and_fused_gate(spark, corpus):
    bench = spark.createDataFrame([(100, "nothing shared here")],
                                  "doc_id long, text string")
    plan = _curate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # The only nested-loop joins allowed are temperature_mixture's 1-row
    # broadcast of the global weight total (Cross against a single
    # aggregate row) — every one must be a BuildRight Cross, never an
    # unconstrained join of two corpus-sized sides.
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_return_stages_exposes_lazy_stage_frames(spark, corpus):
    bench = spark.createDataFrame([(100, "nothing shared here")],
                                  "doc_id long, text string")
    packed, stages = _curate(corpus, bench, return_stages=True)
    assert list(stages) == ["gated", "url_deduped", "deduped",
                            "decontaminated", "admitted", "split"]
    counts = {k: v.count() for k, v in stages.items()}
    # the funnel only narrows, and each stage count matches the story:
    # 5 docs pass the gate (doc 5 too short), URL dedup drops doc 4,
    # near-dup drops doc 2, nothing decontaminates, budget is unlimited
    assert counts["gated"] == 5
    assert counts["url_deduped"] == 4
    assert counts["deduped"] == 3
    assert counts["decontaminated"] == 3
    assert counts["admitted"] == 3
    assert counts["split"] == 3
    assert packed.count() == 3


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_c4_stage_opt_in(spark):
    """c4_kwargs adds page gates + line retention ahead of the gopher
    gate; default (None) leaves the pipeline byte-identical."""
    body = GOOD + "."
    rows = [
        # multi-line page: one good line + one junk line -> junk dropped,
        # survivor still passes gopher on the kept line
        (1, body + "\nshort junk", "en", "s1", "https://a.example.com/1"),
        # lorem ipsum page -> dropped entirely by the page gate
        (2, body + "\nlorem ipsum dolor", "en", "s2",
         "https://b.example.com/2"),
        # curly-brace page -> dropped
        (3, body + "\n{template}", "en", "s3", "https://c.example.com/3"),
    ]
    docs = _mk(spark, rows)
    bench = _mk(spark, []).select("doc_id", "text")
    out, stages = _curate(docs, bench, c4_kwargs=dict(min_line_words=3),
                          return_stages=True)
    assert {r["doc_id"] for r in stages["gated"].select("doc_id")
            .collect()} == {1}
    assert {r["doc_id"] for r in out.collect()} == {1}
    # and the default path is unchanged: no c4_kwargs -> the page gates
    # never run, all three docs reach the gated stage (the later
    # near-dup stage still collapses the shared body to doc 1)
    _, stages_d = _curate(docs, bench, return_stages=True)
    assert {r["doc_id"] for r in stages_d["gated"].select("doc_id")
            .collect()} == {1, 2, 3}


@pytest.mark.slow  # r15: heavy, round-close full gate only
def test_dupspan_stage_opt_in(spark):
    """VERDICT r7 Next #8: the exact-substring pass after fuzzy dedup.
    Docs 1/2 share a licence-style 6-gram block but are NOT near-dups
    (different bodies), so MinHash keeps both; the dupspan stage strips
    the shared block from the non-owner, and the stripped doc's token
    count shrinks accordingly."""
    LICENCE = "this text is licensed under creative commons attribution"
    rows = [
        (1, GOOD + " " + LICENCE, "en", "s1", "https://a.example.com/1"),
        (2, GOOD2 + " " + LICENCE, "en", "s2", "https://b.example.com/2"),
        (3, GOOD3, "en", "s3", "https://c.example.com/3"),
    ]
    docs = _mk(spark, rows)
    bench = _mk(spark, []).select("doc_id", "text")
    out, stages = _curate(docs, bench,
                          dupspan_kwargs=dict(k=6, min_docs=2),
                          return_stages=True)
    # all three survive minhash (distinct bodies) and the stage
    assert {r["doc_id"] for r in stages["deduped"].select("doc_id")
            .collect()} == {1, 2, 3}
    texts = {r["doc_id"]: r["text"] for r in
             stages["despanned"].select("doc_id", "text").collect()}
    assert LICENCE in texts[1]                       # owner keeps
    assert LICENCE not in texts[2]                   # non-owner stripped
    assert texts[2].startswith(GOOD2.split()[0])
    assert texts[3] == GOOD3                         # untouched
    nt = {r["doc_id"]: r["n_tokens"] for r in out.collect()}
    assert nt[1] == len((GOOD + " " + LICENCE).split())
    assert nt[2] < len((GOOD2 + " " + LICENCE).split())
    # default path: no dupspan_kwargs -> no despanned stage, licence stays
    _, st_d = _curate(docs, bench, return_stages=True)
    assert "despanned" not in st_d


def test_gate_barrier_stays_above_fan_out_exchange(spark, sf_dir):
    """Plan pin for the stage-1/2 gate of curation_flagship: the
    ``_no_push`` gate Filter must stay ABOVE the round-robin fan-out
    Exchange, so the clean/gate regex chain runs on the fanned-out
    partitions, and no clean_text regex may reach a scan-side filter
    (pushed through the exchange it runs in the single scan task)."""
    import __spark_entry__ as entry
    _, stages = entry._curate_flagship(entry._flagship_docs(spark, sf_dir),
                                       True, return_stages=True)
    lines = (stages["gated"]._jdf.queryExecution().executedPlan()
             .toString().splitlines())
    gate = [i for i, ln in enumerate(lines)
            if "Filter" in ln and "rand(0)" in ln]
    exch = [i for i, ln in enumerate(lines)
            if "Exchange RoundRobinPartitioning" in ln]
    assert gate and exch and gate[0] < exch[0], "\n".join(lines)[:3000]
    assert not any("regexp_replace" in ln for ln in lines[exch[0]:])
