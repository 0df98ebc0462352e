"""Benchmark decontamination: remove training documents that overlap an
evaluation/benchmark set (the GPT-3/PaLM-style word-n-gram overlap check).

Scale design (the 100 TB story): the benchmark side is tiny (eval sets are
megabytes) while the corpus is the 100 TB side — so the gram join MUST be
a broadcast: the corpus is scanned once, shingled map-side, and probed
against the broadcast benchmark gram table with no corpus shuffle at all.
The only shuffle is the groupBy over *matching* grams, which is bounded by
true contamination (rare by construction).  The final anti-join in
:func:`decontaminate` broadcasts the contaminated-id set, again leaving
the corpus unshuffled.  Plan shape (two BroadcastHashJoins, zero corpus
exchanges) is asserted in ``tests/test_decontam.py``.

Shingling reuses :func:`~.dedup._word_shingles` — the same distinct
word-n-gram definition as the Jaccard/MinHash family, so one oracle
convention covers all of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _fan_out, _word_shingles


def contamination_pairs(corpus: DataFrame, benchmark: DataFrame,
                        n: int = 8,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str | None = None,
                        bench_id_col: str | None = None) -> DataFrame:
    """(id_col, bench_id, shared_grams) for every corpus document sharing
    at least one distinct word ``n``-gram with a benchmark document.

    ``shared_grams`` counts DISTINCT shared grams (shingles are distinct
    per document), so it is a set-overlap size, not an occurrence count."""
    bench_text_col = bench_text_col or text_col
    bench_id_col = bench_id_col or id_col
    bench_grams = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(_word_shingles(bench_text_col, n)).alias("__g"))
    corpus_grams = _fan_out(corpus).select(
        F.col(id_col).alias("__cid"),
        F.explode(_word_shingles(text_col, n)).alias("__g"))
    hits = corpus_grams.join(F.broadcast(bench_grams), "__g")
    return (hits.groupBy("__cid", "bench_id")
                .agg(F.count(F.lit(1)).alias("shared_grams"))
                .select(F.col("__cid").alias(id_col), "bench_id",
                        "shared_grams"))


def _bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """``k`` bit positions in ``[0, m_bits)`` for one key — k independent
    xxhash64 draws (the key hashed together with the probe index), pmod'd
    into the bitmap.  No add/multiply double-hashing: Spark 4 runs ANSI
    arithmetic, where a wrapped ``h1 + i*h2`` would raise on overflow."""
    if k < 1:
        # k=0 would build an empty bitmap (everything "clean") and make
        # bloom_might_contain return None, crashing filter() obscurely
        raise ValueError("k must be >= 1")
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
            for i in range(k)]


def build_bloom_bitmap(df: DataFrame, col: str,
                       m_bits: int = 1 << 20, k: int = 4) -> list[int]:
    """Aggregate a Bloom bitmap over ``df[col]`` and return it as a list of
    ``m_bits / 64`` longs.

    One distributed pass: explode each key's k bit positions, group by
    64-bit word index, ``bit_or`` the masks.  The driver pull is bounded by
    the FILTER size (m_bits/64 longs — 128 KiB at the 2^20 default), never
    by the data: this is the one driver-side collect in the bloom path and
    it is O(filter), the same order as broadcasting it back out."""
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    pos = (df.select(F.explode(F.array(
               *_bloom_positions(F.col(col), m_bits, k))).alias("__p"))
             .select((F.col("__p") / 64).cast("long").alias("__w"),
                     F.pmod(F.col("__p"), F.lit(64)).cast("int").alias("__b")))
    words = (pos.groupBy("__w")
                .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), __b)"))
                      .alias("__m"))
                .collect())
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["__w"]] = r["__m"]
    return bitmap


def bloom_might_contain(col: Column, bitmap_col: Column,
                        m_bits: int, k: int) -> Column:
    """Membership predicate against a bitmap carried as an ``array<long>``
    column (broadcast-joined onto the probe side).  Pure codegen Column
    arithmetic — no UDF, no Python in the hot path.  False positives only
    (rate ~(1 - e^{-kn/m})^k); never a false negative."""
    test = None
    for p in _bloom_positions(col, m_bits, k):
        word = F.element_at(bitmap_col, ((p / 64).cast("int") + F.lit(1)))
        bit = F.pmod(p, F.lit(64)).cast("int")
        hit = F.getbit(word, bit) == 1
        test = hit if test is None else (test & hit)
    return test


def decontaminate_bloom(corpus: DataFrame, benchmark: DataFrame,
                        n: int = 8, min_shared: int = 1,
                        m_bits: int = 1 << 20, k: int = 4,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str | None = None,
                        bench_id_col: str | None = None) -> DataFrame:
    """:func:`decontaminate` with a broadcast-Bloom gram prefilter — the
    scale path for when the benchmark gram table outgrows a row broadcast.

    :func:`decontaminate` broadcasts the benchmark's GRAM TABLE, which is
    fine for megabyte eval sets but dies when the held-out side is itself
    large (decontaminating against another corpus shard, a 100M-gram eval
    suite, ...).  This variant broadcasts a fixed-size BITMAP instead:

    1. one pass over the benchmark builds an ``m_bits`` Bloom bitmap of its
       gram hashes (:func:`build_bloom_bitmap` — driver pull bounded by the
       filter size, not the data);
    2. the corpus is shingled map-side and each gram probed against the
       broadcast bitmap with pure codegen Column arithmetic
       (:func:`bloom_might_contain`) — zero corpus shuffle, and the ~99 %
       of grams that match nothing die BEFORE any exchange;
    3. survivors (true hits + the bitmap's false-positive trickle) flow
       into an ordinary shuffle join against the benchmark gram table for
       EXACT verification, so the operator's output is identical to
       :func:`decontaminate` — the bloom only prunes, never decides.

    At 100 TB the verify join's corpus side is O(true contamination +
    fpp × grams) instead of O(all grams): the bitmap turns a full-corpus
    shuffle join into a trickle join.  Output equality with the exact
    operator is pytest-pinned, including under a deliberately undersized
    bitmap (high fpp) where only the verify join keeps it exact."""
    bench_text_col = bench_text_col or text_col
    bench_id_col = bench_id_col or id_col
    spark = corpus.sparkSession
    bench_grams = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(_word_shingles(bench_text_col, n)).alias("__g"))
    bitmap = build_bloom_bitmap(bench_grams.select("__g").distinct(),
                                "__g", m_bits=m_bits, k=k)
    bloom_df = spark.createDataFrame(
        [(bitmap,)], T.StructType([T.StructField(
            "__bloom", T.ArrayType(T.LongType(), False), False)]))
    corpus_grams = (_fan_out(corpus)
                    .select(F.col(id_col).alias("__cid"),
                            F.explode(_word_shingles(text_col, n))
                             .alias("__g"))
                    .crossJoin(F.broadcast(bloom_df))
                    .filter(bloom_might_contain(
                        F.col("__g"), F.col("__bloom"), m_bits, k))
                    .drop("__bloom"))
    # exact verify: deliberately NOT broadcast — the premise is that the
    # benchmark gram table is too big for one; the bloom already shrank
    # the corpus side to a trickle, so the shuffle is tiny.  (AQE may
    # still choose a broadcast at test scale; that is a runtime win, not
    # a plan requirement.)
    hits = corpus_grams.join(bench_grams, "__g")
    bad = (hits.groupBy("__cid", "bench_id")
               .agg(F.count(F.lit(1)).alias("__shared"))
               .filter(F.col("__shared") >= int(min_shared))
               .select(F.col("__cid").alias(id_col)).distinct())
    return corpus.join(F.broadcast(bad), on=id_col, how="left_anti")


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  n: int = 8, min_shared: int = 1,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None,
                  bench_id_col: str | None = None) -> DataFrame:
    """The corpus minus every document contaminated by the benchmark
    (>= ``min_shared`` distinct shared word ``n``-grams with ANY single
    benchmark document).  Corpus rows pass through unshuffled:
    contaminated ids are a broadcast anti-join."""
    pairs = contamination_pairs(corpus, benchmark, n=n, text_col=text_col,
                                id_col=id_col,
                                bench_text_col=bench_text_col,
                                bench_id_col=bench_id_col)
    bad = (pairs.filter(F.col("shared_grams") >= int(min_shared))
                .select(id_col).distinct())
    return corpus.join(F.broadcast(bad), on=id_col, how="left_anti")


def _contaminated_positions(corpus: DataFrame, reference: DataFrame,
                            k: int, text_col: str, id_col: str,
                            ref_text_col: str, ref_id_col: str,
                            broadcast_ref: bool) -> DataFrame:
    """(id, pos) of every corpus token k-gram (LOWERCASED whitespace
    tokens, the dup-span family spelling) that also occurs anywhere in
    the reference — the shared candidate stage of
    :func:`contamination_spans` / :func:`strip_spans_against`.

    Grams are md5-hashed BEFORE any join (32-byte keys); the reference
    side collapses to its DISTINCT gram set.  ``broadcast_ref=True``
    (the benchmark-decontamination case: the reference is megabytes)
    keeps the corpus entirely unshuffled — the same zero-corpus-exchange
    contract as :func:`decontaminate`.  For corpus-vs-corpus use pass
    ``False`` and let AQE pick the join strategy."""
    if k < 1:
        # k=0 would md5 an empty slice on BOTH sides — every token of
        # every document "contaminated", the whole corpus silently
        # stripped to '' instead of an error
        raise ValueError("k must be >= 1")
    from .dedup import _fan_out, _gram_windows, _span_toks
    ref_grams = (_gram_windows(reference, ref_id_col,
                               _span_toks(ref_text_col), k)
                 .select("g").distinct())
    if broadcast_ref:
        ref_grams = F.broadcast(ref_grams)
    return (_gram_windows(_fan_out(corpus), id_col, _span_toks(text_col), k)
            .join(ref_grams, "g")
            .select("id", "pos"))


def contamination_spans(corpus: DataFrame, reference: DataFrame,
                        k: int = 8, text_col: str = "text",
                        id_col: str = "doc_id",
                        ref_text_col: str | None = None,
                        ref_id_col: str | None = None,
                        broadcast_ref: bool = True) -> DataFrame:
    """Span-level contamination detection: maximal token ranges of each
    corpus document FULLY COVERED by reference-matching ``k``-grams —
    every token in a span lies inside at least one ``k``-gram that also
    occurs in the reference corpus (an interior ``k``-gram of a merged
    span need not itself match) — the SPAN analogue of
    :func:`contamination_pairs` (doc-level says "this document
    overlaps"; this says exactly WHERE).

    Returns ``(doc_id, span_start, span_end, span_tokens, n_grams)``,
    positions 0-based inclusive; overlapping/touching contaminated
    k-grams merge into one span (gaps-and-islands in per-doc position
    order, the :func:`~.dedup._islands` rule of the dup-span family).

    Scale shape (100 TB): the corpus never shuffles before the gram
    probe (broadcast reference gram set); the island window sorts only
    each doc's CONTAMINATED positions — bounded by doc length and by
    true contamination, never by corpus size.  Output-bound, like the
    whole dup-span family."""
    from .dedup import _islands
    hits = _contaminated_positions(corpus, reference, k, text_col, id_col,
                                   ref_text_col or text_col,
                                   ref_id_col or id_col, broadcast_ref)
    return _islands(hits, k, id_col)


def strip_spans_against(corpus: DataFrame, reference: DataFrame,
                        k: int = 8, text_col: str = "text",
                        id_col: str = "doc_id",
                        ref_text_col: str | None = None,
                        ref_id_col: str | None = None,
                        broadcast_ref: bool = True) -> DataFrame:
    """Span-level decontamination: REMOVE every token covered by a
    reference-matching ``k``-gram instead of dropping whole documents —
    the surgical alternative to :func:`decontaminate` public pipelines
    use when a long document embeds a short benchmark string (drop the
    quoted span, keep the surrounding prose).

    Gram keys are LOWERCASED (case-insensitive contamination); removed
    tokens leave the remaining ORIGINAL-case tokens to reassemble in
    order, single-space joined — exactly
    :func:`~.dedup.strip_dup_spans`'s convention, with the reference
    corpus playing the owner role (the reference always "keeps" its
    text; it is not part of the output).  Every corpus row survives:
    a fully-contaminated document comes back with ``clean_text = ''``.

    Returns ``(doc_id, clean_text, n_tokens_kept, n_tokens_removed)``.

    Scale shape: probe stage as :func:`contamination_spans` (no corpus
    shuffle before the broadcast gram probe); covered-position expansion
    is a bounded explode (k positions per contaminated gram, set-folded
    per doc); reassembly is map-side over the per-doc drop-set array
    (:func:`~.dedup._strip_rebuild`) — per-doc state,
    O(total tokens + k * contaminated grams) shuffle volume."""
    from .dedup import _fan_out, _span_toks, _strip_rebuild
    hits = _contaminated_positions(corpus, reference, k, text_col, id_col,
                                   ref_text_col or text_col,
                                   ref_id_col or id_col, broadcast_ref)
    base = (_fan_out(corpus)
            .select(F.col(id_col).alias("id"),
                    _span_toks(text_col, lowered=False).alias("t")))
    return _strip_rebuild(base, hits, k, id_col,
                          "n_tokens_kept", "n_tokens_removed")
