"""Property-based tests (SURVEY.md §5.2 item 4).

Pure-kernel properties run under hypothesis (no Spark); Spark-side
invariants (politeness budget, bloom no-false-negatives through the real
applyInPandas path) run as deterministic randomized checks against the
session fixture.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from ccspark import kernels as K
from ccspark.seen import _bit_positions

# URL-ish text: printable, no whitespace (canonicalize strips whitespace first)
url_text = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=60)
host_text = st.from_regex(r"[a-z]{1,8}\.(com|org|net)", fullmatch=True)
path_text = st.from_regex(r"(/[a-z0-9_.]{1,8}){0,4}", fullmatch=True)


class TestCanonProperties:
    @given(src=url_text, host=host_text, path=path_text)
    @settings(max_examples=200, deadline=None)
    def test_normalize_idempotent(self, src, host, path):
        """canon(canon(u)) == canon(u): any non-None output is absolute and
        passes through normalize unchanged."""
        page = f"http://{host}{path or '/'}"
        out = K.normalize_one(src, page)
        if out is not None:
            assert K.is_absolute(out)
            assert K.normalize_one(out, page) == out

    @given(src=url_text, host=host_text)
    @settings(max_examples=200, deadline=None)
    def test_normalize_host_is_base_host_for_relatives(self, src, host):
        """A relative src always resolves onto the page's host."""
        page = f"http://{host}/a/b.html"
        out = K.normalize_one(src, page)
        if out is not None and not K.is_absolute(src):
            assert K.hosts_of(pd.Series([out]))[0] == host

    @given(u=url_text)
    @settings(max_examples=200, deadline=None)
    def test_surt_deterministic_and_total(self, u):
        assert K.surt_one(u) == K.surt_one(u)

    @given(u=st.text(max_size=80))
    @settings(max_examples=200, deadline=None)
    def test_dims_never_negative(self, u):
        w, h = K.extract_dims_one(u)
        assert w >= 0 and h >= 0

    @given(s=st.text(max_size=40))
    @settings(max_examples=100, deadline=None)
    def test_ngram_sizes_bounded(self, s):
        for g in K.url_ngrams_one(s, 2, 5):
            assert 2 <= len(g) <= 5
            assert g == g.lower()

    @given(u=st.text(min_size=1, max_size=60))
    @settings(max_examples=100, deadline=None)
    def test_md5_key_fits_int64(self, u):
        k = K.md5_key_one(u)
        assert 0 <= k < 2 ** 60


class TestBloomProperties:
    @given(urls=st.lists(st.text(min_size=1, max_size=30), min_size=1,
                         max_size=200, unique=True),
           data=st.data())
    @settings(max_examples=50, deadline=None)
    def test_no_false_negatives(self, urls, data):
        """Every inserted key probes positive — the property the engine's
        bloom fast-path correctness rests on (false positives only cost a
        redundant exact join)."""
        m, k = 1 << 12, 7
        s = pd.Series(urls)
        bits = np.zeros(m, dtype=np.uint8)
        bits[_bit_positions(s, m, k).ravel()] = 1
        probe = data.draw(st.lists(st.sampled_from(urls), max_size=50))
        if probe:
            idx = _bit_positions(pd.Series(probe), m, k)
            assert bits[idx].all(axis=1).all()

    def test_key_hash_independent_of_batch(self):
        """A key hashes the same alone as beside a key that differs from
        it only by a trailing NUL (the falsifying example hypothesis
        found for test_no_false_negatives)."""
        from ccspark.cuckoo import key_parts

        batch = pd.Series(["0", "1", "0\x00"])
        together = _bit_positions(batch, 1 << 12, 7)
        fp, i1 = key_parts(batch, 1 << 10)
        for i, key in enumerate(batch):
            alone = pd.Series([key])
            assert (_bit_positions(alone, 1 << 12, 7)[0] == together[i]).all()
            afp, ai1 = key_parts(alone, 1 << 10)
            assert (afp[0], ai1[0]) == (fp[i], i1[i])


class TestSchedulerInvariants:
    def test_budget_never_exceeded(self, spark):
        """Per-host scheduled count ≤ floor(round_seconds/crawl_delay) —
        through the real salted-window Spark path, with a hot host."""
        from pyspark.sql import functions as F
        from ccspark.params import CrawlParams
        from ccspark.politeness import schedule_frontier

        rng = np.random.default_rng(3)
        n = 4000
        hosts = np.where(rng.random(n) < 0.5, "hot.example.com",
                         np.char.add(rng.integers(0, 40, n).astype(str), ".site.com"))
        pdf = pd.DataFrame({
            "url": [f"http://{h}/p{i}" for i, h in enumerate(hosts)],
            "host_key": hosts,
            "surt": [f"{h})/p{i}" for i, h in enumerate(hosts)],
            "priority": rng.random(n),
            "depth": rng.integers(0, 3, n).astype("int32"),
        })
        frontier = spark.createDataFrame(pdf)
        robots = spark.createDataFrame(
            [("hot.example.com", 0.5, [])],
            "host string, crawl_delay double, disallow array<string>")
        params = CrawlParams(round_seconds=10.0, default_crawl_delay=0.15,
                             num_salts=4)
        sched = schedule_frontier(frontier, robots, params)
        got = {r["host_key"]: r["c"] for r in
               sched.groupBy("host_key").agg(F.count(F.lit(1)).alias("c")).collect()}
        assert got.get("hot.example.com", 0) <= int(10.0 / 0.5)
        default_budget = int(10.0 / 0.15)
        for h, c in got.items():
            if h != "hot.example.com":
                assert c <= default_budget

    def test_dedup_rate_and_frontier_metrics_monotone_sane(self, spark, fx_small,
                                                           tmp_path):
        """north_rule metrics: dedup_rate ∈ [0,1]; seen set only grows."""
        from ccspark.params import CrawlParams
        from ccspark.scheduler import CrawlEngine
        eng = CrawlEngine(spark, str(tmp_path / "m"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"],
                          params=CrawlParams(rounds=3))
        metrics = eng.run()
        seen_running = 0
        for m in metrics:
            assert 0.0 <= m["dedup_rate"] <= 1.0
            assert m["new_seen"] >= 0 and m["frontier_depth"] >= 0
            seen_running += m["new_seen"]
        assert seen_running == eng.seen.seen_df().count()


class TestConnectedComponents:
    """Pin the CC loop's multi-round propagation on graphs whose
    diameter forces >1 round — shapes the synthetic corpus's star-ish
    duplicate clusters may never produce."""

    def _cc(self, spark, n_nodes, pairs):
        from ccspark.dedup import connected_components
        nodes = spark.createDataFrame(
            [(i,) for i in range(n_nodes)], "doc_id bigint")
        edges = spark.createDataFrame(
            pairs or [(0, 0)], "doc_a bigint, doc_b bigint")
        if not pairs:
            edges = edges.filter("doc_a <> doc_a")
        got = connected_components(nodes, edges).collect()
        return {r.doc_id: r.cluster_id for r in got}

    def test_chain_propagates_min_across_diameter(self, spark):
        # 0-1-2-3-4-5 single chain: min label must travel 5 hops
        labels = self._cc(spark, 6, [(i, i + 1) for i in range(5)])
        assert labels == {i: 0 for i in range(6)}

    def test_two_components_and_singletons(self, spark):
        # {1,2,7} via 2-7,1-2; {4,5}; 0,3,6 singleton
        labels = self._cc(spark, 8, [(2, 7), (1, 2), (4, 5)])
        assert labels == {0: 0, 1: 1, 2: 1, 7: 1, 4: 4, 5: 4, 3: 3, 6: 6}

    def test_no_edges_all_singletons(self, spark):
        labels = self._cc(spark, 4, [])
        assert labels == {i: i for i in range(4)}

    def test_cycle_converges(self, spark):
        labels = self._cc(spark, 4, [(0, 1), (1, 2), (2, 3), (3, 0)])
        assert labels == {i: 0 for i in range(4)}


class TestPngCodecProperties:
    @given(h=st.integers(1, 12), w=st.integers(1, 12),
           seed=st.integers(0, 2**31 - 1))
    @settings(max_examples=60, deadline=None)
    def test_png_roundtrip(self, h, w, seed):
        """decode(encode(img)) == img for arbitrary shapes and pixel
        content; the encoder cycles filter types per row, so taller
        images exercise every unfilter path."""
        from ccspark.imagecodec import png_decode, png_encode
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(png_decode(png_encode(img)), img)

    @given(n=st.integers(0, 300), seed=st.integers(0, 2**31 - 1))
    @settings(max_examples=60, deadline=None)
    def test_wav_roundtrip(self, n, seed):
        from ccspark.imagecodec import wav_decode, wav_encode
        rng = np.random.default_rng(seed)
        s = rng.integers(-32768, 32768, size=n).astype(np.int16)
        v, rate = wav_decode(wav_encode(s))
        assert rate == 8000 and np.array_equal(v, s)


class TestDuplicateSpans:
    """Pin the substring-dedup island-merge semantics on hand-built grams
    (ccspark.dedup.duplicate_spans, k=5): overlapping duplicated windows
    merge into one maximal span; a gap > k starts a new span; within-doc
    repeats count toward the corpus-wide multiplicity."""

    def _spans(self, spark, rows):
        from ccspark.dedup import duplicate_spans
        df = spark.createDataFrame(rows, "doc_id long, pos int, gram string")
        out = duplicate_spans(df, k=5).toPandas()
        return sorted(map(tuple, out[["doc_id", "span_start",
                                      "span_end", "span_len"]].values))

    def test_cross_doc_overlap_merges(self, spark):
        # doc 0 positions 0..2 share grams with doc 1 → one span [0, 7)
        rows = [(0, p, f"g{p}") for p in range(3)] + \
               [(1, p + 10, f"g{p}") for p in range(3)]
        assert self._spans(spark, rows) == [
            (0, 0, 7, 7), (1, 10, 17, 7)]

    def test_gap_splits_spans(self, spark):
        # duplicated at pos 0 and pos 6 (gap 6 > k=5) → two spans
        rows = [(0, 0, "a"), (0, 6, "b"), (1, 50, "a"), (1, 70, "b")]
        got = self._spans(spark, rows)
        assert (0, 0, 5, 5) in got and (0, 6, 11, 5) in got

    def test_touching_windows_merge(self, spark):
        # pos 0 and pos 5 (gap exactly k) touch: [0,5) + [5,10) → [0,10)
        rows = [(0, 0, "a"), (0, 5, "b"), (1, 50, "a"), (1, 70, "b")]
        assert (0, 0, 10, 10) in self._spans(spark, rows)

    def test_within_doc_repeat_is_duplicate(self, spark):
        # the same gram twice in ONE doc is corpus multiplicity 2
        rows = [(0, 0, "x"), (0, 20, "x"), (0, 5, "unique")]
        assert self._spans(spark, rows) == [(0, 0, 5, 5), (0, 20, 25, 5)]

    def test_unique_grams_no_spans(self, spark):
        rows = [(0, 0, "a"), (1, 0, "b")]
        assert self._spans(spark, rows) == []


class TestPagerankFixedPoint:
    """Hand-computed fixed-point PageRank (ccspark.webgraph): graph
    0→1, 0→2, 1→2, 2→0; one iteration from rank_0 = SCALE = 10^12.
    contrib(u) = (10^12 * 85 div 100) div outdeg → 425e9 (outdeg 2)
    or 850e9 (outdeg 1); base = 150e9."""

    def test_one_iteration_exact(self, spark):
        from ccspark.webgraph import pagerank_fixed_point
        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (2, 0)], "src long, dst long")
        nodes = spark.createDataFrame([(0,), (1,), (2,)], "host long")
        got = {r.host: r.rank
               for r in pagerank_fixed_point(nodes, edges, iters=1).collect()}
        assert got == {0: 1_000_000_000_000,
                       1: 575_000_000_000,
                       2: 1_425_000_000_000}

    def test_dangling_and_isolated(self, spark):
        from ccspark.webgraph import pagerank_fixed_point
        # 0→1; node 1 dangling (mass dropped), node 2 isolated
        edges = spark.createDataFrame([(0, 1)], "src long, dst long")
        nodes = spark.createDataFrame([(0,), (1,), (2,)], "host long")
        got = {r.host: r.rank
               for r in pagerank_fixed_point(nodes, edges, iters=1).collect()}
        assert got == {0: 150_000_000_000,
                       1: 1_000_000_000_000,
                       2: 150_000_000_000}


class TestIncrementalDedup:
    """Pin all three incremental-dedup branches (ccspark.dedup
    .incremental_status) on hand-built docs: even doc_ids are the
    corpus, odd the incoming batch."""

    def test_exact_near_unique(self, spark):
        from ccspark.dedup import incremental_status
        corpus_txt = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [(0, corpus_txt),
             (2, "one two three four five six seven"),
             (1, corpus_txt),                              # exact copy of 0
             (3, "alpha beta gamma delta epsilon zeta XX"),  # near: shares shingles
             (5, "totally different words entirely here now")],
            "doc_id long, text string")
        got = {r.doc_id: r.status for r in incremental_status(docs).collect()}
        assert got == {1: "exact", 3: "near", 5: "unique"}

    def test_exact_beats_near(self, spark):
        from ccspark.dedup import incremental_status
        txt = "a b c d e f g h i j"
        docs = spark.createDataFrame(
            [(0, txt), (1, txt)], "doc_id long, text string")
        got = {r.doc_id: r.status for r in incremental_status(docs).collect()}
        assert got == {1: "exact"}


class TestSemanticDedup:
    """Intent check independent of the DuckDB twin (a shared bug in both
    engines would still pass the oracle test): every synthesized scaled
    copy (vec_id >= 10000, cosine exactly 1.0 to its original in the
    same IVF cell) must be dropped, every original must survive."""

    def test_copies_dropped_originals_kept(self, spark, sf_dir):
        from ccspark.similarity import _SEM_COPY_OFF, q_semantic_dedup, emb
        kept = {r.vec_id for r in
                q_semantic_dedup(spark, sf_dir).collect()}
        originals = {r.vec_id for r in
                     emb(spark, sf_dir).select("vec_id").collect()}
        assert kept == originals
        assert not any(v >= _SEM_COPY_OFF for v in kept)


class TestHeavyHitters:
    """Misra-Gries candidate soundness: for ANY partitioning of a
    skewed corpus, the two-pass heavy-hitter output equals the exact
    over-threshold set (the union of per-partition summaries can have
    no false negatives — analytics.py proof sketch)."""

    def test_no_false_negatives_any_partitioning(self, spark, tmp_path):
        import collections

        import numpy as np
        from pyspark.sql import functions as F

        from ccspark.analytics import HH_M, q_heavy_hitters

        rng = np.random.default_rng(3)
        # zipf-ish corpus: a few hot words + a long uniform tail
        words = (["hot%d" % i for i in range(5) for _ in range(800 - 120 * i)]
                 + ["w%d" % int(x) for x in rng.integers(0, 4000, 6000)])
        rng.shuffle(words)
        text = " ".join(words)
        docs = spark.createDataFrame(
            [(i, text_part, "en", "s", len(text_part))
             for i, text_part in enumerate(
                 " ".join(words[j:j + 500]) for j in range(0, len(words), 500))],
            "doc_id long, text string, lang string, source string, n_chars long")
        sf = str(tmp_path / "hh")

        counts = collections.Counter(words)
        n = len(words)
        want = sorted((w, c) for w, c in counts.items() if c * HH_M > n)
        assert want, "fixture must contain true heavy hitters"
        for parts in (1, 3, 16):
            # write with a different physical partitioning each time,
            # then query that layout
            (docs.repartition(parts, F.col("doc_id"))
             .write.mode("overwrite").parquet(sf + "/documents.parquet"))
            got = sorted(
                (r.word, r.cnt)
                for r in q_heavy_hitters(spark, sf).collect())
            assert got == want, parts

    def test_leaves_no_cached_sketch(self, spark, sf_dir):
        from ccspark.analytics import q_heavy_hitters

        def persisted():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        before = persisted()
        q_heavy_hitters(spark, sf_dir).collect()
        assert persisted() == before
