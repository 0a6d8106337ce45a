"""Shard packing + stratified sampling (training-data curation ops)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from graph_rag_agent_spark.operators.curation import (
    pack_shards,
    rate_to_hex_threshold,
    shard_manifest,
    stratified_sample,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, " ".join(f"tok{i}_{j}" for j in range(5 + (i * 7) % 40)),
         ["en", "de", "fr"][i % 3])
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_pack_shards_budget_property(spark, corpus):
    budget = 200
    packed = pack_shards(corpus, token_budget=budget, part_cols=("lang",))
    rows = packed.select("lang", "shard_id", "doc_id", "n_tokens").collect()
    max_doc = max(r.n_tokens for r in rows)
    man = {
        (r.lang, r.shard_id): r
        for r in shard_manifest(packed).collect()
    }
    # coverage: every doc in exactly one shard, token totals add up
    assert sum(r.n_docs for r in man.values()) == corpus.count()
    for lang in ("en", "de", "fr"):
        shards = sorted(s for (lg, s) in man if lg == lang)
        # doc sizes ≪ budget → contiguous shard ids from 0
        assert shards == list(range(len(shards)))
        for s in shards[:-1]:
            total = man[(lang, s)].total_tokens
            assert budget - max_doc < total < budget + max_doc, (lang, s, total)


def test_pack_shards_deterministic_across_partitionings(spark, corpus):
    budget = 150
    a = pack_shards(corpus, token_budget=budget).select("doc_id", "shard_id")
    b = pack_shards(corpus.repartition(7), token_budget=budget).select(
        "doc_id", "shard_id"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_shards_bucketed_distributes_without_loss(spark, corpus):
    budget = 100
    packed = pack_shards(corpus, token_budget=budget, n_buckets=4)
    # every doc still assigned exactly once, and the op is deterministic
    assert packed.count() == corpus.count()
    again = pack_shards(corpus.repartition(5), token_budget=budget, n_buckets=4)
    assert sorted(map(tuple, packed.select("doc_id", "shard_id").collect())) == \
        sorted(map(tuple, again.select("doc_id", "shard_id").collect()))


def test_stratified_sample_membership_is_pure_hash_function(spark, corpus):
    rates = {"en": 0.5, "de": 0.25}
    kept = {r.doc_id for r in stratified_sample(
        corpus, rates, default_rate=0.1).select("doc_id").collect()}
    langs = {r.doc_id: r.lang for r in corpus.select("doc_id", "lang").collect()}
    expect = set()
    for did, lang in langs.items():
        thr = rate_to_hex_threshold(rates.get(lang, 0.1))
        if hashlib.md5(str(did).encode()).hexdigest()[:8] < thr:
            expect.add(did)
    assert kept == expect
    # rate sanity on the biggest stratum (100 en docs, rate 0.5)
    n_en = sum(1 for l in langs.values() if l == "en")
    n_en_kept = sum(1 for d in kept if langs[d] == "en")
    assert 0.3 * n_en < n_en_kept < 0.7 * n_en


def test_stratified_sample_boundary_rates(spark, corpus):
    """rate=1.0 keeps EVERY row and rate=0.0 keeps none. Regression: the
    1.0 threshold used to render as the 9-char '100000000', which sorts
    lexicographically below any hash starting '2'-'f' and silently kept
    only ~1/16 of the stratum."""
    total = corpus.count()
    assert stratified_sample(corpus, {}, default_rate=1.0).count() == total
    assert stratified_sample(corpus, {}, default_rate=0.0).count() == 0
    en = corpus.filter("lang = 'en'").count()
    mixed = stratified_sample(corpus, {"en": 1.0}, default_rate=0.0)
    assert mixed.count() == en


def test_stratified_sample_no_shuffle_in_plan(spark, corpus):
    plan = stratified_sample(corpus, {"en": 0.5})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # map-only filter


class TestRepetitionScores:
    def _scores(self, spark, rows):
        from graph_rag_agent_spark.operators.text_analysis import repetition_scores

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r.doc_id: r for r in repetition_scores(df).collect()}

    def test_known_fractions(self, spark):
        s = self._scores(spark, [
            (0, "a a a a b"),              # top unigram 'a' 4/5
            (1, "x y x y x y"),            # bigram 'x y' 3/5, trigrams repeat
            (2, "u v w"),                  # 1 trigram, nothing repeats
        ])
        assert s[0].top_unigram_frac == pytest.approx(0.8)
        assert s[0].repetitive
        assert s[1].top_bigram_frac == pytest.approx(3 / 5)
        # trigrams of doc1: xyx yxy xyx yxy -> 4 positions, 2 distinct
        assert s[1].dup_trigram_frac == pytest.approx(0.5)
        assert s[1].repetitive
        assert s[2].top_unigram_frac == pytest.approx(1 / 3)
        assert s[2].top_bigram_frac == pytest.approx(0.5)
        assert s[2].dup_trigram_frac == 0.0

    def test_short_docs_no_nulls(self, spark):
        s = self._scores(spark, [(0, "solo"), (1, "two words")])
        assert s[0].top_unigram_frac == 1.0
        assert s[0].top_bigram_frac == 0.0 and s[0].dup_trigram_frac == 0.0
        assert s[1].top_bigram_frac == 1.0 and s[1].dup_trigram_frac == 0.0

    def test_separator_disambiguates(self, spark):
        # "ab c" vs "a bc" must be DIFFERENT bigrams (space-joined)
        s = self._scores(spark, [(0, "ab c a bc")])
        assert s[0].top_bigram_frac == pytest.approx(1 / 3)


class TestContaminationOverlap:
    def test_overlap_counts_and_self_exclusion(self, spark):
        from graph_rag_agent_spark.operators.curation import contamination_overlap

        docs = spark.createDataFrame(
            [
                (0, "the quick brown fox jumps over the lazy dog"),
                (1, "a quick brown fox jumps over a fence today"),
                (2, "completely different words entirely here now"),
            ],
            "doc_id long, text string",
        )
        bench = docs.filter(F.col("doc_id") == 0)
        out = {
            (r.doc_id, r.bench_id): r.n_shared
            for r in contamination_overlap(docs, bench, n=3, min_shared=2).collect()
        }
        # doc1 shares trigrams "quick brown fox", "brown fox jumps",
        # "fox jumps over" with doc0; doc0 itself is excluded
        assert out == {(1, 0): 3}

    def test_max_df_drops_boilerplate(self, spark):
        from graph_rag_agent_spark.operators.curation import contamination_overlap

        # every doc carries the same boilerplate trigram; only doc 1 shares
        # a rare trigram with the benchmark doc
        rows = [(i, f"all rights reserved unique{i} tail{i}") for i in range(10)]
        rows[1] = (1, "all rights reserved secret eval answer")
        rows.append((99, "benchmark prompt says secret eval answer"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        bench = docs.filter(F.col("doc_id") == 99)
        capped = contamination_overlap(docs, bench, n=3, min_shared=1, max_df=3)
        assert {(r.doc_id, r.bench_id) for r in capped.collect()} == {(1, 99)}
        # without the cap the boilerplate shingle would still not join (the
        # bench doc lacks it) — but a bench doc CONTAINING boilerplate flags
        # everything; prove the cap suppresses that explosion
        bench2 = spark.createDataFrame(
            [(100, "all rights reserved benchmark text")], "doc_id long, text string"
        )
        uncapped = contamination_overlap(docs, bench2, n=3, min_shared=1)
        capped2 = contamination_overlap(docs, bench2, n=3, min_shared=1, max_df=3)
        assert uncapped.count() == 10 and capped2.count() == 0


def test_redact_pii_scrub_and_counts(spark):
    from graph_rag_agent_spark.operators.curation import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now or ping 192.168.1.7 "
                "then call +44-20-7946-0958 twice: +44-20-7946-0958"),
            (2, "no pii here, just words and numbers 42 7.5"),
            (3, "user@host.io sits at user@10.0.0.5.example.com"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].text == (
        "mail <EMAIL> now or ping <IPV4> then call <PHONE> twice: <PHONE>"
    )
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 2)
    assert out[2].text == "no pii here, just words and numbers 42 7.5"
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
    # emails redact FIRST, so the ip-looking host inside the second address
    # never surfaces as a bare IPv4
    assert out[3].text == "<EMAIL> sits at <EMAIL>"
    assert (out[3].n_email, out[3].n_ipv4) == (2, 0)


def test_filter_blocked_sources_broadcast_anti(spark):
    from graph_rag_agent_spark.operators.curation import filter_blocked_sources

    docs = spark.createDataFrame(
        [(1, "spam.example"), (2, "good.example"), (3, None), (4, "spam.example")],
        "doc_id long, source string",
    )
    out = filter_blocked_sources(docs, ["spam.example", "unused.example"])
    assert {r.doc_id for r in out.collect()} == {2, 3}  # NULL source survives
    # the blocklist side must be the broadcast build side of an anti join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    # DataFrame-typed blocklist behaves identically
    bl = spark.createDataFrame([("spam.example",)], "source string")
    assert {r.doc_id for r in filter_blocked_sources(docs, bl).collect()} == {2, 3}


# ---- DSIR importance weights + bigram-LM perplexity -------------------------


def _dsir_fixture(spark):
    """Two 'domains': code-like docs (target) vs prose docs, plus one doc of
    each flavor to score. Repetition gives the count-based estimator
    signal."""
    rows = [
        (1, "def foo ( x ) : return x", "code"),
        (2, "def bar ( y ) : return y", "code"),
        (3, "the cat sat on the mat today", "prose"),
        (4, "the dog ran in the park today", "prose"),
        (5, "def baz ( z ) : return z", "code"),
        (6, "the bird flew over the house today", "prose"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_importance_weights_orders_target_like_docs_first(spark):
    from graph_rag_agent_spark.operators.curation import importance_weights

    docs = _dsir_fixture(spark)
    target = docs.filter("lang = 'code'")
    out = {r.doc_id: r for r in importance_weights(docs, target).collect()}
    # every code doc scores above every prose doc
    code = [out[i].log_weight for i in (1, 2, 5)]
    prose = [out[i].log_weight for i in (3, 4, 6)]
    assert min(code) > max(prose)
    # n_features = unigrams + bigrams = 2*len(toks) - 1
    assert out[1].n_features == 2 * 8 - 1
    # deterministic across repartitionings
    out2 = {
        r.doc_id: r.log_weight
        for r in importance_weights(docs.repartition(7), target).collect()
    }
    assert out2 == {k: v.log_weight for k, v in out.items()}


def test_importance_weights_identical_distributions_are_flat(spark):
    from graph_rag_agent_spark.operators.curation import importance_weights

    docs = _dsir_fixture(spark)
    out = importance_weights(docs, docs).collect()
    # target == raw -> every bucket's log-ratio is exactly 0
    assert all(abs(r.log_weight) < 1e-9 for r in out)


def test_importance_weights_broadcasts_ratio_table(spark):
    from graph_rag_agent_spark.operators.curation import importance_weights

    docs = _dsir_fixture(spark)
    plan = (
        importance_weights(docs, docs.filter("lang = 'code'"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # B-row ratio table never shuffles docs


def test_lm_perplexity_scores_fluent_below_gibberish(spark):
    from graph_rag_agent_spark.operators.curation import lm_perplexity

    ref_rows = [(100 + i, "the cat sat on the mat", "en") for i in range(5)] + [
        (200 + i, "the dog sat on the rug", "en") for i in range(5)
    ]
    score_rows = [
        (1, "the cat sat on the rug", "en"),     # in-domain
        (2, "rug the on sat mat cat", "en"),     # same words, scrambled
        (3, "zq xv qqq zzz vvv kkk", "und"),     # OOV gibberish
        (4, "one", "en"),                        # too short for bigrams
    ]
    docs = spark.createDataFrame(score_rows, "doc_id long, text string, lang string")
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in lm_perplexity(docs, ref).collect()}
    # the in-domain doc scores strictly more fluent than both degenerate
    # docs. (No ordering asserted BETWEEN the degenerates: with a tiny
    # reference vocab the OOV uniform floor 1/V is not small, so fully-OOV
    # text can out-score in-vocab words in unseen contexts — an add-k
    # artifact that vanishes at realistic V.)
    assert out[1].nll < min(out[2].nll, out[3].nll)
    assert out[4].n_bigrams == 0 and out[4].nll is None
    assert out[1].n_bigrams == 5


def test_pack_sequences_tiling_and_exact_lengths(spark, corpus):
    from graph_rag_agent_spark.operators.curation import pack_sequences

    L = 128
    spans = pack_sequences(corpus, seq_len=L, part_cols=("lang",)).collect()
    # per-doc tiling: spans cover [0, n_tokens) contiguously, in seq order
    by_doc: dict = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == corpus.count()
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.seq_id)
        assert rows[0].tok_start == 0
        assert rows[-1].tok_end == rows[0].n_tokens
        for a, b in zip(rows, rows[1:]):
            assert a.tok_end == b.tok_start and b.seq_id == a.seq_id + 1
    # every sequence except each group's last reassembles to exactly L
    by_seq: dict = {}
    for r in spans:
        by_seq.setdefault((r.lang, r.seq_id), 0)
        by_seq[(r.lang, r.seq_id)] += r.tok_end - r.tok_start
        assert 0 <= r.seq_offset < L
        assert r.seq_offset + (r.tok_end - r.tok_start) <= L
    for lang in {r.lang for r in spans}:
        seqs = sorted(k[1] for k in by_seq if k[0] == lang)
        assert seqs == list(range(len(seqs)))  # contiguous ids from 0
        for s in seqs[:-1]:
            assert by_seq[(lang, s)] == L  # exactly full
        assert 0 < by_seq[(lang, seqs[-1])] <= L


def test_pack_sequences_bucketed_packs_per_bucket(spark, corpus):
    """n_buckets distributes the group sort; each (group, bucket) line
    still packs exactly (all non-last sequences full) — verified by
    re-deriving the bucket and checking totals per (lang, bucket)."""
    from graph_rag_agent_spark.operators.curation import pack_sequences

    L = 64
    spans = pack_sequences(
        corpus, seq_len=L, part_cols=("lang",), n_buckets=4
    ).collect()
    def bucket(doc_id):
        import hashlib as h
        return int(h.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 4
    by = {}
    for r in spans:
        key = (r.lang, bucket(r.doc_id), r.seq_id)
        by[key] = by.get(key, 0) + (r.tok_end - r.tok_start)
    for (lang, b) in {(k[0], k[1]) for k in by}:
        seqs = sorted(k[2] for k in by if k[:2] == (lang, b))
        for s in seqs[:-1]:
            assert by[(lang, b, s)] == L


def test_temperature_sample_alpha1_noop_and_rates(spark, corpus):
    from graph_rag_agent_spark.operators.curation import temperature_sample

    # α=1: q == p → every rate 1.0, everything kept
    kept = temperature_sample(corpus, alpha=1.0)
    assert kept.count() == corpus.count()
    assert {r.rate for r in kept.select("rate").distinct().collect()} == {1.0}


def test_temperature_sample_rebalances_toward_small_strata(spark):
    from graph_rag_agent_spark.operators.curation import temperature_sample

    rows = [(i, "x", "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = temperature_sample(docs, alpha=0.5)
    rates = {r.lang: r.rate for r in out.select("lang", "rate").distinct().collect()}
    # smallest stratum is kept in full; the hot one is downsampled by the
    # α-smoothed ratio: rate_big = (p_big^α / p_small^α) · (n_small/n_big)
    assert rates["small"] == 1.0
    import math
    expect_big = (0.9 ** 0.5 / 0.1 ** 0.5) * (100 / 900)
    assert math.isclose(rates["big"], expect_big, rel_tol=1e-9)
    # membership is a pure function of the id: partitioning-invariant
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in temperature_sample(docs.repartition(13), alpha=0.5).collect()
    )
    assert a == b and 0 < len(a) < 1000


def test_ngram_stats_tf_df_and_unigrams(spark):
    from graph_rag_agent_spark.operators.text_analysis import ngram_stats

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b x"), (3, "")],
        "doc_id long, text string",
    )
    bi = {r.term: (r.tf, r.df) for r in ngram_stats(docs, n=2, k=10).collect()}
    assert bi["a b"] == (3, 2)  # twice in doc 1, once in doc 2
    assert bi["b c"] == (1, 1) and "c a" in bi
    assert "" not in bi  # the empty doc emits no bigrams
    uni = {r.term: (r.tf, r.df) for r in ngram_stats(docs, n=1, k=10).collect()}
    assert uni["a"] == (3, 2) and uni["b"] == (3, 2) and uni["x"] == (1, 1)
    # top-k boundary is the total (tf desc, term asc) order
    top1 = ngram_stats(docs, n=1, k=1).collect()
    assert [r.term for r in top1] == ["a"]


def test_bpe_kernel_classic_fixture():
    """The Sennrich worked example: 'est' assembles first (freq 9)."""
    from graph_rag_agent_spark.functions.bpe_kernel import bpe_merges

    wc = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    m = bpe_merges(wc, 10)
    assert [(r[1], r[2]) for r in m[:3]] == [("e", "s"), ("es", "t"), ("est", "</w>")]
    assert m[0][3] == 9  # newest(6) + widest(3)
    # deterministic: same input → identical table
    assert bpe_merges(wc, 10) == m
    # early stop: fully merged vocab ends the loop
    assert len(bpe_merges([("ab", 1)], 100)) == 2  # a+b, ab+</w>


def test_learn_bpe_distributed_reduction(spark):
    from graph_rag_agent_spark.functions.bpe_kernel import bpe_merges
    from graph_rag_agent_spark.operators.curation import learn_bpe

    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower"),
         (2, "newest newest newest newest newest newest"),
         (3, "widest widest widest rare")],
        "doc_id long, text string",
    )
    got = [(r.rank, r.left, r.right, r.pair_count)
           for r in learn_bpe(docs, n_merges=5, min_count=2).orderBy("rank").collect()]
    # min_count=2 drops 'rare'; the kernel sees the same table either way
    want = bpe_merges([("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], 5)
    assert got == want
