"""Document deduplication operators for large-scale training-data pipelines.

Beyond the reference's entity-level dedupe (D2-D8), a 100 TB corpus pipeline
needs document-level dedup. Four strategies, cheapest-first:

- exact:        sha256 groupBy — one shuffle on a uniform key.
- ngram-jaccard: blocked pair join + set overlap — exact near-dup inside
                 cheap blocks (lang + length bucket).
- simhash:      64-bit signature; near-dups = small hamming distance;
                 bucketed by rotated prefixes for sub-quadratic matching.
- minhash-LSH:  shingle → K minhashes → B bands; candidate pairs share a
                 band bucket — the classic web-scale near-dup join
                 (one shuffle on band keys, no all-pairs).

All JVM-side except the Arrow-batched numpy kernels of simhash and the
jaccard profile path.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame) -> DataFrame:
    """→ (content_sha256, dup_count, doc_ids) for texts appearing > 1 time."""
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("content_sha256"))
        .agg(
            F.count("*").alias("dup_count"),
            F.array_sort(F.collect_list(F.col("doc_id").cast("string"))).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram jaccard (blocked exact near-dup)
# ---------------------------------------------------------------------------

def _word_set(text_col: str) -> F.Column:
    return F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    profile_flop_budget: float = 2e10,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard) for same-block pairs above threshold.

    EXACT all-pairs similarity join via prefix filtering (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW'07): tokens are globally
    ordered by (document frequency asc, token asc); a doc with |W| distinct
    words exposes only its first |W| - ⌈t·|W|⌉ + 1 tokens in that order. Any
    pair with jaccard ≥ t MUST share an exposed token (if all shared tokens
    sat beyond A's prefix, |A∩B| ≤ ⌈t|A|⌉-1 < t|A| ≤ t|A∪B| — contradiction),
    so the candidate join is on prefix tokens only — rare tokens by
    construction, never a quadratic (lang, length) block. Candidates then
    verify exact jaccard (array_intersect/array_union, JVM-side) and the
    same-block constraints (lang + length(text)//100).

    Candidates are further pruned by PPJoin's lossless filters (Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW'08):
    the size filter (J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t) and the positional
    filter — at the globally-first shared prefix token, matched at ranks
    (i, j), true overlap ≤ 1 + min(|A|−i, |B|−j), which must reach the
    required overlap α = t/(1+t)·(|A|+|B|); a qualifying pair always
    survives via its first-match row (earlier shared tokens would
    themselves be prefix matches), so per-row pruning is exact.

    Scale shape: one groupBy on token (doc frequency), one window by doc id
    (prefix rank), one join on prefix tokens, two id-keyed verify joins —
    every key high-cardinality; a 10⁶-doc same-length block costs
    O(candidates), not O(block²).

    PROFILE FAST PATH (round 6): jaccard is a pure function of the two
    docs' distinct word SETS, so docs sharing (block, word-set) are
    interchangeable — dedup to distinct profiles first (the simhash
    distinct-signature trick), compute pair similarity ONCE per profile
    pair with a blocked numpy bitmatrix matmul (guide §4.2), and expand
    members back to doc pairs at output size. Only taken when two cheap
    approx probes prove the regime: corpus vocabulary ≤ 4096 AND
    Σ_block(distinct profiles)² · vocab ≤ `profile_flop_budget` — i.e. profiles SATURATE (small closed
    vocabulary), where the prefix join's candidate enumeration is maximally
    quadratic precisely because every token is frequent. On open-vocabulary
    corpora (any real 100 TB crawl) the probes fail and the prefix-filter
    path below runs unchanged — the O(profiles²) block pass is never
    reachable without a measured bound, and both paths are exact (pytest
    equality-gated; same DuckDB oracle)."""
    base = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("lang"),
        (F.length("text") / 100).cast("int").alias("_lb"),
        _word_set("text").alias("_words"),
    )
    if threshold > 0 and profile_flop_budget > 0:
        # gate probe (map-side partial agg over a deterministic 10% doc
        # sample): sampled vocabulary ≤ true vocabulary, so a sample OVER
        # the bound proves the corpus is open-vocabulary and the fast path
        # is skipped without ever tokenizing the other 90%. A sample under
        # the bound is re-verified EXACTLY on the (tiny, saturated) profile
        # table inside _jaccard_profile_pairs before any pair work runs.
        sample = base.filter(F.pmod(F.xxhash64("id"), F.lit(10)) == 0)
        vocab_est = sample.select(F.explode("_words").alias("_w")).agg(
            F.approx_count_distinct("_w", 0.05).alias("v")
        ).first()["v"] or 0
        if vocab_est == 0:  # sample hit no docs (tiny corpus) — probe fully
            vocab_est = base.select(F.explode("_words").alias("_w")).agg(
                F.approx_count_distinct("_w", 0.05).alias("v")
            ).first()["v"] or 0
        # 0.05-rsd HLL: 10% headroom keeps a borderline under-estimate from
        # opening the gate a hair too wide (the exact in-path check is the
        # binding one anyway)
        if 0 < vocab_est <= 4096 * 1.1:
            fast = _jaccard_profile_pairs(base, threshold, profile_flop_budget)
            if fast is not None:
                return fast
    toks = base.select("id", "lang", "_lb", F.explode("_words").alias("w"))
    # document frequency as a window over the token exchange — the former
    # groupBy + join-back computed the token explode twice and shuffled it
    # twice (guide §2.4: share one exchange)
    w_rank = Window.partitionBy("id").orderBy(F.asc("_df"), F.asc("w"))
    prefix = (
        toks.withColumn("_df", F.count("*").over(Window.partitionBy("w")))
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_sz", F.count("*").over(Window.partitionBy("id")))
        .filter(F.col("_rn") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
        # NARROW candidate rows (guide §2.3): the join equi-key folds
        # (token, block, length-bucket) into one 8-byte hash; a key
        # collision can only ADD candidates, and every candidate is
        # re-verified below on exact words + block columns, so the output
        # is exactly the pre-hash output
        .withColumn("_k", F.xxhash64("w", "lang", "_lb"))
        # each row also carries the doc's EARLIER prefix-key array (global
        # (df, token) order, consistent across docs): the join below emits
        # a pair only at its FIRST shared prefix token, which replaces the
        # post-join dropDuplicates — at sf1.0 that exchange moved 378M
        # candidate rows and was 24s of the 37s total
        .withColumn(
            "_ear",
            F.collect_list("_k").over(
                Window.partitionBy("id")
                .orderBy("_rn")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("_k", "id", "_rn", "_sz", "_ear")
        .localCheckpoint(eager=True)  # both join sides read ONE materialization
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    on = [F.col("a._k") == F.col("b._k"), F.col("a.id") < F.col("b.id")]
    # PPJoin first-match dedup: an earlier shared prefix token would itself
    # be a prefix match on BOTH sides (ranks are one global order), so "no
    # overlap between the two earlier-key arrays" keeps exactly the first
    # match. A qualifying (J ≥ t) pair always passes the positional filter
    # at its first match (the exactness argument the per-row pruning below
    # already relies on); non-qualifying candidates suppressed here would
    # have been dropped by the exact-jaccard verification anyway.
    on += [~F.arrays_overlap(F.col("a._ear"), F.col("b._ear"))]
    # PPJoin size filter: t·|A| ≤ |B| and t·|B| ≤ |A|
    on += [
        F.col("a._sz") * threshold <= F.col("b._sz"),
        F.col("b._sz") * threshold <= F.col("a._sz"),
    ]
    # PPJoin positional filter: overlap upper bound at this match position
    # must reach α = t/(1+t)·(|A|+|B|); real-valued RHS (≤ ceil) stays safe
    on += [
        1 + F.least(
            F.col("a._sz") - F.col("a._rn"), F.col("b._sz") - F.col("b._rn")
        )
        >= (threshold / (1.0 + threshold)) * (F.col("a._sz") + F.col("b._sz"))
    ]
    # distinct by construction: the first-match condition admits exactly one
    # join row per unordered pair
    cands = a.join(b, on=on).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    # verify with ONE broadcast side table (guide §3.1/§8: decide on small
    # rows, never shuffle the heavy word arrays per candidate pair — the
    # former id-keyed joins moved every doc's array once per pair). The
    # SAME plan feeds both joins, so the broadcast exchange is built once
    # and reused. Block equality is re-checked here, which also makes the
    # hashed join key above collision-proof. The per-pair set intersection
    # runs on xxhash64(word) longs instead of the word strings (~4× less
    # per-pair hashing; exact unless two distinct corpus words collide in
    # 64 bits), and union size is |A|+|B|−|A∩B| (arrays are
    # distinct-valued), sparing the second per-pair hash-set build an
    # array_union would cost.
    side = base.select(
        "id", "lang", "_lb",
        F.transform("_words", lambda w: F.xxhash64(w)).alias("_wh"),
    )
    j = (
        cands.join(F.broadcast(side), cands["id_a"] == side["id"])
        .select(
            "id_a", "id_b",
            F.col("lang").alias("_a_lang"),
            F.col("_lb").alias("_a_lb"),
            F.col("_wh").alias("_wa"),
        )
        .join(F.broadcast(side), F.col("id_b") == side["id"])
    )
    inter = F.size(F.array_intersect(F.col("_wa"), F.col("_wh")))
    union = F.size("_wa") + F.size("_wh") - inter
    blocks_ok = (F.col("_a_lb") == F.col("_lb")) & (F.col("_a_lang") == F.col("lang"))
    return (
        j.filter(blocks_ok)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_profile_pairs(
    base: DataFrame,
    threshold: float,
    flop_budget: float,
) -> DataFrame | None:
    """Exact jaccard pairs over distinct (block, word-set) PROFILES.

    base: (id string, lang, _lb int, _words array<string>). Output
    identical to the prefix-filter path: (doc_a < doc_b, jaccard ≥ t).

    Shape: one groupBy collapsing docs → profiles; per block, profiles are
    row_number-chunked (≤ 1024 rows) and every chunk pair computes
    an exact |A∩B| count matrix as ONE 0/1-bitmatrix matmul (float32 —
    exact for counts ≤ 2²⁴; vocab is probe-bounded ≤ 4096 ≪ 2²⁴), then
    J = inter/(|A|+|B|−inter) in float64 — the identical IEEE division the
    JVM/oracle perform on the same exact integers. Qualifying PROFILE pairs
    (≪ doc pairs on saturating corpora) come back through Arrow; two
    profile-id-keyed joins expand members to doc pairs at output size, and
    same-profile docs pair at J = 1.0 without any verification. Only
    reachable behind the caller's Σm²·V flop probe — never the default."""
    keys = ["lang", "_lb"]
    # null block values never pair under SQL equality (the slow path's
    # verify re-check and the oracle both use plain `=`), so a null-block
    # doc can be dropped outright
    not_null = F.col("_words").isNotNull()
    for c in keys:
        not_null = not_null & F.col(c).isNotNull()
    prof = (
        base.filter(not_null)
        .groupBy(*keys, F.array_sort("_words").alias("_ws"))
        .agg(F.collect_list("id").alias("_members"), F.count("*").alias("_n"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.col("_ws"))
            ),
        )
        # one long per profile — the matmul tasks emit these instead of the
        # (possibly wide string) block values per pair (narrow types across
        # the Arrow boundary), and they are the single 8-byte key of the
        # member expansion. Unique, not dense, and fixed by the checkpoint,
        # so no global ranking window is needed
        .withColumn("_g", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)  # matmul chunks + both member joins
    )
    # exact regime check on the (already materialized) profile table: ONE
    # tiny aggregate yields the precise pair-check count Σ_block m² and the
    # doc count, and one explode over the profile rows the exact
    # vocabulary. A corpus whose profiles do NOT saturate (m²·V over
    # budget, or the sampled vocab probe under-read an open vocabulary)
    # returns None and the caller falls back to the prefix-filter join —
    # the wasted profile pass is one bounded corpus shuffle.
    stats = (
        prof.groupBy(*keys)
        .agg(F.count("*").alias("_m"), F.sum("_n").alias("_nd"))
        .agg(
            F.sum(F.col("_m") * F.col("_m")).alias("p"),
            F.sum("_nd").alias("nd"),
        )
        .first()
    )
    pair_ops, n_docs = stats["p"] or 0, stats["nd"] or 0
    vocab = (
        prof.select(F.explode("_ws").alias("_w"))
        .agg(F.countDistinct("_w").alias("v"))
        .first()["v"]
        or 0
    )
    if vocab > 4096 or pair_ops * max(vocab, 1) > flop_budget:
        return None
    chunked = (
        prof.withColumn("_ck", ((F.col("_rn") - 1) / 1024).cast("int"))
        .groupBy(*keys, "_ck")
        .agg(F.collect_list(F.struct("_g", "_ws")).alias("_items"))
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    paired = a.join(
        b,
        on=[F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col("a._ck") <= F.col("b._ck")],
    ).select(
        F.col("a._ck").alias("_ca"),
        F.col("b._ck").alias("_cb"),
        F.col("a._items").alias("_ia"),
        F.col("b._items").alias("_ib"),
    )

    def pair_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for ca, cb, ia, ib in zip(pdf["_ca"], pdf["_cb"], pdf["_ia"], pdf["_ib"]):
                same = ca == cb
                g_a = np.array([r["_g"] for r in ia], dtype=np.int64)
                sets_a = [r["_ws"] for r in ia]
                if same:
                    g_b, sets_b = g_a, sets_a
                else:
                    g_b = np.array([r["_g"] for r in ib], dtype=np.int64)
                    sets_b = [r["_ws"] for r in ib]
                vocab: dict = {}
                for s in sets_a:
                    for w in s:
                        if w not in vocab:
                            vocab[w] = len(vocab)
                if not same:
                    for s in sets_b:
                        for w in s:
                            if w not in vocab:
                                vocab[w] = len(vocab)
                va = np.zeros((len(sets_a), len(vocab)), dtype=np.float32)
                for i, s in enumerate(sets_a):
                    va[i, [vocab[w] for w in s]] = 1.0
                if same:
                    vb = va
                else:
                    vb = np.zeros((len(sets_b), len(vocab)), dtype=np.float32)
                    for i, s in enumerate(sets_b):
                        vb[i, [vocab[w] for w in s]] = 1.0
                inter = (va @ vb.T).astype(np.float64)
                sz_a = va.sum(axis=1, dtype=np.float64)
                sz_b = vb.sum(axis=1, dtype=np.float64)
                jac = inter / (sz_a[:, None] + sz_b[None, :] - inter)
                hit = jac >= threshold
                if same:
                    hit &= np.triu(np.ones_like(hit, dtype=bool), k=1)
                ii, jj = np.nonzero(hit)
                if len(ii) == 0:
                    continue
                yield pd.DataFrame(
                    {"_ga": g_a[ii], "_gb": g_b[jj], "jaccard": jac[ii, jj]}
                )

    gp = paired.mapInPandas(
        pair_batches, schema="_ga bigint, _gb bigint, jaccard double"
    )
    mem = prof.select("_g", F.explode("_members").alias("_id"))
    # members table = one slim row per doc; broadcast it when provably
    # small so the (possibly huge) pair stream is never shuffled at all
    mema = mem.select(F.col("_g").alias("_ka"), F.col("_id").alias("_ida"))
    memb = mem.select(F.col("_g").alias("_kb"), F.col("_id").alias("_idb"))
    if n_docs <= 2_000_000:
        mema, memb = F.broadcast(mema), F.broadcast(memb)
    inter_pairs = (
        gp.join(mema, F.col("_ga") == F.col("_ka"))
        .join(memb, F.col("_gb") == F.col("_kb"))
        .select(
            F.least(F.col("_ida"), F.col("_idb")).alias("doc_a"),
            F.greatest(F.col("_ida"), F.col("_idb")).alias("doc_b"),
            "jaccard",
        )
    )
    intra = (
        prof.filter(F.col("_n") >= 2)
        .select(F.explode("_members").alias("_ida"), "_members")
        .select(F.col("_ida"), F.explode("_members").alias("_idb"))
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias("doc_a"),
            F.col("_idb").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if threshold <= 1.0:
        return inter_pairs.unionByName(intra)
    return inter_pairs


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """→ (id, simhash bigint): 64-bit simhash over word features — the
    PRODUCTION path: one numpy pass per Arrow batch (mapInPandas), no
    intermediate row explosion. Bit-exact twin of the SQL form in
    tests/helpers.py (same md5-first-8-bytes word hash, same ±1 bit votes),
    equality-gated in pytest and DuckDB-oracle-checked through the same SQL.

    Scale shape: a pure map — zero shuffles, O(Σ|distinct words|) work; the
    SQL form explodes one row per (doc, word, bit) = 64×Σ|words| rows
    (~10¹³ intermediates at 10⁹ docs), which is why it is the oracle twin
    and not the production operator."""
    import re as _re

    # EXACT Spark-expression semantics (the SQL twin's _word_set), so the
    # bit-equality gate holds on ARBITRARY corpora, not just ascii-space
    # text: Java regex '\s' is ASCII-only (re.ASCII here — Python's default
    # '\s' also matches U+00A0/U+3000 etc.), and Spark trim() strips ONLY
    # the space character (str.strip() strips all Unicode whitespace)
    word_re = _re.compile(r"\s+", _re.ASCII)
    powers = [1 << b for b in range(64)]

    def sig_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hash_cache: dict = {}
        for pdf in batches:
            if len(hash_cache) > 2_000_000:  # bound long-lived task memory
                hash_cache.clear()
            ids, sigs = [], []
            for did, text in zip(pdf["id"], pdf["text"]):
                # NULL text produces no row in the SQL twin (explode over a
                # null array drops it) — skip, don't fabricate a signature
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    continue
                # split(trim(lower(t)), '\s+') on an empty string yields
                # [''] (unlike str.split())
                words = set(word_re.split(text.lower().strip(" ")))
                hs = np.empty(len(words), dtype=np.uint64)
                for i, w in enumerate(words):
                    h = hash_cache.get(w)
                    if h is None:
                        h = int.from_bytes(
                            hashlib.md5(w.encode("utf-8")).digest()[:8], "big"
                        )
                        hash_cache[w] = h
                    hs[i] = h
                bits = (
                    (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
                ).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                sig = 0
                for b in np.nonzero(votes > 0)[0]:
                    sig |= powers[b]
                if sig >= 1 << 63:  # int64 wrap — matches shiftleft(1L, 63)
                    sig -= 1 << 64
                ids.append(str(did))
                sigs.append(sig)
            yield pd.DataFrame({"id": ids, "simhash": pd.Series(sigs, dtype="int64")})

    base = docs.select(F.col("doc_id").cast("string").alias("id"), "text")
    return base.mapInPandas(sig_batches, schema="id string, simhash bigint")


def simhash_near_duplicates(
    docs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """→ (doc_a, doc_b, hamming ≤ max_hamming). Bucketed by each of 4
    16-bit chunks (pigeonhole: distance ≤ 3 ⇒ some 16-bit chunk equal),
    so the join is on bucket keys, never all-pairs.

    The bucket join runs over DISTINCT signatures (duplicate-heavy corpora
    collapse 10×: at sf1.0 the doc-level join enumerated 244M candidate
    pairs, the signature-level join 25M), each qualifying signature pair is
    emitted exactly once at its FIRST equal chunk (in-join condition — no
    dropDuplicates shuffle), and member lists expand signature pairs back
    to doc pairs at output size. Hamming is a pure function of the two
    signatures, so the expansion is exact."""
    # the signature frame's ONLY consumer is the distinct-signature groupBy
    # below, so the Arrow pass pipelines straight into that checkpoint —
    # a separate signature materialization was one extra action + write
    sigs = simhash_signatures(docs)
    gs = (
        sigs.groupBy("simhash")
        .agg(F.collect_list("id").alias("_members"))
        .localCheckpoint(eager=True)  # one row per distinct signature
    )
    mem = gs.select("simhash", F.explode("_members").alias("id"))

    def chunk(col, j):
        return F.shiftright(col, j * 16).bitwiseAND(F.lit(0xFFFF))

    usig = gs.select("simhash")
    chunks = usig.select(
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"),
                    (F.lit(i).cast("long") * 65536 + chunk(F.col("simhash"), i)).alias("bucket"),
                )
                for i in range(4)
            ])
        ).alias("_b"),
    ).select("simhash", F.col("_b.bi").alias("bi"), F.col("_b.bucket").alias("bucket"))
    a, b = chunks.alias("a"), chunks.alias("b")
    # first-match: no chunk before this bucket index is also equal
    earlier_equal = F.lit(False)
    for j in range(3):
        earlier_equal = earlier_equal | (
            (F.col("a.bi") > j)
            & (chunk(F.col("a.simhash"), j) == chunk(F.col("b.simhash"), j))
        )
    sig_pairs = (
        a.join(
            b,
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.simhash") < F.col("b.simhash"),
                ~earlier_equal,
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ) <= F.lit(max_hamming),
            ],
        )
        .select(
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
    )
    ma = mem.select(F.col("simhash").alias("_sa"), F.col("id").alias("_ida"))
    mb = mem.select(F.col("simhash").alias("_sb"), F.col("id").alias("_idb"))
    cross = (
        sig_pairs.join(F.broadcast(ma), on="_sa")
        .join(F.broadcast(mb), on="_sb")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "hamming",
        )
    )
    m2 = mem.alias("ma").join(
        F.broadcast(mem.alias("mb")),
        on=[
            F.col("ma.simhash") == F.col("mb.simhash"),
            F.col("ma.id") < F.col("mb.id"),
        ],
    )
    intra = m2.select(
        F.col("ma.id").alias("doc_a"),
        F.col("mb.id").alias("doc_b"),
        F.lit(0).cast(
            cross.schema["hamming"].dataType
        ).alias("hamming"),
    )
    if max_hamming < 0:
        return cross.filter(F.lit(False))
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime: products a*h < 2^62 stay EXACT in int64 (no silent
# numpy wraparound), which makes the whole minhash pipeline reproducible in
# any 64-bit-integer SQL engine (the DuckDB oracle inlines a/b as literals)
_MERSENNE = (1 << 31) - 1


def _minhash_params(k: int, seed: int = 42) -> tuple:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=k, dtype=np.int64)
    return a, b


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """→ candidate near-dup pairs (doc_a, doc_b) sharing ≥ 1 LSH band.

    Word 3-shingle → K minhashes → B band keys → self-join on band key.
    With K=64, B=16 (rows/band = 4) the S-curve threshold sits at
    ≈ (1/16)^(1/4) ≈ 0.5 jaccard.

    Each distinct shingle STRING is hashed with md5 — the form the DuckDB
    oracle replays literally — and the whole operator is JVM built-ins
    with no Python-boundary crossing: shingles by arrays_zip of shifted
    slices, shingle hash `conv(substr(md5(s),1,8))`, the K mins as ONE
    partial-aggregating groupBy, band keys as in-row md5 folds of
    "band:m,m,m,m", and map-side combine on the only shuffle."""
    num_hashes, bands, shingle = 64, 16, 3
    rows_per_band = num_hashes // bands
    ha, hb = _minhash_params(num_hashes)

    # mirrors the DuckDB CTE expression for expression (split(trim(lower)),
    # md5 first 8 hex chars, exact int64 affine mins, "band:…" md5 band keys)
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    m = F.greatest(F.size(ws) - (shingle - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(ws, i + 1, m) for i in range(shingle)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(shingle)])
    )
    # docs with < shingle words contribute the single empty shingle; null
    # text ⇒ size() is NULL ⇒ same branch
    sh = F.when(F.size(ws) >= shingle, F.array_distinct(grams)).otherwise(
        F.array(F.lit(""))
    )
    hv = docs.select(
        F.col("doc_id").cast("string").alias("id"), F.explode(sh).alias("s")
    ).select(
        "id",
        (
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
            % _MERSENNE
        ).alias("h"),
    )
    mins = hv.groupBy("id").agg(
        *[
            F.min(
                (F.lit(int(ha[i])) * F.col("h") + F.lit(int(hb[i]))) % _MERSENNE
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )
    band_keys = [
        F.md5(
            F.concat_ws(
                ":",
                F.lit(str(band)),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{band * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                ),
            )
        )
        for band in range(bands)
    ]
    banded = mins.select("id", F.explode(F.array(*band_keys)).alias("band"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band"), F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_groups(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """→ (doc_id, group_id, keep): MinHash-LSH candidate pairs closed
    transitively into duplicate groups — the actual corpus-dedup stage a
    pre-training pipeline runs after pair generation (near-dup relations
    are not transitive, so A~B, B~C must collapse into ONE group to pick
    ONE survivor). group_id = min doc id in the group (STRING order — ids
    pass through the LSH join as strings); keep marks the representative.
    Docs in no candidate pair are not emitted (they all survive trivially).

    Scale shape: the pair graph is orders of magnitude smaller than the
    corpus; `connected_components` solves it driver-side under its
    threshold and by pointer-doubling label propagation (log-diameter
    rounds) above it — near-dup clusters are dense, so diameters are tiny
    either way.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs)
    from graph_rag_agent_spark.operators.connected_components import (
        connected_components,
    )

    verts = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionByName(pairs.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    labels = connected_components(
        verts, pairs, vertex_col="id", src_col="doc_a", dst_col="doc_b"
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("id") == F.col("component")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# exact-substring (duplicate-span) dedup
# ---------------------------------------------------------------------------

def duplicate_spans(
    docs: DataFrame,
    window: int = 50,
    max_df: int | None = None,
    production_hash: bool = False,
) -> DataFrame:
    """→ (doc_id, span_start, span_end, n_windows): maximal token spans whose
    every ``window``-token substring also occurs at an earlier corpus site.

    Exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — the fifth classic dedup family next to
    exact / jaccard / simhash / minhash above). A window position
    (doc, pos) is a *duplicate site* when its ``window``-token shingle
    occurs at ≥ 2 corpus sites and this site is not the owner
    (owner = first site in (doc_id, pos) string order — keep-one
    semantics, mirroring the reference paper's "remove all but one
    occurrence"). Overlapping or adjacent duplicate windows merge into
    maximal spans [span_start, span_end] (0-based inclusive token
    indexes, merged while next_start ≤ running_end + 1).

    Scale shape: tokenize + shingle generation are row-local
    (sequence/slice/array_join — whole-stage codegen, no Python); the ONE
    shuffle groups O(total tokens) window rows by shingle key; ownership
    is a min(struct) partial agg; the span merge is a per-doc sort window
    over the (small) duplicate-site set. ``production_hash=True`` keys the
    shuffle on xxhash64(shingle) — 8-byte keys instead of ~window·word
    strings, the 100 TB path; the string form is the DuckDB-replayable
    oracle twin (span-equality asserted in pytest). ``max_df`` drops
    shingles at > max_df sites before the re-join — the boilerplate guard:
    a license header at 10⁸ sites would otherwise fan out 10⁸ join rows
    (same quadratic failure mode the contamination join caps); capped
    spans are reported via the optional lineage count, not silently.
    """
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"), toks.alias("toks"))
    # shingles as a zip of `window` shifted slices: the transform lambda
    # touches only struct fields, so projection collapse cannot inline the
    # tokenizing split() into a per-position slice (the previous
    # slice-inside-lambda form re-split the whole text once per position —
    # O(len²) per doc)
    m = F.size("toks") - (window - 1)
    zipped = F.arrays_zip(*[F.slice("toks", i + 1, m) for i in range(window)])
    sh_arr = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(window)])
    )
    sites = (
        base.filter(F.size("toks") >= window)
        .select("doc_id", F.posexplode(sh_arr).alias("pos", "sh"))
    )
    key = F.xxhash64("sh") if production_hash else F.col("sh")
    sites = sites.select("doc_id", "pos", key.alias("k"))
    # ownership + site counts as TWO window passes over ONE shingle-keyed
    # exchange (the former groupBy(k) + join-back shuffled the site table
    # twice); owner = rn 1 in (doc_id, pos) order ≡ the old min(struct)
    wk = Window.partitionBy("k")
    ranked = sites.withColumn(
        "_rn", F.row_number().over(wk.orderBy("doc_id", "pos"))
    ).withColumn("_ns", F.count("*").over(wk))
    dup = ranked.filter((F.col("_ns") >= 2) & (F.col("_rn") > 1))
    if max_df is not None:
        dup = dup.filter(F.col("_ns") <= max_df)
    dup = dup.select("doc_id", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(window - 1)).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "_ni",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_ni").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def strip_duplicate_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """→ (doc_id, clean_text, n_removed): text with duplicate spans cut out.

    The removal half of exact-substring dedup: joins the span table
    (orders of magnitude smaller than the corpus — only duplicated docs
    appear) per doc, collects each doc's spans to one array, and filters
    tokens by position with higher-order functions (transform/filter/
    exists — row-local, whole-stage codegen, no Python). Docs with no
    spans pass through unchanged via the left join. Whitespace normalizes
    to single spaces (token-level reconstruction, same as the shingle
    tokenizer above).
    """
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"), toks.alias("toks"))
    joined = base.join(span_arr, "doc_id", "left").withColumn(
        "_kept",
        F.expr(
            "filter(transform(toks, (t, i) -> named_struct('t', t, 'i', i)), "
            "x -> _spans IS NULL OR NOT exists(_spans, "
            "s -> x.i >= s.span_start AND x.i <= s.span_end))"
        ),
    )
    return joined.select(
        "doc_id",
        F.expr("array_join(transform(_kept, x -> x.t), ' ')").alias("clean_text"),
        (F.size("toks") - F.size("_kept")).cast("long").alias("n_removed"),
    )
