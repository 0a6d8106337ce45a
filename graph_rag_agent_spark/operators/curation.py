"""Corpus curation operators for training-data pipelines: deterministic
shard packing (token-budget binning) and hash-stratified sampling (data
mixing). Both are pure Spark SQL expressions with exact DuckDB oracle
equivalents in __spark_entry__.py.

These complement the dedup/quality/language operators: after filtering, a
pre-training pipeline (a) downsamples each stratum to its mixing weight and
(b) packs the survivors into ~fixed-token shards for the trainer.
"""

from __future__ import annotations

from typing import Dict, Tuple

from pyspark.sql import DataFrame, Window, functions as F

from graph_rag_agent_spark.session import local_frame

HASH_SPACE = 16 ** 8  # first 8 hex chars of md5


def rate_to_hex_threshold(rate: float) -> str:
    """Map a sampling rate in [0, 1] to an 8-hex-digit threshold such that
    `substr(md5(id), 1, 8) < threshold` keeps ~rate of uniformly-hashed ids.
    String comparison is lexicographic over lowercase hex in both Spark and
    DuckDB, so the predicate is engine-exact."""
    n = max(0, min(HASH_SPACE, int(rate * HASH_SPACE)))
    if n >= HASH_SPACE:
        # format(16**8, "08x") is the NINE-char "100000000", which compares
        # lexicographically BELOW any 8-char hash starting with '2'-'f' and
        # would keep only ~1/16 of rows at rate=1.0. 'g' sorts above every
        # hex digit in both Spark and DuckDB, so `hash < 'g'` keeps all.
        return "g"
    return format(n, "08x")


def stratified_sample(
    docs: DataFrame,
    rates: Dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the first 8 hex
    chars of md5(id) fall below the stratum's threshold. Unlike
    `df.sampleBy`, the decision is a pure function of the id — reproducible
    across runs, engines, partitionings, and cluster sizes, which is what a
    training-data mixing step needs (re-running the pipeline must not
    reshuffle the corpus membership).

    Scale shape: a map-only filter — no shuffle, no RNG state; the md5 and
    comparison stay in whole-stage codegen.
    """
    hashed = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    # build the CASE in deterministic (sorted) stratum order
    expr = F.lit(rate_to_hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items(), reverse=True):
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(rate_to_hex_threshold(rate))
        ).otherwise(expr)
    return docs.filter(hashed < expr)


def temperature_sample(
    docs: DataFrame,
    alpha: float,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ docs (+ ``rate``): α-temperature domain rebalancing — the
    multilingual-pretraining mixture rule (XLM-R / mBERT exponential
    smoothing): target share q_s ∝ p_s^α over observed stratum shares p_s,
    realized by DOWNSAMPLING each stratum at
    rate_s = min(1, q_s·K / n_s) with K = min_s(n_s / q_s), so the most
    up-weighted (smallest) stratum is kept in full and every other
    stratum's expected kept-count is exactly proportional to q_s. α=1 is
    a no-op (all rates 1); α=0 targets the uniform mixture.

    Membership is the same engine-portable pure-function-of-the-id rule as
    ``stratified_sample`` (first 8 md5 hex chars under a per-stratum
    threshold), but the thresholds are DERIVED from the corpus counts
    inside the plan: two tiny aggregates (stratum counts, then their
    one-row gather) broadcast back onto the doc stream — no driver collect, no
    RNG, reproducible across runs/partitionings/cluster sizes.

    Scale shape: ONE count shuffle over ≤|strata| keys (map-side partial
    aggregation — the hot stratum never concentrates rows; skewed stratum
    sizes are the POINT, that's what α corrects), then the |strata| counts
    gather into ONE row (a global collect_list — domains, not documents)
    whose array functions run the whole n_total → q → K → rate derivation
    in a single plan, with no partition-less window and no join (a
    chained-aggregate formulation instead re-scans the corpus once per
    derived quantity — measured 23 exchanges vs 4). Finally one broadcast
    join puts the rates back on the doc stream and a map-only codegen
    filter decides membership."""
    def total(field):  # Σ over the gathered strata
        return F.aggregate("_s", F.lit(0.0), lambda acc, x: acc + x[field])

    rates = (
        docs.groupBy(strata_col)
        .agg(F.count("*").cast("double").alias("n_s"))
        .agg(F.collect_list(F.struct(strata_col, "n_s")).alias("_s"))
        .withColumn("_s", F.transform("_s", lambda x: x.withField(
            "q_raw", F.pow(x["n_s"] / total("n_s"), F.lit(float(alpha)))
        )))
        .withColumn("_s", F.transform("_s", lambda x: x.withField(
            "q", x["q_raw"] / total("q_raw")
        )))
        .withColumn("k", F.array_min(F.transform("_s", lambda x: x["n_s"] / x["q"])))
        .select(F.inline("_s"), "k")
        .withColumn(
            "rate", F.least(F.lit(1.0), F.col("q") * F.col("k") / F.col("n_s"))
        )
        .withColumn(
            "_thr",
            F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
                F.lpad(
                    F.lower(
                        F.hex(
                            F.floor(F.col("rate") * F.lit(4294967296.0)).cast(
                                "bigint"
                            )
                        )
                    ),
                    8,
                    "0",
                )
            ),
        )
        .select(strata_col, "rate", "_thr")
    )
    out = docs.join(F.broadcast(rates), on=strata_col)
    hashed = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    return out.filter(hashed < F.col("_thr")).drop("_thr")


def pack_shards(
    docs: DataFrame,
    token_budget: int,
    part_cols: Tuple[str, ...] = ("lang",),
    n_buckets: int = 0,
) -> DataFrame:
    """→ docs + (n_tokens, shard_id): assign documents to ~token_budget-sized
    training shards, deterministically.

    Documents are ordered by id within each `part_cols` group; shard_id =
    floor(exclusive-prefix-sum(n_tokens) / token_budget) — the streaming
    packing rule: shard boundaries sit at multiples of token_budget on the
    group's cumulative-token line, so every shard except a group's last has
    a token total within one neighboring document's tokens of token_budget
    (budget − d_prev < total < budget + d_last).

    Scale shape: one window sort per group. A bare `part_cols` group (e.g.
    one language) serializes that language's corpus through one task — at
    10⁹+ docs pass `n_buckets > 0` to add a deterministic md5 bucket to the
    partition key, bounding any task at ~|group|/n_buckets rows; shards then
    pack within (group, bucket), which preserves the budget guarantee per
    shard while distributing the sort.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    out = docs.withColumn("n_tokens", F.size(toks))
    keys = [F.col(c) for c in part_cols]
    if n_buckets > 0:
        out = out.withColumn(
            "_bucket",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % n_buckets,
        )
        keys.append(F.col("_bucket"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    out = out.withColumn(
        "shard_id", F.floor(prev / F.lit(token_budget)).cast("long")
    )
    return out.drop("_bucket") if n_buckets > 0 else out


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    part_cols: Tuple[str, ...] = ("lang",),
    n_buckets: int = 0,
) -> DataFrame:
    """→ one row per (document, training sequence) SPAN: the
    concat-and-split packing step that follows shard binning in a
    pretraining pipeline — documents are concatenated in deterministic
    (group, id) order and cut into fixed ``seq_len``-token training
    sequences; a document crossing a cut emits one span row per sequence
    it touches. Columns added: ``n_tokens``, ``seq_id`` (sequence index
    within the group), ``tok_start``/``tok_end`` (the doc-relative token
    half-open span landing in this sequence), ``seq_offset`` (where the
    span starts inside the sequence) — exactly what a sequence writer
    needs to emit attention-mask/document-boundary metadata.

    The packing rule is the same exclusive-prefix-sum line as
    ``pack_shards``: doc with prefix p and t tokens occupies group-token
    interval [p, p+t), sequence k covers [k·L, (k+1)·L), so the doc spans
    sequences floor(p/L) … floor((p+t−1)/L), exploded row-locally via
    ``sequence()``. Every sequence except each group's last is exactly L
    tokens when reassembled (Σ span widths = L — pytest-gated).

    Scale shape: one window sort per group + a row-local explode whose
    fan-out is ⌈t/L⌉ ≤ 1 + t/L rows per doc (total rows ≈ n_docs +
    total_tokens/L — bounded). As in ``pack_shards``, pass
    ``n_buckets > 0`` at 10⁹+ docs to distribute each group's sort over
    deterministic md5 buckets (sequences then pack within
    (group, bucket))."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    out = docs.withColumn("n_tokens", F.size(toks))
    keys = [F.col(c) for c in part_cols]
    if n_buckets > 0:
        out = out.withColumn(
            "_bucket",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % n_buckets,
        )
        keys.append(F.col("_bucket"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    L = F.lit(int(seq_len))
    out = (
        out.withColumn("_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("_prev") / L),
                    F.floor((F.col("_prev") + F.col("n_tokens") - 1) / L),
                )
            ),
        )
        .withColumn("_seq_lo", F.col("seq_id") * L)
        .withColumn(
            "tok_start", F.greatest(F.col("_prev"), F.col("_seq_lo")) - F.col("_prev")
        )
        .withColumn(
            "tok_end",
            F.least(F.col("_prev") + F.col("n_tokens"), F.col("_seq_lo") + L)
            - F.col("_prev"),
        )
        .withColumn(
            "seq_offset",
            F.greatest(F.col("_prev"), F.col("_seq_lo")) - F.col("_seq_lo"),
        )
        .drop("_prev", "_seq_lo")
    )
    return out.drop("_bucket") if n_buckets > 0 else out


def shard_manifest(packed: DataFrame, part_cols: Tuple[str, ...] = ("lang",)) -> DataFrame:
    """→ one row per (part, shard_id): doc count + token total + id range —
    the trainer-facing shard index (and the oracle-checkable rollup)."""
    return (
        packed.groupBy(*part_cols, "shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# PII patterns written in the Java-regex ∩ RE2 common subset (no lookaround,
# no backreferences) so the Spark operator and its DuckDB oracle twin match
# byte-for-byte. Dict order IS the redaction order: emails first (an email
# can embed an IPv4-looking host), then IPs, then phones (disjoint: phones
# here require a leading '+').
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d-]{6,14}\d",
}


def redact_pii(docs: DataFrame) -> DataFrame:
    """→ docs with ``text`` PII-scrubbed in place + one ``n_<kind>``
    match-count column per kind — the pre-training privacy pass (emails,
    IPv4s, phone numbers → ``<EMAIL>``/``<IPV4>``/``<PHONE>`` placeholders,
    counts kept for corpus-level PII-density reporting). Kinds apply in
    PII_PATTERNS order and each kind is COUNTED on the text as already
    scrubbed by the earlier kinds — an IPv4 embedded in an email host
    counts once (as the email), not twice.

    Scale shape: a map-only projection — every regexp stays in whole-stage
    codegen (no UDF, no shuffle); at 100 TB this rides the same scan as the
    other row-local quality signals.
    """
    out = docs
    scrubbed = F.col("text")
    for kind in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(scrubbed, F.lit(PII_PATTERNS[kind]))
        )
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out.withColumn("text", scrubbed)


def filter_blocked_sources(docs: DataFrame, blocked) -> DataFrame:
    """Drop every document whose ``source`` appears in ``blocked`` (a
    small DataFrame with a ``source`` column, or a plain list of values) —
    the domain/source blocklist step of a crawl-curation pipeline.

    Scale shape: blocklists are tiny next to the corpus (10³-10⁶ domains vs
    10¹² docs), so this is a BROADCAST left_anti hash join — no shuffle of
    the corpus side, no per-row Python, and Catalyst pushes the join after
    the scan's column pruning. NULL sources survive (left_anti keeps rows
    with no match, and NULL never equi-matches a blocklist entry).
    """
    if not isinstance(blocked, DataFrame):
        blocked = local_frame(
            docs.sparkSession, [(v,) for v in blocked], "source string"
        )
    bl = blocked.select(F.col("source").alias("_blocked_src")).distinct()
    return docs.join(
        F.broadcast(bl),
        docs["source"] == F.col("_blocked_src"),
        "left_anti",
    )


def _hashed_features(
    docs: DataFrame, n_buckets: int, keep_cols: Tuple[str, ...] = ()
) -> DataFrame:
    """→ (doc_id, bucket): one row per unigram AND word-bigram POSITION
    (multiplicity kept — DSIR models feature counts, not sets), bucketed by
    the engine-portable md5 hash (`('0x'||substr(md5,1,8))::UBIGINT % B` in
    DuckDB ≡ `conv(substr(md5,1,8),16,10) % B` here). N-grams are built
    row-local with zip_with over sliced token arrays; the only explode is
    the final per-position flattening."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.explode(F.concat(toks, bigrams)).alias("_f"),
    ).select(
        "doc_id",
        *keep_cols,
        (
            F.conv(F.substring(F.md5(F.col("_f")), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )


def importance_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = 16384,
    smoothing: float = 1.0,
    target_filter: F.Column | None = None,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by how much more likely its hashed n-gram features
    are under a TARGET distribution (the domain you want more of) than
    under the RAW corpus distribution.

    → (doc_id, log_weight, n_features) where
    ``log_weight = Σ_positions [ln p̂_target(bucket) − ln p̂_raw(bucket)]``
    with add-``smoothing`` estimates ``p̂(b) = (count(b)+α) / (total+α·B)``
    over unigram+bigram occurrences hashed into ``n_buckets`` buckets.
    Positive → the doc looks more like the target domain than the corpus
    average; selection = top-k or Gumbel resampling on this column.

    Scale shape: two bucket-count aggregations (≤ B groups each — B is a
    constant, so these reduce to near-nothing regardless of corpus size),
    the B-row log-ratio table is BROADCAST onto the per-position feature
    stream, and the only corpus-sized shuffle is the final groupBy(doc_id)
    with map-side partial sums. No per-row Python anywhere.

    ``target_filter`` (round 6): when the target domain is a FILTER of
    `docs` (the common in-corpus-slice case), pass the boolean Column
    instead of a second DataFrame — the feature stream is then hashed ONCE
    (checkpointed), both bucket counts come out of one aggregation over it
    (raw count + flag-conditional target count), and the final scoring join
    reads the same checkpoint. Identical arithmetic — every target feature
    row is also a raw feature row, so per-bucket counts and totals match
    the two-DataFrame form bit for bit — with one md5 pass over the corpus
    instead of three.
    """
    if target_filter is not None:
        feats = _hashed_features(
            docs.withColumn("_tgt", target_filter), n_buckets, keep_cols=("_tgt",),
        ).localCheckpoint(eager=True)
        cnt = feats.groupBy("bucket").agg(
            F.count("*").alias("_cr"),
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_ct"),
        )
        raw_cnt = cnt.select("bucket", "_cr")
        tgt_cnt = cnt.filter(F.col("_ct") > 0).select("bucket", "_ct")
    else:
        feats = _hashed_features(docs, n_buckets)
        tgt_feats = _hashed_features(target, n_buckets)

        raw_cnt = feats.groupBy("bucket").agg(F.count("*").alias("_cr"))
        tgt_cnt = tgt_feats.groupBy("bucket").agg(F.count("*").alias("_ct"))
    totals = (
        raw_cnt.agg(F.sum("_cr").cast("double").alias("_R"))
        .crossJoin(tgt_cnt.agg(F.sum("_ct").cast("double").alias("_T")))
    )
    a, b = float(smoothing), float(n_buckets)
    ratio = (
        raw_cnt.join(tgt_cnt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("_ct"), F.lit(0)) + a) / (F.col("_T") + a * b))
                - F.log((F.col("_cr") + a) / (F.col("_R") + a * b))
            ).alias("_lr"),
        )
    )
    return (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("_lr"), 6).alias("log_weight"),
            F.count("*").alias("n_features"),
        )
    )


def lm_perplexity(
    docs: DataFrame,
    reference: DataFrame,
    smoothing: float = 0.1,
) -> DataFrame:
    """CCNet-style n-gram language-model quality filter (Wenzek et al.
    2020 — there a KenLM 5-gram; here an add-k-smoothed word BIGRAM model,
    the same filter semantics without the external model artifact): train
    counts on a REFERENCE corpus (the high-quality slice — CCNet uses
    Wikipedia), then score every document by its per-token negative log
    likelihood. Low = fluent/reference-like; high = gibberish, boilerplate,
    wrong-language — the standard keep/drop signal.

    → (doc_id, nll, n_bigrams): ``nll = −(1/n)·Σ ln p(w_i | w_{i−1})``
    over the doc's bigram positions, with
    ``p(w2|w1) = (c(w1 w2)+k) / (c(w1)+k·V)`` — c(..) reference counts,
    V the reference unigram vocabulary size (so unseen words/bigrams get
    the smoothed floor). Docs with <2 tokens emit n_bigrams=0, nll NULL.

    Scale shape: the reference count tables are vocabulary-sized (bounded
    by the language, not the corpus — Heaps' law), joined onto the doc
    bigram stream by ngram string with map-side partial aggregation on the
    final groupBy(doc_id); V and the vocab totals ride a broadcast
    cross-join. At 100 TB the stream is one explode + two hash joins +
    one doc-keyed shuffle. No per-row Python.
    """
    def toks(df):
        return F.split(F.trim(F.lower(F.col("text"))), r"\s+")

    def bigrams(df, out_id):
        t = toks(df)
        n = F.size(t)
        return df.select(
            F.col("doc_id").alias(out_id),
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("w1"), F.concat(x, F.lit(" "), y).alias("bg")),
                )
            ).alias("_p"),
        ).select(out_id, F.col("_p.w1").alias("w1"), F.col("_p.bg").alias("bg"))

    ref_bi = bigrams(reference, "_rid").groupBy("bg").agg(F.count("*").alias("_cbg"))
    ref_uni = (
        reference.select(F.explode(toks(reference)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("_cw"))
    )
    vocab = ref_uni.agg(F.count("*").cast("double").alias("_V"))
    k = float(smoothing)

    doc_bi = bigrams(docs, "doc_id")
    scored = (
        doc_bi.join(ref_bi, "bg", "left")
        .join(ref_uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("_cbg"), F.lit(0)) + k)
                / (F.coalesce(F.col("_cw"), F.lit(0)) + k * F.col("_V"))
            ).alias("_lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.round(-F.avg("_lp"), 6).alias("nll"),
            F.count("*").alias("n_bigrams"),
        )
    )
    # docs too short for any bigram still get a row (n_bigrams=0, nll NULL)
    short = (
        docs.filter(F.size(toks(docs)) < 2)
        .select(
            F.col("doc_id"),
            F.lit(None).cast("double").alias("nll"),
            F.lit(0).cast("long").alias("n_bigrams"),
        )
    )
    return scored.unionByName(short)


def _distinct_shingles(docs: DataFrame, n: int, out_id: str) -> DataFrame:
    """→ (out_id, shingle): the DISTINCT n-token shingles of each document,
    built row-local with zip_with over sliced token arrays (no explode until
    the final per-shingle flattening, and dedup happens inside the row so
    the exploded volume is bounded by distinct shingles, not positions)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sh = F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    for i in range(1, n):
        nxt = F.slice(toks, i + 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return (
        docs.select(F.col("doc_id").alias(out_id), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark-contamination check: → (doc_id, bench_id, n_shared) for
    every (training doc, benchmark doc) pair sharing ≥ ``min_shared``
    distinct n-token shingles (the standard eval-decontamination join used
    before pre-training; cf. GPT-3 appendix C / Dolma's decontamination
    pass).

    Scale shape: one shuffle keyed on the shingle string joins the two
    shingle sets; partial aggregation combines (doc, bench) pair counts
    map-side. ``max_df`` drops shingles whose document frequency in the
    TRAINING corpus exceeds the cap before the join — boilerplate shingles
    ("all rights reserved …") otherwise fan out as df_corpus × df_bench
    rows, which is the quadratic blow-up that kills this join at 100 TB.
    The cap is part of the operator's contract (capped shingles are too
    common to evidence contamination), mirrored exactly in the SQL oracle.
    Self-pairs (a benchmark doc drawn from the corpus itself) are excluded.
    """
    c_sh = _distinct_shingles(corpus, n, "doc_id")
    b_sh = _distinct_shingles(benchmark, n, "bench_id")
    if max_df is not None:
        rare = (
            c_sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        c_sh = c_sh.join(rare, "shingle", "left_semi")
    return (
        c_sh.join(b_sh, "shingle")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def learn_bpe(
    docs: DataFrame,
    n_merges: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """→ (rank, left, right, pair_count): a learned BPE merge table
    (Sennrich et al. 2016) — the tokenizer-training step of a pretraining
    data pipeline, split the way every practical trainer splits it:

    1. DISTRIBUTED corpus → word-frequency reduction: one word-keyed
       shuffle with map-side partial counts, ``min_count`` thresholding,
       then a bounded (count desc, word asc) top-10⁶ — a
       TakeOrderedAndProject, so the driver receives a vocabulary-sized
       table no matter the corpus size (10¹² docs reduce to the same
       ≤ 10⁶ rows; this is the corpus-sized work).
    2. DRIVER merge kernel over that table
       (functions/bpe_kernel.bpe_merges): deterministic most-frequent-pair
       merging with lexicographic tie-break — vocab-sized work, the same
       locality decision subword-nmt / SentencePiece / HF tokenizers make.

    Deterministic end to end: counts are exact, the top-k boundary is the
    total (count, word) order, and the kernel's tie-break is total."""
    from graph_rag_agent_spark.functions.bpe_kernel import bpe_merges

    ws = F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    counts = (
        docs.select(ws)
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= int(min_count))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(1_000_000)
    )
    table = [(r.w, r.c) for r in counts.collect()]
    merges = bpe_merges(table, n_merges)
    return local_frame(
        docs.sparkSession, merges, "rank int, left string, right string, pair_count long"
    )

