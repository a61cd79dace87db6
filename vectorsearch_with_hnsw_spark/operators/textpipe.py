"""Corpus-level text-pipeline operators: vocabulary, TF-IDF, stratified
sampling, outlier filtering.

These are the corpus statistics a 100 TB training-data pipeline runs
after per-document scoring (functions/text.py) and before training:
build the vocabulary, weight terms, draw a reproducible sample, drop
length outliers. All pure Catalyst expressions — each op is one or two
shuffles with map-side partial aggregation, no Python in the hot path.

Determinism contract (the DuckDB oracle gate): token counts and document
frequencies are exact integers; sampling uses an explicit integer mix of
doc_id (never rand()); z-scores derive mean/variance from exact integer
moment sums so the float math is one deterministic expression per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import token_count, tokens
from ..sources import spread
from ..cache import persist_tracked

# Knuth multiplicative-hash constant; doc_id mix for sampling
SAMPLE_MIX = 2_654_435_761
SAMPLE_MOD = 2_147_483_647
# MIX reduced mod MOD once, so the hash below never overflows int64
SAMPLE_MIX_RED = SAMPLE_MIX % SAMPLE_MOD  # 506952114


def salted_hash(key: Column, salt: int = 0) -> Column:
    """Wrap-stable Knuth multiplicative hash in [0, SAMPLE_MOD) for
    non-negative integer keys: ((key + salt) % MOD) * (MIX % MOD) % MOD.

    Identity: this equals the naive ((key + salt) * MIX) % MOD wherever
    the naive 64-bit product fits (key + salt < ~3.47e9 — every
    previously supported id), so converting the call sites changed no
    output anywhere; and it stays exact for ALL int64 keys, because the
    reduced product is bounded by (MOD-1) * 506952114 < 2^61. The naive
    form silently wrapped in Spark past that bound while DuckDB raised
    a BIGINT overflow, so the oracle-parity claim of every split /
    sample / shuffle op quietly ended at ~3.47e9 ids despite
    trillion-doc design targets (ADVICE r12). All engine AND oracle
    hash sites go through this one form now.
    """
    k = (key + F.lit(salt)) if salt else key
    return ((k % F.lit(SAMPLE_MOD)) * F.lit(SAMPLE_MIX_RED)) % F.lit(SAMPLE_MOD)


def doc_tokens(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, token) relation, lowercased; distinct=True gives the
    document-frequency relation (one row per doc/token).

    Precondition for distinct=True: ``doc_id`` must be unique in
    ``docs`` — per-doc set semantics are map-side ``array_distinct``
    over the row's own token array, so duplicate doc_id rows would
    double-count document frequency."""
    if distinct:
        # per-doc set semantics map-side: (doc_id, token) is already
        # globally unique after the explode, so array_distinct inside
        # the row replaces a corpus-sized distinct() shuffle (guide
        # §2.4; same change as ngram_jaccard_pairs)
        return spread(docs).select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias(
                "token"
            ),
        )
    return spread(docs).select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )


def vocab_top_tokens(docs: DataFrame, top_n: int = 50) -> DataFrame:
    """Vocabulary head: top-N tokens by document frequency with a total
    ordering (df desc, token asc) so rank is unambiguous. One explode +
    one count shuffle; the window runs over the tiny aggregated
    relation, not the corpus."""
    df_counts = doc_tokens(docs).groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("token").asc())
    return (
        df_counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select("rank", "token", "doc_freq")
    )


def tfidf_top_terms(docs: DataFrame, per_doc: int = 3, min_token_len: int = 4) -> DataFrame:
    """Top terms per document by tf·idf, idf = ln(N/df).

    Shuffle shape at scale: tf is one groupBy(doc, token) with map-side
    combine; df is one groupBy(token) of the distinct relation; the df
    side joins back on token (shuffle on token — at 100 TB the hot
    stopword tokens are pruned by min_token_len before the join, and AQE
    skew-join splits what remains). N is a scalar cross-joined in
    (broadcast of one row)."""
    tok = doc_tokens(docs, distinct=False).filter(
        F.length("token") >= min_token_len
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df from a map-side-distinct explode of its own scan: the two
    # branches never shared a scan anyway (Spark does not CSE across
    # join sides), and this drops the corpus-sized (doc, token)
    # distinct() shuffle the old shape paid before the token groupBy
    # (guide §2.4)
    dfreq = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        tokens(F.lower(F.col("text"))),
                        lambda t: F.length(t) >= F.lit(min_token_len),
                    )
                )
            ).alias("token"),
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= per_doc)
        .select("doc_id", "rnk", "token", "tf", "df", "tfidf")
    )


def stratified_sample(docs: DataFrame, rates_pct: dict[str, int], default_pct: int = 10) -> DataFrame:
    """Reproducible stratified sample: per-stratum (lang) keep-rates in
    percent, decided by an integer multiplicative hash of doc_id — the
    same rows come back on every run, any cluster, any partitioning
    (rand()-based sampling is none of those). Map-only: no shuffle at
    all; the filter pushes down to the scan."""
    mix = salted_hash(F.col("doc_id"))
    rate = F.lit(default_pct)
    for lang, pct in sorted(rates_pct.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return docs.filter(mix % 100 < rate).select("doc_id", "lang", "source")


def weighted_sample(
    docs: DataFrame,
    n_per_group: int = 25,
    weight_col: str = "n_chars",
    group_col: str = "lang",
    salt: int = 77_617,
) -> DataFrame:
    """Reproducible weighted sampling without replacement, per group:
    priority sampling (Duffield-Lund-Thorup) with a deterministic
    uniform — each row gets priority ``w / u`` where ``u`` is an integer
    multiplicative hash of doc_id mapped to (0, 1], and the top
    ``n_per_group`` priorities win. Higher-weight rows are
    proportionally more likely to be kept, yet the selection is exactly
    repeatable on any cluster/partitioning (rand() is neither). The
    priority is one exact double division on top of integer hashing, so
    the pick set is engine-independent.

    Plan: map-only priority projection + one per-group top-N window —
    the same WindowGroupLimit pushdown shape as lang_exemplars (partial
    per-partition top-N before the shuffle)."""
    h = salted_hash(F.col("doc_id"), salt)
    # u in (0, 1]: (h + 1) / SAMPLE_MOD, exact double ops
    u = (h + F.lit(1)).cast("double") / F.lit(float(SAMPLE_MOD))
    priority = F.col(weight_col).cast("double") / u
    w = Window.partitionBy(group_col).orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", group_col, F.col(weight_col).alias("weight"),
                    priority.alias("priority"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= n_per_group)
    )


def mix_corpus(
    docs: DataFrame,
    targets_pct: dict[str, int],
    salt: int = 424_243,
) -> DataFrame:
    """Corpus mixing to target source proportions — the data-mixing
    step of a training pipeline (e.g. 40% web / 30% code / 20% books /
    10% wiki). Given target percentages per source, the largest
    achievable output keeps 100% of the binding source (the one with
    the smallest count-to-target ratio) and down-samples every other
    source to ``f_s * n_b / (f_b * n_s)`` of its rows, decided by the
    same doc_id hash gate as stratified_sample — so the mix is
    reproducible on any cluster/partitioning. Sources absent from
    ``targets_pct`` are dropped.

    Two passes: one narrow count agg (|sources| rows, broadcast back)
    and one map-only gate — shuffled bytes track source cardinality,
    not corpus size. Rates are parts-per-million via one fixed-shape
    double expression (products stay < 2^53, division is correctly
    rounded, floor has no ties in practice), so the kept set is
    engine-exact."""
    if not targets_pct:
        raise ValueError("targets_pct must be non-empty")
    f_expr = F.lit(0)
    for src, pct in sorted(targets_pct.items()):
        f_expr = F.when(F.col("source") == src, F.lit(pct)).otherwise(f_expr)
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("f", f_expr)
        .filter(F.col("f") > 0)
    )
    w = Window.orderBy(
        F.col("n").cast("double") / F.col("f").cast("double"), F.col("source")
    )
    binding = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("n").alias("nb"), F.col("f").alias("fb"))
    )
    ppm = F.least(
        F.lit(1_000_000),
        F.floor(
            (F.col("f").cast("double") * F.col("nb").cast("double") * F.lit(1000000.0))
            / (F.col("fb").cast("double") * F.col("n").cast("double"))
        ),
    ).cast("long")
    rates = counts.crossJoin(F.broadcast(binding)).select(
        "source", ppm.alias("ppm")
    )
    gate = salted_hash(F.col("doc_id"), salt) % F.lit(1_000_000)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(gate < F.col("ppm"))
        .select("doc_id", "source", "lang")
    )


def mix_corpus_temperature(
    docs: DataFrame,
    alpha: float = 0.5,
    salt: int = 424_243,
) -> DataFrame:
    """Temperature (alpha) sampling across sources — the standard
    multilingual/multi-source LLM data recipe: target share of source s
    is proportional to ``n_s ** alpha``, flattening the natural size
    distribution (alpha=1 keeps it, alpha=0 would equalize sources).
    The smallest source becomes the binding one (kept at 100%) and
    every other source down-samples by
    ``(n_s^alpha * n_b) / (n_b^alpha * n_s)`` — at the alpha=0.5
    default simply ``sqrt(n_b / n_s)``.

    Same two-pass scale shape as mix_corpus: one |sources|-row count
    agg broadcast back, then a map-only deterministic hash gate — no
    corpus-sized shuffle, reproducible under any partitioning. The
    alpha=0.5 default computes weights with sqrt (correctly-rounded
    IEEE on every engine, so the oracle matches bit-for-bit); other
    alphas use pow(), which engines may round 1 ulp apart — fine in
    production, not oracle-exact."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))

    def weight(col):
        n = col.cast("double")
        return F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(float(alpha)))

    w = Window.orderBy(
        F.col("n").cast("double") / weight(F.col("n")), F.col("source")
    )
    binding = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("n").alias("nb"))
    )
    ppm = F.least(
        F.lit(1_000_000),
        F.floor(
            (weight(F.col("n")) * F.col("nb").cast("double") * F.lit(1000000.0))
            / (weight(F.col("nb")) * F.col("n").cast("double"))
        ),
    ).cast("long")
    rates = counts.crossJoin(F.broadcast(binding)).select("source", ppm.alias("ppm"))
    gate = salted_hash(F.col("doc_id"), salt) % F.lit(1_000_000)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(gate < F.col("ppm"))
        .select("doc_id", "source", "lang")
    )


def familiarity_buckets(
    docs: DataFrame, ref_lang: str = "en", n_buckets: int = 3
) -> DataFrame:
    """CCNet-style quality buckets: rank every document by its bigram-LM
    familiarity RATE within its language and split each language into
    ``n_buckets`` equal-frequency buckets — bucket 1 = head (most
    familiar to the reference-language model), n = tail. The standard
    perplexity-bucket curation step (CCNet keeps head+middle, inspects
    tail), built on lm_familiarity's integer-exact scoring.

    Scale shape — the crucial part: NO window ever runs over the
    corpus. Rates quantize to integer ppm (``(fam*1e6) div n_bigrams``,
    pure integer arithmetic), the per-(lang, ppm) HISTOGRAM is one
    corpus shuffle, and the cumulative ranking window runs over that
    histogram (<= 1e6+1 rows per language, regardless of corpus size);
    bucket ids broadcast back onto docs by (lang, ppm). Bucket of a
    quantized rate = ceil(cum_docs_at_or_above * n / N) — all-integer,
    so the DuckDB oracle matches bit-for-bit, and docs with equal
    quantized rates always share a bucket (deterministic under any
    partitioning)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # persist: the scored frame fans into THREE consumers (histogram ->
    # cumulative window, per-language totals, and the final bucket
    # join-back) — without it the whole bigram-LM train+score chain
    # (two corpus explodes + the model join) re-runs per branch. The
    # persisted relation is one slim row per document (ids + integer
    # stats, no text), so it is the natural materialization point at
    # 100 TB too. Eager count for the same reason as minhash_lsh_pairs:
    # concurrent branch execution otherwise races to populate the cache.
    scored = lm_familiarity(docs, ref_lang=ref_lang).withColumn(
        "rate_ppm", F.expr("(fam * 1000000) div greatest(n_bigrams, 1)")
    ).transform(persist_tracked)
    scored.count()
    hist = scored.groupBy("lang", "rate_ppm").agg(F.count(F.lit(1)).alias("_cnt"))
    wl = Window.partitionBy("lang").orderBy(F.col("rate_ppm").desc())
    cum = hist.withColumn("_cum", F.sum("_cnt").over(wl))
    tot = hist.groupBy("lang").agg(F.sum("_cnt").alias("_n"))
    buckets = (
        cum.join(tot, "lang")
        .select(
            "lang",
            "rate_ppm",
            F.least(
                F.lit(n_buckets),
                F.expr(f"cast((_cum * {n_buckets} + _n - 1) div _n as int)"),
            ).alias("bucket"),
        )
    )
    return scored.join(buckets, ["lang", "rate_ppm"]).select(
        "doc_id", "lang", "n_bigrams", "fam", "rate_ppm", "bucket"
    )


def approx_top_tokens(
    docs: DataFrame, k: int = 20, capacity: int = 64, text_col: str = "text"
) -> DataFrame:
    """Approximate heavy hitters over the token stream via mergeable
    Misra-Gries summaries: each partition keeps at most ``capacity``
    counters; summaries merge by summing and re-pruning to capacity
    (subtract the (capacity+1)-th weight, drop non-positive) — the
    mergeable-summary construction whose total undercount is bounded by
    ``total_tokens / (capacity + 1)``. This is the fixed-memory
    complement to the exact ``vocab_top_tokens``: at 100 TB the exact
    distinct-token aggregation shuffles a row per (partition, token)
    with unbounded token cardinality, while this shuffles at most
    ``capacity`` rows per partition whatever the vocabulary is.

    Returns (token, est_count) for the top ``k`` by estimate;
    ``est_count <= true_count`` always (undercount-only error)."""
    import pandas as pd

    from ..functions.text import tokens as _tokens

    toks = docs.select(F.explode(_tokens(F.lower(F.col(text_col)))).alias("token"))

    def prune(counters: dict, cap: int) -> dict:
        if len(counters) <= cap:
            return counters
        by_wt = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        cut = by_wt[cap][1]
        return {t: w - cut for t, w in by_wt[:cap] if w - cut > 0}

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for tok, cnt in vc.items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            counters = prune(counters, capacity)
        yield pd.DataFrame(
            {"token": list(counters), "wt": [int(w) for w in counters.values()]}
        )

    summaries = toks.mapInPandas(mg, "token string, wt long")
    merged = summaries.groupBy("token").agg(F.sum("wt").alias("est_count"))
    # cross-partition merge can exceed capacity again; the final prune
    # runs over <= capacity * P rows — driver-free, just orderBy/limit
    # after a window-free subtraction is unnecessary: keeping the top k
    # by summed weight preserves the undercount-only guarantee
    return merged.orderBy(F.col("est_count").desc(), "token").limit(k)


def approx_top_tokens_guarantee(
    docs: DataFrame, capacity: int = 64, text_col: str = "text"
) -> DataFrame:
    """The DETERMINISTIC face of Misra-Gries, as a hash-checkable
    relation: every token whose true count exceeds
    ``total_tokens / (capacity + 1)`` is GUARANTEED to survive in the
    merged summary (per-partition undercount sums to at most
    total/(capacity+1), so such a token's merged weight stays > 0).
    This query emits exactly that guarantee set — (token, exact count)
    for the qualifying tokens, SEMI-joined against the sketch summary —
    so an exact SQL oracle reproduces it bit-for-bit, and a sketch that
    ever dropped a guaranteed-heavy token would MISS a row and fail the
    hash. The estimates themselves stay partition-order-dependent and
    are bounded in tests instead (``approx_top_tokens``).

    The exact token group-by exists here to STATE the guarantee, not as
    the scale path; the comparison is integer-only
    (``n * (capacity+1) > total``), no division."""
    import pandas as pd

    from ..functions.text import tokens as _tokens

    # persist: three consumers of the token stream (sketch summary,
    # exact vocabulary count, total) — tokenize once, per the package's
    # persist_tracked policy. Eager count: the broadcast total builds
    # concurrently with the main plan and would race the cache.
    toks = docs.select(
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("token")
    ).transform(persist_tracked)
    toks.count()

    def prune(counters: dict, cap: int) -> dict:
        if len(counters) <= cap:
            return counters
        by_wt = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        cut = by_wt[cap][1]
        return {t: w - cut for t, w in by_wt[:cap] if w - cut > 0}

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for tok, cnt in vc.items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            counters = prune(counters, capacity)
        yield pd.DataFrame(
            {"token": list(counters), "wt": [int(w) for w in counters.values()]}
        )

    summary = (
        toks.mapInPandas(mg, "token string, wt long")
        .groupBy("token")
        .agg(F.sum("wt").alias("est"))
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    guaranteed = exact.crossJoin(F.broadcast(total)).filter(
        F.col("n_occurrences") * F.lit(capacity + 1) > F.col("_total")
    )
    return guaranteed.join(summary, "token", "semi").select("token", "n_occurrences")


def approx_top_tokens_verified(
    docs: DataFrame, k: int = 10, capacity: int = 64, text_col: str = "text"
) -> DataFrame:
    """Sketch-pruned EXACT heavy hitters — the production two-pass shape:
    pass 1 builds the mergeable Misra-Gries summary (fixed memory,
    ``capacity`` counters per partition, at most ``capacity`` rows per
    partition into one shuffle); pass 2 exact-counts ONLY the summary's
    survivor tokens (broadcast semi-join, so the group-by state is
    bounded by the candidate set, never the vocabulary) and keeps tokens
    whose exact count clears the guarantee threshold
    ``count * (capacity+1) > total_tokens``. Because every such token is
    guaranteed to survive the sketch (MG theorem), the output is the
    DETERMINISTIC strict-heavy-hitter set with exact counts — top ``k``
    by (count desc, token) — hash-checkable against an exact SQL oracle,
    while the scan-side memory stays O(capacity) whatever the vocabulary.

    This is the oracle-backed face of ``approx_top_tokens`` (whose raw
    estimates stay partition-order dependent): same sketch, plus the
    verify pass a real pipeline runs before acting on a heavy-hitter
    list. Derives from the reference's exact top-token reporting
    (README.md feature list); scale shape is ours."""
    import pandas as pd

    from ..functions.text import tokens as _tokens

    # persist: the token stream fans into THREE consumers (MG candidate
    # sketch, the semi-joined exact count, and the total) and Spark does
    # not CSE across join sides or broadcast subqueries — without it the
    # corpus is tokenized three times per action (the package's
    # persist_tracked policy). Eager count for the same reason as
    # familiarity_buckets: the broadcast subqueries (candidates, total)
    # build concurrently with the main plan and would race to populate
    # the cache.
    toks = spread(docs).select(
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("token")
    ).transform(persist_tracked)
    toks.count()

    def prune(counters: dict, cap: int) -> dict:
        if len(counters) <= cap:
            return counters
        by_wt = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        cut = by_wt[cap][1]
        return {t: w - cut for t, w in by_wt[:cap] if w - cut > 0}

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for tok, cnt in vc.items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            counters = prune(counters, capacity)
        yield pd.DataFrame({"token": list(counters)})

    # candidate set: <= capacity rows per partition, deduped — bounded by
    # capacity * P regardless of vocabulary size, so broadcast is safe
    candidates = toks.mapInPandas(mg, "token string").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "token", "semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * F.lit(capacity + 1) > F.col("_total"))
        .select("token", "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(k)
    )


def doc_len_outliers(docs: DataFrame, z_threshold: float = 2.0) -> DataFrame:
    """Length outliers by z-score, with mean/std derived from EXACT
    integer moment sums (n, Σx, Σx²) so the result is engine-independent:
    the only float ops are two divisions, one sqrt and one subtraction,
    in a fixed expression shape. One full pass with map-side partial agg
    for the moments (3 numbers to the driver-sized broadcast), one
    map-only filter pass for the flags."""
    moments = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars")).alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    z = (F.col("n_chars").cast("double") - mean) / F.sqrt(var)
    return (
        docs.crossJoin(F.broadcast(moments))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > F.lit(z_threshold))
        .select("doc_id", "n_chars", "z")
    )


def doc_repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: token count,
    distinct-token count, the highest single-token frequency, and the
    two derived ratios (top-token fraction, type/token ratio) that gate
    boilerplate and keyboard-mash out of a training corpus.

    Shape at scale: explode -> groupBy(doc_id, token) with map-side
    combine -> groupBy(doc_id). Both shuffles carry one row per distinct
    (doc, token) — bounded by document length, not corpus size. The
    LEFT join back to `documents` keeps zero-token documents (their
    ratios are defined as 0.0, and they are exactly the rows a
    repetition gate should surface)."""
    tf = (
        doc_tokens(docs, distinct=False)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("tf").alias("max_tf"),
    )
    zero = F.lit(0).cast("long")
    joined = docs.select("doc_id").join(per_doc, "doc_id", "left_outer").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), zero).alias("n_tokens"),
        F.coalesce(F.col("n_distinct"), zero).alias("n_distinct"),
        F.coalesce(F.col("max_tf"), zero).alias("max_tf"),
    )
    nonzero = F.col("n_tokens") > 0
    ratio = lambda num: F.when(  # noqa: E731
        nonzero, F.col(num).cast("double") / F.col("n_tokens").cast("double")
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "max_tf",
        ratio("max_tf").alias("top_token_ratio"),
        ratio("n_distinct").alias("unique_ratio"),
    )


def doc_sentences(docs: DataFrame) -> DataFrame:
    """Sentence segmentation: split each document on terminal-punctuation
    boundaries (``[.!?]+`` followed by whitespace), trim, drop empties —
    the prep step for sentence-level dedup, SFT pair mining, and
    quality filters that score sentence shape.

    (doc_id, sent_idx, sentence, n_tokens). Pure Catalyst — one regexp
    split + posexplode inside the scan stage, no shuffle at all; at
    100 TB this is a map-only pass like chunk_documents. The boundary
    regex deliberately avoids lookbehind so the same pattern runs
    identically under Java regex (Spark) and RE2 (the DuckDB oracle)."""
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+\s+"), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )
    return (
        docs.select("doc_id", F.posexplode(sents).alias("sent_idx", "sentence"))
        .select(
            "doc_id",
            F.col("sent_idx").cast("int").alias("sent_idx"),
            "sentence",
            token_count(F.col("sentence")).alias("n_tokens"),
        )
    )


def chunk_documents(docs: DataFrame, window: int = 128, stride: int = 64) -> DataFrame:
    """Context-window chunking: split each document into token windows of
    ``window`` tokens every ``stride`` tokens (overlapping when
    stride < window) — the pretraining-prep step that turns a curated
    corpus into training sequences.

    Pure Catalyst: tokenize once, generate the start offsets with
    ``sequence``, then explode and slice — no Python in the path, and the
    explode is map-side (no shuffle at all; at 100 TB this runs wholly
    inside the scan stage). A document yields ceil(n/stride) chunks
    (every token is in at least one chunk; the final chunks are short);
    empty documents yield none."""
    toks = tokens(F.lower(F.col("text")))
    n = F.size("toks")
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            "doc_id",
            "chunk_id",
            F.col("start"),
            F.expr(f"slice(toks, start + 1, {window})").alias("chunk_toks"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "start",
            F.size("chunk_toks").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("chunk_toks")).alias("chunk_text"),
        )
    )


def pack_chunks(
    docs: DataFrame,
    window: int = 128,
    stride: int = 64,
    budget: int = 2048,
    n_shards: int = 32,
) -> DataFrame:
    """Token-budget sequence packing: assign chunks to training packs of
    ~``budget`` tokens by greedy prefix-sum within a shard.

    A GLOBAL greedy pack would need a single total order — one
    partition, no parallelism. Sharding by hash(doc_id) first keeps the
    window partitioned (parallel cumulative sums, one shuffle), at the
    cost of at most one under-filled pack per shard — the standard
    trade at 100 TB, where a pack boundary is worth nothing across
    shards anyway. All arithmetic is integer (prefix sums of token
    counts), so the assignment is engine-exact and reproducible."""
    ch = chunk_documents(docs, window=window, stride=stride).withColumn(
        "shard", (F.col("doc_id") % n_shards).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0).cast("long"))
    return ch.select(
        "shard",
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        (
            F.col("shard").cast("long") * F.lit(1_000_000)
            + F.floor(cum_before / F.lit(budget))
        ).alias("pack_id"),
    )


def dataset_split(docs: DataFrame, val_pct: int = 5, test_pct: int = 5,
                  salt: int = 9176) -> DataFrame:
    """Deterministic train/val/test assignment: the split is a pure
    function of doc_id (salted multiplicative hash), so it is identical
    on every run, any cluster, any partitioning, and survives re-ingest
    of the same ids — the property rand()-based splits lack. Map-only;
    no shuffle, no state."""
    mix = salted_hash(F.col("doc_id"), salt) % 100
    split = (
        F.when(mix < val_pct, F.lit("val"))
        .when(mix < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "lang", split.alias("split"))


def leakage_safe_split(
    docs: DataFrame,
    dup_pairs: DataFrame,
    val_pct: int = 5,
    test_pct: int = 5,
    salt: int = 9176,
) -> DataFrame:
    """Group-aware train/val/test split: every near-duplicate CLUSTER
    lands in exactly one split, so a held-out document can never have a
    near-copy in the training set — the leakage mode a plain per-doc
    hash split (``dataset_split``) cannot prevent, and the reason eval
    numbers inflate on undeduplicated corpora (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §6).

    ``dup_pairs`` is any (doc_a, doc_b) near-dup pair relation
    (minhash_lsh_pairs, simhash_pairs, ngram_jaccard_pairs,
    semantic_neardup_pairs — the op is agnostic). Docs are labeled with
    their connected-component representative (``dedup_clusters``);
    singletons represent themselves. The split is then the SAME salted
    multiplicative hash ``dataset_split`` uses, applied to the CLUSTER
    id instead of the doc id — so the two ops agree exactly on every
    singleton, and a clustered doc inherits its representative's
    assignment.

    Plan shape at 100 TB: the cluster labeling touches only docs that
    appear in a dup pair (sublinear in the corpus — duplicates are the
    minority after exact dedup); the label relation left-joins back to
    the corpus on doc_id and the split itself stays a map-only
    expression. Returns (doc_id, lang, cluster_id, split)."""
    from .clusters import dedup_clusters

    labels = dedup_clusters(dup_pairs).select("doc_id", "cluster_id")
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    mix = salted_hash(cid, salt) % 100
    split = (
        F.when(mix < val_pct, F.lit("val"))
        .when(mix < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.select("doc_id", "lang")
        .join(labels, "doc_id", "left")
        .select("doc_id", "lang", cid.alias("cluster_id"), split.alias("split"))
    )


def skipgram_pairs(
    docs: DataFrame, window: int = 2, min_count: int = 1
) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts — the training
    relation for word2vec-family embedding models (Mikolov et al.
    2013), over the lowercased whitespace token stream. For every
    position i and offset o in [-window, window] \\ {0} with i+o in
    range, the DIRECTED pair (token[i], token[i+o]) contributes 1;
    counts aggregate corpus-wide and pairs below ``min_count`` drop
    (the standard vocabulary floor). Returns
    (center, context, pair_count).

    Plan shape at 100 TB: pair GENERATION is map-only — a nested
    native transform over each document's token array (offsets
    filtered to in-range BEFORE the element_at, so the lookup is
    ANSI-safe by construction), no self-join on positions, no explode
    until the single count shuffle. The one groupBy carries
    (center, context) pairs whose cardinality is vocab-bounded, not
    corpus-bounded, and map-side combine collapses each partition's
    duplicates before the exchange."""
    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    offsets = F.array(
        *[F.lit(o) for o in range(-window, window + 1) if o != 0]
    )
    pairs = F.flatten(
        F.transform(
            toks,
            lambda t, i: F.transform(
                F.filter(offsets, lambda o: ((i + o) >= 0) & ((i + o) < n)),
                lambda o: F.struct(
                    t.alias("center"),
                    F.element_at(toks, i + o + F.lit(1)).alias("context"),
                ),
            ),
        )
    )
    return (
        spread(docs)
        .select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"),
            F.col("p.context").alias("context"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )


def training_shuffle(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Reproducible global permutation for training order: shard by one
    doc_id hash, order within the shard by a second (salted) hash. One
    shuffle (the per-shard sort), restart-stable and engine-independent
    — unlike orderBy(rand()), which is neither, and unlike a single
    global sort, which funnels everything through one ordering. Shards
    are balanced in expectation and each sorts independently, so the
    permutation scales out with the shard count."""
    h = salted_hash(F.col("doc_id"))
    h2 = salted_hash(F.col("doc_id"), 40503)
    shard = (h % F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("ord"), F.col("doc_id"))
    return (
        docs.select("doc_id", shard.alias("shard"), h2.alias("ord"))
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .select("doc_id", "shard", "pos")
    )


def lm_familiarity(docs: DataFrame, ref_lang: str = "en") -> DataFrame:
    """Model-based quality scoring, integer-exact: train a word-bigram
    count model on a reference slice of the corpus (``lang ==
    ref_lang``), then score EVERY document by how familiar its bigrams
    are to that model — the CCNet/KenLM perplexity-filter pattern with
    the log-space arithmetic replaced by exact integer sufficient
    statistics, so the DuckDB oracle verifies it bit-for-bit (the
    engine-specific 1-ULP ln() is the same reason tfidf_top_terms ships
    integer columns; a downstream consumer is free to take logs of
    these counts).

    Per document: ``n_bigrams`` instances, ``hits`` = instances the
    model has seen at all, ``fam`` = summed model counts (high = the
    doc speaks like the reference corpus; near-zero = out-of-domain or
    gibberish — the rows a perplexity gate would drop). Documents with
    fewer than 2 tokens score (0, 0, 0) rather than vanishing.

    Plan shape at 100 TB: the model is a (hash, count) aggregate —
    train is one explode + one count shuffle; scoring joins on the
    64-bit polynomial hash of the bigram (8-byte shuffle keys, hot
    bigrams AQE skew-split), then one per-doc sum. The model relation
    is vocabulary-sized (sublinear in corpus rows) and at deploy time
    is the natural broadcast / bucketed side."""
    return lm_score(docs, lm_model(docs, ref_lang))


def lm_model(docs: DataFrame, ref_lang: str = "en") -> DataFrame:
    """The trainable half of lm_familiarity: (h, cnt) bigram counts over
    the reference slice — the artifact a deployment persists once and
    reuses across scoring runs (including the streaming twin)."""
    from ..functions.text import poly_hash, word_shingles

    return (
        # filter BEFORE the round-robin rebalance: spread() shuffles the
        # rows it is given, and shuffling the non-reference languages
        # only to drop them is pure wasted exchange on a multilingual
        # corpus
        spread(docs.filter(F.col("lang") == ref_lang))
        .select(F.explode(word_shingles(F.col("text"), 2)).alias("bg"))
        .select(poly_hash(F.col("bg")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Score documents against a prebuilt bigram model (see
    lm_familiarity for the semantics and the integer-exactness
    contract)."""
    from ..functions.text import poly_hash, word_shingles

    bg = spread(docs).select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("bg")
    ).select("doc_id", poly_hash(F.col("bg")).alias("h"))
    scored = (
        bg.join(model, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("cnt").isNotNull(), 1).otherwise(0)).alias("hits"),
            F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("fam"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce("fam", F.lit(0)).alias("fam"),
        )
    )


def hashed_doc_vectors(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectors: every token
    hashes to one of ``dim`` buckets with a ±1 sign bit, signed counts
    accumulate per bucket, and the result is L2-normalized — a
    deterministic, model-free text→vector bridge that connects the
    documents table to the whole similarity surface (kNN, near-dup,
    k-means, PageRank) without an embedding model. The signed variant
    is the standard bias correction from the feature-hashing
    literature: E[collision contribution] = 0.

    (doc_id, vec array<double>); token-less documents get the zero
    vector (which the downstream zero-norm guards treat as the
    reference treats zero embeddings). The scan, hash, and signed-count
    aggregation are Column expressions (whole-stage codegen, map-side
    partial agg); the dense-vector ASSEMBLY + normalize run as one
    Arrow batch kernel over the bounded (doc_id, <= dim entries) rows —
    a numpy scatter + ``fold_dot`` norm (l2_norm's fold), bit-identical to the
    map_from_entries + dim-element_at + l2_normalize expression chain
    it replaced (same sequential fold order; same x/n per-element
    division; same zero-norm pass-through) and ~2x cheaper at sf0.1
    (guide §4.2 — the chain was interpreted per output element)."""
    import numpy as np
    import pandas as pd

    from ..functions.text import poly_hash, tokens
    from ..functions.vector import fold_dot

    tok = spread(docs).select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    ).select("doc_id", poly_hash(F.col("token")).alias("h"))
    signed = tok.select(
        "doc_id",
        (F.col("h") % dim).cast("int").alias("bucket"),
        F.expr(f"CASE WHEN (h div {dim}) % 2 = 0 THEN 1 ELSE -1 END").alias("sign"),
    )
    vals = signed.groupBy("doc_id", "bucket").agg(F.sum("sign").alias("val"))
    ent = vals.groupBy("doc_id").agg(
        F.collect_list(F.struct("bucket", "val")).alias("ent")
    )

    def _assemble(batches):
        for pdf in batches:
            m = np.zeros((len(pdf), dim), dtype=np.float64)
            for r, es in enumerate(pdf["ent"]):
                if len(es):
                    idx = np.fromiter(
                        (e["bucket"] for e in es), dtype=np.int64, count=len(es)
                    )
                    vv = np.fromiter(
                        (float(e["val"]) for e in es), dtype=np.float64, count=len(es)
                    )
                    m[r, idx] = vv
            n = np.sqrt(fold_dot(m, m))  # l2_norm's fold
            nz = n > 0.0
            m[nz] = m[nz] / n[nz, None]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "vec": list(m)})

    assembled = ent.mapInPandas(_assemble, "doc_id long, vec array<double>")
    zero = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(assembled, "doc_id", "left")
        .select("doc_id", F.coalesce("vec", zero).alias("vec"))
    )


def token_budget_sample(docs: DataFrame, budget_per_source: int = 2000) -> DataFrame:
    """Sample each source up to a TOKEN budget (real mixing recipes
    budget tokens, not row counts): rows are taken in deterministic
    hash order (same mix as stratified_sample, so the pick is
    reproducible on any cluster/partitioning) and kept while the
    running token total stays within the budget — greedy prefix
    first-fit, integer-exact.

    One window per source over (hash, doc_id) order; the cumulative sum
    is the only shuffle. A source whose first document alone exceeds
    the budget contributes nothing (strict prefix rule, documented
    behavior — identical in the oracle)."""
    from ..functions.text import token_count

    h = salted_hash(F.col("doc_id"))
    base = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        h.alias("_h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_per_source)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


# Count-min sketch: depth x width counter grid over the token stream.
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_MOD = 2_147_483_647  # 2^31 - 1, same permutation modulus as minhash


def _cms_bucket(h, row: int, width: int):
    """Row-salted universal hash of a poly-hashed token: the same
    (a*h + b) % p permutation family as the minhash rows, folded to
    [0, width)."""
    a, b = 2 * row + 1, 7919 * row + 1
    return ((h * F.lit(a) + F.lit(b)) % F.lit(CMS_MOD)) % F.lit(width)


def cms_token_sketch(
    docs: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH, text_col: str = "text"
) -> DataFrame:
    """Count-min sketch of token frequencies: a (row, bucket, cnt) grid
    of ``depth * width`` counters. Each token increments one bucket per
    row; estimates are min-over-rows and therefore NEVER undercount
    (the one-sided twin of Misra-Gries' never-overcount). Two sketches
    merge by summing counts bucket-wise — the property that matters at
    100 TB: per-day/per-shard sketches aggregate into corpus totals
    with fixed memory, no re-scan.

    Fully declarative AND fully oracle-able: the grid is just hashed
    group-by counting (explode -> posexplode of the depth buckets ->
    one sum shuffle of at most depth*width groups), integer-exact in
    any engine — unlike HLL, whose register layout is
    implementation-defined."""
    from ..functions.text import poly_hash, tokens as _tokens

    toks = spread(docs).select(
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("token")
    ).select(poly_hash(F.col("token")).alias("h"))
    buckets = F.array(*[_cms_bucket(F.col("h"), r, width) for r in range(depth)])
    grid = toks.select(F.posexplode(buckets).alias("row", "bucket"))
    return (
        grid.groupBy(F.col("row").cast("int").alias("row"), "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_token_estimates(
    docs: DataFrame,
    query_docs: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """CMS point queries: estimated corpus frequency of every distinct
    token appearing in the first ``query_docs`` documents. est_count =
    min over rows of the token's counter — always >= the true count
    (collision error is additive, bounded by ~total_tokens/width per
    row; the min over ``depth`` independent rows drives the overshoot
    probability down exponentially). The probe side broadcasts; the
    sketch side is the depth*width grid."""
    from ..functions.text import poly_hash, tokens as _tokens

    sketch = cms_token_sketch(docs, depth=depth, width=width)
    probes = (
        docs.filter(F.col("doc_id") < query_docs)
        .select(F.explode(_tokens(F.lower(F.col("text")))).alias("token"))
        .distinct()
        .select("token", poly_hash(F.col("token")).alias("h"))
        .select(
            "token",
            F.posexplode(
                F.array(*[_cms_bucket(F.col("h"), r, width) for r in range(depth)])
            ).alias("row", "bucket"),
        )
        .select("token", F.col("row").cast("int").alias("row"), "bucket")
    )
    return (
        probes.join(sketch, ["row", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est_count"))
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, App. A) —
    the standard hard-filter gate a pretraining pipeline runs before any
    model-based scoring. One verdict row per document with every rule's
    flag plus the conjunction, so downstream curation can loosen
    individual rules without recomputing.

    Rules (every ratio compared by INTEGER cross-multiplication — no
    float division anywhere, so the DuckDB oracle matches bit-for-bit):
    - word count in [min_words, max_words]
    - mean word length in [3, 10]            (3*W <= sum_len <= 10*W)
    - symbol-to-word ratio <= 0.1            (10*(#hash + #ellipsis) <= W)
    - <= 10% of lines start with a bullet    (10*bullet_lines <= n_lines)
    - <= 30% of lines end with an ellipsis   (10*ell_lines <= 3*n_lines)
    - >= 80% of words contain a letter       (5*alpha_words >= 4*W)
    - >= min_stopwords distinct Gopher stopwords present (published
      value 2; the synthetic testdata vocabulary carries at most one)

    Plan: one map-side pass (split + filter + integer counts) over the
    corpus, no shuffle at all — the cheapest possible 100 TB shape; the
    whole rule set is a Catalyst projection."""
    text = F.col("text")
    toks = tokens(text)
    lines = F.filter(F.split(text, "\n"), lambda x: x != F.lit(""))
    n_words = F.size(toks)
    n_lines = F.size(lines)
    sum_word_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_hash = F.length(F.regexp_replace(text, "[^#]", ""))
    # non-overlapping '...' occurrences, the (len - len(replace))/3 trick
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("long")
    bullet_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike("^\\s*[-*•]"))
    )
    ell_lines = F.size(F.filter(lines, lambda ln: ln.rlike("\\.\\.\\.$")))
    def _has_stop(word: str):
        # closure via call, not lambda-default: a 2-param lambda would
        # be bound by F.exists as (element, index)
        return F.exists(toks, lambda t: F.lower(t) == F.lit(word))

    stop_hits = F.lit(0)
    for w in GOPHER_STOPWORDS:
        stop_hits = stop_hits + F.when(_has_stop(w), 1).otherwise(0)
    r_wc = (n_words >= min_words) & (n_words <= max_words)
    r_mwl = (F.lit(3) * n_words <= sum_word_len) & (sum_word_len <= F.lit(10) * n_words)
    r_sym = F.lit(10) * (n_hash + n_ellipsis) <= n_words
    r_bul = F.lit(10) * bullet_lines <= n_lines
    r_ell = F.lit(10) * ell_lines <= F.lit(3) * n_lines
    r_alpha = F.lit(5) * alpha_words >= F.lit(4) * n_words
    r_stop = stop_hits >= min_stopwords
    return spread(docs).select(
        "doc_id",
        n_words.alias("n_words"),
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_bul.alias("rule_bullet_lines"),
        r_ell.alias("rule_ellipsis_lines"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_mwl & r_sym & r_bul & r_ell & r_alpha & r_stop).alias("passes"),
    )


def c4_clean(
    docs: DataFrame,
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) — the
    canonical web-corpus scrub that precedes every other gate: keep
    only lines that end in terminal punctuation AND carry at least
    ``min_line_words`` words; flag pages containing the "lorem ipsum"
    placeholder or a curly brace (code); page verdict ``keep`` when at
    least ``min_kept_lines`` lines survive and neither flag fired.

    Returns (doc_id, cleaned_text, n_lines_kept, n_lines_dropped,
    has_lorem, has_brace, keep). Entirely map-side — line split, two
    regexes, one join-back — zero shuffles at any corpus size; the
    three-sentence-span dedup C4 runs afterwards is dup_span_pairs /
    boilerplate_sentences in this engine."""
    text = F.col("text")
    lines = F.filter(F.split(text, "\n"), lambda x: x != F.lit(""))

    def is_kept(ln):
        ok = (
            F.size(F.filter(F.split(ln, "\\s+"), lambda w: w != F.lit("")))
            >= min_line_words
        )
        if require_terminal_punct:
            # ``require_terminal_punct=False`` relaxes the punctuation
            # rule for corpora without sentence structure (the synthetic
            # oracle corpus has none; real web text keeps the default)
            ok = ln.rlike('[.!?"]\\s*$') & ok
        return ok
    kept = F.filter(lines, is_kept)
    n_kept = F.size(kept)
    n_dropped = F.size(lines) - n_kept
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    return docs.select(
        "doc_id",
        F.array_join(kept, "\n").alias("cleaned_text"),
        n_kept.alias("n_lines_kept"),
        n_dropped.alias("n_lines_dropped"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ((n_kept >= min_kept_lines) & ~has_lorem & ~has_brace).alias("keep"),
    )


def doc_dup_ngram_fraction(docs: DataFrame, n: int = 3) -> DataFrame:
    """Gopher's duplicate-n-gram repetition signals (Rae et al. 2021,
    A1.1), per document: the character fraction covered by the most
    frequent n-gram's occurrences (their 2-4-gram rule) and by ALL
    n-grams occurring twice or more (their 5-10-gram rule) — the
    intra-doc repetition metrics ``doc_repetition``'s top-token and
    type/token ratios approximate at the unigram level only.

    Coverage is the overlap-UNION of token positions: token t counts
    once however many duplicate n-grams span it; char weight = the
    token's length (whitespace excluded), fractions are one int/int ->
    double division each (engine-exact). Docs shorter than n tokens
    score 0 on both.

    MAP-ONLY: within-doc n-gram counting is a nested native HOF scan
    (per gram, count its equals; per token, EXISTS over the <= n gram
    windows spanning it) — O(G^2) string equality on per-doc arrays,
    no explode, no shuffle, whole-stage codegen at any corpus size.
    The heavy arrays are STAGED through separate projections so each
    is evaluated once per row: Catalyst inlines lambda-referenced
    subexpressions at every use site (no CSE across HOF boundaries),
    and the single-expression form re-evaluated the O(G^2) count
    array inside every per-token window probe — O(T*n*G^2) per doc,
    measured minutes at sf0.01 where this shape is seconds.
    CollapseProject keeps the stages because the staged expressions
    are non-cheap and multiply referenced."""
    toks_c = F.col("_toks")
    T = F.size(toks_c)
    g_last = T - F.lit(n - 1)  # last gram start (1-based); <=0 when T < n
    staged = (
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            g_last.alias("_glast"),
            F.when(
                g_last >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(g_last, F.lit(1))),
                    lambda i: F.concat_ws(" ", F.slice(toks_c, i, n)),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("_grams"),
            F.transform(toks_c, lambda t0: F.length(t0)).alias("_tlens"),
        )
        .select(
            "*",
            F.transform(
                F.col("_grams"),
                lambda g: F.size(F.filter(F.col("_grams"), lambda x: x == g)),
            ).alias("_cnts"),
        )
        .select(
            "*",
            F.coalesce(F.array_max("_cnts"), F.lit(0)).alias("_maxc"),
        )
        .select(
            "*",
            F.array_min(
                F.filter(
                    F.zip_with(
                        "_grams",
                        "_cnts",
                        lambda g, c: F.when(c == F.col("_maxc"), g),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("_topg"),
            F.aggregate(F.col("_tlens"), F.lit(0), lambda a, x: a + x).alias(
                "_total"
            ),
        )
    )

    def covered_chars(pred):
        """Sum of lengths of tokens covered by a gram-start window
        satisfying ``pred(start)`` — the overlap union. All array
        references hit staged columns: O(1) per (token, window)."""
        return F.aggregate(
            F.sequence(F.lit(1), F.size(F.col("_toks"))),
            F.lit(0),
            lambda acc, t: acc
            + F.when(
                (F.col("_glast") >= 1)
                & F.exists(
                    F.sequence(
                        F.greatest(t - F.lit(n - 1), F.lit(1)),
                        F.least(t, F.col("_glast")),
                    ),
                    pred,
                ),
                F.element_at(F.col("_tlens"), t.cast("int")),
            ).otherwise(F.lit(0)),
        )

    dup_chars = covered_chars(
        lambda s: F.element_at(F.col("_cnts"), s.cast("int")) >= 2
    )
    top_chars = covered_chars(
        lambda s: F.element_at(F.col("_grams"), s.cast("int")) == F.col("_topg")
    )
    staged = staged.select(
        "*", dup_chars.alias("_dupch"), top_chars.alias("_topch")
    )
    ok = (F.col("_total") > 0) & (F.col("_glast") >= 1)
    zero = F.lit(0.0)
    return staged.select(
        "doc_id",
        F.size(F.col("_toks")).cast("int").alias("n_tokens"),
        F.col("_maxc").cast("int").alias("top_ngram_count"),
        F.when(ok, F.col("_topch") / F.col("_total"))
        .otherwise(zero)
        .alias("top_ngram_char_frac"),
        F.when(ok, F.col("_dupch") / F.col("_total"))
        .otherwise(zero)
        .alias("dup_ngram_char_frac"),
    )


def strip_repeated_lines(docs: DataFrame, min_chars: int = 1) -> DataFrame:
    """INTRA-document exact line dedup — the doc-internal repetition
    scrub (MassiveText/RefinedWeb run it before any cross-document
    dedup: navboxes, cookie banners, and scraped pagination repeat the
    same line dozens of times WITHIN one page, and corpus-level span
    dedup never sees them because no other document shares them).
    Per document: keep each non-empty line's FIRST occurrence, drop
    exact repeats; lines shorter than ``min_chars`` are never treated
    as repeats (single-char bullets legitimately recur).

    Returns (doc_id, n_lines, n_repeats_removed, text_clean) with
    text_clean newline-joined in original order. MAP-ONLY: the
    keep-first scan is a native two-arg ``filter`` with an ``exists``
    probe over the line's own prefix — no explode, no shuffle, no UDF;
    per-doc cost is O(lines^2) string equality on short arrays (web
    pages have tens of lines), which stays inside whole-stage codegen.
    Complements ``c4_clean`` (quality line filter) and the
    dup_span family (CROSS-document passages)."""
    # stage the split ONCE per row: Catalyst inlines (not CSEs)
    # expressions referenced inside HOF lambdas, so the un-staged form
    # re-evaluated the split+filter for EVERY line's prefix probe —
    # O(lines) split passes per document (the doc_dup_ngram_fraction
    # staging argument; neutral at sf0.1's few-line docs, structural at
    # real page sizes)
    staged = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), "\n"), lambda x: x != F.lit("")).alias(
            "_lines"
        ),
    )
    lines = F.col("_lines")
    kept = F.filter(
        lines,
        lambda ln, i: (F.length(ln) < min_chars)
        | ~F.exists(F.slice(lines, 1, i), lambda prev: prev == ln),
    )
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    return staged.select(
        "doc_id",
        n_lines.cast("int").alias("n_lines"),
        (n_lines - n_kept).cast("int").alias("n_repeats_removed"),
        F.array_join(kept, "\n").alias("text_clean"),
    )


def dsir_scores(
    docs: DataFrame, target_lang: str = "en", keep_per_million: int | None = None
) -> DataFrame:
    """DSIR-style importance statistics (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by hashed-bigram counts under a TARGET model (the
    ``target_lang`` slice — the domain you want more of) AND a SOURCE
    model (the whole corpus), the integer-exact sufficient statistics
    of DSIR's log importance weight ``sum log p_target(f) -
    sum log p_source(f)``. The log itself is left to the consumer
    (engines round ln() differently — the same contract as
    lm_familiarity and tfidf): a row's (fam_target, fam_source,
    n_bigrams) is everything the weight needs.

    Output: (doc_id, lang, n_bigrams, fam_target, fam_source,
    target_ppm) where target_ppm = (fam_target * 1e6) div
    (fam_target + fam_source) — an all-integer, monotone proxy for the
    importance ratio, used directly as the resampling key. With
    ``keep_per_million`` set, gate rows by the same deterministic
    doc_id hash as stratified_sample, biased toward high target_ppm:
    keep when hash_ppm < keep_per_million * target_ppm / 500000
    (linear-in-ratio acceptance — documents that look twice as
    target-like are twice as likely to survive).

    Plan shape: both models are (hash, count) aggregates over the SAME
    exploded bigram relation (one corpus explode feeds target + source
    + scoring), so training adds one narrow agg over the shuffle the
    scorer already pays; models are vocabulary-sized joins exactly as
    in lm_familiarity."""
    from ..functions.text import poly_hash, word_shingles

    bg = spread(docs).select(
        "doc_id",
        "lang",
        F.explode(word_shingles(F.col("text"), 2)).alias("bgm"),
    ).select("doc_id", "lang", poly_hash(F.col("bgm")).alias("h"))
    target_model = (
        bg.filter(F.col("lang") == target_lang)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    source_model = bg.groupBy("h").agg(F.count(F.lit(1)).alias("cnt_s"))
    scored = (
        bg.join(target_model, "h", "left")
        .join(source_model, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("cnt_t"), F.lit(0))).alias("fam_target"),
            F.sum(F.col("cnt_s")).alias("fam_source"),
        )
    )
    out = (
        docs.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("fam_target", F.lit(0)).alias("fam_target"),
            F.coalesce("fam_source", F.lit(0)).alias("fam_source"),
        )
        .withColumn(
            "target_ppm",
            F.expr(
                "(fam_target * 1000000) div greatest(fam_target + fam_source, 1)"
            ),
        )
    )
    if keep_per_million is None:
        return out
    gate = salted_hash(F.col("doc_id"), 9173) % F.lit(1_000_000)
    return out.filter(
        gate < F.expr(f"({keep_per_million}::long * target_ppm) div 500000")
    )
