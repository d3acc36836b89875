"""Deterministic corpus sampling and ordering.

Training pipelines need sampling that is REPRODUCIBLE (same docs in,
same docs out — across runs, engines, and cluster sizes) and
join-free. Both operators here are pure maps on a content-stable
md5-derived hash (functions.text.stable_hash31), the same family the
train/val/test split uses: no RNG state, no global coordination,
replayable by the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark import caching
from parlerproject_spark.functions.py_udfs import round_half_up
from parlerproject_spark.functions.text import stable_hash31
from parlerproject_spark.operators.stats import _bucketed_prefix_sum

#: hash-bucket resolution for sampling fractions (1/10000 granularity)
SAMPLE_BUCKETS = 10_000


def stratified_sample(df: DataFrame, fractions: dict[str, float], *,
                      strata_col: str, id_col: str) -> DataFrame:
    """Per-stratum deterministic sampling: a row survives iff its
    id's hash bucket (stable_hash31 % 10000) falls under its
    stratum's fraction (strata not in `fractions` keep nothing). Used
    to rebalance a corpus (e.g. downsample over-represented languages)
    with zero shuffle — the filter runs inside the scan stage, and
    membership is stable as the corpus grows."""
    bucket = stable_hash31(F.col(id_col).cast("string")) % SAMPLE_BUCKETS
    thresh: Column = F.lit(0)
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == stratum,
                        F.lit(int(frac * SAMPLE_BUCKETS))).otherwise(thresh)
    return df.filter(bucket < thresh)


def group_head_sample(df: DataFrame, *, group_col: str, id_col: str,
                      k: int) -> DataFrame:
    """Fixed-size deterministic sample: exactly min(k, |group|) rows
    per group — the distributed, replayable stand-in for per-group
    reservoir sampling (per-domain eval slices, few-shot exemplar
    pools, balanced inspection panels all want "exactly k per
    bucket", which a fractional sampler can't promise).

    Rank = row_number over an md5('ghs-v1':id) ordering inside each
    group; the hash order is uniform, content-stable (a row keeps or
    loses membership only when rank-k's hash boundary moves, not
    when unrelated rows arrive), and engine-portable. One exchange
    on the group key; the per-group ORDER BY is partition-local,
    never a global sort. A viral group costs one partition's sort —
    at 100 TB salt hot groups first (operators/skew) or pre-filter
    with an approximate per-group count. Keeps all input columns and
    adds sample_rank (1-based).
    """
    h = F.md5(F.concat_ws(":", F.lit("ghs-v1"),
                          F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (df.withColumn("sample_rank",
                          F.row_number().over(w).cast("long"))
            .filter(F.col("sample_rank") <= k))


def pack_sequences(docs: DataFrame, *, id_col: str, tokens_col: str,
                   seq_len: int = 2048, shards: int = 16) -> DataFrame:
    """Concat-and-chunk sequence packing — the training-batch
    construction step: documents are laid end-to-end in a fixed
    pseudo-random order and cut into `seq_len`-token sequences; each
    doc is tagged with the shard/sequence/offset where its tokens
    begin (a doc may straddle into the next sequence — standard
    packing semantics).

    Deterministic AND parallel: docs hash into `shards` independent
    streams (stable_hash31, so assignment is reproducible and
    engine-neutral), and the running token offset is a window cumsum
    PER SHARD — never a single global ordering, which would serialize
    the cumsum at corpus scale. Within a shard the order is the
    md5('pack-v1':id) key, so re-runs and other engines produce the
    identical packing. One exchange on shard.
    Columns: <id_col>, shard, seq_no, tok_offset.
    """
    key = F.md5(F.concat(F.lit("pack-v1"), F.lit(":"),
                         F.col(id_col).cast("string")))
    shard = (stable_hash31(F.col(id_col).cast("string"))
             % shards).cast("int")
    w = (Window.partitionBy("shard").orderBy("__key")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = docs.select(F.col(id_col), F.col(tokens_col).alias("__n"),
                         key.alias("__key"), shard.alias("shard"))
    cum_before = (F.sum("__n").over(w) - F.col("__n")).cast("long")
    return (staged
            .withColumn("seq_no", F.floor(cum_before / seq_len).cast("long"))
            .withColumn("tok_offset", (cum_before % seq_len).cast("long"))
            .select(id_col, "shard", "seq_no", "tok_offset"))


def pack_sequences_harmonic(docs: DataFrame, *, id_col: str,
                            tokens_col: str, seq_len: int = 2048,
                            shards: int = 16,
                            small_k: int = 8) -> DataFrame:
    """BOUNDARY-RESPECTING sequence packing — no document ever
    straddles two training sequences (the property concat-and-chunk
    `pack_sequences` gives up): the harmonic size-class member of
    the decreasing-greedy bin-packing family (Harmonic-K, Lee & Lee
    1985, asymptotic ratio 1.691; classic FFD is 11/9 but its
    first-bin-with-room probe is a SEQUENTIAL scan over open-bin
    state — it neither distributes nor replays in SQL, which is why
    the closed-form class scheme is the one a 1000-executor packing
    pass actually runs):

      class k = floor(seq_len / n_tokens), i.e. docs sized in
      (L/(k+1), L/k]. Within class k < small_k exactly k docs fill a
      bin — and no k+1 can (each is > L/(k+1)), so within-class the
      k-per-bin layout is OPTIMAL, matching what FFD does with these
      docs. Docs with class ≥ small_k (≤ L/small_k tokens) pack by
      running cumsum into bins of EFFECTIVE capacity
      C = L·(1 − 1/small_k): a doc opens a new bin when its
      cum-before crosses a C boundary, and since every doc here is
      ≤ L/small_k the true fill never exceeds C + L/small_k = L —
      the shrunk-capacity trick that turns hard-capacity next-fit
      into a pure prefix sum. Oversized docs (> L) get singleton
      bins flagged `truncated`.

    Deterministic and engine-neutral end to end: stable_hash31
    shards, md5('pack-v1':id) within-shard order — the pack_sequences
    conventions — so the oracle replays every class, bin, and
    offset. One exchange on (shard, class); windows partition by
    (shard, class), never globally. Padding is first-class output:
    `bin_fill` lets the caller aggregate exact waste per bin.

    Columns: <id_col>, shard, size_class, bin_no, tok_offset,
    n_tokens, truncated.
    """
    if seq_len < 1 or shards < 1 or small_k < 2:
        raise ValueError("seq_len/shards >= 1 and small_k >= 2")
    key = F.md5(F.concat(F.lit("pack-v1"), F.lit(":"),
                         F.col(id_col).cast("string")))
    shard = (stable_hash31(F.col(id_col).cast("string"))
             % shards).cast("int")
    n = F.col(tokens_col).cast("long")
    # class 0 = oversized (> L, truncated singleton); small_k caps
    # the class index so every doc <= L/small_k shares one cum bucket
    klass = (F.when(n > seq_len, F.lit(0))
             .otherwise(F.least(F.floor(seq_len / F.greatest(n, F.lit(1))),
                                F.lit(small_k))).cast("int"))
    staged = docs.select(F.col(id_col), n.alias("__n"),
                         key.alias("__key"), shard.alias("shard"),
                         klass.alias("size_class"))
    wo = Window.partitionBy("shard", "size_class").orderBy("__key")
    rn = F.row_number().over(wo).cast("long")
    cumb = (F.sum("__n").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - F.col("__n")).cast("long")
    cap = float(seq_len) * (1.0 - 1.0 / small_k)
    is_small = F.col("size_class") >= small_k
    is_single = F.col("size_class") <= 1  # oversized or (L/2, L]
    bin_no = (F.when(is_single, rn - 1)
              .when(is_small, F.floor(cumb / cap))
              .otherwise(F.floor((rn - 1) / F.col("size_class"))))
    binned = staged.withColumn("bin_no", bin_no.cast("long"))
    # tok_offset = cumsum of the PRECEDING docs in the same bin (the
    # true packed position, uniform across classes); bin partitions
    # are capacity-bounded (<= seq_len tokens), never corpus-sized
    clipped = F.least(F.col("__n"), F.lit(int(seq_len)))
    wb = (Window.partitionBy("shard", "size_class", "bin_no")
          .orderBy("__key")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (binned.select(
        F.col(id_col), "shard", "size_class", "bin_no",
        (F.sum(clipped).over(wb) - clipped).cast("long")
        .alias("tok_offset"),
        F.col("__n").alias("n_tokens"),
        (F.col("__n") > seq_len).alias("truncated")))


def packing_waste_report(assignments: DataFrame, *,
                         seq_len: int = 2048) -> DataFrame:
    """Padding-waste readout over a `pack_sequences_harmonic`
    assignment table: per (shard, size_class), the bin count, token
    mass, capacity, padded tokens, and waste share — the number a
    training-loader owner actually tracks (padding is pure wasted
    FLOPs). Oversized/truncated docs count a full bin with zero
    waste (they clip, not pad). One aggregation over the bounded
    (shard, class, bin) key space; never re-reads the corpus.
    Columns: shard, size_class, n_bins, n_docs, n_tokens, capacity,
    padded_tokens, waste_share (round 6)."""
    per_bin = (assignments.groupBy("shard", "size_class", "bin_no")
               .agg(F.count(F.lit(1)).alias("__d"),
                    F.sum(F.least(F.col("n_tokens"),
                                  F.lit(seq_len))).alias("__t")))
    return (per_bin.groupBy("shard", "size_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                 F.sum("__d").cast("long").alias("n_docs"),
                 F.sum("__t").cast("long").alias("n_tokens"))
            .select("shard", "size_class", "n_bins", "n_docs",
                    "n_tokens",
                    (F.col("n_bins") * seq_len).cast("long")
                    .alias("capacity"),
                    (F.col("n_bins") * seq_len - F.col("n_tokens"))
                    .cast("long").alias("padded_tokens"),
                    F.round(1.0 - F.col("n_tokens")
                            / (F.col("n_bins").cast("double") * seq_len),
                            6).alias("waste_share")))


def deterministic_shuffle(df: DataFrame, *, id_col: str,
                          seed: str = "shuffle-v1") -> DataFrame:
    """Reproducible global shuffle: order by md5(seed || id). The
    training-data ordering op — every run (and every engine) yields
    the identical permutation, and changing `seed` re-deals it.
    Physically a range-partitioned sort on a uniformly distributed
    key: no skew by construction, scales as well as any global sort
    can. For write-out, pair with partitionBy/bucketing so shards
    stay the sort's range partitions."""
    key = F.md5(F.concat(F.lit(seed), F.lit(":"),
                         F.col(id_col).cast("string")))
    return df.orderBy(key.asc())


def domain_mix_weights(df: DataFrame, *, domain_col: str,
                       alpha: float = 0.3) -> DataFrame:
    """Temperature-scaled domain mixture weights — the multilingual /
    multi-source resampling rule (the p^alpha upsampling used for
    low-resource balance): w_d = p_d^alpha / sum(p^alpha) where
    p_d is the domain's share of documents. alpha=1 keeps natural
    proportions, alpha→0 approaches uniform; `boost` is the
    resulting per-document over/under-sampling rate (w_d / p_d).

    Two tiny aggregates over one exchange on the domain key; the
    normalizers ride in as one-row broadcast scalars — at 100 TB the
    only corpus-wide pass is the count, which combines map-side.
    Columns: <domain_col>, n_docs, p, w, boost (round 6).
    """
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_docs"))
    pa = counts.withColumn(
        "pa", F.pow(F.col("n_docs").cast("double"), F.lit(alpha)))
    tot = pa.agg(F.sum("n_docs").cast("double").alias("n_total"),
                 F.sum("pa").alias("z"))
    p = F.col("n_docs") / F.col("n_total")
    w = F.col("pa") / F.col("z")
    return (pa.crossJoin(F.broadcast(tot))
            .select(domain_col, "n_docs",
                    F.round(p, 6).alias("p"),
                    F.round(w, 6).alias("w"),
                    F.round(w / p, 6).alias("boost")))


def grouped_split(df: DataFrame, *, group_col: str) -> DataFrame:
    """Leakage-safe 80/10/10 train/val/test split: the split is assigned to
    the GROUP (domain, source, url-host, near-dup cluster id...),
    never the row — every document of a group lands in the same
    split, so templated near-copies can't straddle train and eval
    (the contamination mode a doc-level split invites; the
    group-aware counterpart of queries.train_val_test_split).

    Pure map on md5('split-v1':group) — join-free, RNG-free, stable as
    the corpus grows: new members of an existing group inherit its
    split. Columns: the input's + split.
    """
    from parlerproject_spark.functions.text import stable_hash31

    bucket = stable_hash31(
        F.concat_ws(":", F.lit("split-v1"), F.col(group_col).cast("string"))
    ) % 100
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val")
             .otherwise("test"))
    return df.withColumn("split", split)


def sample_to_token_budget(docs: DataFrame, weights: DataFrame, *,
                           budget_tokens: int,
                           domain_col: str = "source",
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Deterministic mixture sampling to a TOKEN budget — the
    materialization step after domain_mix_weights: given per-domain
    mixture weights (columns: <domain_col>, w summing to 1) and a
    total token budget, emit the documents that fill each domain's
    share (budget x w_d tokens), chosen in md5('budget-v1':id) order so the
    sample is reproducible, engine-replayable, and growth-stable
    (adding new docs never evicts an already-chosen doc with a
    smaller hash... it can only push out the tail).

    A doc is kept iff its domain's running token total INCLUDING it
    stays within the domain budget (strict knapsack-prefix rule —
    the first doc that would cross the line is dropped, as is
    everything after it in hash order).

    Plan: token counts are a narrow map; the weights table is tiny
    (one row per domain) and BROADCASTS; the one shuffle is the
    per-domain cumulative-sum window. A pathologically hot domain
    concentrates its cumsum in one task — at extreme scale split
    that window into block prefix-sums (the pack_sequences shard
    trick); domains in practice are few and bounded.
    Columns: <id_col>, <domain_col>, n_toks.
    """
    from parlerproject_spark.functions.text import token_count

    key = F.md5(F.concat_ws(":", F.lit("budget-v1"),
                            F.col(id_col).cast("string")))
    toked = docs.select(
        F.col(id_col), F.col(domain_col),
        token_count(text_col).cast("long").alias("n_toks"),
        key.alias("__k"))
    w = Window.partitionBy(domain_col).orderBy("__k")
    cum = toked.withColumn("__cum", F.sum("n_toks").over(w))
    budgeted = cum.join(
        F.broadcast(weights.select(domain_col,
                                   (F.lit(float(budget_tokens))
                                    * F.col("w")).alias("__budget"))),
        domain_col)
    return (budgeted.filter(F.col("__cum") <= F.col("__budget"))
            .select(id_col, domain_col, "n_toks"))


def mixture_weights(docs: DataFrame, *, group_col: str = "source",
                    text_col: str = "text",
                    alpha: float = 0.7) -> DataFrame:
    """Temperature-scaled data-mixture weights per source domain —
    the multilingual/multi-domain sampling scheme of GPT-3 / XLM-R
    (w_g ∝ p_g^alpha): raw token share p_g is flattened with
    exponent alpha < 1 so small domains are up-sampled, then a
    1M-token budget is apportioned and re-expressed as epochs over
    each domain (epochs > 1 ⇒ the domain will repeat).

    One token-count aggregation over the corpus (the groupBy is on
    the domain key — cardinality is domains, not documents), then
    pure scalar algebra on the domain-row table joined against its
    own 1-row total via a broadcast cross join (the scalar-subquery
    pattern used throughout the engine). Nothing here scales with
    corpus size except the one count pass.
    Columns: <group>, n_tokens, p_raw, weight (round 6), budget_tokens
    (long), epochs (round 6).
    """
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    per = (docs.groupBy(group_col)
           .agg(F.sum(toks).cast("long").alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").alias("tt"))
    per = per.crossJoin(F.broadcast(tot))
    per = per.withColumn("p_raw", F.col("n_tokens") / F.col("tt")) \
             .withColumn("pa", F.pow(F.col("p_raw"), F.lit(alpha)))
    norm = per.agg(F.sum("pa").alias("z"))
    per = per.crossJoin(F.broadcast(norm))
    w = F.col("pa") / F.col("z")
    return (per
            .withColumn("weight", F.round(w, 6))
            .withColumn("budget_tokens",
                        F.round(w * F.lit(1_000_000.0), 0)
                        .cast("long"))
            .withColumn("epochs",
                        F.round(w * F.lit(1_000_000.0)
                                / F.col("n_tokens"), 6))
            .select(group_col, "n_tokens", F.round("p_raw", 6).alias("p_raw"),
                    "weight", "budget_tokens", "epochs"))


def epochs_to_exhaust(docs: DataFrame, *, group_col: str = "source",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Data-constrained scaling audit per source (round 13 —
    Muennighoff et al. 2023, "Scaling Data-Constrained Language
    Models"): how many EPOCHS of each source a training run will
    consume once (a) exact duplicates stop contributing new tokens
    and (b) the mixture up-samples small sources. mixture_weights
    reports epochs over RAW token mass; this is the honest version
    — effective tokens are the canonical-document tokens only
    (md5-fingerprint dedup, min-id canonical, so a doc duplicated
    ACROSS sources counts once, in the canonical copy's source),
    the budget is 4 × total effective tokens (their ~4-epoch value
    plateau), apportioned by the same τ = 0.7 temperature share every
    mixture query here uses. A source
    whose epochs exceed the plateau is being repeated past the
    point of diminishing returns — shrink its weight or find more
    data.

    Shape: ONE corpus scan → fingerprint exchange (row_number per
    fingerprint marks canonicals) → per-source aggregation
    (domains-row table) → broadcast scalar algebra. Nothing scales
    with the corpus but the one scan + one keyed exchange.

    Columns: <group_col>, n_docs, raw_tokens, effective_tokens,
    dup_token_share, budget_share, epochs (round 6),
    over_plateau (boolean on the ROUNDED epochs, so both engines
    flag identically at the boundary).
    """
    from parlerproject_spark.functions.text import (fingerprint_md5,
                                                    token_count)
    fp = docs.select(F.col(group_col).alias("g"),
                     F.col(id_col).alias("i"),
                     fingerprint_md5(text_col).alias("f"),
                     token_count(text_col).alias("n_tok"))
    rn = F.row_number().over(Window.partitionBy("f").orderBy("i"))
    marked = fp.withColumn("rn", rn)
    per = (marked.groupBy("g")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("raw_tokens"),
                F.sum(F.when(F.col("rn") == 1, F.col("n_tok"))
                      .otherwise(F.lit(0)))
                .cast("long").alias("effective_tokens")))
    tot = per.agg(
        F.sum(F.pow(F.col("effective_tokens").cast("double"),
                    F.lit(0.7))).alias("z"),
        F.sum("effective_tokens").cast("double").alias("eff_total"))
    share = (F.pow(F.col("effective_tokens").cast("double"), F.lit(0.7))
             / F.col("z"))
    epochs = F.round(
        F.lit(4.0) * F.col("eff_total") * share
        / F.col("effective_tokens"), 6)
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("g").alias(group_col),
                    "n_docs", "raw_tokens", "effective_tokens",
                    F.round(1.0 - F.col("effective_tokens")
                            / F.col("raw_tokens"), 6)
                    .alias("dup_token_share"),
                    F.round(share, 6).alias("budget_share"),
                    epochs.alias("epochs"),
                    (epochs > F.lit(4.0)).alias("over_plateau")))


def weighted_reservoir_sample(df: DataFrame, k: int, *,
                              id_col: str = "doc_id",
                              weight_col: str = "n_chars") -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of size k —
    the Efraimidis–Spirakis A-ES reservoir scheme as a relational
    op: each row draws u = md5-uniform('wrs-v1':id) and is ranked by
    u^(1/w); the k largest keys ARE a weighted sample without
    replacement (the classic one-pass result, here with the
    deterministic-uniform twist every sampling op in this engine
    uses so reruns and the SQL oracle reproduce the sample exactly).
    Ranking uses the monotone-equivalent ln(u)/w (descending) —
    no pow(), and the key is rounded (6 dp, id tiebreak) so the
    order-statistic cut is engine-stable.

    Scale shape: a pure per-row projection (scan-stage codegen)
    followed by a global top-k — TakeOrderedAndProject, k rows per
    partition then k at the driver, never a global sort. Zero or
    negative weights are excluded (they have no sampling mass).

    Columns: <id_col>, weight, key (round 6).
    """
    u = ((F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("wrs-v1"), F.col(id_col))), 1, 8), 16, 10)
        .cast("bigint") + 1) / F.lit(float(2 ** 32)))
    # + 0.0 folds round's -0.0 to 0.0 (ln(u)/w rounds to zero for
    # huge weights; -0.0 vs 0.0 breaks cross-engine value hashes)
    key = F.round(F.log(u) / F.col(weight_col), 6) + F.lit(0.0)
    return (df.filter(F.col(weight_col) > 0)
            .select(F.col(id_col),
                    F.col(weight_col).cast("double").alias("weight"),
                    key.alias("key"))
            .orderBy(F.col("key").desc(), F.col(id_col).asc())
            .limit(k))


def negative_sampling_draws(docs: DataFrame, n_draws: int, *,
                            text_col: str = "text",
                            min_count: int = 5) -> DataFrame:
    """Deterministic draws from the unigram^0.75 noise distribution
    — word2vec/contrastive-training negative sampling (Mikolov et
    al. 2013), as a relational op: vocabulary counts → tempered
    weights → cumulative bounds → inverse-CDF range join.

    Exactness contract: the 0.75 temper is computed as
    sqrt(c)·sqrt(sqrt(c)) — sqrt is IEEE-exactly-rounded in every
    libm, where pow(c, 0.75) is not, so both engines build the SAME
    cumulative table bit-for-bit. The running bounds accumulate in
    token order (a window over the min_count-CUT vocabulary — a
    bounded extract, not the corpus), the total is max(hi) (order-
    insensitive), and each draw's uniform comes from md5('neg-v1':i).

    The draws-to-bucket match is a range join against the BROADCAST
    vocabulary bounds — at any corpus scale the vocab after the
    min_count cut is the bounded side, the draws stream.

    Columns: draw_id, token.
    """
    from parlerproject_spark.functions.text import tokenize

    counts = (docs.select(F.explode(tokenize(text_col)).alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
              .filter(F.col("c") >= min_count))
    w = F.sqrt(F.col("c")) * F.sqrt(F.sqrt(F.col("c")))
    run = Window.orderBy("token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    bounds = (counts.withColumn("__w", w)
              .withColumn("hi", F.sum("__w").over(run))
              .withColumn("lo", F.col("hi") - F.col("__w"))
              .select("token", "lo", "hi"))
    total = bounds.agg(F.max("hi").alias("__W"))
    spark = docs.sparkSession
    u = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("neg-v1"), F.col("draw_id"))), 1, 8), 16, 10)
        .cast("bigint") / F.lit(float(2 ** 32))) * F.col("__W")
    draws = (spark.range(n_draws)
             .select(F.col("id").alias("draw_id"))
             .crossJoin(F.broadcast(total))
             .select("draw_id", u.alias("__u")))
    return (draws.join(F.broadcast(bounds),
                       (F.col("__u") >= F.col("lo"))
                       & (F.col("__u") < F.col("hi")))
            .select("draw_id", "token"))


def leakage_safe_split(df: DataFrame, pairs: DataFrame, *,
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup-aware train/val/test split: the unit of assignment is
    the NEAR-DUPLICATE CLUSTER, so no two near-copies can straddle
    train and eval — the split-time half of decontamination (a plain
    doc-hash split leaks every templated near-copy; grouped_split
    needs a grouping COLUMN, this derives it from similarity).

    `pairs` is any near-dup pair table (id_a, id_b, ...) — n-gram
    Jaccard, MinHash, fingerprint containment, embedding cosine — so
    the leakage definition composes with every pair generator the
    engine has. Clusters come from `dedup.duplicate_clusters`
    (min-label + pointer jumping, ids-only shuffles); documents in no
    pair are their own singleton cluster via one left join, and the
    split is grouped_split's md5('split-v1':cluster) 80/10/10 map —
    deterministic, join-free past the one cluster attach, stable as
    the corpus grows. Columns: <id_col>, cluster_id, split.
    """
    from parlerproject_spark.operators.dedup import duplicate_clusters

    cl = duplicate_clusters(pairs)
    base = (df.select(F.col(id_col))
            .join(cl.withColumnRenamed("doc_id", id_col), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("cluster_id", F.col(id_col))
                    .alias("cluster_id")))
    return grouped_split(base, group_col="cluster_id")


def curriculum_order(df: DataFrame, *, id_col: str, band_col: str,
                     shards: int = 16,
                     seed: str = "curr-v1") -> DataFrame:
    """Curriculum training order: a global 0-based position that
    visits difficulty bands in ascending order with a deterministic
    md5 shuffle inside each band — the easy→hard data schedule
    (curriculum learning), produced WITHOUT a global sort.

    `band_col` is any precomputed integer difficulty band (length
    band, perplexity bucket, quality decile). The global index is
    `stats._bucketed_prefix_sum` of 1 with the (band, shard) cell as
    the bucket: docs hash into `shards` independent streams per band,
    the cell offsets are a running sum over the ≤B·S-row cell-count
    table, and the in-cell position is a `partitionBy(band, shard)`
    running count in seeded md5 key order. Equivalent to
    row_number() over (order by band, shard, md5(seed:id), id) - 1,
    but every corpus shuffle is keyed and the only single-partition
    structure is the B·S-cell count table. One keyed exchange for the
    window, one map-side-combined cell count (a second narrow scan)
    and the tiny offset window.

    Columns: <id_col>, <band_col>, shard, order_idx.
    """
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    staged = df.select(
        F.col(id_col), F.col(band_col).cast("long").alias(band_col),
        (stable_hash31(F.col(id_col).cast("string")) % shards)
        .cast("int").alias("shard"),
        key.alias("__key"))
    return (_bucketed_prefix_sum(staged, keys=[], buckets=[band_col, "shard"],
                                 order=["__key", id_col], weight=F.lit(1))
            .select(id_col, band_col, "shard",
                    F.col("__before").alias("order_idx")))


def length_bucket_batches(docs: DataFrame, *, id_col: str,
                          tokens_col: str, batch_size: int = 32,
                          bucket_width: int = 64, n_buckets: int = 32,
                          shards: int = 8) -> DataFrame:
    """Length-bucketed inference/training batching with a padding-
    efficiency report: docs bucket by token count, batch ids form
    inside each (bucket, shard) stream, and each batch reports how
    much of its padded token rectangle is real tokens — the batch
    construction that keeps short docs from being padded to the
    longest doc in the corpus.

    Deterministic (md5('lbb-v1':id) order inside buckets) and parallel:
    the shard salt keeps a popular length bucket from becoming one
    window partition (same salting as pack_sequences). One keyed
    exchange; per-batch aggregation combines map-side.

    Columns: bucket, shard, batch_id, n_docs, max_tokens,
    sum_tokens, pad_efficiency (= sum/(n·max), 1.0 = zero waste).
    """
    key = F.md5(F.concat_ws(":", F.lit("lbb-v1"),
                            F.col(id_col).cast("string")))
    bucket = F.least(F.floor(F.col(tokens_col) / bucket_width),
                     F.lit(n_buckets - 1)).cast("long")
    staged = docs.select(
        F.col(id_col), F.col(tokens_col).alias("__t"),
        bucket.alias("bucket"),
        (stable_hash31(F.col(id_col).cast("string")) % shards)
        .cast("int").alias("shard"),
        key.alias("__key"))
    w = Window.partitionBy("bucket", "shard").orderBy("__key", id_col)
    batched = staged.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"))
    return (batched.groupBy("bucket", "shard", "batch_id")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.max("__t").cast("long").alias("max_tokens"),
                 F.sum("__t").cast("long").alias("sum_tokens"),
                 F.round(F.sum("__t")
                         / (F.count("*") * F.max("__t")), 6)
                 .alias("pad_efficiency")))


def uncertainty_diverse_batch(df: DataFrame, *, k: int,
                              per_group_cap: int,
                              score_col: str = "score",
                              group_col: str = "source",
                              id_col: str = "doc_id") -> DataFrame:
    """Active-learning batch selection — uncertainty sampling with a
    diversity cap: rank rows by distance of the classifier score
    from 0.5 (most uncertain first), keep at most `per_group_cap`
    per group so one domain can't fill the batch, then cut the
    global top-k. The standard label-budget allocator for improving
    a quality classifier: label where the model is least sure, but
    spread across sources.

    Shape: one group-partitioned row_number window (the cap), then a
    distributed TakeOrdered k-cut — the single-partition structure
    is exactly k rows at any corpus size. Determinism: uncertainty
    compares the ROUNDED (6 dp) distance with ascending-id
    tie-break, so the batch is replayable cross-engine.

    Columns: <id_col>, <group_col>, score (round 6),
    uncertainty (round 6, higher = more uncertain).
    """
    s = F.col(score_col).cast("double")
    unc = F.round(0.5 - F.abs(s - 0.5), 6)
    base = df.select(F.col(id_col), F.col(group_col),
                     F.round(s, 6).alias("score"),
                     unc.alias("uncertainty"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("uncertainty").desc(), F.col(id_col).asc())
    capped = (base.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= per_group_cap).drop("__rn"))
    return (capped.orderBy(F.col("uncertainty").desc(),
                           F.col(id_col).asc())
            .limit(k))


def assemble_dialogues(events: DataFrame, *, key_col: str = "user_id",
                       ts_col: str = "ts", id_col: str = "event_id",
                       turn_col: str = "turn",
                       max_turns: int | None = None) -> DataFrame:
    """Conversation/dialogue assembly — the step that turns an event
    or message log into chat-format training rows: sessionize the
    per-key timeline (relational.sessionize's lag+running-sum at its
    30-minute gap, one exchange + one sort), keep the FIRST
    `max_turns` turns of each session (context-window truncation is
    part of the data contract, not an afterthought), and concatenate the ordered turns into one
    " | "-joined transcript string per session.

    `turn_col` is a caller-provided STRING column (the formatted
    turn — role tag, template, whatever the recipe says); the
    operator owns ordering, sessionization, truncation and assembly,
    not formatting.

    Scale shape: the rank/truncate windows ride the SAME (key, ts,
    id) exchange sessionize already made, and the per-session
    aggregation is sort_array(collect_list(struct(rn, turn))) —
    bounded by max_turns (or session length) per group, never a
    corpus-wide sort. Columns: <key_col>, session_no, n_turns,
    transcript, n_chars.
    """
    from parlerproject_spark.operators.relational import sessionize

    sess = sessionize(events, key_col=key_col, ts_col=ts_col,
                      id_col=id_col)
    w = Window.partitionBy(key_col, "session_no") \
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    ranked = sess.withColumn("__rn", F.row_number().over(w))
    if max_turns is not None:
        ranked = ranked.filter(F.col("__rn") <= max_turns)
    agg = (ranked.groupBy(key_col, "session_no")
           .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct(F.col("__rn").alias("rn"),
                                     F.col(turn_col).alias("t")))),
                        lambda x: x["t"]),
                    " | ").alias("transcript")))
    return agg.select(key_col, "session_no", "n_turns", "transcript",
                      F.length("transcript").cast("long").alias("n_chars"))


def purged_time_folds(df: DataFrame, *, ts_col: str = "ts",
                      n_folds: int = 5,
                      embargo_seconds: int = 0) -> DataFrame:
    """Purged time-series cross-validation folds with embargo
    (López de Prado 2018, "Advances in Financial ML" ch.7 — the
    standard leakage guard for models trained on temporally
    autocorrelated data): the timeline is cut into `n_folds`
    equal-width test windows; for each fold, rows inside the window
    are `test`, rows within `embargo_seconds` BEFORE the window
    start or AFTER the window end are `embargoed` (excluded from
    training — their labels/serial correlation leak across the
    boundary), and everything else is `train`.

    Time-based leakage is the third leakage mode next to the near-dup
    mode (`leakage_safe_split`) and the group mode (`grouped_split`);
    together they cover the split-time contamination surface.

    Scale shape: fold boundaries come from ONE min/max aggregate (a
    1-row broadcast — equal-WIDTH windows keep the cut an
    expression, no quantile sort); the fold assignment is a bounded
    ×n_folds explode of fold ids joined as a broadcast range table.
    No windows, no global sort — the corpus is scanned once.

    Columns: the input's + fold (1-based), role
    ('test' | 'embargoed' | 'train').
    """
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    b = df.agg(
        F.min(F.col(ts_col).cast("timestamp")).alias("__lo"),
        F.max(F.col(ts_col).cast("timestamp")).alias("__hi"))
    fold_ids = F.explode(
        F.sequence(F.lit(1), F.lit(int(n_folds)))).alias("fold")
    frame = (df.crossJoin(F.broadcast(b))
             .select("*", fold_ids))
    span = (F.unix_micros(F.col("__hi")) - F.unix_micros(F.col("__lo"))
            + F.lit(1))
    width = span / F.lit(int(n_folds))
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lo = F.unix_micros(F.col("__lo"))
    w_start = lo + (F.col("fold") - 1).cast("double") * width
    w_end = F.when(F.col("fold") == n_folds,
                   F.unix_micros(F.col("__hi")) + 1) \
        .otherwise(lo + F.col("fold").cast("double") * width)
    emb = F.lit(int(embargo_seconds) * 1_000_000)
    role = (F.when((t >= w_start) & (t < w_end), "test")
            .when((t >= w_start - emb) & (t < w_end + emb), "embargoed")
            .otherwise("train"))
    return (frame.withColumn("fold", F.col("fold").cast("long"))
            .withColumn("role", role)
            .drop("__lo", "__hi"))


def doremi_weights(domain_losses: DataFrame, *, domain_col: str = "domain",
                   loss_col: str = "loss",
                   ref_col: str = "ref_loss") -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining")
    — the Group-DRO exponentiated-gradient update over per-domain
    EXCESS loss that decides how much of each domain the next
    training mix should sample: domains where the proxy model is
    still worse than the reference (excess = max(0, loss − ref) > 0)
    gain weight multiplicatively, then the distribution renormalizes
    and mixes with uniform (the minimum-exploration smoothing of the
    paper's Algorithm 1):

        w ← w · exp(η · excess);  α ← (1−s) · w/Σw + s/k
        (η = 1, s = 0.1)

    `mixture_weights` above is the STATIC temperature-scaling
    scheme; this is the loss-adaptive one. The full DoReMi loop
    retrains the proxy between updates — that outer loop is a
    training-system concern; this operator is the data-side update
    applied 3 times to a fixed loss snapshot (with
    smoothing the rounds do not collapse into one step).

    Scale shape: the input is already per-domain (cardinality =
    domains, not corpus), so one `caching.collect_state` brings its
    k rows to the driver, the rounds are Python scalar algebra and
    the result is a literal frame. Weights re-round to 6 decimals
    each round (`round_half_up`, the lloyd/bradley_terry re-sync
    contract), so an unrolled-CTE oracle replays the fit exactly.
    Columns: <domain_col>, excess, weight (round 6).
    """
    e = F.greatest(F.col(loss_col).cast("double")
                   - F.col(ref_col).cast("double"), F.lit(0.0))
    rows = caching.collect_state(
        domain_losses.select(domain_col, e, F.round(e, 6)),
        cap=caching.MODEL_STATE_ROWS, name="doremi_weights")
    k = len(rows)
    w = [1.0 / k] * k if k else []      # no domains: nothing to weigh
    for _ in range(3):
        w1 = [x * math.exp(r[1]) for x, r in zip(w, rows)]
        z = math.fsum(w1)
        w = [round_half_up(0.9 * x / z + 0.1 / k, 6) for x in w1]
    d = domain_losses.schema[domain_col].dataType.simpleString()
    return caching.literal_frame(
        domain_losses.sparkSession,
        [(r[0], r[2], x) for r, x in zip(rows, w)],
        f"`{domain_col}` {d}, excess double, weight double")


def unimax_allocation(counts: DataFrame, *, budget: float,
                      max_epochs: float = 1.0,
                      source_col: str = "source",
                      tokens_col: str = "n_tokens") -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): spread a token
    budget as UNIFORMLY as possible across sources while capping
    every source at `max_epochs` repetitions of its own size — the
    principled multilingual/multi-domain answer to both
    proportional sampling (head domains swamp the mix) and plain
    uniform (tail domains get repeated into overfitting).

    Closed-form water-filling instead of the paper's repeat-loop:
    with caps c_i = max_epochs·n_i sorted ascending and inclusive
    cumsum, the water level t solves Σ min(c_i, t) = budget; scanning
    ascending ranks k, the first k whose candidate level
    t_k = (budget − cum_{k−1})/(N−k+1) is ≤ c_k gives t (the standard
    water-fill scan); no valid k means budget ≥ Σ caps and every
    source just gets its cap. alloc_i = min(c_i, t).

    Scale shape: `counts` is one row per SOURCE — a bounded model
    table (the corpus-sized aggregation that produces it is the
    caller's one pass) — so the ordered cumsum window and the
    struct-min selection run over dozens of rows, never the corpus.
    Ordering is total (cap, then source) so the cumsum is
    cross-engine deterministic.

    Columns: source, n_tokens, cap (6 dp), alloc (6 dp), epochs
    (6 dp = alloc/n_tokens), capped.
    """
    from pyspark.sql.window import Window

    if budget < 0:
        raise ValueError("budget must be >= 0")
    base = counts.select(
        F.col(source_col).alias("source"),
        F.col(tokens_col).cast("double").alias("n_tokens"),
        (F.col(tokens_col).cast("double") * F.lit(float(max_epochs)))
        .alias("cap"))
    w = Window.orderBy("cap", "source")
    ranked = (base
              .withColumn("__k", F.row_number().over(w).cast("long"))
              .withColumn("__cum", F.sum("cap").over(
                  w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow))))
    n_tot = base.agg(F.count(F.lit(1)).cast("double").alias("__N"))
    cand = (ranked.crossJoin(F.broadcast(n_tot))
            .withColumn("__t", (F.lit(float(budget))
                                - (F.col("__cum") - F.col("cap")))
                        / (F.col("__N") - F.col("__k") + 1.0)))
    level = (cand.filter(F.col("__t") <= F.col("cap"))
             .agg(F.min(F.struct("__k", "__t")).alias("__s"))
             .select(F.col("__s.__t").alias("__lvl")))
    out = (cand.crossJoin(F.broadcast(level))
           .withColumn("alloc", F.when(
               F.col("__lvl").isNull() | (F.col("cap") <= F.col("__lvl")),
               F.col("cap")).otherwise(F.col("__lvl"))))
    return out.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("cap", 6).alias("cap"),
        F.round("alloc", 6).alias("alloc"),
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("alloc") / F.col("n_tokens"), 6))
        .alias("epochs"),  # a zero-token source has no epoch notion
        (F.col("__lvl").isNull() | (F.col("cap") <= F.col("__lvl")))
        .alias("capped"))
