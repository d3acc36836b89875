"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious:
- exact:   md5-fingerprint groupBy (one shuffle on a short hash key).
- ngram-jaccard: shingle inverted index → candidate pairs via
  shared-shingle join → exact Jaccard verify. The join is on shingle
  hash, so only documents sharing a shingle ever meet — never a
  cross join.
- MinHash+LSH: signature via arithmetic permutations of a
  md5-derived base hash (oracle-reproducible, unlike Spark's
  xxhash), banded so candidate generation is a groupBy on
  (band, band-signature) — the 100 TB path: cost scales with
  near-duplicate density, not corpus².
- SimHash: 32-bit sign-vote fingerprint; hamming buckets by prefix.

All hashes derive from functions.text.stable_hash31 so the DuckDB
oracle can replay them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import fixpoint, session_broadcast
from parlerproject_spark.functions.py_udfs import round_half_up
from parlerproject_spark.functions.text import (fingerprint_md5,
                                                stable_hash31,
                                                stable_hash60, tokenize)

_P31 = 2147483647  # 2^31 - 1, Mersenne prime for the permutation family

# Fixed permutation family h_i(x) = (a_i * x + b_i) mod p. Constants
# are arbitrary-but-fixed (seeded small primes), shared with the
# oracle SQL; a_i,x < 2^31 keeps a_i*x inside signed-64 range.
MINHASH_A = [1000003, 1000033, 1000037, 1000039, 1000081, 1000099,
             1000117, 1000121, 1000133, 1000151, 1000159, 1000171]
MINHASH_B = [7, 5003, 9001, 12007, 18013, 23003,
             29009, 31013, 37003, 41011, 43013, 47017]


def exact_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content fingerprint.

    Returns one row per duplicated fingerprint: fp, dup_count,
    canonical_id (min id — deterministic representative). groupBy on
    the 32-char fingerprint: a single shuffle of (fp, id) pairs, ~40
    bytes/row at any scale.
    """
    return (docs.select(fingerprint_md5(text_col).alias("fp"),
                        F.col(id_col).alias("doc_id"))
            .groupBy("fp")
            .agg(F.count("*").alias("dup_count"),
                 F.min("doc_id").alias("canonical_id"))
            .filter(F.col("dup_count") > 1))


def shingles(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingle hashes per document.
    Columns: doc_id, sh (31-bit shingle hash).

    The token array is projected into its own column BEFORE the gram
    transform: a lambda that captures the raw tokenize(text)
    expression re-evaluates the regex split per gram (O(tokens²) per
    doc — measured 8s for 5k docs at sf0.1; ~1s after this split).
    """
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize(text_col).alias("toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("toks")) - n),
        lambda i: F.array_join(F.slice(F.col("toks"), i + 1, n), " "),
    )
    return (toked.filter(F.size(F.col("toks")) >= n)
            .select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
            .select("doc_id", stable_hash31(F.col("gram")).alias("sh")))


def capped_shingles(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    max_df: int = 128) -> DataFrame:
    """Shingle table with hub shingles (document frequency > max_df)
    removed — the mandatory prelude to any inverted-index self-join.

    A shingle shared by d documents emits d² candidate pairs from the
    join; a stopword trigram ("of the people") at corpus scale makes
    d ≈ corpus, i.e. a de-facto cross join. High-df shingles carry no
    near-dup signal (common-phrase mass), so dropping them BEFORE the
    join bounds join output to max_df × |shingles| without touching
    the pairs a near-dup system cares about. Same cap, same reason,
    as text_analysis.fingerprint_overlap's max_df. At 100 TB set
    max_df relative to corpus size. Repartitioned on sh so
    ReuseExchange computes the shingle cascade once for the df count
    and both join sides.
    Columns: doc_id, sh.
    """
    raw = shingles(docs, id_col=id_col, text_col=text_col, n=n) \
        .repartition("sh")
    # The df count is a WINDOW over the exchange, not a
    # groupBy+join-back: a second aggregate branch over `raw` does
    # not canonicalize equal to the main exchange (the higher-order
    # tokenize lambdas defeat ReuseExchange), so the whole
    # tokenize→gram→hash cascade would run twice. count(*) OVER
    # (PARTITION BY sh) reads the one shuffled shingle table in
    # place — its distribution requirement is exactly the
    # repartition("sh") already there, so no extra exchange at any
    # scale (the per-partition sort on sh is the only added cost).
    df_w = F.count("*").over(Window.partitionBy("sh"))
    return (raw.withColumn("df", df_w)
            .filter(F.col("df") <= max_df)
            .select("doc_id", "sh"))


def posting_list_pairs(posting: DataFrame, key: str) -> DataFrame:
    """Candidate pairs + co-occurrence counts from a df-capped
    posting table (doc_id, <key>, n) WITHOUT an inverted-index
    self-join.

    The classic formulation self-joins the posting table on the key
    — which in Spark means the whole scan→tokenize→hash→window
    cascade runs ONCE PER JOIN SIDE (the HOF-lambda subtrees defeat
    ReuseExchange canonicalization), plus a corpus-sized shuffle for
    each side of the join (r4 verdict: the two pair queries were the
    slowest in the headline suite precisely because of this double
    compute). Because the caller has already hub-capped the index
    (df <= max_df), every posting list is BOUNDED, so pairs can be
    generated in-place: groupBy(key) → collect_list (<= max_df
    structs per key, so per-group memory is bounded by construction)
    → array expression that emits every ordered pair inside the
    list. One pass over the cascade, one exchange on the key, zero
    joins — the plan is a straight line with no diamond, so nothing
    needs persist()/checkpoint() to avoid recomputation, at any
    scale.

    Pair multiplicity matches the join exactly: lists keep duplicate
    doc_ids (hash-collision case), positional i<j pairing over the
    doc_id-sorted list emits one pair per a-row × b-row combination,
    and the id_a <> id_b filter removes the same-doc pairs the
    join's strict a.doc_id < b.doc_id predicate excluded.

    The expansion itself is two chained Generate (posexplode →
    explode-of-slice) operators, NOT a higher-order flatten/
    transform lambda: Generate + slice stay inside codegen, while
    nested HOF lambdas are interpreted per element — measured 2.5×
    slower at sf0.1 on the fingerprint index, where mid-df lists
    make the expansion the dominant cost.
    Columns: id_a, id_b, n_a, n_b, n_common.
    """
    lists = (posting.groupBy(key)
             .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n")))
                  .alias("ds")))
    ex = lists.select("ds", F.posexplode("ds").alias("i", "x"))
    pairs = (ex.select(
        "x",
        F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("y"))
        .select(F.col("x.doc_id").alias("id_a"),
                F.col("y.doc_id").alias("id_b"),
                F.col("x.n").alias("n_a"),
                F.col("y.n").alias("n_b"))
        .filter(F.col("id_a") != F.col("id_b")))
    return (pairs.groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count("*").alias("n_common")))


def _persisted_pairs(postings: DataFrame, key: str) -> DataFrame:
    """Pair counts from a hub-capped posting table (<key>, doc_id):
    the one kernel behind ngram_jaccard_pairs, containment_pairs and
    text_analysis.fingerprint_overlap.

    The posting lists (groupBy(key) → sorted doc_id array; the
    caller's df cap bounds each list) ride the caller's key
    distribution with zero extra exchange, and are PERSISTED
    (memory-and-disk — they are the df-capped index, far smaller than
    the raw gram stream) so the scan + hash cascade runs once. They
    are consumed twice: (1) in-array pair expansion (posexplode →
    explode-of-slice, codegen-friendly Generates) → narrow
    (id_a, id_b) aggregation, (2) re-explode → per-doc list counts,
    joined back onto the AGGREGATED pairs (joins over pair rows, not
    the corpus). Duplicate doc_ids inside a list (two grams colliding
    to one 31-bit hash) survive both, so pair multiplicity and |A|
    match the SQL oracles' self-join bit-for-bit.

    Cache lifetime: the lazy API cannot know when the caller is done,
    so the lists outlive the call; `caching.release_all` drops them at
    the session (or query) boundary.
    Columns: id_b, id_a, n_common, n_a, n_b (id_a < id_b).
    """
    from pyspark import StorageLevel

    lists = (postings.groupBy(key)
             .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    ex = lists.select("ds", F.posexplode("ds").alias("i", "id_a"))
    pairs = (ex.select(
        "id_a",
        F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("n_common")))
    ns = (lists.select(F.explode("ds").alias("doc_id"))
          .groupBy("doc_id").agg(F.count("*").alias("n")))
    return (pairs
            .join(ns.select(F.col("doc_id").alias("id_a"),
                            F.col("n").alias("n_a")), "id_a")
            .join(ns.select(F.col("doc_id").alias("id_b"),
                            F.col("n").alias("n_b")), "id_b"))


def _jaccard() -> Column:
    return F.round(F.col("n_common")
                   / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)


def ngram_jaccard_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int = 128) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity over
    the max_df-capped shingle universe.

    Inverted-index pair generation: pairs meet only through shared
    shingles, so candidate count tracks actual overlap — PROVIDED
    hub shingles are capped first (see capped_shingles; an uncapped
    hub shingle in d docs is a d² blowup no AQE skew-split can
    shrink). Jaccard is computed over retained shingles on both
    sides, so the capped universe is self-consistent and the oracle
    mirrors it exactly.

    Plan shape: the shingle stream crosses exactly TWO full-width
    exchanges (spread + sh); the df cap is a window over the sh
    exchange and _persisted_pairs' posting-list groupBy(sh) rides the
    SAME distribution (zero extra exchange). The earlier formulation
    ping-ponged the corpus sh → doc_id → sh (three exchanges) just to
    carry each doc's shingle count on every pair row.
    Columns: id_a, id_b (id_a < id_b), jaccard.
    """
    from parlerproject_spark.operators.layout import spread_input

    # The tokenize cascade is compute-bound: make sure it isn't
    # serialized on a handful of scan splits (no-op at scale).
    sh = capped_shingles(spread_input(docs), id_col=id_col,
                         text_col=text_col, n=n, max_df=max_df)
    return (_persisted_pairs(sh, "sh")
            .withColumn("jaccard", _jaccard())
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def containment_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8,
                      max_df: int = 128) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram overlap coefficient
    (round 13): containment = |A∩B| / min(|A|, |B|) over the
    max_df-capped shingle universe. Symmetric Jaccard misses the
    sub-document case — a short doc copied whole into a long one
    (quote-with-commentary, article + aggregator wrapper, a README
    embedded in a repo dump) has Jaccard ≈ |A|/|B| → 0 but
    containment ≈ 1. Dedup passes that only score Jaccard keep both
    copies; this is the companion pass that catches the asymmetric
    duplication (the containment variant of Broder's resemblance,
    the same distinction MassiveText/Gopher draw between 'similar'
    and 'contained' documents).

    Plan shape is ngram_jaccard_pairs' exactly (one tokenize
    cascade, then _persisted_pairs). Jaccard rides along on every
    emitted row so the consumer can tell near-identical pairs (both
    high) from true containment (containment high, jaccard low).

    Columns: id_a, id_b (id_a < id_b), containment, jaccard
    (both round 6).
    """
    from parlerproject_spark.operators.layout import spread_input

    sh = capped_shingles(spread_input(docs), id_col=id_col,
                         text_col=text_col, n=n, max_df=max_df)
    return (_persisted_pairs(sh, "sh")
            .withColumn("containment", F.round(
                F.col("n_common") / F.least("n_a", "n_b"), 6))
            .withColumn("jaccard", _jaccard())
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment", "jaccard"))


def duplicate_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 8,
                       symmetric: bool = False) -> DataFrame:
    """Connected components over near-duplicate pairs → one cluster
    id (the minimum member id) per document. This is the step every
    dedup pipeline runs after pair generation: pairs (a,b),(b,c) must
    collapse into ONE keep-set {a}, not two independent decisions.

    Distributed min-label propagation with pointer jumping: each
    iteration (1) takes the min label over graph neighbors — the
    edge list carries a SELF-LOOP per vertex, so one join + one
    groupBy yields least(own, neighbor-min) directly (no second
    corpus-sized left_outer re-join against the label table) — and
    (2) path-halves TWICE through the label table itself
    (lbl(v) := min(lbl(v), lbl(lbl(v))), applied twice = path
    quartering), so convergence needs ~½·O(log diameter)
    iterations; max_iter=8 covers diameters into the tens of
    thousands. Only (id, id) pairs ever shuffle.

    `caching.fixpoint` checkpoints the label table each iteration:
    the pointer-jump self-join references it twice, so without
    lineage truncation the logical plan doubles per iteration
    (exponential analysis time — the trap GraphX checkpoints
    around). Constructing the operator runs jobs by design.

    Fixed-point detection: labels are per-vertex monotone
    non-increasing (every update is a least() including the current
    label), so for INTEGRAL ids the label-table sum strictly
    decreases until the fixed point — comparing one decimal(38,0)
    sum per iteration replaces a changed-rows count (decimal38 holds
    ~1e12 rows of max-bigint ids without overflow). Non-integral ids
    (strings, floats) don't cast losslessly to decimal, so they use
    a changed-rows probe between consecutive checkpoints instead.
    No fixed point within `max_iter` iterations raises RuntimeError
    (split clusters would be a silent wrong answer — ADVICE r2).
    Columns: doc_id, cluster_id.
    """
    if symmetric:
        # caller guarantees the pair list already contains both
        # directions with no duplicates (e.g. dbscan's ε-graph,
        # derived from a cheap checkpoint) — skip the big distinct;
        # only the self-loop branch (one per distinct src) dedupes
        edges = pairs.select(F.col(id_a).alias("src"),
                             F.col(id_b).alias("dst"))
        verts = edges.select(F.col("src").alias("v")).distinct()
        edges_sl = (edges.union(verts.select(F.col("v").alias("src"),
                                             F.col("v").alias("dst")))
                    .localCheckpoint(eager=True))
    else:
        # ONE traversal of the (possibly expensive, lazily derived)
        # pair plan: explode each row into both directions plus both
        # self-loops, then one distinct. The fwd∪rev + verts-subquery
        # formulation referenced the input plan three times and
        # Catalyst does not collapse them (ReuseExchange misses HOF/
        # cache subtrees) — measured 4.4 s → 1.5 s on CC over the
        # lazy ngram-Jaccard pairs at sf0.1.
        sa, sb = F.col(id_a), F.col(id_b)
        edges_sl = (pairs.select(F.explode(F.array(
                        F.struct(sa.alias("src"), sb.alias("dst")),
                        F.struct(sb.alias("src"), sa.alias("dst")),
                        F.struct(sa.alias("src"), sa.alias("dst")),
                        F.struct(sb.alias("src"), sb.alias("dst"))))
                        .alias("e"))
                    .select("e.src", "e.dst")
                    .distinct()
                    .localCheckpoint(eager=True))
    seed = (edges_sl.select(F.col("src").alias("v")).distinct()
            .select("v", F.col("v").alias("lbl")))

    def propagate(labels):
        cur = (edges_sl.join(labels, edges_sl["dst"] == labels["v"])
               .groupBy("src").agg(F.min("lbl").alias("lbl"))
               .select(F.col("src").alias("v"), "lbl"))
        for _jump in range(2):
            y = cur.select(F.col("v").alias("__yv"),
                           F.col("lbl").alias("__ylbl"))
            cur = (cur.join(y, cur["lbl"] == y["__yv"], "left_outer")
                   .select(cur["v"],
                           F.least(cur["lbl"],
                                   F.coalesce(F.col("__ylbl"), cur["lbl"]))
                           .alias("lbl")))
        return cur

    # The sum probe is only sound for INTEGRAL ids: strings cast to
    # decimal(38,0) as NULL (None == None would fake a fixed point with
    # split clusters — ADVICE r8) and fractional floats alias under the
    # truncation. Other ids join two checkpoints for a changed row;
    # round 1 has only the seed to compare with, so it skips the probe.
    from pyspark.sql.types import IntegralType
    if isinstance(seed.schema["lbl"].dataType, IntegralType):
        prev_sum = object()  # equal to no round's sum

        def converged(_prev, cur):
            nonlocal prev_sum
            s = (cur.agg(F.sum(F.col("lbl").cast("decimal(38,0)")))
                 .collect()[0][0])
            done, prev_sum = s == prev_sum, s
            return done
    else:
        def converged(prev, cur):
            if prev is seed:
                return False
            p = prev.select(F.col("v").alias("__pv"),
                            F.col("lbl").alias("__plbl"))
            return (cur.join(p, cur["v"] == p["__pv"])
                    .where(F.col("lbl") != F.col("__plbl"))
                    .limit(1).count()) == 0
    labels = fixpoint(seed, propagate, rounds=max_iter,
                      name="duplicate_clusters", converged=converged)
    return labels.select(F.col("v").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def exact_substring_spans(docs: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 8,
                          min_count: int = 2) -> DataFrame:
    """Maximal exactly-duplicated token spans — the exact-substring
    dedup pass of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), re-shaped from their suffix array (a
    global sorted structure Spark should not build) into three keyed
    stages that scale like every other dedup op here:

      1. rolling token k-grams per position (zero-shuffle array expr),
      2. grams with corpus-wide occurrence >= min_count (one groupBy +
         one join back on the gram hash),
      3. per-doc gaps-and-islands merge of surviving [pos, pos+k-1]
         intervals into maximal spans (one window over the doc key).

    A span is reported when EVERY k-window inside it is duplicated
    somewhere in the corpus (including elsewhere in the same doc) —
    k is the minimum match length, spans grow to the full repeated
    run. Columns: <id_col>, start_tok (0-based), end_tok (inclusive),
    n_tokens. Callers cut or mask the spans; the reference keeps docs
    whole, so this op only REPORTS.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokenize(text_col).alias("ts"))
    n = F.size("ts")
    # gram hash at each 0-based start position (md5 of the k tokens
    # joined by space — the oracle rebuilds it verbatim)
    grams = toks.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.md5(F.concat_ws(
                " ", F.slice(F.col("ts"), i + 1, k)))))
        .alias("pos", "g")).filter(n >= k)
    counts = grams.groupBy("g").agg(F.count("*").alias("c")) \
        .filter(F.col("c") >= min_count)
    dup = grams.join(counts.select("g"), "g").select("doc_id", "pos")
    # islands: a fixed-length interval [pos, pos+k-1] merges with the
    # previous one iff pos <= prev_pos + k (overlap or contiguity)
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "new_island",
        F.when(F.col("pos") > F.lag("pos").over(w) + k, 1)
         .when(F.lag("pos").over(w).isNull(), 1).otherwise(0))
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("start_tok"),
                 (F.max("pos") + k - 1).alias("end_tok"))
            .select(F.col("doc_id").alias(id_col),
                    "start_tok", "end_tok",
                    (F.col("end_tok") - F.col("start_tok") + 1)
                    .alias("n_tokens")))


def cut_substring_spans(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        min_count: int = 2) -> DataFrame:
    """Exact-substring dedup, APPLIED: remove every token covered by
    a duplicated span (exact_substring_spans) and reassemble the
    survivors — the cutting step of Lee et al. 2021 that their
    pipeline runs after span detection (their released pass cuts all
    occurrences of a duplicated run; any copy worth keeping
    re-enters via shorter unique context).

    Shape (round-13 restructure, was 4 corpus scans / 6 shuffles):
    ONE per-position stream carries BOTH the token and the k-gram
    hash starting at that position (null for the k-1 tail positions),
    so the duplicated-gram count table and the cutting pass read the
    same exploded scan. Coverage is a rows-window test — position p
    is inside a duplicated span iff some duplicated gram STARTS in
    [p-k+1, p] (`max(dup) over rows k-1 preceding`), which equals the
    exact_substring_spans island union by construction — and the
    final doc-keyed agg rebuilds survivors via sort-by-position
    structs (per-doc arrays, never a global sort). Two corpus scans
    statically, one under AQE exchange reuse; the only wide ops are
    the gram-keyed count+join and the doc-keyed window/agg.
    Reassembly normalizes whitespace/punctuation to single spaces —
    the same canonical form every other tokenize-based operator here
    scores, so downstream stages see consistent text.

    Columns: <id_col>, clean_text ('' when fully duplicated),
    n_kept, n_removed.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokenize(text_col).alias("ts"))
    n = F.size("ts")
    # per-position gram hash, padded with nulls so it zips 1:1 with
    # the token array (positions past n-k start no full gram)
    gs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(
            i <= n - k + 1,
            F.md5(F.concat_ws(" ", F.slice(F.col("ts"), i, k)))))
    stream = (toks.filter(n >= 1)
              .select("doc_id",
                      F.posexplode(F.arrays_zip(F.col("ts").alias("tok"),
                                                gs.alias("g")))
                      .alias("pos", "z"))
              .select("doc_id", "pos",
                      F.col("z.tok").alias("tok"), F.col("z.g").alias("g")))
    dup_grams = (stream.filter(F.col("g").isNotNull())
                 .groupBy("g").agg(F.count("*").alias("c"))
                 .filter(F.col("c") >= min_count)
                 .select("g", F.lit(1).alias("dup")))
    marked = stream.join(dup_grams, "g", "left")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(-(k - 1), 0))
    kept = marked.withColumn(
        "keep", F.max(F.coalesce("dup", F.lit(0))).over(w) == 0)
    return (kept.groupBy("doc_id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("keep"),
                                    F.struct("pos", "tok")))),
                         lambda s: s["tok"]), " ").alias("clean_text"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("keep"), 0).otherwise(1))
                 .cast("long").alias("n_removed"))
            .select(F.col("doc_id").alias(id_col),
                    "clean_text", "n_kept", "n_removed"))


def minhash_signatures(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 12,
                       _shingles_df: DataFrame | None = None) -> DataFrame:
    """MinHash signature per document.

    One explode over shingles, then num_hashes min-aggregates in a
    single groupBy pass (map-side combine keeps the shuffle at one
    row per doc). `_shingles_df` is internal (minhash_lsh_pairs
    shares its ReuseExchange'd shingle table across stages): when
    supplied it must be the exact output of shingles() for the same
    (docs, id_col, text_col, n), since those parameters are then
    ignored — external callers should pass docs and let this build
    the table. Columns: doc_id, h0..h{k-1}.
    """
    assert num_hashes <= len(MINHASH_A)
    if _shingles_df is not None:
        assert set(_shingles_df.columns) == {"doc_id", "sh"}, \
            "_shingles_df must be a shingles() table (doc_id, sh)"
    sh = _shingles_df if _shingles_df is not None else \
        shingles(docs, id_col=id_col, text_col=text_col, n=n)
    aggs = [
        F.min((F.col("sh") * MINHASH_A[i] + MINHASH_B[i]) % _P31).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text",
                      num_hashes: int = 12, bands: int = 4,
                      threshold: float = 0.5,
                      broadcast_candidates: bool | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH over word
    trigram shingles, then exact-Jaccard verification of candidates
    only.

    bands=4 over 12 hashes → rows_per_band=3; collision prob at
    jaccard s is 1-(1-s^3)^4 (the standard S-curve). The banding
    groupBy is the only corpus-wide shuffle; verification touches
    candidate docs only. Columns: id_a, id_b, jaccard.

    `broadcast_candidates` governs how the candidate-pair set joins
    into the shingle table: None (default) leaves the choice to AQE,
    which sees the candidate set's TRUE post-shuffle size at runtime
    and broadcasts only when it actually fits — the safe shape for a
    dirty 100 TB corpus where candidates can exceed the broadcast
    budget; True forces the broadcast hint (tiny known-clean inputs,
    saves AQE's exchange of the candidate side); False pins a shuffled
    hash join even when AQE would broadcast.
    """
    rows_per_band = num_hashes // bands
    # one shingle table, repartitioned on doc_id, feeds all four
    # consumers (signature groupBy, size groupBy, both verify sides)
    # via ReuseExchange — without the explicit exchange each branch
    # would re-run tokenize→gram→hash over the corpus
    sh = shingles(docs, id_col=id_col, text_col=text_col) \
        .repartition("doc_id")
    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col,
                             num_hashes=num_hashes, _shingles_df=sh)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.concat_ws(":", *parts).alias("key")))
    buckets = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")) \
                 .select("doc_id", "bk.band", "bk.key")
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (l.join(r, (F.col("l.band") == F.col("r.band"))
                   & (F.col("l.key") == F.col("r.key"))
                   & (F.col("l.doc_id") < F.col("r.doc_id")))
            .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
            .distinct())
    # Verify CANDIDATES ONLY — the whole point of LSH is that exact
    # Jaccard never runs corpus-wide. The candidate set is usually
    # tiny, but its size follows corpus dirtiness — see the
    # broadcast_candidates contract in the docstring.
    if broadcast_candidates is True:
        cand = F.broadcast(cand)
    elif broadcast_candidates is False:
        cand = cand.hint("shuffle_hash")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (cand
             .join(a, F.col("a.doc_id") == F.col("id_a"))
             .join(b, (F.col("b.doc_id") == F.col("id_b"))
                   & (F.col("a.sh") == F.col("b.sh")))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """32-bit SimHash fingerprint per document.

    Sign-vote per bit over token hashes, all `bits` votes in ONE
    groupBy(doc_id) pass: per bit b an independent conditional-sum
    aggregate counts Σ±1 over the doc's token hashes, and the
    fingerprint reassembles as a projection Σ (v_b > 0) << b. The
    historical formulation exploded every token row `bits`× into
    (doc, bit) vote rows and aggregated on the (doc, bit) key — a
    bits-fold intra-stage row blowup plus a second keyed aggregation,
    for what per-bit integer sums express in a single map-side-
    combinable pass (guide §2.3 aggregate-before-you-shuffle: the
    shuffle now carries one `bits`-column row per doc per map
    partition instead of `bits` rows). Vote sums are exact integers,
    so the fingerprint is bit-identical to the exploded form.
    Columns: doc_id, simhash (bigint).
    """
    if bits > 60:
        raise ValueError("simhash supports at most 60 vote bits "
                         "(the md5-prefix hash width)")
    # stable_hash31's mod zeroes bits 31+ — fingerprints wider than
    # the historical 32-bit form take the full 60-bit md5 prefix so
    # every bit votes (at bits=32 the top bit is always 0; kept for
    # oracle/back-compat of simhash_docs)
    base_hash = stable_hash31 if bits <= 32 else stable_hash60
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(tokenize(text_col)).alias("term"))
            .select("doc_id", base_hash(F.col("term")).alias("th")))
    vote_aggs = [
        F.sum(F.when(F.expr(f"shiftright(th, {b}) & 1") == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy("doc_id").agg(*vote_aggs)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0,
                     F.lit(1 << b).cast("bigint")) \
               .otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 60,
                  max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """SimHash near-duplicate pairs via banded pigeonhole (round 13
    — completes the SimHash dedup path: `simhash` emitted
    fingerprints but nothing mined pairs from them): two docs with
    hamming(sig_a, sig_b) <= max_hamming MUST share at least one of
    `bands` equal bit-bands whenever max_hamming < bands
    (pigeonhole: max_hamming differing bits cannot touch all bands),
    so candidates form ONLY inside shared (band, band-bits) buckets
    and each candidate is verified with an exact
    bit_count(xor) <= max_hamming test. This is Manku et al. 2007's
    (Google's web-dedup) probe scheme, the same
    band-join-then-verify shape as minhash_lsh_pairs.

    Shape: the signature table (16 bytes/row — the SimHash index;
    the disk form would be a band-partitioned store like
    write_minhash_store) persists and self-joins on the band key
    with each side CARRYING its signature, so the verify needs no
    third corpus pass; pair volume is bounded by bucket density —
    band width is bits/bands, and the 60-bit default (full md5
    prefix, stable_hash60) gives 15-bit bands = 32k buckets per
    band, so per-bucket population shrinks 2^width-fold as width
    grows. An 8-bit-band config (bits=32) measured 18× more
    candidate pairs on the same corpus — band width, not the
    verify threshold, is the scale lever. No all-pairs anywhere.

    Columns: id_a, id_b (id_a < id_b), hamming (long).
    """
    if not bits % bands == 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole requires max_hamming < bands "
            f"(got {max_hamming} >= {bands})")
    from pyspark import StorageLevel

    width = bits // bands
    sigs = simhash(docs, id_col=id_col, text_col=text_col, bits=bits) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")) \
        .withColumn("bv", F.expr(
            f"shiftright(simhash, cast(band * {width} as int)) "
            f"& {(1 << width) - 1}"))
    left = banded.select(F.col("doc_id").alias("id_a"),
                         F.col("simhash").alias("sig_a"), "band", "bv")
    right = banded.select(F.col("doc_id").alias("id_b"),
                          F.col("simhash").alias("sig_b"), "band", "bv")
    cand = (left.join(right, ["band", "bv"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
            .distinct())
    ham = F.bit_count(F.expr("sig_a ^ sig_b")).cast("long")
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def _pair_cosine_scorer(threshold: float):
    """mapInPandas scorer for (id_a, va, id_b, vb) pair batches: one
    vectorized cosine per batch with HALF_UP (away-from-zero)
    rounding at 6 decimals to match F.round / DuckDB round — np.round
    is half-to-even, which can differ on exact .5 boundaries."""
    import numpy as np
    import pandas as pd

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            A = np.array(pdf["va"].tolist(), dtype=np.float64)
            B = np.array(pdf["vb"].tolist(), dtype=np.float64)
            num = (A * B).sum(axis=1)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(invalid="ignore", divide="ignore"):
                sim = round_half_up(np.where(den > 0, num / den, np.nan))
            out = pd.DataFrame({"id_a": pdf["id_a"].values,
                                "id_b": pdf["id_b"].values, "sim": sim})
            yield out[out["sim"] >= threshold]

    return score


# Bounded-sides contract for the exact pair modes: exact mode is the
# all-pairs correctness oracle and is documented for BOUNDED inputs
# (an eval alignment set, one ingest batch). The collect below
# enforces that contract explicitly instead of OOMing the driver
# silently at scale: the old F.broadcast() form at least failed
# loudly past the 8 GB broadcast relation ceiling, a bare collect has
# no cap (VERDICT r13 item 3). Rows are fetched through limit(cap+1)
# so the DRIVER never holds more than cap+1 rows even when the input
# violates the contract.
_EXACT_MAX_ROWS = 1_000_000
_EXACT_MAX_BYTES = 2 << 30  # 2 GiB of float64 matrix


def _collect_bounded_partners(df, id_col: str, vec_col: str):
    """Collect the exact mode's partner side under the bounded-sides
    contract; returns (ids, vecs) lists. Raises with a clear message
    (pointing at mode='lsh') when the side exceeds the row or byte
    cap, BEFORE the driver materializes the whole side."""
    rows = df.select(id_col, vec_col).limit(_EXACT_MAX_ROWS + 1).collect()
    if len(rows) > _EXACT_MAX_ROWS:
        raise ValueError(
            f"exact mode collected more than {_EXACT_MAX_ROWS} partner "
            f"rows from '{id_col}/{vec_col}' — exact is the bounded-"
            "sides correctness oracle; use mode='lsh' for unbounded "
            "inputs")
    if rows:
        dim = len(rows[0][1])
        est = len(rows) * dim * 8
        if est > _EXACT_MAX_BYTES:
            raise ValueError(
                f"exact mode partner matrix would be ~{est >> 20} MiB "
                f"({len(rows)} rows × {dim} dims) — over the "
                f"{_EXACT_MAX_BYTES >> 20} MiB cap; use mode='lsh' for "
                "unbounded inputs")
    return [r[0] for r in rows], [r[1] for r in rows]


def _bcast_partner_matrix(spark, ids_b, vecs_b):
    """Build the partner (ids, matrix, norms) triple ONCE on the
    driver and ship it via SparkContext.broadcast — the torrent
    broadcast moves it once per executor, where a task-closure
    capture would re-ship the pickled matrix with EVERY task
    (VERDICT r13 item 3). `caching.release_all` destroys it at the
    session's next query boundary."""
    import numpy as np

    M = np.array([list(v) for v in vecs_b], dtype=np.float64)
    ids_arr = np.array(ids_b)
    norm_b = np.linalg.norm(M, axis=1) if len(M) else np.zeros(0)
    return session_broadcast(spark, (ids_arr, M, norm_b))


def _bcast_cosine_scorer(partner_bc, threshold: float, *,
                         upper: bool):
    """mapInPandas scorer for the EXACT (bounded-side) pair modes:
    the partner side rides as a driver-collected (ids, matrix, norms)
    sc.broadcast instead of being exploded into |A|×|B| wide join
    rows — the old pair join shipped BOTH dim-width vectors across
    the Python boundary PER PAIR (n²·2·dim·8 bytes of Arrow traffic;
    6.4 GB at a 2 500×2 500 sf0.1 mining query), where this form
    ships each distributed row once and the bounded matrix once per
    executor (guide §2.3 "shuffle keys and metadata instead of
    payloads" applied to the Python boundary; §8's broadcast-the-plan
    attach). Arithmetic is BIT-IDENTICAL to `_pair_cosine_scorer`:
    per row a, (va * M).sum(axis=1) performs the same elementwise
    product and the same contiguous pairwise reduction per partner
    row as the pair-batch (A * B).sum(axis=1), norms come from the
    same np.linalg.norm(·, axis=1) 2-D reduction on both sides, and
    the HALF_UP 6-dp rounding is copied verbatim.

    upper=True emits only id_a < id_b (near-dup convention, partner
    ids strictly greater); upper=False emits the full cross product
    (margin mining's src × tgt). Input rows: (id, vec); output:
    (id_a, id_b, sim) with sim >= threshold.
    """
    import numpy as np
    import pandas as pd

    def score(it):
        ids_arr, M, norm_b = partner_bc.value
        for pdf in it:
            if len(pdf) == 0 or len(ids_arr) == 0:
                continue
            A = np.array(pdf["va"].tolist(), dtype=np.float64)
            na = np.linalg.norm(A, axis=1)
            out_a, out_b, out_s = [], [], []
            for i, id_a in enumerate(pdf["id_a"].values):
                mask = ids_arr > id_a if upper else slice(None)
                Mi, bi, nbi = M[mask], ids_arr[mask], norm_b[mask]
                if len(bi) == 0:
                    continue
                num = (A[i] * Mi).sum(axis=1)
                den = na[i] * nbi
                with np.errstate(invalid="ignore", divide="ignore"):
                    sim = round_half_up(
                        np.where(den > 0, num / den, np.nan))
                keep = sim >= threshold
                if keep.any():
                    out_a.append(np.full(keep.sum(), id_a))
                    out_b.append(bi[keep])
                    out_s.append(sim[keep])
            if out_a:
                yield pd.DataFrame({"id_a": np.concatenate(out_a),
                                    "id_b": np.concatenate(out_b),
                                    "sim": np.concatenate(out_s)})

    return score


def embedding_near_dups(vectors: DataFrame, *, threshold: float,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        mode: str = "exact", num_planes: int = 6,
                        num_tables: int = 8,
                        dim: int | None = None,
                        cache_out: list | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim).

    mode='exact': all-pairs cosine — the correctness oracle, O(n²)
    by definition; use only on bounded inputs.
    mode='lsh': random-hyperplane bucketing (same deterministic plane
    family as similarity.knn_lsh) — pairs only form inside a shared
    (table, signature) bucket, then exact cosine verifies. The 100 TB
    path: cost follows near-duplicate density, recall < 1 by design
    (pytest measures it against exact). `dim` (the vector width) is
    required in lsh mode: the caller always knows it, and inferring
    it from data would fire a Spark job during plan construction.

    `cache_out`: lsh mode persists its signature table (see below);
    pass a list to receive that persisted frame so a caller that
    MATERIALIZES the pairs (e.g. dbscan's eager edge checkpoint) can
    unpersist it immediately instead of leaving the cache to the
    ContextCleaner.
    """
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    if mode == "exact":
        # the all-pairs cosine is scored VECTORIZED (the same Arrow
        # HALF_UP scorer the lsh mode verifies with — one numpy pass
        # per batch instead of an interpreted 2·dim HOF fold per pair,
        # the engine's documented hotspot shape; measured 3× at a
        # 125k-pair sample). r13: the partner side is driver-collected
        # (exact mode's documented bounded-inputs contract,
        # cap-enforced) and ships via sc.broadcast as a matrix — each
        # vector crosses the Python boundary ONCE instead of once per
        # pair, and no |pairs|-row nested-loop join of 2·dim-wide rows
        # appears in the plan. Bit-identical scoring (see
        # _bcast_cosine_scorer).
        from parlerproject_spark.operators.layout import spread_input
        ids_b, vecs_b = _collect_bounded_partners(vectors, id_col, vec_col)
        bc = _bcast_partner_matrix(vectors.sparkSession, ids_b, vecs_b)
        id_t = vectors.schema[id_col].dataType.simpleString()
        return spread_input(a).mapInPandas(
            _bcast_cosine_scorer(bc, threshold, upper=True),
            f"id_a {id_t}, id_b {id_t}, sim double")
    elif mode == "lsh":
        from parlerproject_spark.operators.similarity import _signatures_arrow
        if dim is None:
            raise ValueError(
                "mode='lsh' requires dim= (vector width); inferring it "
                "from data would launch a job during plan construction")
        # both sides of the bucket self-join read the signature table;
        # persist() so the Arrow signature pass runs once, not twice.
        # The cached unit is the (id, vec, tbl, sig) index — exactly
        # what build_lsh_index materializes to parquet at 100 TB; the
        # in-session cache is its one-shot analogue (CacheManager
        # dedupes repeated calls on the same input by plan equality)
        sig = _signatures_arrow(vectors, vec_col=vec_col, key_cols=[id_col],
                                dim=dim, num_planes=num_planes,
                                num_tables=num_tables).persist()
        if cache_out is not None:
            cache_out.append(sig)
        sl = sig.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                        "tbl", "sig")
        sr = sig.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                        "tbl", "sig")
        # score BEFORE deduplicating: verification is a cheap
        # vectorized numpy pass fused onto the bucket join (narrow —
        # a pair found in several tables is scored several times,
        # which costs microseconds), so no 2×dim float arrays ever
        # cross a shuffle; the only exchange is the dropDuplicates
        # over the tiny above-threshold (id_a, id_b, sim) survivors
        pairs = (sl.join(sr, ["tbl", "sig"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "va", "id_b", "vb"))
        id_t = vectors.schema[id_col].dataType.simpleString()
        return (pairs.mapInPandas(
                    _pair_cosine_scorer(threshold),
                    f"id_a {id_t}, id_b {id_t}, sim double")
                .dropDuplicates(["id_a", "id_b"]))
    else:
        raise ValueError(f"unknown mode: {mode}")


def semantic_dedup(vectors: DataFrame, *, threshold: float = 0.95,
                   k: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   round_c: int | None = None,
                   block: int = 2048) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic
    deduplication — k-means-cluster the vectors, form cosine >=
    threshold pairs ONLY inside each cluster, connected-component
    the pairs, keep the lowest id per component.

    This is the scale shape of the paper: the O(n²) pairwise cosine
    is confined to cluster cells (n/k rows each), so total pair work
    is ~n²/k instead of n² while near-duplicates — which cluster
    together by construction — are still found. Clustering reuses
    topics.lloyd_centroids (3 rounds, deterministic seeded init,
    rounded centroids) and topics._assign; component formation reuses
    duplicate_clusters (pointer jumping, O(log d) rounds).

    Pair generation is a vectorized prefilter plus an exact re-score.
    The within-cell gram runs per cell via applyInPandas at a
    LOOSENED threshold − 1e-6, BLOCK-WISE: the dot is computed
    un-normalized (X_blk @ Xᵀ, divided by the norm outer product) in
    row blocks of `block`, so peak memory per group is
    block × |cell| float64 rather than |cell|² (a 100k-row skewed
    cell would need ~80 GB dense). Only the surviving candidate
    pairs — near-dups, orders of magnitude fewer than all cell pairs
    — are re-scored with the JVM expression fold whose formula AND
    sequential float64 summation order match the SQL oracle's
    sum(x*y)/(sqrt(sum(x²))·sqrt(sum(y²))). The final
    `sim >= threshold` decision is therefore hash-exact while the
    O(n²/k) dot products never touch an interpreted HOF: matmul vs
    sequential fold differ by ≲ d·ulp ≈ 1e-13 ≪ the 1e-6 margin, so
    no true pair can be lost at the prefilter.

    Columns: <id_col>, cluster (k-means cell), keep (boolean —
    false = semantic duplicate of a kept earlier vector).
    """
    import numpy as np
    import pandas as pd

    from parlerproject_spark.functions.vectors import dot as _dot
    from parlerproject_spark.functions.vectors import l2_norm
    from parlerproject_spark.operators.topics import _assign, lloyd_centroids

    cents = lloyd_centroids(vectors, k=k, max_iter=3,
                            id_col=id_col, vec_col=vec_col,
                            round_c=round_c)
    assigned = (_assign(vectors, cents, id_col=id_col, vec_col=vec_col)
                .withColumnRenamed("topic", "cluster"))
    thr = threshold - 1e-6
    id_type = vectors.schema[id_col].dataType.simpleString()

    def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        X = np.array(pdf["v"].tolist(), dtype=np.float64)
        ids = pdf["vid"].to_numpy()
        n = np.linalg.norm(X, axis=1)
        ok = n > 0
        X, ids, n = X[ok], ids[ok], n[ok]
        m = len(ids)
        empty = pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        if m < 2:
            return empty
        order = np.argsort(ids)
        X, ids, n = X[order], ids[order], n[order]
        # Row-blocked gram: block × m scratch at a time, only
        # threshold HITS retained — never the dense m × m matrix.
        out = [empty]
        for s in range(0, m, block):
            e = min(s + block, m)
            S = (X[s:e] @ X.T) / np.outer(n[s:e], n)
            bi, bj = np.nonzero(S >= thr)
            gi = bi + s
            up = gi < bj           # strict upper triangle only
            out.append(pd.DataFrame({"id_a": ids[gi[up]],
                                     "id_b": ids[bj[up]]}))
        return pd.concat(out, ignore_index=True)

    cand = (assigned.select("cluster", F.col(id_col).alias("vid"),
                            F.col(vec_col).alias("v"))
            .groupBy("cluster")
            .applyInPandas(cell_pairs,
                           schema=f"id_a {id_type}, id_b {id_type}"))
    # The two corpus-side joins stay un-exchanged when AQE broadcasts
    # the candidate frame (near-dup pairs ≪ corpus by construction);
    # with a dup-heavy corpus AQE falls back to a keyed join — either
    # way the fold runs |candidates| times, not |cell|²/2 times.
    sides = assigned.select(F.col(id_col).alias("vid"),
                            F.col(vec_col).alias("v"),
                            l2_norm(vec_col).alias("n"))
    a = sides.select(F.col("vid").alias("id_a"),
                     F.col("v").alias("va"), F.col("n").alias("na"))
    b = sides.select(F.col("vid").alias("id_b"),
                     F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = (cand.join(a, "id_a").join(b, "id_b")
             .filter((F.col("na") > 0) & (F.col("nb") > 0))
             .select("id_a", "id_b",
                     (_dot("va", "vb")
                      / (F.col("na") * F.col("nb"))).alias("sim"))
             .filter(F.col("sim") >= threshold))
    comps = duplicate_clusters(pairs)  # (doc_id, cluster_id=min label)
    dupes = (comps.filter(F.col("doc_id") != F.col("cluster_id"))
             .select(F.col("doc_id").alias("dup_id")))
    return (assigned
            .join(dupes, assigned[id_col] == dupes["dup_id"], "left")
            .select(F.col(id_col), F.col("cluster").cast("long"),
                    F.col("dup_id").isNull().alias("keep")))


def source_overlap_jaccard(docs: DataFrame, *, group_col: str = "source",
                           text_col: str = "text") -> DataFrame:
    """Corpus-pair overlap audit: exact Jaccard similarity between
    the distinct word-trigram shingle sets of every pair of source
    domains — the cross-corpus contamination/diversity report run
    before deciding mixture weights or dedup scope.

    The domain key simply rides the shingle cascade in the doc_id
    seat, a (group, sh) distinct collapses per-domain sets, and
    pairs come from the same bounded in-list expansion as the
    near-dup operators (posting_list_pairs): each shingle's posting
    list is capped by the NUMBER OF DOMAINS — bounded by
    construction, no hub cap needed — so candidate pairs are
    O(|shingles| x domains), never quadratic in documents.
    Columns: src_a, src_b (src_a < src_b), n_a, n_b, n_common,
    jaccard (round 6). Zero-overlap pairs are absent (inverted
    indexes only see co-occurring keys).
    """
    sets = (shingles(docs.select(F.col(group_col).alias("doc_id"),
                                 F.col(text_col).alias("text")))
            .distinct())
    wn = Window.partitionBy("doc_id")
    posting = (sets.repartition("doc_id")
               .withColumn("n", F.count("*").over(wn)))
    inter = posting_list_pairs(posting, "sh")
    j = F.round(F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)
    return inter.select(F.col("id_a").alias("src_a"),
                        F.col("id_b").alias("src_b"),
                        "n_a", "n_b", "n_common", j.alias("jaccard"))


# Incremental near-dup + canonical selection --------------------------------

#: Shingle n-gram size, hash count and band count of the persisted
#: MinHash store. `write_minhash_store` builds with them and
#: `incremental_near_dup_minhash` probes with them; a probe with other
#: values would band different keys and miss matches silently.
STORE_NGRAM = 3
STORE_HASHES = 12
STORE_BANDS = 4

def minhash_band_buckets(sig: DataFrame, *, bands: int = 4,
                         rows_per_band: int = 3) -> DataFrame:
    """(doc_id, band, key) banded LSH bucket rows from a signature
    table — the persisted-store schema for incremental near-dup
    (identical banding to minhash_lsh_pairs: concat of rows_per_band
    consecutive hashes per band)."""
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.concat_ws(":", *parts).alias("key")))
    return (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("doc_id", "bk.band", "bk.key"))


def write_minhash_store(docs: DataFrame, path: str, *,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> None:
    """Persist the corpus's near-dup state: banded bucket rows
    (PARTITIONED BY band) plus the df-uncapped shingle table — the
    standing index that lets every future ingest batch near-dup
    against 100 TB of history WITHOUT re-reading any historical
    text. Exactly the incremental shape bloom_incremental_dedup
    gives exact dedup, lifted to MinHash similarity."""
    sh = shingles(docs, id_col=id_col, text_col=text_col, n=STORE_NGRAM) \
        .repartition("doc_id")
    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col,
                             n=STORE_NGRAM, num_hashes=STORE_HASHES,
                             _shingles_df=sh)
    (minhash_band_buckets(sig, bands=STORE_BANDS,
                          rows_per_band=STORE_HASHES // STORE_BANDS)
     .write.mode("overwrite").partitionBy("band")
     .parquet(f"{path}/buckets"))
    sh.write.mode("overwrite").parquet(f"{path}/shingles")


def incremental_near_dup_minhash(new_docs: DataFrame,
                                 seen_buckets: DataFrame,
                                 seen_shingles: DataFrame, *,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 threshold: float = 0.5) -> DataFrame:
    """Near-duplicate matches of an INGEST BATCH against a standing
    corpus store — the production shape of MinHash dedup: history is
    touched only through its (small) bucket and shingle tables,
    never its text.

    Probe: batch signatures → banded keys → equi-join the store's
    buckets on (band, key) — a key-key join whose left side is
    batch-sized, so at 100 TB the shuffle moves the BATCH, and the
    store side prunes to the probed bands/keys. Candidates (new_id,
    seen_id) then verify by exact Jaccard: batch shingles vs store
    shingles semi-filtered to candidate ids only. Self-matches
    (a doc already in the store re-ingested) are excluded by id.

    Columns: new_id, seen_id, jaccard (>= threshold).

    The two frames every downstream branch re-reads are persisted:
    batch shingles (consumed by the signature pass, the intersection
    join and the |A| counts) and the candidate-pair table (consumed
    by the intersection and the |B| semi-filter). Both caches are
    bounded by the INGEST BATCH / collision density, never the
    store — the store itself is only probed, and its shingle counts
    aggregate AFTER a semi-join to candidate seen_ids, so the
    corpus-scale shingle table is never globally aggregated.
    """
    from pyspark import StorageLevel
    new_sh = shingles(new_docs, id_col=id_col, text_col=text_col,
                      n=STORE_NGRAM) \
        .repartition("doc_id") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sig = minhash_signatures(new_docs, id_col=id_col, text_col=text_col,
                             n=STORE_NGRAM, num_hashes=STORE_HASHES,
                             _shingles_df=new_sh)
    probe = minhash_band_buckets(sig, bands=STORE_BANDS,
                                 rows_per_band=STORE_HASHES // STORE_BANDS)
    cand = (probe.alias("p")
            .join(seen_buckets.alias("s"),
                  (F.col("p.band") == F.col("s.band"))
                  & (F.col("p.key") == F.col("s.key"))
                  & (F.col("p.doc_id") != F.col("s.doc_id")))
            .select(F.col("p.doc_id").alias("new_id"),
                    F.col("s.doc_id").alias("seen_id"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK))
    a = new_sh.select(F.col("doc_id").alias("new_id"),
                      F.col("sh").alias("sh_a"))
    b = seen_shingles.select(F.col("doc_id").alias("seen_id"),
                             F.col("sh").alias("sh_b"))
    inter = (cand.join(a, "new_id")
             .join(b.withColumnRenamed("sh_b", "sh_a"), ["seen_id", "sh_a"])
             .groupBy("new_id", "seen_id")
             .agg(F.count("*").alias("n_common")))
    na = a.groupBy("new_id").agg(F.count("*").alias("n_a"))
    nb = (b.join(cand.select("seen_id").distinct(), "seen_id",
                 "left_semi")
          .groupBy("seen_id").agg(F.count("*").alias("n_b")))
    return (inter.join(na, "new_id").join(nb, "seen_id")
            .withColumn("jaccard", F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "seen_id", "jaccard"))


def keep_best_per_cluster(docs: DataFrame, clusters: DataFrame, *,
                          id_col: str = "doc_id",
                          score_col: F.Column | None = None) -> DataFrame:
    """Canonical-document selection: from each duplicate cluster keep
    the HIGHEST-scoring member (ties → lowest id); documents in no
    cluster survive as their own singleton. This is the policy step
    after pair generation + connected components — real pipelines
    keep the best copy (longest / highest quality), not the
    arbitrary min-id member.

    One left join to attach cluster ids (singletons get their own id
    as cluster) and one max_by aggregation over struct(score, -id) —
    the lexicographic argmax gives score-desc, id-asc in a single
    combine-able aggregate, no window over the corpus.

    Columns: <id_col>, cluster_id, score.
    """
    from parlerproject_spark.functions.text import quality_score
    score = score_col if score_col is not None else quality_score("text")
    scored = (docs.select(F.col(id_col), score.alias("score"))
              .join(clusters.select(F.col(id_col),
                                    F.col("cluster_id")), id_col, "left")
              .withColumn("cluster_id",
                          F.coalesce(F.col("cluster_id"), F.col(id_col))))
    return (scored.groupBy("cluster_id")
            .agg(F.max_by(
                F.struct(F.col(id_col), F.col("score")),
                F.struct(F.col("score"), (-F.col(id_col)).alias("nid")))
                .alias("w"))
            .select(F.col(f"w.{id_col}").alias(id_col), "cluster_id",
                    F.col("w.score").alias("score")))


def group_minhash_similarity(docs: DataFrame, *, group_col: str = "source",
                             text_col: str = "text") -> DataFrame:
    """Corpus-level similarity audit: pairwise estimated Jaccard
    between GROUPS (sources, snapshots, domains) from per-group
    MinHash signatures (word trigrams, the 12-permutation
    MINHASH_A/B family) — "how much does src3 overlap src7" answered
    without ever intersecting the groups' shingle sets.

    The scale story is the sketch's mergeability: a group's
    signature is min-per-permutation over its shingle hashes, so the
    shuffle carries one partial-min row per (partition, group) —
    map-side combine collapses the corpus before the exchange, and
    signatures from separate ingest runs merge by element-wise min.
    The pairwise stage is a broadcast self-join over the ≤|groups|-row
    signature frame (BroadcastNestedLoopJoin on the < inequality —
    G² cells of a tiny frame, never corpus-scale).

    est_jaccard = matching permutations / 12, the standard
    unbiased MinHash estimate. Columns: src_a, src_b, n_match,
    est_jaccard.
    """
    # shingles() keyed by the GROUP column: one row per doc still
    # (tokenize/gram are per-row), but the hash table is keyed by
    # group directly — no corpus-wide doc->group join
    sh = shingles(docs, id_col=group_col, text_col=text_col)
    num_hashes = len(MINHASH_A)
    aggs = [
        F.min((F.col("sh") * MINHASH_A[i] + MINHASH_B[i]) % _P31)
        .alias(f"h{i}") for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs) \
        .withColumnRenamed("doc_id", group_col)
    l, r = sig.alias("l"), sig.alias("r")
    n_match = None
    for i in range(num_hashes):
        term = F.when(F.col(f"l.h{i}") == F.col(f"r.h{i}"),
                      F.lit(1)).otherwise(F.lit(0))
        n_match = term if n_match is None else n_match + term
    return (l.join(F.broadcast(r),
                   F.col(f"l.{group_col}") < F.col(f"r.{group_col}"))
            .select(F.col(f"l.{group_col}").alias("src_a"),
                    F.col(f"r.{group_col}").alias("src_b"),
                    n_match.cast("long").alias("n_match"))
            .withColumn("est_jaccard",
                        F.round(F.col("n_match") / num_hashes, 6)))


def intra_doc_repeated_spans(docs: DataFrame, *, n: int = 2,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """WITHIN-document repeated-n-gram mask spans — the intra-doc
    counterpart of `exact_substring_spans` (which hunts repeats
    ACROSS documents): every n-gram occurrence after its first in
    the same document marks a token span to mask, and overlapping/
    adjacent spans merge into islands. This is the boilerplate/
    degenerate-repetition cut a pretraining pipeline applies where
    gopher_repetition only *scores* (the flag says "repetitive",
    this says *which tokens to drop*).

    Shape: whitespace tokens → positioned n-grams (explode after
    spread_input — the ~tokens× blow-up must not run inside the
    scan's few splits) → first-occurrence keyed join (doc, gram) →
    gaps-and-islands merge under doc-partitioned windows. Every
    stage is keyed on the document, so the operator scales like any
    per-doc transform; no global structure exists at all.

    Token positions are 1-based. Columns: id, start, end,
    masked_tokens — one row per merged span, ordered within doc.
    """
    from parlerproject_spark.operators.layout import spread_input

    ws = F.filter(F.split(F.col(text_col), r"\s+"),
                  lambda t: F.length(t) > 0)
    toks = spread_input(
        docs.select(F.col(id_col).alias("__id"), ws.alias("__ws")))
    from parlerproject_spark.functions.text import word_ngrams
    g = (toks.select("__id", F.posexplode(word_ngrams(F.col("__ws"), n))
                     .alias("__p0", "__g"))
         .select("__id", (F.col("__p0") + 1).alias("__pos"), "__g"))
    first = g.groupBy("__id", "__g").agg(F.min("__pos").alias("__fp"))
    masked = (g.join(first, ["__id", "__g"])
              .filter(F.col("__pos") != F.col("__fp"))
              .select("__id", F.col("__pos").alias("__s"),
                      (F.col("__pos") + (n - 1)).alias("__e")))
    wprev = (Window.partitionBy("__id").orderBy("__s")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy("__id").orderBy("__s")
            .rowsBetween(Window.unboundedPreceding, 0))
    flagged = masked.withColumn(
        "__new",
        F.when(F.col("__s") > F.coalesce(F.max("__e").over(wprev),
                                         F.lit(-1)) + 1, 1).otherwise(0))
    islands = flagged.withColumn("__isl", F.sum("__new").over(wrun))
    return (islands.groupBy("__id", "__isl")
            .agg(F.min("__s").cast("long").alias("start"),
                 F.max("__e").cast("long").alias("end"))
            .select(F.col("__id").alias(id_col), "start", "end",
                    (F.col("end") - F.col("start") + 1)
                    .alias("masked_tokens")))


def plan_lsh_bands(*, target_jaccard: float, num_hashes: int,
                   max_fp_below: float | None = None) -> dict:
    """Driver-side MinHash-LSH parameter planner: choose (bands,
    rows) for a signature of `num_hashes` so the S-curve threshold
    (1/bands)^(1/rows) lands nearest the caller's `target_jaccard`.
    The numbers every banded-LSH deployment needs and everyone
    re-derives by hand (Leskovec/Rajaraman/Ullman ch.3): for a pair
    with true Jaccard s, P(collide in >= 1 band) =
    1 - (1 - s^rows)^bands.

    Pure closed-form driver math (no Spark): enumerate the divisor
    pairs bands*rows == num_hashes, score |threshold - target|, and
    report each candidate's collision probability AT the target and
    at 0.5x the target (the false-positive proxy). If
    `max_fp_below` is set, candidates whose collision probability at
    s = 0.5*target exceeds it are excluded before picking (guarding
    against a too-aggressive threshold); raises if nothing survives.

    Returns {bands, rows, threshold, p_at_target, p_at_half_target,
    candidates: [...]} — feed bands straight into
    minhash_lsh_pairs/minhash_band_buckets.
    """
    if not 0 < target_jaccard < 1:
        raise ValueError("target_jaccard must be in (0, 1)")
    cands = []
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        thr = (1.0 / bands) ** (1.0 / rows)
        p_t = 1.0 - (1.0 - target_jaccard ** rows) ** bands
        p_h = 1.0 - (1.0 - (0.5 * target_jaccard) ** rows) ** bands
        cands.append({"bands": bands, "rows": rows,
                      "threshold": round(thr, 6),
                      "p_at_target": round(p_t, 6),
                      "p_at_half_target": round(p_h, 6)})
    pool = cands
    if max_fp_below is not None:
        pool = [c for c in cands if c["p_at_half_target"] <= max_fp_below]
        if not pool:
            raise ValueError(
                f"no (bands, rows) split of {num_hashes} hashes keeps "
                f"P(collide | s=0.5*target) <= {max_fp_below}")
    best = min(pool, key=lambda c: (abs(c["threshold"] - target_jaccard),
                                    c["bands"]))
    return {**best, "candidates": cands}
