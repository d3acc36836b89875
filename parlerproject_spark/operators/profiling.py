"""Dataset profiling — the ingest-time diagnostics a 100 TB corpus
needs before any pipeline runs over it.

The reference eyeballs its data interactively (`preview_data.ipynb`
cell 8: `df.info()` / `df.describe()` over the 86-column ExifTool
frame; `preview_file_downloads.ipynb` cell 3: shape + `sum()` over the
listing). At 100 TB "look at the frame" becomes three distributed
shapes:

- `profile_table`   — one aggregation pass over every column
                      (null rate, cardinality, min/max), the
                      `df.info()+describe()` analogue;
- `key_skew_report` — per-key mass distribution for any join/groupBy
                      key, the pre-flight check that decides whether
                      `skew.salted_join`/`salted_agg` is needed;
- `heavy_hitters`   — bounded-memory Misra-Gries candidates + one
                      exact verification pass, for key spaces too
                      large to group exactly (the two-pass pattern:
                      sketch proposes, exact count disposes).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal_frame


def profile_table(df: DataFrame, cols: Sequence[str], *,
                  approx: bool = False) -> DataFrame:
    """Per-column profile in ONE aggregation job: row count, null
    count, distinct count, min and max (rendered as strings so every
    column fits one uniform long-format schema).

    All measures for all columns are computed in a single global
    `agg`, so the input is scanned once regardless of how many
    columns are profiled. With `approx=False` the distinct counts
    are exact, which makes Catalyst plan an EXPAND (one input row
    fans out once per distinct-aggregate) — fine up to a handful of
    columns; at 100 TB × many columns pass `approx=True` to use HLL
    sketches (`approx_count_distinct`) instead, which keeps the scan
    at exactly one row per row and merges partials like any other
    aggregate.

    Columns: col_name, n_rows, n_nulls, n_distinct, min_s, max_s.
    Unorderable dtypes (map<...>, calendar `interval`) profile with
    null min_s/max_s — Spark's min/max require an ordering those
    types don't define; counts and distincts still compute.
    """
    cd = (F.approx_count_distinct if approx else F.count_distinct)
    dtypes = dict(df.select(*cols).dtypes)

    def orderable(c: str) -> bool:
        dt = dtypes[c]
        return dt != "interval" and not dt.startswith("map<")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        mn = (F.min(c).cast("string") if orderable(c)
              else F.lit(None).cast("string"))
        mx = (F.max(c).cast("string") if orderable(c)
              else F.lit(None).cast("string"))
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            cd(c).alias(f"__d_{c}"),
            mn.alias(f"__mn_{c}"),
            mx.alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    # long format via an inline struct array + explode: one output
    # row per profiled column, computed from the single agg row.
    rows = F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col("__n").alias("n_rows"),
                 (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                 F.col(f"__d_{c}").cast("long").alias("n_distinct"),
                 F.col(f"__mn_{c}").alias("min_s"),
                 F.col(f"__mx_{c}").alias("max_s"))
        for c in cols])
    return (one.select(F.explode(rows).alias("p")).select("p.*"))


def key_skew_report(df: DataFrame, key_col: str, *,
                    top: int = 20) -> DataFrame:
    """Mass distribution of a prospective join/groupBy key: the top
    `top` keys by row count with each key's share of total rows and
    the running cumulative share.

    This is the pre-flight for `operators/skew.py`: a top key whose
    `share` dwarfs 1/shuffle-partitions is the hot key that melts a
    reducer, and `cum_share` says how much of the table the head
    carries. One hash aggregation (map-side combined) + a top-k on
    the tiny key-count table; the windows run over at most `top`
    rows after TakeOrdered, never over the raw data.

    Columns: <key_col>, n_rows, share, cum_share.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__t"))
    topk = (counts
            .orderBy(F.col("n_rows").desc(), F.col(key_col).asc())
            .limit(top)
            .crossJoin(F.broadcast(total)))
    w = (Window.orderBy(F.col("n_rows").desc(), F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (topk.select(
        key_col, "n_rows",
        F.round(F.col("n_rows") / F.col("__t"), 6).alias("share"),
        F.round(F.sum("n_rows").over(w) / F.col("__t"), 6)
        .alias("cum_share")))


def misra_gries_candidates(df: DataFrame, key_col: str, *,
                           k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries (≤ `k` counters each),
    unioned into one candidate-key table.

    Guarantee (why two-pass heavy hitters is sound): within a
    partition of n_p rows, a k-counter MG summary retains every key
    whose true partition count exceeds n_p/(k+1) — each decrement
    round removes ≥ k+1 units of mass, so at most n_p/(k+1) total is
    ever subtracted from any key. By averaging, a key with GLOBAL
    count > n/(k+1) must beat the per-partition threshold somewhere,
    so the union of partition summaries is a SUPERSET of the global
    heavy keys. Memory is O(k) per partition no matter how many
    distinct keys stream through — the property plain per-partition
    pre-aggregation (unbounded hash table) does not have.

    The summary is maintained vectorized: each Arrow batch collapses
    to value_counts, merges into the running dict, and one
    subtract-the-(k+1)th-largest sweep re-bounds it — the standard
    mergeable-MG step (Agarwal et al., "Mergeable Summaries"), not a
    per-row Python loop.
    """
    import pandas as pd

    field = df.schema[key_col]

    def summarize(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        summary: dict = {}
        for batch in it:
            vc = batch[key_col].dropna().value_counts()
            for key, c in vc.items():
                summary[key] = summary.get(key, 0) + int(c)
            if len(summary) > k:
                dec = sorted(summary.values(), reverse=True)[k]
                summary = {kk: v - dec for kk, v in summary.items()
                           if v - dec > 0}
        yield pd.DataFrame({key_col: list(summary.keys())})

    return df.select(key_col).mapInPandas(
        summarize, schema=f"{key_col} {field.dataType.simpleString()}")


def heavy_hitters(df: DataFrame, key_col: str, *, k: int) -> DataFrame:
    """Keys with global count strictly greater than n/(k+1), with
    EXACT counts — two passes, bounded memory.

    Pass 1 proposes candidates with `misra_gries_candidates` (O(k)
    state per partition). Pass 2 semi-joins the raw table to the
    (small, broadcast) candidate set and counts exactly, keeping
    keys over the threshold. The result is deterministic and
    identical to a full `GROUP BY ... HAVING count(*)*(k+1) > n` —
    but pass 2's aggregation state is bounded by the candidate set,
    not by the key cardinality, which is the point at 100 TB where
    the key space itself may not fit a reducer.

    Columns: <key_col>, n_rows.
    """
    cands = misra_gries_candidates(df, key_col, k=k).distinct()
    total = df.agg(F.count(F.lit(1)).alias("__t"))
    exact = (df.join(F.broadcast(cands), key_col, "left_semi")
             .groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows")))
    return (exact.crossJoin(F.broadcast(total))
            .filter(F.col("n_rows") * (k + 1) > F.col("__t"))
            .select(key_col, "n_rows"))


def file_size_report(spark, path: str) -> "DataFrame":
    """Physical-layout diagnostic for a Parquet dataset: per-file
    row counts (from one `input_file_name()` aggregation — a scan
    that reads zero data columns) joined to per-file byte sizes from
    a driver-side FS listing. The skew of THIS table is what decides
    whether `layout.compact_small_files` is worth running — many
    tiny files mean task-scheduling and footer overhead dominate
    scans; one giant file means no parallelism.

    Columns: file_name, n_rows, bytes.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    it = fs.listFiles(p, True)
    sizes = {}
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            sizes[name] = st.getLen()
    rows = (spark.read.parquet(path)
            .select(F.element_at(F.split(F.input_file_name(), "/"), -1)
                    .alias("file_name"))
            .groupBy("file_name")
            .agg(F.count(F.lit(1)).alias("n_rows")))
    size_df = literal_frame(
        spark, [(k, int(v)) for k, v in sorted(sizes.items())],
        "file_name string, bytes long")
    return rows.join(F.broadcast(size_df), "file_name", "full_outer") \
        .select("file_name",
                F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
                F.coalesce("bytes", F.lit(0)).alias("bytes"))


def schema_diff(spark, path_a: str, path_b: str) -> "DataFrame":
    """Schema-evolution audit between two Parquet snapshots: which
    columns were added, removed, or changed type — the pre-flight a
    pipeline runs before pointing itself at a new snapshot (the
    ragged-ExifTool problem from the reference's metadata corpus,
    §1.1, as a first-class check instead of a surprise at read
    time). Driver-side footer reads only; no data is scanned.

    Columns: col_name, status (added|removed|type_changed|same),
    type_a, type_b.
    """
    a = {f.name: f.dataType.simpleString()
         for f in spark.read.parquet(path_a).schema}
    b = {f.name: f.dataType.simpleString()
         for f in spark.read.parquet(path_b).schema}
    rows = []
    for c in sorted(set(a) | set(b)):
        ta, tb = a.get(c), b.get(c)
        status = ("removed" if tb is None else
                  "added" if ta is None else
                  "same" if ta == tb else "type_changed")
        rows.append((c, status, ta, tb))
    return literal_frame(spark, rows, "col_name string, status string, "
                         "type_a string, type_b string")


def embedding_drift(old: DataFrame, new: DataFrame, *,
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-space drift between two corpus snapshots — the
    vector-column companion of the scalar PSI/KS drift monitors: a
    re-embedded or re-sourced corpus whose distribution moved shows
    up here before any downstream index or topic fit degrades.

    Readouts: L2 shift and cosine between the two MEAN vectors, and
    the ratio of mean vector norms (a scale/normalization change
    detector — cosine alone is blind to it).

    Shape (round-13 restructure, was 4 corpus scans — dims+norms per
    side): ONE tagged union pass. Each exploded row carries BOTH its
    dimension value and the vector's JVM-fold L2 norm; one
    (side, pos)-keyed map-side-combined aggregation produces the
    per-dim means AND, on the pos-0 marker rows (the selection.py
    doc-marker idiom), the per-side vector count and mean norm. The
    2·d-row result persists and feeds every readout — cost at any
    corpus size = one scan per snapshot + one d-keyed exchange.

    Columns (one row): n_old, n_new, mean_l2_shift, mean_cosine,
    norm_ratio (all round 6).
    """
    from parlerproject_spark.functions.vectors import l2_norm

    def tag(df, side):
        return df.select(F.lit(side).alias("__side"),
                         F.col(vec_col).alias("__v"))

    per = (tag(old, "old").unionByName(tag(new, "new"))
           .select("__side", l2_norm("__v").alias("__nrm"),
                   F.posexplode("__v").alias("pos", "x"))
           .groupBy("__side", "pos")
           .agg(F.avg("x").alias("m"),
                F.count("*").cast("long").alias("n"),
                F.avg("__nrm").alias("avg_nrm"))
           .persist())
    is_old = F.col("__side") == "old"
    m_old = F.max(F.when(is_old, F.col("m")))
    m_new = F.max(F.when(~is_old, F.col("m")))
    comp = (per.groupBy("pos")
            .agg(m_old.alias("m_old"), m_new.alias("m_new"))
            .filter(F.col("m_old").isNotNull()
                    & F.col("m_new").isNotNull())
            .agg(F.sum(F.pow(F.col("m_old") - F.col("m_new"), 2))
                 .alias("__sq"),
                 F.sum(F.col("m_old") * F.col("m_new")).alias("__dot"),
                 F.sum(F.col("m_old") * F.col("m_old")).alias("__na"),
                 F.sum(F.col("m_new") * F.col("m_new")).alias("__nb")))
    st = (per.filter(F.col("pos") == 0)
          .agg(F.coalesce(F.max(F.when(is_old, F.col("n"))),
                          F.lit(0)).cast("long").alias("n_old"),
               F.coalesce(F.max(F.when(~is_old, F.col("n"))),
                          F.lit(0)).cast("long").alias("n_new"),
               F.max(F.when(is_old, F.col("avg_nrm")))
               .alias("avg_nrm_old"),
               F.max(F.when(~is_old, F.col("avg_nrm")))
               .alias("avg_nrm_new")))
    return (st.crossJoin(F.broadcast(comp))
            .select("n_old", "n_new",
                    F.round(F.sqrt("__sq"), 6).alias("mean_l2_shift"),
                    F.round(F.col("__dot")
                            / (F.sqrt("__na") * F.sqrt("__nb")), 6)
                    .alias("mean_cosine"),
                    F.round(F.col("avg_nrm_new") / F.col("avg_nrm_old"), 6)
                    .alias("norm_ratio")))


def benford_audit(df: DataFrame, *, value_col: str = "value") -> DataFrame:
    """Benford first-digit audit — the classic fabricated-numbers /
    broken-ETL smell test: the leading significant digit of natural
    multi-scale quantities follows P(d) = log10(1 + 1/d); a corpus
    whose sizes, durations or amounts deviate hard from that curve
    was truncated, defaulted, or synthesized somewhere upstream.

    One map-side-combined aggregation over the scan (digit = first
    [1-9] of the value's shortest-round-trip decimal string — the
    float-exact extraction; floor(x/10^floor(log10 x)) misdigits
    sub-1 values like 0.6 where 10^-1 is inexact; zero, null and NaN
    rows are excluded as digit-less), then the 9-row digit table
    picks up the global chi-square statistic n·Σ (obs − exp)²/exp
    from a broadcast 1-row cross join.

    Columns: digit, n, share, expected, chi2 (chi2 repeated on every
    row for single-frame consumption; df = 8).
    """
    x = F.abs(F.col(value_col).cast("double"))
    digit = F.regexp_extract(x.cast("string"), "[1-9]", 0).cast("long")
    per = (df.filter(x > 0).filter(~F.isnan(x))
           .select(digit.alias("digit"))
           .groupBy("digit").agg(F.count("*").cast("long").alias("n")))
    tot = per.agg(F.sum("n").cast("double").alias("__t"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n") / F.col("__t")
    scored = (per.crossJoin(F.broadcast(tot))
              .withColumn("__chi",
                          F.col("__t") * F.pow(share - expected, 2)
                          / expected))
    chi2 = scored.agg(F.sum("__chi").alias("__chi2"))
    return (scored.crossJoin(F.broadcast(chi2))
            .select("digit", "n",
                    F.round(share, 6).alias("share"),
                    F.round(expected, 6).alias("expected"),
                    F.round("__chi2", 6).alias("chi2")))


def association_audit(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Categorical-association audit between two columns — the
    confound/leakage detector a training pipeline runs before
    trusting a slice design: chi-square statistic over the
    contingency table, Cramér's V (chi² normalized to [0,1] by
    n·(min(R,C)−1) — effect size, comparable across tables), and
    mutual information in nats (Σ p_ij·ln(p_ij/(p_i·p_j)) over
    observed cells). V≈0 means the columns are safe to cross in
    splits; V→1 means one predicts the other (e.g. language
    confounded with source, so a by-source split leaks language).

    Shape: one (a,b) cell aggregation → the contingency table
    (bounded by |A|·|B| — categorical by contract) → marginals as
    two tiny broadcast dims → one global row. Expected counts stay
    an EXPRESSION on the joined cell frame; no cross join of
    marginals materializes missing cells (they contribute 0 to MI
    and their chi² mass is added via the closed form
    chi² = n·(Σ n_ij²/(r_i·c_j) − 1), which needs observed cells
    only).

    NULL categories are EXCLUDED up front (documented contract):
    count_distinct skips NULL and equi-joins drop NULL keys, so
    keeping NULL rows would silently diverge from any GROUP-BY-based
    replay that treats NULL as a category — filter first, identically
    on both engines.

    Columns (one row): n, n_a, n_b, dof, chi2, cramers_v, mi.
    """
    cell = (df.filter(F.col(a_col).isNotNull()
                      & F.col(b_col).isNotNull())
            .groupBy(a_col, b_col)
            .agg(F.count(F.lit(1)).alias("__c")))
    ra = cell.groupBy(a_col).agg(F.sum("__c").alias("__ra"))
    cb = cell.groupBy(b_col).agg(F.sum("__c").alias("__cb"))
    j = (cell.join(F.broadcast(ra), a_col)
         .join(F.broadcast(cb), b_col))
    n = F.sum("__c")
    # chi2 over observed cells only: n * (sum n_ij^2/(r_i c_j) - 1).
    # Both the cell square and the r_i·c_j margin product run in
    # DOUBLE (the oracle casts identically): margins are corpus-scale
    # counts, and bigint·bigint overflows once both pass ~3×10⁹ —
    # the r10-ADVICE WordPiece bug class.
    chi2 = n * (F.sum(F.col("__c").cast("double") * F.col("__c")
                      / (F.col("__ra").cast("double")
                         * F.col("__cb"))) - 1.0)
    na = F.count_distinct(F.col(a_col))
    nb = F.count_distinct(F.col(b_col))
    # MI rewritten so no aggregate nests inside the sum:
    # Σ(c/n)·ln(c·n/(ra·cb)) = Σ c·ln(c/(ra·cb))/n + ln(n)
    mi = (F.sum(F.col("__c")
                * F.log(F.col("__c")
                        / (F.col("__ra").cast("double")
                           * F.col("__cb")))) / n
          + F.log(n))
    dof = (na - 1) * (nb - 1)
    v = F.sqrt(F.try_divide(chi2, n * (F.least(na, nb) - 1.0)))
    return j.agg(n.cast("long").alias("n"),
                 na.cast("long").alias("n_a"),
                 nb.cast("long").alias("n_b"),
                 dof.cast("long").alias("dof"),
                 F.round(chi2, 6).alias("chi2"),
                 F.round(v, 6).alias("cramers_v"),
                 F.round(mi, 6).alias("mi"))


def leave_one_out_deltas(df: DataFrame, *, group_col: str = "source",
                         value_col: str = "value") -> DataFrame:
    """Leave-one-group-out contribution analysis — data-valuation's
    cheapest honest primitive: for each group, what the corpus-wide
    mean of `value_col` would be WITHOUT that group, and the delta
    the group's presence contributes. For additive metrics the
    counterfactual is exact algebra over per-group sums —
    loo_mean_g = (ΣY − Σ_g Y)/(N − n_g) — so the "remove each of G
    groups and recompute" sweep costs ONE group-keyed aggregation +
    a broadcast 1-row total, not G recomputes.

    A group with delta > 0 pulls the corpus metric UP (removing it
    would lower the mean). Columns: <group_col>, n, group_mean,
    loo_mean, delta (= global_mean − loo_mean, round 6).
    """
    g = (df.groupBy(group_col)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col(value_col).cast("double")).alias("__s")))
    # totals get distinct names: Spark resolves case-insensitively,
    # so __S would collide with the per-group __s after the crossJoin
    tot = g.agg(F.sum("n").alias("__totn"), F.sum("__s").alias("__tots"))
    j = g.crossJoin(F.broadcast(tot))
    glob = F.col("__tots") / F.col("__totn")
    loo = F.try_divide(F.col("__tots") - F.col("__s"),
                       F.col("__totn") - F.col("n"))
    return j.select(group_col, F.col("n").cast("long").alias("n"),
                    F.round(F.col("__s") / F.col("n"), 6)
                    .alias("group_mean"),
                    F.round(loo, 6).alias("loo_mean"),
                    F.round(glob - loo, 6).alias("delta"))


def profile_drift(ref: DataFrame, cur: DataFrame,
                  cols: Sequence[str]) -> DataFrame:
    """Schema-content drift between two snapshots of the same table —
    the data-contract monitor run before retraining on a refreshed
    corpus: per column, null-rate movement, distinct-count movement,
    and whether the value range changed at all.

    Composition of two exact `profile_table` passes (each ONE
    aggregation over its snapshot) joined on col_name — a |cols|-row
    join, so the whole report costs two scans regardless of column
    count.
    `range_changed` compares each engine's own min/max rendering, so
    it is representation-stable cross-engine (distinct values render
    distinct; equal values render equal).

    Columns: col_name, n_ref, n_cur, null_rate_ref, null_rate_cur,
    null_rate_delta (cur − ref, round 6), distinct_ref, distinct_cur,
    range_changed.
    """
    pr = profile_table(ref, cols)
    pc = profile_table(cur, cols)
    a = pr.select(F.col("col_name"),
                  F.col("n_rows").alias("n_ref"),
                  F.col("n_nulls").alias("__nl_r"),
                  F.col("n_distinct").alias("distinct_ref"),
                  F.col("min_s").alias("__mn_r"),
                  F.col("max_s").alias("__mx_r"))
    b = pc.select(F.col("col_name"),
                  F.col("n_rows").alias("n_cur"),
                  F.col("n_nulls").alias("__nl_c"),
                  F.col("n_distinct").alias("distinct_cur"),
                  F.col("min_s").alias("__mn_c"),
                  F.col("max_s").alias("__mx_c"))
    j = a.join(b, "col_name")
    rr = F.round(F.col("__nl_r") / F.col("n_ref"), 6)
    rc = F.round(F.col("__nl_c") / F.col("n_cur"), 6)
    changed = (~F.col("__mn_r").eqNullSafe(F.col("__mn_c"))
               | ~F.col("__mx_r").eqNullSafe(F.col("__mx_c")))
    return j.select(
        "col_name", "n_ref", "n_cur",
        rr.alias("null_rate_ref"), rc.alias("null_rate_cur"),
        F.round(rc - rr, 6).alias("null_rate_delta"),
        "distinct_ref", "distinct_cur",
        changed.alias("range_changed"))


def fd_audit(df: DataFrame,
             candidates: "list[tuple[str, str, str]]") -> DataFrame:
    """Functional-dependency audit (round 13 — the data-profiling
    primitive of Papenbrock et al.'s FD-discovery line, scoped to a
    CANDIDATE list the way a production data-quality gate runs it):
    for each candidate (name, determinant, dependent), does det → dep
    hold, and if not, how broken is it — the check that catches a
    denormalization gone stale, a key that silently stopped being a
    key, or an enrichment join that fanned out.

    One pass: every candidate's (det, dep) pair unpivots via `stack`
    into a tagged stream in a single column-pruned scan (the
    fk_integrity_audit shape), one (fd, det)-keyed aggregation
    counts distinct dependents per determinant group (map-side
    combined; NULL dependents are ignored by count-distinct on both
    engines, NULL determinants form one group — documented,
    SQL-standard), and a bounded per-fd rollup emits the report.
    At 100 TB: one scan + one keyed exchange, report is
    |candidates| rows.

    Columns: fd, n_groups, n_violating, violation_share (round 6),
    holds (boolean).
    """
    args = ", ".join(
        f"'{name}', cast({det} as string), cast({dep} as string)"
        for name, det, dep in candidates)
    stream = df.select(F.expr(
        f"stack({len(candidates)}, {args}) as (fd, det, dep)"))
    per = (stream.groupBy("fd", "det")
           .agg(F.countDistinct("dep").alias("nd")))
    return (per.groupBy("fd")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                 .cast("long").alias("n_violating"))
            .withColumn("violation_share",
                        F.round(F.col("n_violating")
                                / F.col("n_groups"), 6))
            .withColumn("holds", F.col("n_violating") == 0))
