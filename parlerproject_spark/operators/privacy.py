"""PII detection and redaction — the scrubbing pass every
training-data pipeline runs before a corpus ships.

Design for 100 TB: pure JVM regexp Column expressions inside the scan
stage — zero shuffle, zero Python, embarrassingly parallel. Patterns
are deliberately RE2-compatible (no lookaround, no backreferences) so
the DuckDB oracle replays detection exactly and a port to any
RE2-based engine keeps semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parlerproject_spark.caching import literal_frame

#: detection patterns, applied in this order (email first: an email's
#: local part may contain digit runs a later pattern could clip).
#: Each maps pii_type -> (pattern, replacement token).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def pii_counts(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Adds one `n_<type>` count column per PII pattern
    (regexp_count — JVM-side, no extraction materialized)."""
    out = df
    for name, (pat, _) in PII_PATTERNS.items():
        out = out.withColumn(f"n_{name}",
                             F.regexp_count(F.col(text_col), F.lit(pat)))
    return out


def redact_pii(df: DataFrame, *, text_col: str = "text",
               out_col: str = "clean_text") -> DataFrame:
    """Replaces every PII match with its type token (<EMAIL>, <PHONE>,
    <IP>), applied in PII_PATTERNS order on one chained
    regexp_replace expression — a single projection, still inside
    whole-stage codegen."""
    c = F.col(text_col)
    for _, (pat, token) in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, token)
    return df.withColumn(out_col, c)


#: audit-side key-count strategy cutover: IN-list literal up to here,
#: broadcast left-join count beyond (plan size, not correctness)
_ISIN_AUDIT_MAX = 10_000


def erase_keys(tables: dict, key_cols: dict, keys, *, spark=None):
    """Right-to-be-forgotten pass: drop every row belonging to the
    given subject keys across a set of tables, returning (rewritten
    DataFrames, audit). `tables` maps name -> DataFrame, `key_cols`
    maps name -> subject-key column. The key list is small by nature
    (one deletion request batch) → broadcast anti-joins. The audit
    (name, n_before, n_dropped) is the compliance record the deletion
    job must emit: it is a LAZY DataFrame built from ONE aggregate
    per table — count(*) plus a conditional count of key-matched rows
    in the SAME scan, with the key set inlined as an `isin` literal
    (a deletion request batch is small by nature), so the audit plans
    as a pure whole-stage-codegen scan aggregate: no join, no
    driver-built key frame, one pass per table. Batches past
    _ISIN_AUDIT_MAX keys fall back to a broadcast left-join count
    (literal IN-lists that large bloat the plan). The key frame takes
    each table's key-column type, so string subject ids join as strings.

    At 100 TB this composes with layout.overwrite_partitions: rewrite
    only the partitions the audit shows contain subject rows. Erasure
    here is physical row removal — for append-only/immutable stores
    use key-scoped encryption (crypto-shredding) instead; this
    operator is the mutable-lake path.
    """
    from functools import reduce

    sp = spark or next(iter(tables.values())).sparkSession
    uniq = list(dict.fromkeys(keys))  # dup keys must not dup joined rows
    cleaned, audits = {}, []
    for name, df in tables.items():
        kc = key_cols[name]
        kdf = F.broadcast(literal_frame(
            sp, [(k,) for k in uniq],
            f"__erase_key {df.schema[kc].dataType.simpleString()}"))
        cleaned[name] = df.join(
            kdf, df[kc] == kdf["__erase_key"], "left_anti")
        if len(uniq) <= _ISIN_AUDIT_MAX:
            dropped = F.count(F.when(F.col(kc).isin(uniq), 1))
            agg_src = df
        else:
            dropped = F.count("__erase_key")
            agg_src = df.join(kdf, df[kc] == kdf["__erase_key"], "left")
        audits.append(
            agg_src
            .agg(F.count(F.lit(1)).alias("n_before"),
                 dropped.alias("n_dropped"))
            .select(F.lit(name).alias("table_name"),
                    "n_before", "n_dropped"))
    audit = reduce(DataFrame.unionAll, audits)
    return cleaned, audit


def k_anonymity_audit(df: DataFrame, quasi_cols: list[str], *, k: int = 5,
                      sensitive_col: str | None = None) -> DataFrame:
    """k-anonymity (and optional l-diversity) audit — the release
    gate a dataset passes before quasi-identifiers ship: every
    equivalence class over `quasi_cols` must hold >= k rows, and
    (with `sensitive_col`) >= l distinct sensitive values, else the
    class re-identifies / attribute-discloses its members.

    Shape: ONE aggregation keyed on the quasi-identifier tuple
    (count + optional distinct-sensitive count per class), then one
    global rollup of the class table — the class table is the only
    shuffled frame and is bounded by distinct quasi tuples. No
    windows, no joins against the raw frame, so the audit costs the
    same keyed exchange any per-class metric pays at 100 TB.

    Columns (one row): n_rows, n_classes, min_class_size,
    rows_below_k, pct_below_k (round 6), and with sensitive_col also
    min_l_diversity, classes_below_l (l re-uses the k bound).
    """
    classes = (df.groupBy(*[F.col(c) for c in quasi_cols])
               .agg(F.count(F.lit(1)).alias("__n"),
                    *([F.count_distinct(F.col(sensitive_col))
                       .alias("__l")] if sensitive_col else [])))
    aggs = [
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__n").cast("long").alias("min_class_size"),
        F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(0))
         .cast("long").alias("rows_below_k"),
        F.round(F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(0))
                / F.sum("__n"), 6).alias("pct_below_k"),
    ]
    if sensitive_col:
        aggs += [
            F.min("__l").cast("long").alias("min_l_diversity"),
            F.sum(F.when(F.col("__l") < k, 1).otherwise(0)).cast("long")
             .alias("classes_below_l"),
        ]
    return classes.agg(*aggs)


def dp_group_counts(df: DataFrame, group_cols: list[str], *,
                    epsilon: float = 1.0,
                    seed: str = "dp-v1") -> DataFrame:
    """Differentially-private histogram release: per-group counts
    with Laplace(1/epsilon) noise — the standard ε-DP mechanism for
    unit-count queries (sensitivity 1), the release form for "how
    many documents per source / events per type" tables that must
    not leak any single contributor.

    Noise is DERIVED, not drawn: u = (md5-hash31(seed:key)+0.5) /
    2^31-1 ∈ (0,1), inverse-CDF'd to Laplace via
    −b·sign(u−½)·ln(1−2|u−½|). A production release draws true
    randomness per publication; the seeded form is the reproducible-
    pipeline / cross-engine-replayable variant (same contract as the
    engine's deterministic bootstrap weights) — rotate `seed` per
    release or the noise repeats, which voids the privacy guarantee
    across releases.

    Shape: one keyed aggregation + a pure noise map on the group
    key — the noise term never sees the data, only the key and seed.
    True counts are NOT in the output (that would be the leak).
    Columns: <group_cols...>, dp_count (round 6).
    """
    b = 1.0 / float(epsilon)
    key = F.concat_ws(":", F.lit(seed),
                      *[F.col(c).cast("string") for c in group_cols])
    from parlerproject_spark.functions.text import stable_hash31
    u = (stable_hash31(key).cast("double") + 0.5) / 2147483647.0
    noise = (-b * F.signum(u - 0.5)
             * F.log(1.0 - 2.0 * F.abs(u - 0.5)))
    return (df.groupBy(*[F.col(c) for c in group_cols])
            .agg(F.count(F.lit(1)).alias("__n"))
            .select(*group_cols,
                    F.round(F.col("__n") + noise, 6).alias("dp_count")))


def t_closeness_audit(df: DataFrame, quasi_cols: list[str],
                      sensitive_col: str, *, t: float = 0.2) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    step past k-anonymity/l-diversity: a class can hold many rows
    AND many distinct sensitive values yet still disclose (90%
    one diagnosis, say). t-closeness bounds how far each
    equivalence class's sensitive-value DISTRIBUTION drifts from
    the table-wide one: total-variation distance
    TVD = ½(Σ_present |q_v − p_v| + Σ_absent p_v), where the absent
    mass folds in as 1 − Σ_present p_v (classes never see every
    category).

    Shape: one (quasi, sensitive) cell count → class totals (quasi-
    keyed) + the global category distribution (≤|categories| rows,
    broadcast back) → one class-keyed aggregation. Nothing above
    cell granularity shuffles; the audit scales like any two-level
    count rollup.

    Columns: *quasi_cols, n (class size), tvd (round 6),
    breach (tvd > t). One row per equivalence class.
    """
    cell = (df.groupBy(*quasi_cols, sensitive_col)
            .agg(F.count(F.lit(1)).alias("__c")))
    cls = (cell.groupBy(*quasi_cols)
           .agg(F.sum("__c").alias("__n")))
    glob = (cell.groupBy(sensitive_col)
            .agg(F.sum("__c").alias("__g")))
    tot = glob.agg(F.sum("__g").alias("__tot"))
    gshare = (glob.crossJoin(F.broadcast(tot))
              .select(sensitive_col,
                      (F.col("__g") / F.col("__tot")).alias("__p")))
    per = (cell.join(cls, list(quasi_cols))
           .join(F.broadcast(gshare), sensitive_col))
    tvd = 0.5 * (F.sum(F.abs(F.col("__c") / F.col("__n") - F.col("__p")))
                 + (1.0 - F.sum("__p")))
    return (per.groupBy(*quasi_cols)
            .agg(F.max("__n").cast("long").alias("n"),
                 F.round(tvd, 6).alias("tvd"))
            .withColumn("breach", F.col("tvd") > t))


def luhn_check(col_name: str) -> "F.Column":
    """Luhn mod-10 checksum over a DIGITS-ONLY string column (by
    NAME — the fold is built with expression SQL) — the validator
    that separates a real payment-card number from any random
    16-digit run, cutting the false-positive rate of naive
    \\d{13,19} redaction (an order id, a timestamp, a hash prefix
    all fail the checksum with probability 0.9). Pure JVM
    expression: one `aggregate` fold over the reversed digit
    positions (double every second digit from the right, subtract 9
    above 9), sum mod 10 == 0. Empty/non-digit input → false."""
    s = col_name
    summed = F.expr(
        f"aggregate(transform(sequence(1, length({s})), i -> ("
        f"  coalesce(TRY_CAST(substring({s}, length({s}) - i + 1, 1)"
        f"           AS INT), 0) * "
        f"  (CASE WHEN i % 2 = 0 THEN 2 ELSE 1 END))), 0, "
        f"(acc, d) -> acc + (CASE WHEN d > 9 THEN d - 9 ELSE d END))")
    ok_shape = (F.length(F.col(s)) >= 1) & F.col(s).rlike("^[0-9]+$")
    return ok_shape & (summed % 10 == 0)


def card_flags(df: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Payment-card PII audit with checksum precision: extract every
    13–19-digit run (separators '-'/' ' tolerated), strip the
    separators, validate each with the Luhn checksum, and report per
    row: n_candidates, n_valid, and `masked` — the first VALID
    number masked to its last four digits ('****1111'), NULL when
    none validate. The naive pattern alone would flag order ids and
    hashes; the checksum keeps only plausible card numbers, which is
    the difference between a useful PII gate and one that redacts
    every long number in a log corpus.

    All-expression plan: regexp_extract_all for candidates, an
    array-level transform + filter for validation, no Python, no
    shuffle — a pure projection over the scan."""
    cand_pat = r"\\d(?:[ -]?\\d){12,18}"
    cands = F.expr(
        f"regexp_extract_all({text_col}, '{cand_pat}', 0)")
    norm = F.expr(
        f"transform(regexp_extract_all({text_col}, '{cand_pat}', 0), "
        "x -> regexp_replace(x, '[ -]', ''))")
    luhn_elem = (
        "aggregate(transform(sequence(1, length(x)), i -> ("
        "  CAST(substring(x, length(x) - i + 1, 1) AS INT) * "
        "  (CASE WHEN i % 2 = 0 THEN 2 ELSE 1 END))), 0, "
        "(acc, d) -> acc + (CASE WHEN d > 9 THEN d - 9 ELSE d END)) "
        "% 10 = 0")
    valid = F.expr(
        f"filter(transform(regexp_extract_all({text_col}, "
        f"'{cand_pat}', 0), x -> regexp_replace(x, '[ -]', '')), "
        f"x -> {luhn_elem})")
    first_valid = F.try_element_at(valid, F.lit(1))
    return df.select(
        F.col(id_col),
        F.size(cands).cast("long").alias("n_candidates"),
        F.size(valid).cast("long").alias("n_valid"),
        F.when(first_valid.isNotNull(),
               F.concat(F.lit("****"),
                        F.substring(first_valid, -4, 4)))
        .alias("masked"))
