"""Dedup + similarity-search operator tests (the north-star
LLM-data-pipeline surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parlerproject_spark.catalog import load_table
from parlerproject_spark.operators import dedup, similarity


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    other = "completely different words about spark query engines and shuffles"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"])


def test_exact_dedup_finds_identical_docs(spark):
    out = dedup.exact_dedup(_corpus(spark)).collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 2
    assert out[0]["canonical_id"] == 1


def test_ngram_jaccard_ranks_near_dup_above_unrelated(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] > 0.5
    assert (1, 4) not in pairs or pairs[(1, 4)] < 0.1


def test_ngram_jaccard_hub_cap_bounds_candidates(spark):
    # 40 docs that share ONE boilerplate trigram but are otherwise
    # disjoint: uncapped, the hub shingle alone emits 40*39/2 = 780
    # candidate pairs; with max_df below 40 the hub is dropped before
    # the self-join, so the candidate set (and the result) is empty.
    docs = spark.createDataFrame(
        [(i, f"common header line unique{i} word{i} token{i}")
         for i in range(40)], ["doc_id", "text"])
    capped = dedup.capped_shingles(docs, max_df=16)
    # the hub shingle ("common header line") is gone from the index
    assert capped.groupBy("sh").count().filter(F.col("count") > 16).count() == 0
    a, b = capped.alias("a"), capped.alias("b")
    n_cand = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                     & (F.col("a.doc_id") < F.col("b.doc_id"))).count())
    assert n_cand == 0  # uncapped this would be 780
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.1, max_df=16).count() == 0
    # and the cap leaves genuinely-similar pairs intact
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.0,
                                                max_df=128).collect()}
    assert pairs[(1, 2)] == 1.0


def test_minhash_lsh_recovers_high_jaccard_pairs(spark):
    got = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(_corpus(spark), threshold=0.5).collect()}
    # identical pair must always collide in every band
    assert (1, 2) in got


def test_minhash_lsh_broadcast_modes_agree(spark):
    """The dirty-corpus guard: candidate verification must produce
    identical pairs whether the candidate set is broadcast (tiny,
    known-clean), AQE-adaptive (default), or pinned to a shuffled
    hash join (the 100 TB fallback when candidates outgrow the
    broadcast budget)."""
    def run(mode):
        return {(r["id_a"], r["id_b"], r["jaccard"])
                for r in dedup.minhash_lsh_pairs(
                    _corpus(spark), threshold=0.0,
                    broadcast_candidates=mode).collect()}
    auto, forced, shuffled = run(None), run(True), run(False)
    assert auto == forced == shuffled and (1, 2, 1.0) in auto
    # the fallback really does plan without a candidate broadcast:
    # the forced plan has a broadcast exchange feeding the verify
    # join that the pinned-shuffle plan must not have on that side
    plan_off = dedup.minhash_lsh_pairs(
        _corpus(spark), threshold=0.0, broadcast_candidates=False
    )._jdf.queryExecution().executedPlan().toString()
    final_off = plan_off.split("== Initial Plan ==")[0]
    assert "ShuffledHashJoin" in final_off, final_off


def test_minhash_signature_identical_for_identical_docs(spark):
    sig = dedup.minhash_signatures(_corpus(spark)).collect()
    by_id = {r["doc_id"]: [r[f"h{i}"] for i in range(12)] for r in sig}
    assert by_id[1] == by_id[2]
    agree = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    disagree = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    assert agree > disagree  # signature similarity tracks jaccard


def test_simhash_hamming_tracks_similarity(spark):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_corpus(spark)).collect()}
    assert out[1] == out[2]
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far


def test_knn_bruteforce_exact_on_crafted_vectors(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"])
    q = spark.createDataFrame([([1.0, 0.0],)], ["q"])
    got = [r["vec_id"] for r in similarity.knn_bruteforce(vecs, q, k=3).collect()]
    assert got == [0, 1, 2]


def test_knn_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = {r["vec_id"] for r in similarity.knn_bruteforce(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in
              similarity.knn_lsh(emb, q, dim=64, k=10).collect()}
    # ANN contract: meaningful recall, not exactness
    assert len(exact & approx) >= 4
    assert 0 in approx  # the query vector itself always hashes to its own bucket


def test_embedding_near_dups_lsh_subset_of_exact(spark, sf_dir):
    from parlerproject_spark.catalog import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_near_dups(emb, threshold=0.3).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_near_dups(emb, threshold=0.3,
                                              mode="lsh", dim=64).collect()}
    assert lsh <= exact  # bucketing can only miss, never invent
    # near-random synthetic vectors are LSH's worst case; still expect
    # meaningful recall from 8 tables x 6 planes
    assert len(lsh) / max(len(exact), 1) >= 0.2


def test_embedding_near_dups_lsh_plan_builds_without_jobs(spark, sf_dir):
    # plan construction must be lazy: inferring dim via .first() (the
    # old behavior) fired a Spark job before any action was requested
    emb = load_table(spark, "embeddings", sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("near-dup-construct", "plan build only")
    try:
        df = dedup.embedding_near_dups(emb, threshold=0.3, mode="lsh", dim=64)
        assert df.columns == ["id_a", "id_b", "sim"]
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("near-dup-construct") == []
    finally:
        sc.setJobGroup("", "")


def test_knn_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = {r["vec_id"] for r in similarity.knn_bruteforce(emb, q, k=10).collect()}
    # the sf embeddings are near-uniform (no planted clusters), so
    # partial-probe recall is bounded by how much neighborhood
    # structure 16 cells can capture — assert a floor at nprobe=4,
    # improvement at nprobe=8, and EXACT equality at full probe
    # (nprobe=num_cells degenerates to brute force by construction)
    r4 = {r["vec_id"] for r in
          similarity.knn_ivf(emb, q, k=10, num_cells=16, nprobe=4).collect()}
    r8 = {r["vec_id"] for r in
          similarity.knn_ivf(emb, q, k=10, num_cells=16, nprobe=8).collect()}
    rfull = {r["vec_id"] for r in
             similarity.knn_ivf(emb, q, k=10, num_cells=16,
                                nprobe=16).collect()}
    assert len(exact & r4) >= 3
    assert len(exact & r8) >= len(exact & r4)
    assert rfull == exact
    assert 0 in r4  # the query vector lives in the first probed cell


def test_knn_ivf_probes_prune_to_nprobe_cells(spark):
    # 3 well-separated axis clusters; nprobe=1 must return only the
    # query's own cluster members — proof the probe prunes, not scans.
    # ids 0/1/2 are one vector per cluster so the deterministic
    # lowest-id init seeds every cluster (lloyd_centroids contract).
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])] \
         + [(10 + i, [1.0 + 0.01 * i, 0.0, 0.0]) for i in range(3)] \
         + [(20 + i, [0.0, 1.0 + 0.01 * i, 0.0]) for i in range(3)] \
         + [(30 + i, [0.0, 0.0, 1.0 + 0.01 * i]) for i in range(3)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = spark.createDataFrame([([0.0, 1.0, 0.05],)], ["q"])
    got = {r["vec_id"] for r in
           similarity.knn_ivf(vecs, q, k=12, num_cells=3, nprobe=1,
                              max_iter=4).collect()}
    assert got == {1, 20, 21, 22}


def test_lsh_query_buckets_equal_corpus_signatures(spark):
    """The driver-side query buckets and the corpus signature map sign
    with one plane matrix: a corpus vector's exact bucket in every
    table is the `sig` `_signatures_arrow` gives it, so a vector
    always probes its own buckets. A multi-row query is rejected."""
    import random

    import pytest

    rng = random.Random(11)
    # eighths are exact in the float32 corpus column
    rows = [(i, [rng.randint(-8, 8) / 8.0 for _ in range(16)])
            for i in range(6)]
    sigs = similarity._signatures_arrow(
        _vecs(spark, rows), vec_col="embedding", key_cols=["vec_id"],
        dim=16, num_planes=similarity.LSH_PLANES,
        num_tables=similarity.LSH_TABLES).collect()
    by_vec = {}
    for r in sigs:
        by_vec.setdefault(r["vec_id"], {})[r["tbl"]] = r["sig"]
    for i, v in rows:
        assert similarity._lsh_query_buckets(v, 16) == [
            by_vec[i][t] for t in range(similarity.LSH_TABLES)]
    two = spark.createDataFrame([([1.0] * 16,), ([0.5] * 16,)], ["q"])
    with pytest.raises(ValueError, match="knn_lsh"):
        similarity.knn_lsh(_vecs(spark, rows), two, dim=16)


def test_probe_cells_ties_zero_norm_and_all_cells():
    """IVF cell ranking (pure Python): cells rank by cosine to the
    query, ties go to the lowest cell index, a zero-norm centroid is
    kept as-is (similarity 0, like topics.unit_rows), and
    nprobe >= num_cells returns every cell."""
    cents = [[2.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]
    # cells 0 and 1 tie after normalization; 2 and the zero cell tie at 0
    assert similarity._probe_cells(cents, [1.0, 0.0], 2) == [0, 1]
    assert similarity._probe_cells(cents, [1.0, 0.0], 4) == [0, 1, 2, 3]
    assert similarity._probe_cells(cents, [-1.0, 0.0], 2) == [2, 3]
    assert similarity._probe_cells(cents, [0.0, -1.0], 9) == [0, 1, 3, 2]


def test_lsh_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted LSH index: build_lsh_index writes
    partitionBy(tbl, sig) — the directory layout IS the hash buckets.
    probe_lsh_index's literal (tbl, sig) disjunction must prune at
    planning time (scan reads only probed buckets), the probed
    top hit must agree with brute force, and the persisted index must
    return exactly the rows of the in-session `knn_lsh` (both read
    LSH_PLANES/LSH_TABLES, so a build and a probe cannot disagree)."""
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "lsh")
    similarity.build_lsh_index(emb, path, dim=64)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]

    probed = similarity.probe_lsh_index(spark, path, qv, dim=64, k=5)
    rows = probed.collect()
    assert rows[0]["vec_id"] == 0  # the query vector finds itself

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    import re
    m = re.search(r"partition count: (\d+)", plan)
    if m:
        # ≤ (1 + LSH_PLANES) buckets per table actually exist & match
        assert int(m.group(1)) <= (similarity.LSH_TABLES
                                   * (1 + similarity.LSH_PLANES)), plan
    # probe agrees with the in-query LSH path on recall shape
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = {r["vec_id"] for r in
             similarity.knn_bruteforce(emb, q, k=5).collect()}
    assert len({r["vec_id"] for r in rows} & exact) >= 2
    in_session = similarity.knn_lsh(emb, q, dim=64, k=5).collect()
    assert ([(r["vec_id"], r["sim"]) for r in rows]
            == [(r["vec_id"], r["sim"]) for r in in_session])


def test_ivf_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted-index serving path: build_ivf_index writes
    partitionBy(cell); probe_ivf_index must (a) read ONLY the probed
    cells' partitions — visible as a cell PartitionFilter with fewer
    files scanned — and (b) agree with brute force on the top hit."""
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "ivf")
    cents = similarity.build_ivf_index(emb, path, num_cells=8)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]

    probed = similarity.probe_ivf_index(spark, path, cents, qv,
                                        k=5, nprobe=2)
    rows = probed.collect()
    assert rows[0]["vec_id"] == 0  # the query vector finds itself

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan
    # pruning must drop unprobed partitions from the scan entirely
    import re
    m = re.search(r"partition count: (\d+)", plan)
    if m:
        assert int(m.group(1)) <= 2, plan


def test_ivf_index_append_serves_new_vectors_without_retrain(spark,
                                                             sf_dir,
                                                             tmp_path):
    """Incremental maintenance: append_ivf_index adds new vectors to
    the existing cell layout; a probe for a NEW vector finds it, an
    old vector is still found, and the probe still partition-prunes."""
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "ivf_app")
    cents = similarity.build_ivf_index(emb, path, num_cells=8)

    # new batch: resident vectors re-keyed out of the id range,
    # slightly perturbed so they are distinct rows
    new = (emb.filter(F.col("vec_id") < 5)
           .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                   F.transform("embedding",
                               lambda x: x * F.lit(1.0)).alias("embedding")))
    similarity.append_ivf_index(new, path, cents)

    qv = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    probed = similarity.probe_ivf_index(spark, path, cents, qv,
                                        k=5, nprobe=2)
    got = [r["vec_id"] for r in probed.collect()]
    assert 3 in got            # resident vector still served
    assert 1_000_003 in got    # appended copy found at the same point
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan


def test_int8_quantization_fidelity(spark, sf_dir):
    """Quantize → dequantize must preserve cosine similarity to the
    original vector (the serving-quality bound for the 4× storage
    cut) and produce values strictly inside the symmetric int8 box."""
    from parlerproject_spark.functions.vectors import (
        cosine, dequantize, quant_scale, quantize_int8)
    emb = load_table(spark, "embeddings", sf_dir)
    qq = (emb.withColumn("scale", quant_scale("embedding"))
          .filter(F.col("scale") > 0)
          .withColumn("qv", quantize_int8("embedding", "scale"))
          .withColumn("deq", dequantize("qv", "scale")))
    stats = qq.select(
        F.min(cosine("embedding", "deq")).alias("worst_cos"),
        F.min(F.array_min("qv")).alias("qmin"),
        F.max(F.array_max("qv")).alias("qmax")).collect()[0]
    assert stats["worst_cos"] > 0.999, stats
    assert -127 <= stats["qmin"] and stats["qmax"] <= 127, stats


def test_duplicate_clusters_transitive_closure(spark):
    """(a,b),(b,c) must collapse into one cluster; a long chain
    converges within the pointer-jumping iteration budget; disjoint
    components stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
        # a 40-node chain exercises O(log d) convergence
        + [(100 + i, 101 + i) for i in range(39)],
        ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[20] == got[23] == 20
    assert all(got[100 + i] == 100 for i in range(40))


def test_duplicate_clusters_string_ids(spark):
    """String doc ids can't ride the decimal-sum convergence check
    (cast yields NULL → None==None would fake convergence after one
    iteration — ADVICE r8); the changed-rows fallback must still
    close a chain that needs >1 propagation round."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
         ("f", "g"), ("g", "h"), ("x", "y")],
        ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert all(got[v] == "a" for v in "abcdefgh")
    assert got["x"] == got["y"] == "x"


def test_duplicate_clusters_raises_without_fixed_point(spark):
    """A chain longer than the iteration budget can reach is an error,
    not split clusters, under both convergence probes: the decimal
    sum (bigint ids) and the changed-rows join (string ids)."""
    import pytest

    chain = [(100 + i, 101 + i) for i in range(39)]
    for pairs in (spark.createDataFrame(chain, "id_a long, id_b long"),
                  spark.createDataFrame([(str(a), str(b)) for a, b in chain],
                                        "id_a string, id_b string")):
        with pytest.raises(RuntimeError, match="no fixed point"):
            dedup.duplicate_clusters(pairs, max_iter=1)


def test_exact_substring_spans_finds_shared_run(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [(1, f"one two three {shared} four five six"),
         (2, f"seven eight {shared} nine ten"),
         (3, "completely different words in every position here today")],
        ["doc_id", "text"])
    got = {(r["doc_id"]): (r["start_tok"], r["end_tok"], r["n_tokens"])
           for r in dedup.exact_substring_spans(docs, k=8).collect()}
    # the 10-token shared run: doc 1 tokens 3..12, doc 2 tokens 2..11
    assert got[1] == (3, 12, 10)
    assert got[2] == (2, 11, 10)
    assert 3 not in got


def test_exact_substring_spans_merges_overlapping_windows(spark):
    # a 16-token shared run -> 9 duplicated 8-gram windows that must
    # merge into ONE maximal span, not 9 reports
    run = " ".join(f"tok{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, run), (2, f"prefix words here {run} suffix")],
        ["doc_id", "text"])
    rows = dedup.exact_substring_spans(docs, k=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["start_tok"], r["end_tok"]))
    assert by_doc[1] == [(0, 15)]
    assert by_doc[2] == [(3, 18)]


def test_exact_substring_spans_reports_within_doc_repeats(spark):
    # the duplicated run occurs twice in the SAME document -> two
    # disjoint spans in that doc (self-duplication counts, matching
    # the exact-substring dedup definition)
    run = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, f"{run} filler middle words go here {run}")],
        ["doc_id", "text"])
    spans = sorted((r["start_tok"], r["end_tok"])
                   for r in dedup.exact_substring_spans(docs, k=8).collect())
    assert spans == [(0, 7), (13, 20)]


# SemDeDup ------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_drops_planted_near_dups_keeps_lowest_id(spark):
    """Two well-separated duplicate families; k=2 k-means puts each
    family in one cell, and within each cell only the lowest id
    survives. (A duplicate pair SPLIT across cells is the documented
    SemDeDup recall trade — families must be cluster-sized for the
    within-cell join to see them.)"""
    from parlerproject_spark.operators.dedup import semantic_dedup
    fam_a = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(1, 4)]
    fam_b = [(i, [0.0, 0.001 * i, 1.0, 0.0]) for i in range(11, 14)]
    d = _vecs(spark, fam_a + fam_b)
    out = {r["vec_id"]: r["keep"] for r in
           semantic_dedup(d, threshold=0.99, k=2).collect()}
    assert out == {1: True, 2: False, 3: False,
                   11: True, 12: False, 13: False}


def test_semantic_dedup_k1_equals_bruteforce_components(spark):
    """With one cluster the cell-confined join IS the all-pairs
    join: keep-set must equal brute-force CC keep-set, whether the
    cell's gram runs as one row block or as eight (block=4)."""
    from parlerproject_spark.operators.dedup import (duplicate_clusters,
                                                     embedding_near_dups,
                                                     semantic_dedup)
    rows = [(i, [float((i * 7 + j) % 5 == 0) + 0.05 * j for j in range(6)])
            for i in range(30)]
    d = _vecs(spark, rows)
    got = {r["vec_id"] for r in
           semantic_dedup(d, threshold=0.98, k=1).collect()
           if r["keep"]}
    assert got == {r["vec_id"] for r in
                   semantic_dedup(d, threshold=0.98, k=1,
                                  block=4).collect()
                   if r["keep"]}
    pairs = embedding_near_dups(d, threshold=0.98, mode="exact")
    comps = duplicate_clusters(pairs)
    dropped = {r["doc_id"] for r in comps.collect()
               if r["doc_id"] != r["cluster_id"]}
    want = {r[0] for r in rows} - dropped
    assert got == want


def test_semantic_dedup_transitive_chain_keeps_one(spark):
    # a ~ b ~ c chain (a-c below threshold): CC must collapse to one
    a = [1.0, 0.0, 0.0]
    b = [0.96, 0.28, 0.0]   # cos(a,b) ~ .96
    c = [0.85, 0.53, 0.0]   # cos(b,c) ~ .96, cos(a,c) ~ .85
    from parlerproject_spark.operators.dedup import semantic_dedup
    d = _vecs(spark, [(10, a), (11, b), (12, c)])
    out = {r["vec_id"]: r["keep"] for r in
           semantic_dedup(d, threshold=0.95, k=1).collect()}
    assert out == {10: True, 11: False, 12: False}


# Product quantization ------------------------------------------------------

def test_pq_recall_and_compression(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    books = similarity.train_pq(emb, dim=64, m=8, ksub=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # dim/m
    codes = similarity.encode_pq(emb, books)
    [r] = codes.limit(1).collect()
    assert len(r["codes"]) == 8                 # 8 bytes vs 64 floats
    assert all(0 <= c < 16 for c in r["codes"])
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"))
    exact = {r["vec_id"] for r in
             similarity.knn_bruteforce(emb, q, k=10).collect()}
    got = [r["vec_id"] for r in
           similarity.knn_pq(emb, list(qv), books, k=10,
                             rerank=64).collect()]
    assert got[0] == 0                          # finds the query itself
    assert len(set(got) & exact) >= 5           # meaningful recall
    # re-ranked sims are exact cosines: descending, top == 1.0
    sims = [r["sim"] for r in
            similarity.knn_pq(emb, list(qv), books, k=10,
                              rerank=64).collect()]
    assert sims == sorted(sims, reverse=True) and abs(sims[0] - 1.0) < 1e-6


def test_pq_adc_scan_is_jvm_side(spark, sf_dir):
    """The ADC scoring expression over the code table must be pure
    JVM Column algebra — the only Python stage is the encode map."""
    emb = load_table(spark, "embeddings", sf_dir)
    books = similarity.train_pq(emb, dim=64, m=8, ksub=16)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    plan = (similarity.knn_pq(emb, list(qv), books, k=5)
            ._jdf.queryExecution().executedPlan().toString())
    # one mapInPandas for encoding; no other Python evaluation
    import re
    assert len(re.findall(r"MapInPandas", plan)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_ivfpq_index_probe_prunes_and_recalls(spark, sf_dir, tmp_path):
    """The full serving stack: IVF partition pruning + PQ ADC scan +
    exact re-rank. The probe plan must read only nprobe cells, and
    recall vs brute force must be meaningful."""
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(emb, path, dim=64, num_cells=8,
                                 m=8, ksub=16)
    qv = list(emb.filter(F.col("vec_id") == 0)
              .select("embedding").first()[0])
    probed = similarity.probe_ivfpq_index(spark, path, qv, k=10,
                                          nprobe=3, rerank=64)
    rows = probed.collect()
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["sim"] - 1.0) < 1e-6
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"))
    exact = {r["vec_id"] for r in
             similarity.knn_bruteforce(emb, q, k=10).collect()}
    assert len({r["vec_id"] for r in rows} & exact) >= 4
    plan = probed._jdf.queryExecution().executedPlan().toString()
    import re
    filt = re.findall(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)\]",
                      plan)
    assert filt and all(len(f.split(",")) <= 3 for f in filt), plan


def test_ivfpq_probe_all_cells_equals_knn_pq(spark, tmp_path):
    """Probing every cell of an IVF+PQ index scores the same codes as
    knn_pq with the index's own codebooks, so both return the same
    (vec_id, sim) rows."""
    import json
    import random

    rng = random.Random(7)
    emb = _vecs(spark, [(i, [rng.uniform(-1, 1) for _ in range(8)])
                        for i in range(60)])
    path = str(tmp_path / "ivfpq_all")
    similarity.build_ivfpq_index(emb, path, dim=8, num_cells=4, m=2,
                                 ksub=4, train_mod=None)
    books = json.loads(spark.read.parquet(f"{path}/model")
                       .first()["model"])["codebooks"]
    qv = [rng.uniform(-1, 1) for _ in range(8)]
    probed = [tuple(r) for r in similarity.probe_ivfpq_index(
        spark, path, qv, k=10, nprobe=4, rerank=16).collect()]
    direct = [tuple(r) for r in similarity.knn_pq(
        emb, qv, books, k=10, rerank=16).collect()]
    assert probed == direct
    assert len(direct) == 10


def test_exact_mode_bounded_sides_cap(spark, sf_dir, monkeypatch):
    """Exact mode enforces its bounded-sides contract with a clear
    error instead of silently collecting an unbounded partner side to
    the driver (VERDICT r13 item 3). Both the row cap and the byte
    cap fire; the driver never holds more than cap+1 rows (the
    collect goes through limit(cap+1))."""
    import pytest as _pytest

    from parlerproject_spark.catalog import load_table
    from parlerproject_spark.operators import similarity

    emb = load_table(spark, "embeddings", sf_dir)
    monkeypatch.setattr(dedup, "_EXACT_MAX_ROWS", 10)
    with _pytest.raises(ValueError, match="mode='lsh'"):
        dedup.embedding_near_dups(emb, threshold=0.3, mode="exact")
    with _pytest.raises(ValueError, match="mode='lsh'"):
        similarity.margin_pair_mining(emb, emb)
    monkeypatch.setattr(dedup, "_EXACT_MAX_ROWS", 1_000_000)
    monkeypatch.setattr(dedup, "_EXACT_MAX_BYTES", 1024)
    with _pytest.raises(ValueError, match="MiB cap"):
        dedup.embedding_near_dups(emb, threshold=0.3, mode="exact")


class TestTruncationRecall:
    def test_full_width_is_sanity_one(self, spark):
        import numpy as np
        from parlerproject_spark.operators.similarity import (
            truncation_recall)
        rng = np.random.default_rng(9)
        rows = [(i, rng.normal(size=16).tolist()) for i in range(60)]
        vec = spark.createDataFrame(rows,
                                    "vec_id long, embedding array<double>")
        q = spark.createDataFrame([(rows[0][1],)], "q array<double>")
        out = {r.dim: r for r in
               truncation_recall(vec, q, dims=[4, 16], k=10).collect()}
        assert out[16].recall == 1.0 and out[16].hits == 10
        assert 0.0 <= out[4].recall <= 1.0

    def test_prefix_constant_vectors_keep_recall(self, spark):
        import numpy as np
        from parlerproject_spark.operators.similarity import (
            truncation_recall)
        # information lives entirely in the first 4 dims: the rest is
        # a shared constant tail, so truncation to 4 loses nothing
        rng = np.random.default_rng(3)
        rows = [(i, rng.normal(size=4).tolist() + [1.0] * 12)
                for i in range(40)]
        vec = spark.createDataFrame(rows,
                                    "vec_id long, embedding array<double>")
        q = spark.createDataFrame([(rows[0][1],)], "q array<double>")
        out = {r.dim: r.recall for r in
               truncation_recall(vec, q, dims=[4, 16], k=8).collect()}
        # not exactly 1.0 (norm of the tail still reweights) but the
        # prefix carries the ranking: most of the top-k survives
        assert out[4] >= 0.5 and out[16] == 1.0


class TestLateInteraction:
    def test_maxsim_hand_case(self, spark):
        from parlerproject_spark.operators.similarity import (
            late_interaction_topk)
        # doc 1's tokens align perfectly with both query tokens;
        # doc 2 matches only q0; doc 3's BEST token per query is
        # orthogonal (max picks it over the anti-aligned one)
        rows = [
            (1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0]),
            (2, 0, [1.0, 0.0]), (2, 1, [1.0, 0.0]),
            (3, 0, [-1.0, 0.0]), (3, 1, [0.0, -1.0]),
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, tok int, vec array<double>")
        out = {r["doc_id"]: r["score"]
               for r in late_interaction_topk(
                   df, [[1.0, 0.0], [0.0, 1.0]], k=3).collect()}
        assert out[1] == 2.0          # max cos = 1 for each q token
        assert out[2] == 1.0          # q0 -> 1, q1 -> 0 (best token)
        assert out[3] == 0.0    # max picks the less-negative token
        # ranking respects score desc
        ranked = [d for d, _ in sorted(out.items(),
                                       key=lambda kv: -kv[1])]
        assert ranked == [1, 2, 3]

    def test_maxsim_picks_best_token_not_first(self, spark):
        from parlerproject_spark.operators.similarity import (
            late_interaction_topk)
        rows = [(1, 0, [0.0, 1.0]), (1, 1, [1.0, 0.0])]
        df = spark.createDataFrame(
            rows, "doc_id bigint, tok int, vec array<double>")
        out = late_interaction_topk(df, [[1.0, 0.0]], k=1).collect()
        assert out[0]["score"] == 1.0   # token 1, not token 0


class TestPlanLshBands:
    def test_textbook_16_hashes(self):
        from parlerproject_spark.operators.dedup import plan_lsh_bands
        plan = plan_lsh_bands(target_jaccard=0.5, num_hashes=16)
        assert plan["bands"] * plan["rows"] == 16
        # chosen threshold is the closest achievable to 0.5
        diffs = [abs(c["threshold"] - 0.5) for c in plan["candidates"]]
        assert abs(plan["threshold"] - 0.5) == min(diffs)
        # the S-curve is sane: near-certain collision well above the
        # threshold, low collision well below it
        assert plan["p_at_target"] > 0.3
        assert plan["p_at_half_target"] < plan["p_at_target"]

    def test_fp_guard_excludes_aggressive_splits(self):
        from parlerproject_spark.operators.dedup import plan_lsh_bands
        plan = plan_lsh_bands(target_jaccard=0.5, num_hashes=16,
                              max_fp_below=0.05)
        assert plan["p_at_half_target"] <= 0.05
        import pytest as _pytest
        with _pytest.raises(ValueError):
            plan_lsh_bands(target_jaccard=0.9, num_hashes=16,
                           max_fp_below=1e-12)

    def test_probability_formula(self):
        from parlerproject_spark.operators.dedup import plan_lsh_bands
        plan = plan_lsh_bands(target_jaccard=0.8, num_hashes=12)
        b, r = plan["bands"], plan["rows"]
        expect = 1.0 - (1.0 - 0.8 ** r) ** b
        assert plan["p_at_target"] == round(expect, 6)
