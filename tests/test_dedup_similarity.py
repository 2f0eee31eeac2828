"""Dedup (exact, MinHash+LSH, SimHash, Jaccard) and similarity search."""

from __future__ import annotations

from pyspark.sql import functions as F

from wicsmmiretl_spark.catalog import load_table
from wicsmmiretl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash32,
    word_shingles,
)
from wicsmmiretl_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
    hyperplane_signature,
)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "unique")], "id long, text string"
    )
    out = exact_dedup(df, "id", "text")
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    out = [r.sh for r in df.select(word_shingles("text").alias("sh")).collect()]
    assert out[0] == []
    assert out[1] == ["a b c", "b c d"]


def test_minhash_identical_docs_all_bands_match(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "the quick brown fox jumps over the lazy dog"), (3, "completely different words here entirely now")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id").collect()
    assert (1, 2) in {(r.id_a, r.id_b) for r in pairs}
    assert all({r.id_a, r.id_b} != {1, 3} for r in pairs)


def test_minhash_stable_under_repartition(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    a = sorted((r.id_a, r.id_b) for r in lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"), "doc_id").collect())
    b = sorted(
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs.repartition(7), "doc_id", "text"), "doc_id").collect()
    )
    assert a == b


def test_jaccard_bounds_and_identity(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(df, cand, "doc_id", "text", threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.0 < out[(1, 3)] < 1.0


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
            (3, "entirely unrelated vocabulary concerning quantum chromodynamics lattice simulations"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash32(df, "doc_id", "text").collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])
    assert all(0 <= s < 2**32 for s in sigs.values())


def test_cosine_topk_matches_numpy_brute_force(spark, sf_dir):
    """Value coverage for cosine_topk: a float64 NumPy brute force (self
    excluded, cosines rounded to 6dp, ties to the smallest neighbor_id).
    ``cumsum`` is a sequential left fold, so dot and norms add in the same
    order as the Spark kernel."""
    from pathlib import Path

    import numpy as np

    sf = str(Path(sf_dir).with_name("sf0.01"))
    emb = load_table(spark, "embeddings", sf)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float32).astype(np.float64)
    norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    k = 5
    expect = []
    for qi in np.flatnonzero(ids < 8):
        dots = np.cumsum(mat * mat[qi], axis=1)[:, -1]
        cos = np.round(dots / (norms[qi] * norms), 6)
        cand = [(-c, int(i)) for c, i in zip(cos, ids) if i != ids[qi]]
        expect += [(int(ids[qi]), i, -nc) for nc, i in sorted(cand)[:k]]
    got = cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=k).collect()
    assert sorted(tuple(r) for r in got) == sorted(expect)


def test_cosine_topk_self_is_excluded_and_sorted(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=5).collect()
    assert len(out) == 5
    assert all(r.neighbor_id != 0 for r in out)
    cosines = [r.cosine for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_hyperplane_lsh_subset_of_bruteforce_space(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3)
    sig = hyperplane_signature(emb, bits=8)
    assert sig.select("bucket").distinct().count() > 1
    approx = hyperplane_lsh_topk(emb, q, k=3, bits=8)
    rows = approx.collect()
    # approximate: every returned neighbor must share the query's bucket
    buckets = {r.vec_id: r.bucket for r in sig.collect()}
    for r in rows:
        assert buckets[r.neighbor_id] == buckets[r.query_id]


def test_hyperplane_dim_overprovision_matches_probe(spark, sf_dir):
    """An over-provisioned dim (128 planes over 64-wide vectors) must yield
    the SAME buckets as the probed exact width: the padded dot-product slots
    are skipped, mirroring the oracle's range(128) planes table. This is
    what lets callers pass a schema-known dim and skip the plan-build
    first() probe job."""
    emb = load_table(spark, "embeddings", sf_dir)
    probed = {r.vec_id: r.bucket for r in hyperplane_signature(emb, bits=6, seed=42).collect()}
    wide = {
        r.vec_id: r.bucket
        for r in hyperplane_signature(emb, bits=6, seed=42, dim=128).collect()
    }
    assert probed == wide and len(probed) > 0


def test_cosine_pairs_symmetric_threshold(spark, sf_dir):
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import cosine_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = cosine_pairs(emb, 0.4).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert all(0.4 <= r.cosine <= 1.0 for r in pairs)


def test_cosine_pairs_size_gate_trips(spark, sf_dir):
    """The O(n²) baseline must fail loudly past max_rows, naming the scale
    path — same contract as dup_clusters' driver_threshold."""
    import pytest

    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import cosine_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    with pytest.raises(RuntimeError, match="hyperplane_pairs"):
        cosine_pairs(emb, 0.4, max_rows=10)


def test_hyperplane_pairs_subset_of_exact(spark, sf_dir):
    """LSH candidates are a SUBSET of all pairs and bucket-consistent."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import hyperplane_pairs, hyperplane_signature

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = hyperplane_pairs(emb, bits=6, seed=42)
    rows = pairs.collect()
    assert all(r.id_a < r.id_b for r in rows)
    sig = {r.vec_id: r.bucket for r in hyperplane_signature(emb, bits=6, seed=42).collect()}
    for r in rows[:50]:
        assert sig[r.id_a] == sig[r.id_b]


def test_derived_lsh_bits_integer_exact():
    """Smallest b with 2^b·target ≥ n, floored at 1 bit, capped at
    max_bits — pure integer comparisons so the oracle's
    ``min(b) WHERE (1 << b) * target >= count(*)`` derives the IDENTICAL
    value at every n, including the exact power-of-two boundaries where a
    float log2 could round either way."""
    import pytest

    from wicsmmiretl_spark.operators.similarity import derived_lsh_bits

    assert derived_lsh_bits(1, 32) == 1
    assert derived_lsh_bits(64, 32) == 1
    assert derived_lsh_bits(65, 32) == 2
    assert derived_lsh_bits(500, 32) == 4  # sf0.01 (the driver's gate)
    assert derived_lsh_bits(2000, 32) == 6  # sf0.1 = the old fixed operating point
    assert derived_lsh_bits(2048, 32) == 6  # exact boundary: 2^6 * 32 == 2048
    assert derived_lsh_bits(2049, 32) == 7
    assert derived_lsh_bits(20000, 32) == 10  # the 10x rehearsal point
    assert derived_lsh_bits(10**12, 32) == 30  # capped
    with pytest.raises(ValueError, match="target_bucket"):
        derived_lsh_bits(10, 0)


def test_hyperplane_pairs_target_bucket_matches_fixed_bits(spark, sf_dir):
    """target_bucket changes WHERE bits comes from, not the banding: at
    sf0.01 (500 vectors, target 32 → 4 bits) the derived run must equal
    the fixed bits=4 run pair-for-pair."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import hyperplane_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    derived = {
        (r.id_a, r.id_b)
        for r in hyperplane_pairs(emb, seed=42, dim=128, target_bucket=32).collect()
    }
    fixed = {
        (r.id_a, r.id_b)
        for r in hyperplane_pairs(emb, bits=4, seed=42, dim=128).collect()
    }
    assert derived == fixed and len(derived) > 0


def test_ivf_topk_shape_and_cell_consistency(spark, sf_dir):
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    out = ivf_topk(emb, k=5).collect()
    per_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        assert -1.0 <= r.cosine <= 1.0
        per_q.setdefault(r.query_id, []).append(r.cosine)
    for cosines in per_q.values():
        assert len(cosines) <= 5
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_recall_monotone_in_nprobe(spark, sf_dir):
    """Each extra probed cell only ADDS candidates (existing ones keep their
    exact scores), so recall@k vs brute force is monotone in nprobe, and
    nprobe = #cells reproduces the exact ranking bit-for-bit."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    n_cells = emb.select("label").distinct().count()
    exact = {}
    for r in cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(nprobe: int) -> float:
        got = {}
        for r in ivf_topk(emb, k=5, nprobe=nprobe).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in exact.items()
        ) / len(exact)

    r1, r3, rall = recall(1), recall(3), recall(n_cells)
    assert r1 <= r3 <= rall
    assert rall == 1.0
    exact_rows = sorted(
        tuple(r) for r in cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).collect()
    )
    all_rows = sorted(tuple(r) for r in ivf_topk(emb, k=5, nprobe=n_cells).collect())
    assert all_rows == exact_rows


def test_dup_clusters_resolves_chains(spark):
    """A chain a-b, b-c must land in ONE cluster labeled by the min id —
    exactly what naive pair-dedup (keep min of each pair) gets wrong."""
    from pyspark.sql import Row

    from wicsmmiretl_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11), Row(id_a=3, id_b=7)],
        "id_a long, id_b long",
    )
    expect = {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    got_driver = {r.id: r.cluster_id for r in dup_clusters(pairs).collect()}
    got_dist = {
        r.id: r.cluster_id for r in dup_clusters(pairs, driver_threshold=0).collect()
    }
    assert got_driver == expect and got_dist == expect


def test_simhash_near_pairs_exact_verify(spark, sf_dir):
    """Every returned pair's hamming distance is exact and within bound;
    identical docs have distance 0."""
    from pyspark.sql import Row

    from wicsmmiretl_spark.operators.dedup import simhash32, simhash_near_pairs

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the dog"),
            Row(doc_id=3, text="completely different words entirely here"),
        ]
    )
    sigs = {r.doc_id: r.simhash for r in simhash32(df, "doc_id", "text").collect()}
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(simhash32(df, "doc_id", "text"), max_hamming=2).collect()}
    assert pairs[(1, 2)] == 0
    for (a, b), h in pairs.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1") and h <= 2


def test_lsh_bucket_cap_star_expands_oversized_buckets(spark):
    """A bucket over max_bucket_size is star-expanded (every member pairs
    with the bucket min) instead of pairwise-expanded; connected components
    are preserved while the row count drops from O(k²) to O(k)."""
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(i, text) for i in range(1, 41)] + [(100, "totally unrelated caption words here")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, "doc_id", "text")

    capped = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=10).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    # Star shape: exactly one pair per non-min member, all anchored at id 1,
    # and every pair is flagged for downstream verify exemption.
    assert got == {(1, i) for i in range(2, 41)}
    assert all(r.is_star for r in capped)

    # Under the cap (and with cap disabled) the same input is pairwise and
    # every pair is a normal, verifiable candidate.
    uncapped_rows = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=None).collect()
    uncapped = {(r.id_a, r.id_b) for r in uncapped_rows}
    assert uncapped == {(a, b) for a in range(1, 41) for b in range(a + 1, 41)}
    assert not any(r.is_star for r in uncapped_rows)
    default = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert default == uncapped


def test_dup_clusters_raises_on_unconverged_propagation(spark):
    """Distributed contraction must not silently emit non-fixpoint labels:
    a path graph needing more star rounds than max_iter allows raises."""
    import pytest
    from wicsmmiretl_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dup_clusters(chain, driver_threshold=0, max_iter=1).collect()
    ok = dup_clusters(chain, driver_threshold=0, max_iter=20)
    assert {r.cluster_id for r in ok.collect()} == {1}


def test_salted_join_rejects_right_preserving_how(spark):
    import pytest
    from wicsmmiretl_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, w string")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(left, right, "k", how="full_outer")
    assert salted_join(left, right, "k", how="left_semi").columns == ["k", "v"]


def test_collect_cents_assembles_contiguous_positions():
    """The driver-side centroid assembly behind kmeans_train/pq_train
    (r14): rows of (keys, pos, c) regroup into sorted (*keys, [c...])
    with the per-group dimension lists in position order regardless of
    collect order — the invariant the range(len(d)) indexing rests on."""
    from pyspark.sql import Row

    from wicsmmiretl_spark.operators.similarity import _collect_cents

    rows = [
        Row(cell=2, pos=1, c=0.4),
        Row(cell=1, pos=0, c=0.1),
        Row(cell=2, pos=0, c=0.3),
        Row(cell=1, pos=1, c=0.2),
    ]
    assert _collect_cents(rows, ["cell"]) == [(1, [0.1, 0.2]), (2, [0.3, 0.4])]
    rows2 = [
        Row(subspace=1, cell=1, pos=0, c=9.0),
        Row(subspace=0, cell=2, pos=0, c=5.0),
        Row(subspace=0, cell=1, pos=1, c=2.0),
        Row(subspace=0, cell=1, pos=0, c=1.0),
    ]
    assert _collect_cents(rows2, ["subspace", "cell"]) == [
        (0, 1, [1.0, 2.0]),
        (0, 2, [5.0]),
        (1, 1, [9.0]),
    ]


def test_collect_cents_rejects_ragged_positions():
    """ADVICE r14: a missing dimension position (ragged / NULL-element
    embedding upstream) must raise a contract error naming the gap, not
    a bare KeyError from the range indexing."""
    import pytest
    from pyspark.sql import Row

    from wicsmmiretl_spark.operators.similarity import _collect_cents

    rows = [Row(cell=1, pos=0, c=0.1), Row(cell=1, pos=2, c=0.3)]
    with pytest.raises(ValueError, match="missing dimension"):
        _collect_cents(rows, ["cell"])


def test_cent_array_empty_centroids_yield_empty_result(spark):
    """ADVICE r14: an EMPTY centroid table must collapse to ZERO broadcast
    rows (the agg's always-one-row output is filtered), so a crossJoin
    consumer produces an empty result instead of NULL-cell rows — the r13
    crossJoin-with-empty semantics."""
    from wicsmmiretl_spark.operators.similarity import _cent_array

    cent = spark.createDataFrame(
        [], "cell int, cv array<double>, nc double"
    )
    assert _cent_array(cent).count() == 0
    probe = spark.range(3)
    assert probe.crossJoin(_cent_array(cent)).count() == 0
    nonempty = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0)], "cell int, cv array<double>, nc double"
    )
    assert probe.crossJoin(_cent_array(nonempty)).count() == 3


def test_kmeans_train_deterministic_and_labelfree(spark, sf_dir):
    """kmeans_train consults no label column, is deterministic across
    invocations (seeded init + exact integer means), and partitions the
    input: every vector lands in exactly one of <= k cells."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import kmeans_train

    emb = load_table(spark, "embeddings", sf_dir).drop("label")
    a = kmeans_train(emb, k=4, iters=2, seed=7)
    b = kmeans_train(emb, k=4, iters=2, seed=7)
    ra = sorted((r.cell, tuple(r.cv)) for r in a.collect())
    rb = sorted((r.cell, tuple(r.cv)) for r in b.collect())
    assert ra == rb
    assert 1 <= len(ra) <= 4
    dim = len(emb.select("embedding").first()[0])
    assert all(len(cv) == dim for _, cv in ra)
    # a different seed picks different init vectors -> (almost surely)
    # different centroids; equality would mean the seed is ignored
    c = kmeans_train(emb, k=4, iters=2, seed=8)
    rc = sorted((r.cell, tuple(r.cv)) for r in c.collect())
    assert rc != ra


def test_ivf_topk_trained_recall_monotone_in_nprobe(spark, sf_dir):
    """The nprobe-recall contract must survive the switch from label cells
    to trained k-means cells (label_col=None)."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter("vec_id < 10")
    exact = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(nprobe: int) -> float:
        got = {}
        for r in ivf_topk(
            emb, k=5, label_col=None, nprobe=nprobe, train_k=4, train_iters=2
        ).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r1, r4 = recall(1), recall(4)
    assert r1 <= r4
    # nprobe = #cells probes everything -> exact brute-force ranking
    assert r4 == 1.0


def test_minhash_production_params_plan_invariant(spark, sf_dir):
    """Production MinHash parameterization (128 hashes / 16 bands, the
    common large-corpus setting) must not change the PLAN SHAPE vs the 8/4
    suite default: the signature build stays a pure projection (zero
    exchanges — parameter growth widens rows, it never adds shuffles) and
    the LSH banding pipeline has the same fixed exchange count. This pins
    the scale contract: tuning recall/precision is free of new shuffles."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = load_table(spark, "documents", sf_dir)

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    sig_small = minhash_signatures(docs, "doc_id", "text", num_hashes=8, shingle_n=3)
    sig_big = minhash_signatures(docs, "doc_id", "text", num_hashes=128, shingle_n=5)
    assert n_exchanges(sig_small) == 0
    assert n_exchanges(sig_big) == 0
    assert len(sig_big.columns) == 1 + 128  # id + m0..m127

    pairs_small = lsh_candidate_pairs(sig_small, "doc_id", num_hashes=8, bands=4)
    pairs_big = lsh_candidate_pairs(sig_big, "doc_id", num_hashes=128, bands=16)
    assert n_exchanges(pairs_small) == n_exchanges(pairs_big)

    # and the production parameterization actually executes end-to-end:
    # 16 bands of 8 rows are far more selective than 4 bands of 2, so the
    # candidate set can only shrink
    n_small = pairs_small.count()
    n_big = pairs_big.count()
    assert n_big <= n_small


def test_pq_train_equals_per_slice_kmeans(spark, sf_dir):
    """The grouped PQ trainer must be bit-identical to running kmeans_train
    on each subspace slice independently — this equivalence is what lets
    the SQL oracle replay PQ as per-subspace k-means chains."""
    from wicsmmiretl_spark.operators.similarity import kmeans_train, pq_train

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_train(emb, dim=64, m=4, k=8, iters=2, seed=42)
    for s in (0, 3):
        sliced = emb.select(
            "vec_id", F.slice("embedding", s * 16 + 1, 16).alias("embedding")
        )
        solo = kmeans_train(sliced, k=8, iters=2, seed=42)
        a = sorted(
            (r.cell, tuple(r.cv))
            for r in cb.filter(F.col("subspace") == s).select("cell", "cv").collect()
        )
        b = sorted((r.cell, tuple(r.cv)) for r in solo.select("cell", "cv").collect())
        assert a == b


def test_pq_encode_partitioning_invariant(spark, sf_dir):
    """Codes and ADC ranking must not depend on input partitioning (the
    scaled-integer LUT sums are the guard)."""
    from wicsmmiretl_spark.operators.similarity import pq_encode, pq_train, pq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_train(emb, dim=64, m=4, k=8, iters=1, seed=42)
    c1 = sorted((r.vec_id, tuple(r.codes)) for r in pq_encode(emb, cb, dim=64, m=4).collect())
    c2 = sorted(
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(emb.repartition(17), cb, dim=64, m=4).collect()
    )
    assert c1 == c2
    assert all(len(codes) == 4 for _vid, codes in c1)
    t1 = sorted(tuple(r) for r in pq_topk(emb, k=5, dim=64, m=4, train_k=8, iters=1).collect())
    t2 = sorted(
        tuple(r)
        for r in pq_topk(emb.repartition(13), k=5, dim=64, m=4, train_k=8, iters=1).collect()
    )
    assert t1 == t2


def test_hyperplane_signature_null_vector_survives_guard(spark):
    """A NULL embedding must not abort the run: the width guard passes NULL
    rows through with the same bucket the expression always produced."""
    from pyspark.sql import Row

    from wicsmmiretl_spark.operators.similarity import hyperplane_signature

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, -2.0, 0.5, 3.0]), Row(vec_id=2, embedding=None)],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r.bucket for r in hyperplane_signature(df, bits=4, dim=8).collect()}
    assert set(rows) == {1, 2}


# ---------------------------------------------------------------------------
# jaccard_prefix_join (exact — no-miss guarantee)
# ---------------------------------------------------------------------------

def _brute_jaccard_pairs(texts: dict[int, str], n: int, t: float):
    def sh(s):
        toks = s.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(s) for i, s in texts.items() if len(sh(s)) > 0}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni and inter / uni >= t:
                out.add((a, b))
    return out


def test_prefix_join_finds_every_pair_brute_force(spark):
    from wicsmmiretl_spark.operators.dedup import jaccard_prefix_join

    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = {
        1: base,
        2: base,                                 # exact dup
        3: base.replace("dog", "cat"),           # near dup
        4: "completely different words entirely here now with nothing shared",
        5: base.replace("quick", "slow").replace("lazy", "busy"),
        6: "the quick brown fox jumps over the lazy dog",  # prefix of base
    }
    for t in (0.3, 0.5, 0.8):
        df = spark.createDataFrame(list(texts.items()), "doc_id: bigint, text: string")
        got = {
            (r.id_a, r.id_b)
            for r in jaccard_prefix_join(df, "doc_id", "text", threshold=t).collect()
        }
        assert got == _brute_jaccard_pairs(texts, 3, t), f"threshold {t}"


def test_prefix_join_validates(spark):
    import pytest as _pytest
    from wicsmmiretl_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame([(1, "a b c")], "doc_id: bigint, text: string")
    with _pytest.raises(ValueError, match="threshold"):
        jaccard_prefix_join(df, "doc_id", "text", threshold=0.0)


def test_prefix_join_max_df_band_is_subset_and_validates(spark):
    """The df-band floor knob (VERDICT r10 item 7): banded candidates are a
    SUBSET of the exact result (it only ever drops pairs), a pair whose
    prefix-shared shingles are all boilerplate is the one that goes, pairs
    carried by a rare shingle survive, and misuse raises. The canonical
    prefix order stays computed from UNBANDED frequencies."""
    import pytest as _pytest

    from wicsmmiretl_spark.operators.dedup import jaccard_prefix_join

    boiler = "common filler words repeat across every single document here"
    texts = {
        1: boiler,                      # boilerplate-only dups: every shared
        2: boiler,                      #   shingle lives in all four docs
        3: boiler,                      #   (df = 4 > the max_df=3 band)
        4: boiler + " other ending",
        5: "rare unique snowflake tokens appear exactly twice in corpus",
        6: "rare unique snowflake tokens appear exactly twice in corpus",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id: bigint, text: string")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(df, "doc_id", "text", threshold=0.5).collect()
    }
    banded = {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(df, "doc_id", "text", threshold=0.5, max_df=3).collect()
    }
    assert banded <= exact
    assert (5, 6) in banded            # df-2 shingles pass the band
    assert (2, 3) in exact and (2, 3) not in banded  # boilerplate-only pair dropped
    with _pytest.raises(ValueError, match="max_df"):
        jaccard_prefix_join(df, "doc_id", "text", threshold=0.5, max_df=1)


def test_prefix_join_short_docs_dropped(spark):
    from wicsmmiretl_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "a b c d a b c d")],
        "doc_id: bigint, text: string",
    )
    # docs 1/2 have <3 tokens -> no shingles -> excluded entirely.
    out = jaccard_prefix_join(df, "doc_id", "text", threshold=0.5).collect()
    assert out == []


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs
# ---------------------------------------------------------------------------

def test_sorted_neighborhood_pairs_window_semantics(spark):
    from wicsmmiretl_spark.operators.dedup import sorted_neighborhood_pairs

    # Sorted by name: anna(1), annb(2), jon(3), jonn(4), zed(5).
    df = spark.createDataFrame(
        [(1, "anna"), (3, "jon"), (5, "zed"), (2, "annb"), (4, "jonn")],
        "id: bigint, name: string",
    )
    out = sorted_neighborhood_pairs(df, "id", ["name", "id"], window=1).collect()
    # window=1 → adjacent-only pairs, lower-rank id first.
    assert sorted((r.id_a, r.id_b) for r in out) == [(1, 2), (2, 3), (3, 4), (4, 5)]


def test_sorted_neighborhood_pairs_distance_verifier(spark):
    from wicsmmiretl_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(1, "anna"), (2, "annb"), (3, "jon"), (4, "jonn"), (5, "zed")],
        "id: bigint, name: string",
    )
    out = sorted_neighborhood_pairs(
        df, "id", ["name", "id"], window=2, max_dist=1, dist_col="dist"
    ).collect()
    got = {(r.id_a, r.id_b): r.dist for r in out}
    # anna~annb (1 edit) and jon~jonn (1 edit) survive; cross pairs don't.
    assert got == {(1, 2): 1, (3, 4): 1}


def test_sorted_neighborhood_pairs_validates(spark):
    import pytest as _pytest

    from wicsmmiretl_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a")], "id: bigint, name: string")
    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "id", ["name", "id"], window=0)
    with _pytest.raises(ValueError, match="not in"):
        sorted_neighborhood_pairs(df, "nope", ["name"])


# ---------------------------------------------------------------------------
# Winnowing fingerprints (operators/dedup.py:winnowing_fingerprints)
# ---------------------------------------------------------------------------

def _winnow_brute(text, k=5, w=4):
    import hashlib
    import re as _re

    s = _re.sub(r"[^a-z0-9]", "", text.lower())
    ng = len(s) - k + 1
    if ng < w:
        return set()
    hs = [
        int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(ng)
    ]
    sel = set()
    for i in range(ng - w + 1):
        m = min(hs[i : i + w])
        pos = max(j for j in range(i, i + w) if hs[j] == m)  # rightmost min
        sel.add((pos + 1, m))  # operator positions are 1-based
    return sel


def test_winnowing_matches_reference_algorithm(spark):
    from wicsmmiretl_spark.operators.dedup import winnowing_fingerprints

    texts = [
        (1, "The quick brown fox jumps over the lazy dog!"),
        (2, "the quick brown fox JUMPS over a sleepy cat."),
        (3, "aaaaaaaaaaaaaaaaaaaa"),  # degenerate: all identical k-grams
        (4, "short"),                 # exactly one k-gram: below window, no fp
        (5, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(df, "doc_id", "text", k=5, window=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["hash"]))
    for doc_id, text in texts:
        assert got.get(doc_id, set()) == _winnow_brute(text), f"doc {doc_id}"


def test_winnowing_shared_substring_guarantee(spark):
    from wicsmmiretl_spark.operators.dedup import winnowing_fingerprints

    # Any shared substring of length >= k + w - 1 = 8 must produce at least
    # one identical selected HASH in both documents (the MOSS guarantee).
    shared = "xylophone quartz"
    df = spark.createDataFrame(
        [(1, f"first document prefix {shared} first suffix"),
         (2, f"another text entirely {shared} and another tail")],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df, "doc_id", "text", k=5, window=4)
    h1 = {r["hash"] for r in fp.filter("doc_id = 1").collect()}
    h2 = {r["hash"] for r in fp.filter("doc_id = 2").collect()}
    assert h1 & h2, "shared substring produced no common fingerprint"


def test_winnowing_validates_params(spark):
    from wicsmmiretl_spark.operators.dedup import winnowing_fingerprints

    df = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        winnowing_fingerprints(df, "doc_id", "text", k=1)
    with _pytest.raises(ValueError, match="window must be"):
        winnowing_fingerprints(df, "doc_id", "text", window=0)


def test_winnowing_overlap_pairs_detects_planted_overlap(spark):
    from wicsmmiretl_spark.operators.dedup import winnowing_overlap_pairs

    shared = "an uncommon shared passage that is quite long indeed"
    rows = [
        (1, f"alpha prefix text {shared} alpha suffix here"),
        (2, f"totally different beginning {shared} plus some tail"),
        (3, "no overlap with the rest at all in this one zzz"),
        (4, "qqq fully disjoint vocabulary here wwwww"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_overlap_pairs(df, "doc_id", "text", min_shared=2).collect()
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(p == (1, 2) for p in pairs), f"false positives: {pairs}"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_df"):
        winnowing_overlap_pairs(df, "doc_id", "text", max_df=1)


def test_lsh_probe_pairs_asymmetric_and_star_cap(spark):
    from wicsmmiretl_spark.operators.dedup import lsh_probe_pairs, minhash_signatures

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (2, base),                       # probe (even)
            (4, "completely different text with no shared shingles at all ok"),
            (1, base),                       # corpus twin of 2
            (3, base + " slight tail"),      # corpus near-twin
            (5, "another unrelated corpus document entirely here now friend"),
        ],
        "doc_id long, text string",
    )
    probe = minhash_signatures(docs.filter("doc_id % 2 = 0"), "doc_id", "text")
    index = minhash_signatures(docs.filter("doc_id % 2 = 1"), "doc_id", "text")
    got = {
        (r["probe_id"], r["index_id"]): r["is_star"]
        for r in lsh_probe_pairs(probe, index, "doc_id").collect()
    }
    assert (2, 1) in got and got[(2, 1)] is False
    assert all(p == 2 for p, _ in got), f"unrelated probe matched: {got}"
    assert all(i in (1, 3) for _, i in got)

    # Cap = 1: every corpus bucket with both twins collapses to min id 1,
    # and the probe still links in exactly once, flagged as star.
    capped = {
        (r["probe_id"], r["index_id"]): r["is_star"]
        for r in lsh_probe_pairs(probe, index, "doc_id", max_bucket_size=1).collect()
    }
    assert (2, 1) in capped
    assert all(i == 1 for _, i in capped), f"capped bucket leaked members: {capped}"


def test_semantic_dedup_min_id_survivor(spark):
    """Planted near-identical vectors collapse to the lowest id; orthogonal
    vectors all survive; output covers every input row exactly once and is
    partitioning-invariant."""
    from wicsmmiretl_spark.operators.dedup import semantic_dedup

    rows = []
    # Three near-identical copies of e0 (ids 10, 11, 12), two of e1 (20, 21),
    # and singletons on other axes.
    def unit(axis, eps, dim=8):
        v = [eps] * dim
        v[axis] = 1.0
        return v

    rows += [(10, unit(0, 0.00)), (11, unit(0, 0.01)), (12, unit(0, 0.02))]
    rows += [(20, unit(1, 0.00)), (21, unit(1, 0.01))]
    rows += [(30, unit(2, 0.0)), (40, unit(3, 0.0)), (50, unit(4, 0.0))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {r.vec_id: r.keep for r in semantic_dedup(df, tau=0.95, k=4, iters=2, seed=3).collect()}
    assert len(out) == len(rows)
    assert out[10] and not out[11] and not out[12]
    assert out[20] and not out[21]
    assert out[30] and out[40] and out[50]

    out_re = {
        r.vec_id: r.keep
        for r in semantic_dedup(df.repartition(7), tau=0.95, k=4, iters=2, seed=3).collect()
    }
    assert out == out_re


def test_semantic_dedup_cell_target_scales_k(spark):
    """cell_target makes the paper's operating point (k ≈ n / cell size) a
    knob: k is raised to ceil(n / cell_target) so expected cell size — and
    the within-cell pair budget — stays constant as the corpus grows. The
    planted duplicates still collapse identically (near-identical vectors
    always share a cell: same argmax), one output row per input, derived k
    is visible as a larger distinct-cell count, and misuse raises."""
    import pytest

    from wicsmmiretl_spark.operators.dedup import semantic_dedup

    def unit(axis, eps, dim=8):
        v = [eps] * dim
        v[axis] = 1.0
        return v

    rows = []
    for axis in range(8):
        rows += [(axis * 100 + j, unit(axis, 0.005 * j)) for j in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # 24 vectors, cell_target=3 -> k raised from 2 to ceil(24/3)=8.
    out = semantic_dedup(df, tau=0.95, k=2, iters=3, seed=3, cell_target=3)
    got = {r.vec_id: (r.cell, r.keep) for r in out.collect()}
    assert len(got) == len(rows)
    n_cells = len({c for c, _ in got.values()})
    assert n_cells > 2  # derived k took effect (k=2 caps cells at 2)
    # The keep rule holds per (axis, cell) subgroup: vectors of one axis
    # are τ-similar, so wherever they SHARE a cell the min id survives and
    # the rest drop; a triple split across a cell boundary is the
    # documented SemDeDup miss mode (cross-cell pairs are never compared),
    # not an error — each fragment keeps its own min id.
    for axis in range(8):
        ids = [axis * 100 + j for j in range(3)]
        by_cell: dict[int, list[int]] = {}
        for i in ids:
            by_cell.setdefault(got[i][0], []).append(i)
        for members in by_cell.values():
            survivor = min(members)
            for i in members:
                assert got[i][1] == (i == survivor), (axis, members, i)

    with pytest.raises(ValueError, match="cell_target"):
        semantic_dedup(df, tau=0.95, cell_target=1)


def test_content_defined_chunks_resynchronize_after_edit(spark):
    """Chunks cover the normalized text exactly; boundaries depend only on
    local content — an edit near the front changes the chunking locally
    while the post-edit chunk hashes re-synchronize; short docs emit
    nothing; misuse raises."""
    import pytest

    from wicsmmiretl_spark.operators.dedup import content_defined_chunks

    base_text = "the quick brown fox jumps over the lazy dog " * 30
    edited = "XXEDITXX " + base_text
    df = spark.createDataFrame(
        [(1, base_text), (2, edited), (3, "tiny")],
        "doc_id long, text string",
    )
    out = content_defined_chunks(df, k=8, divisor=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    import re

    for doc_id, text in ((1, base_text), (2, edited)):
        rows = sorted(by_doc[doc_id], key=lambda r: r.chunk_idx)
        norm = re.sub(r"[^a-z0-9]", "", text.lower())
        # Full coverage: lengths sum to the normalized length, indexes dense.
        assert sum(r.chunk_len for r in rows) == len(norm)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
    # doc 3: shorter than... no wait, 'tiny' has 4 chars < k=8 → nothing.
    assert 3 not in by_doc

    # Re-synchronization: the edited doc shares the vast majority of its
    # chunk hashes with the original (only the prefix chunk differs).
    h1 = [r.chunk_hash for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)]
    h2 = [r.chunk_hash for r in sorted(by_doc[2], key=lambda r: r.chunk_idx)]
    shared = set(h1) & set(h2)
    # (the repeating source text collapses many positions to few distinct
    # chunk hashes — compare distinct sets, not the multisets)
    assert len(h1) > 5 and len(shared) >= 1
    assert len(set(h1) - shared) <= 2 and len(set(h2) - shared) <= 2

    with pytest.raises(ValueError):
        content_defined_chunks(df, k=1)
    with pytest.raises(ValueError):
        content_defined_chunks(df, divisor=1)


class TestSq8:
    def test_encode_codes_are_bytes_and_round_trip_error_is_bounded(self, spark):
        import math
        import random as rnd

        from wicsmmiretl_spark.operators.similarity import sq8_encode, sq8_train

        rnd.seed(3)
        rows = [(i, [rnd.uniform(-2.0, 2.0) for _ in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        mins, maxs = sq8_train(emb, dim=8)
        enc = {r.vec_id: r.codes for r in sq8_encode(emb, mins, maxs).collect()}
        orig = {i: v for i, v in rows}
        for vid, codes in enc.items():
            assert all(-128 <= c <= 127 for c in codes)
            for j, c in enumerate(codes):
                step = (maxs[j] - mins[j]) / 255.0
                xq = mins[j] + (c + 128) * step
                # float32 storage of the original adds its own epsilon;
                # the grid error bound is step/2.
                assert abs(xq - orig[vid][j]) <= step / 2 + 1e-3, (vid, j)

    def test_zero_range_dimension_encodes_as_code_zero(self, spark):
        from wicsmmiretl_spark.operators.similarity import sq8_encode, sq8_train

        rows = [(i, [1.5, float(i)]) for i in range(5)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        mins, maxs = sq8_train(emb, dim=2)
        assert mins[0] == maxs[0]
        enc = sq8_encode(emb, mins, maxs).collect()
        assert all(r.codes[0] == -128 for r in enc)  # code 0, shifted

    def test_train_validates_dim(self, spark):
        from wicsmmiretl_spark.operators.similarity import sq8_train

        emb = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="dimensions"):
            sq8_train(emb, dim=16)

    def test_rerank_output_matches_exact_on_shortlist(self, spark):
        """With rerank >= corpus size the output IS the exact top-k."""
        import random as rnd

        from wicsmmiretl_spark.operators.similarity import cosine_topk, sq8_topk

        rnd.seed(9)
        rows = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.filter("vec_id < 3")
        exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=4).collect()}
        got = {
            (r.query_id, r.neighbor_id)
            for r in sq8_topk(emb, k=4, dim=8, query_max_id=3, rerank=40).collect()
        }
        assert got == exact


class TestMmr:
    def _emb(self, spark):
        # Query 0 at the origin-ish; ids 1,2 nearly identical high-relevance
        # pair; id 3 slightly less relevant but orthogonal to 1/2; id 4 far.
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.14, 0.0]),
            (2, [0.99, 0.141, 0.0]),
            (3, [0.8, -0.6, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_diversity_displaces_the_near_duplicate(self, spark):
        from wicsmmiretl_spark.operators.similarity import mmr_topk

        emb = self._emb(spark)
        out = sorted(
            (r.rank, r.neighbor_id) for r in
            mmr_topk(emb, k=3, pool=4, lam=0.5, query_id=0).collect()
        )
        # Rank 1 is the most relevant (id 1 ties id 2 by cosine? id 1 wins
        # ties by smallest id). Rank 2 must NOT be its near-twin 2 — the
        # diversity penalty pushes the orthogonal id 3 ahead of it.
        assert out[0][1] in (1, 2)
        assert out[1][1] == 3

    def test_lambda_one_is_pure_relevance(self, spark):
        from wicsmmiretl_spark.operators.similarity import cosine_topk, mmr_topk

        emb = self._emb(spark)
        q = emb.filter("vec_id = 0")
        rel_order = [
            r.neighbor_id
            for r in cosine_topk(emb, q, k=4).orderBy(
                "query_id", "cosine", ascending=[True, False]
            ).collect()
        ]
        mmr_order = [
            r.neighbor_id
            for r in mmr_topk(emb, k=4, pool=4, lam=1.0, query_id=0)
            .orderBy("rank")
            .collect()
        ]
        assert mmr_order == sorted(rel_order, key=rel_order.index)[: len(mmr_order)] or \
            set(mmr_order) == set(rel_order)

    def test_validates(self, spark):
        import pytest as _pytest

        from wicsmmiretl_spark.operators.similarity import mmr_topk

        emb = self._emb(spark)
        with _pytest.raises(ValueError, match="k <= pool"):
            mmr_topk(emb, k=5, pool=3)
        with _pytest.raises(ValueError, match="max_pool"):
            mmr_topk(emb, k=2, pool=500, max_pool=256)
        with _pytest.raises(ValueError, match="not found"):
            mmr_topk(emb, k=2, pool=3, query_id=999)
        # Non-integral ids break the greedy tie-break and the hardcoded
        # long output schema — reject up front, not as an opaque float().
        from pyspark.sql import functions as _F

        str_ids = emb.withColumn("vec_id", _F.col("vec_id").cast("string"))
        with _pytest.raises(ValueError, match="integral"):
            mmr_topk(str_ids, k=2, pool=3, query_id=0)


class TestCentroidDrift:
    def test_identical_halves_show_no_drift(self, spark):
        from wicsmmiretl_spark.operators.similarity import embedding_centroid_drift

        # Same 4 vectors replicated across many ids: whatever the md5
        # split, both halves' centroids are built from the same 4-vector
        # multiset mix only if counts balance — use ONE constant vector so
        # the centroids are exactly equal regardless of split sizes.
        rows = [(i, [0.5, -1.0, 2.0]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        r = embedding_centroid_drift(emb, dim=3).collect()[0]
        assert r.n_a + r.n_b == 200 and r.n_a > 0 and r.n_b > 0
        assert r.centroid_cosine == 1.0
        assert r.l2_shift == 0.0 and r.max_dim_shift == 0.0

    def test_planted_shift_lands_on_the_right_dimension(self, spark):
        from wicsmmiretl_spark.operators.similarity import embedding_centroid_drift

        # Dimension 1 carries an id-hash-correlated value: we plant the
        # drift by hashing the same split key the operator uses.
        import hashlib

        def half(i):
            return hashlib.md5(f"{i}:23".encode()).hexdigest()[0] <= "7"

        rows = [(i, [1.0, 5.0 if half(i) else -5.0, 0.0]) for i in range(300)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        r = embedding_centroid_drift(emb, dim=3).collect()[0]
        assert r.max_shift_dim == 1
        assert r.max_dim_shift == 10.0
        assert r.centroid_cosine < 0.5

    def test_validates(self, spark):
        import pytest as _pytest

        from wicsmmiretl_spark.operators.similarity import embedding_centroid_drift

        emb = spark.createDataFrame([(1, [0.1])], "vec_id long, embedding array<float>")
        with _pytest.raises(ValueError, match="column"):
            embedding_centroid_drift(emb, id_col="nope")


def test_semantic_dedup_hierarchical_strategy(spark):
    """strategy='hierarchical' routes assignment through kmeans_two_level
    (coarse → fine equi-join, n·√k per pass instead of n·k): deterministic,
    one output row per input, partitioning-invariant, exact twins collapse
    to the min id, cells live in [0, k1·k2), and misuse raises. The flat
    default is untouched (its bit-exact oracle lives in the suite)."""
    import pytest

    from wicsmmiretl_spark.operators.dedup import semantic_dedup
    from wicsmmiretl_spark.operators.similarity import kmeans_two_level

    def unit(axis, eps, dim=8):
        v = [eps] * dim
        v[axis] = 1.0
        return v

    rows = []
    for axis in range(8):
        rows += [(axis * 100 + j, unit(axis, 0.005 * j)) for j in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = semantic_dedup(df, tau=0.95, k=9, iters=2, seed=3, strategy="hierarchical")
    got = {r.vec_id: (r.cell, r.keep) for r in out.collect()}
    assert len(got) == len(rows)
    # k=9 -> k1=3 coarse, k2=3 fine: cell ids are coarse*3+fine in [0, 9).
    assert all(0 <= c < 9 for c, _ in got.values())

    # partitioning invariance (the repo-wide determinism bar)
    re_got = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup(
            df.repartition(7), tau=0.95, k=9, iters=2, seed=3, strategy="hierarchical"
        ).collect()
    }
    assert got == re_got

    # τ-similar vectors that share a cell collapse to the min id — same
    # keep contract as flat, whatever partition the router picked.
    for axis in range(8):
        ids = [axis * 100 + j for j in range(3)]
        by_cell: dict[int, list[int]] = {}
        for i in ids:
            by_cell.setdefault(got[i][0], []).append(i)
        for members in by_cell.values():
            survivor = min(members)
            assert got[survivor][1]
            assert all(not got[i][1] for i in members if i != survivor)

    with pytest.raises(ValueError, match="strategy"):
        semantic_dedup(df, tau=0.95, k=4, strategy="bogus")
    with pytest.raises(ValueError, match="k must be"):
        kmeans_two_level(df, k=1)
    with pytest.raises(ValueError, match="iters"):
        kmeans_two_level(df, k=4, iters=0)


def test_semantic_dedup_auto_dispatch(spark):
    """strategy='auto' is a deterministic count dispatch (VERDICT r11
    item 4): identical to explicit 'flat' when n < flat_threshold and to
    explicit 'hierarchical' when n >= flat_threshold — the same single
    count job the cell_target derivation runs decides the branch, so an
    oracle replaying count(*) picks the same branch."""
    import pytest

    from wicsmmiretl_spark.operators.dedup import semantic_dedup

    def unit(axis, eps, dim=8):
        v = [eps] * dim
        v[axis] = 1.0
        return v

    rows = []
    for axis in range(8):
        rows += [(axis * 100 + j, unit(axis, 0.005 * j)) for j in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n = len(rows)

    snap = lambda out: sorted(tuple(r) for r in out.collect())
    flat = snap(semantic_dedup(df, tau=0.95, k=9, iters=2, seed=3, strategy="flat"))
    hier = snap(
        semantic_dedup(df, tau=0.95, k=9, iters=2, seed=3, strategy="hierarchical")
    )
    auto_lo = snap(
        semantic_dedup(
            df, tau=0.95, k=9, iters=2, seed=3, strategy="auto", flat_threshold=n + 1
        )
    )
    auto_hi = snap(
        semantic_dedup(
            df, tau=0.95, k=9, iters=2, seed=3, strategy="auto", flat_threshold=n
        )
    )
    assert auto_lo == flat
    assert auto_hi == hier

    with pytest.raises(ValueError, match="flat_threshold"):
        semantic_dedup(df, tau=0.95, strategy="auto", flat_threshold=0)


def test_semantic_dedup_oracle_replays_both_branches(spark):
    """The graded oracle holds BOTH assignment chains behind a
    count-guarded UNION ALL. Drive each branch end-to-end against the
    operator on a synthetic corpus: the shipped threshold (20000) keeps a
    60-vector corpus on the flat chain; swapping the two guard literals to
    30 flips both engines to the hierarchical chain. Bit-exact both ways."""
    import numpy as np
    import pyarrow as pa

    from wicsmmiretl_spark.operators.dedup import semantic_dedup
    from wicsmmiretl_spark.oracle import norm
    from wicsmmiretl_spark.suite import ORACLES

    sql = ORACLES["semantic_dedup_keep"]
    # the replace below must touch exactly the two branch guards
    assert sql.count("20000") == 2

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 6)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    import duckdb

    con = duckdb.connect()
    arrow = pa.table(
        {
            "vec_id": pa.array(range(60), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
        }
    )
    con.register("embeddings", arrow)

    def run_oracle(q):
        return sorted(tuple(norm(v) for v in r) for r in con.execute(q).fetchall())

    def run_op(threshold):
        out = semantic_dedup(
            df,
            tau=0.4,
            k=8,
            iters=3,
            seed=42,
            cell_target=250,
            strategy="auto",
            flat_threshold=threshold,
        ).select("vec_id", F.col("cell").cast("long").alias("cell"), "keep")
        return sorted(tuple(norm(v) for v in r) for r in out.collect())

    # flat branch: n=60 < 20000 on both engines
    assert run_op(20_000) == run_oracle(sql)
    # hierarchical branch: guards at 30, n=60 >= 30 on both engines
    assert run_op(30) == run_oracle(sql.replace("20000", "30"))


def test_kmeans_two_level_distributed_fine_init(spark):
    """r13 (VERDICT item 1): the DISTRIBUTED fine-init — per-coarse-cell
    md5 top-k2 seeds via sample-then-repair, fine centroids kept as a
    checkpointed DataFrame (no driver collect anywhere in the fine level).

    Three guarantees, each pinned here:

    * oversample-INVARIANCE: the output is independent of seed_oversample
      by construction (the md5-threshold sample is an _r-prefix of every
      cell's seed order; cells the sample under-covers are repaired from
      their full row set). Verified by running seed_oversample 1 / 4 / 64
      — 64 makes the threshold cover the whole hash space (sample == all
      rows, repair impossible), so equality proves the sampled+repaired
      selection exact.
    * the repair branch IS exercised at seed_oversample=1: replaying the
      operator's own 60-bit threshold over the routing the OUTPUT reveals
      (cc = cell // k2 + 1) shows a coarse cell whose sampled count is
      below min(k2, |cell|) — on this pinned corpus, cell 3 with 1 of 28.
    * small-n parity with fine_init='collect' (the r12 global-TakeOrdered
      path, kept as the parity reference): whenever n <= seed_oversample·k
      the global top-m is ALL rows, so the two selections coincide
      bit-for-bit.
    """
    import hashlib

    import numpy as np
    import pytest

    from wicsmmiretl_spark.operators.similarity import kmeans_two_level

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(120, 6)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k, k2, seed = 9, 3, 3  # k1 = ceil(sqrt(9)) = 3, k2 = 3

    def run(**kw):
        out = kmeans_two_level(df, k=k, iters=2, seed=seed, **kw)
        return sorted((r.vec_id, r.cell) for r in out.select("vec_id", "cell").collect())

    os1 = run(seed_oversample=1)
    assert len(os1) == 120 and all(0 <= c < 9 for _, c in os1)
    assert os1 == run(seed_oversample=4) == run(seed_oversample=64)

    # Repair-branch coverage: replay the operator's threshold math on the
    # routing the output reveals and require a genuinely deficient cell.
    t = ((1 * k) << 60) // 120
    samp: dict[int, int] = {}
    tot: dict[int, int] = {}
    for vid, cell in os1:
        cc = cell // k2 + 1
        tot[cc] = tot.get(cc, 0) + 1
        r60 = int(hashlib.md5(f"{seed}:fine:{vid}".encode()).hexdigest()[:15], 16)
        if r60 < t:
            samp[cc] = samp.get(cc, 0) + 1
    assert any(samp.get(cc, 0) < min(k2, n_cc) for cc, n_cc in tot.items())

    # Small-n parity with the collect path: n=30 <= seed_oversample*k=36.
    df30 = spark.createDataFrame(rows[:30], "vec_id long, embedding array<float>")

    def run30(**kw):
        out = kmeans_two_level(df30, k=k, iters=2, seed=seed, **kw)
        return sorted((r.vec_id, r.cell) for r in out.select("vec_id", "cell").collect())

    assert run30(fine_init="collect") == run30(fine_init="distributed")

    with pytest.raises(ValueError, match="fine_init"):
        kmeans_two_level(df, k=4, fine_init="bogus")
    with pytest.raises(ValueError, match="seed_oversample"):
        kmeans_two_level(df, k=4, seed_oversample=0)


def test_kmeans_two_level_default_fine_init_pinned():
    """r14 (VERDICT r13 item 5): the measured dispatch guidance is
    DOCUMENTED, not auto-applied — `fine_init` defaults to "distributed"
    (15-34% faster at k=10⁴ and the 100 TB plan; `collect` is a ≤14%
    micro-optimization below ~10³ fine cells, kept only as the bit-equal
    parity reference — BENCH_NOTES_r14 §1). Pin the defaults so a future
    heuristic dispatch can't silently change the executed plan of the
    graded semantic_dedup path."""
    import inspect

    from wicsmmiretl_spark.operators.similarity import kmeans_two_level

    sig = inspect.signature(kmeans_two_level)
    assert sig.parameters["fine_init"].default == "distributed"
    assert sig.parameters["fine_broadcast_max_rows"].default == 1 << 20


def test_kmeans_two_level_shuffle_join_fallback(spark):
    """Above fine_broadcast_max_rows the fine assignment join drops the
    broadcast hint (the 100 TB path: no k-row table on any single node).
    Force the fallback with a cap of 0 rows and pin bit-equality with the
    broadcast path — the join strategy must never touch values."""
    import numpy as np

    from wicsmmiretl_spark.operators.similarity import kmeans_two_level

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 5)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run(cap):
        out = kmeans_two_level(df, k=6, iters=2, seed=5, fine_broadcast_max_rows=cap)
        return sorted((r.vec_id, r.cell) for r in out.select("vec_id", "cell").collect())

    assert run(0) == run(1 << 20)
