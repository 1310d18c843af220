"""Similarity-search semantics tests at sf0.01: brute-force is the
oracle; LSH and IVF are graded on recall@k against it (approximate by
design — precision of returned scores is exact since both paths rerank
with true cosine).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_predictive_maintenance_data_pipeline_spark.operators import (
    similarity as S,
)

SF = "/root/testdata/sf0.01"
K = 5
N_QUERIES = 20


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(embs):
    return embs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@pytest.fixture(scope="module")
def exact_topk(embs, queries):
    out = S.brute_force_topk(embs, queries, k=K)
    res = {}
    for r in out.collect():
        res.setdefault(r.query_id, set()).add(r.vec_id)
    return res


def test_brute_force_shape(exact_topk):
    assert len(exact_topk) == N_QUERIES
    assert all(len(v) == K for v in exact_topk.values())


def test_ivf_recall(embs, queries, exact_topk):
    out = S.ivf_topk(embs, queries, k=K, nlist=16, nprobe=6)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(got.get(q, set()) & truth) for q, truth in exact_topk.items())
    recall = hits / (N_QUERIES * K)
    assert recall >= 0.7, f"IVF recall@{K} = {recall:.3f}"


def test_ivf_scores_are_true_cosine(embs, queries, exact_topk):
    """IVF reranks with exact cosine: any (query, vec) pair IVF returns
    that brute force also returns must carry an identical score."""
    ivf = S.ivf_topk(embs, queries, k=K, nlist=16, nprobe=6).alias("i")
    bf = S.brute_force_topk(embs, queries, k=K).alias("b")
    j = ivf.join(bf, ["query_id", "vec_id"]).select(
        (F.col("i.score") - F.col("b.score")).alias("d")
    )
    assert j.count() > 0
    assert j.agg(F.max(F.abs("d"))).first()[0] == 0.0


def test_lsh_topk_recall(embs, exact_topk):
    qv = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = S.lsh_topk(embs, list(qv), k=K)
    got = {r.vec_id for r in out.collect()} - {0}
    truth = exact_topk[0]
    recall = len(got & truth) / K
    assert recall >= 0.4, f"LSH recall@{K} = {recall:.2f}"


def test_cosine_pairs_symmetric_threshold(embs):
    pairs = S.cosine_pairs(embs.limit(300), threshold=0.5)
    row = pairs.agg(
        F.count(F.lit(1)).alias("n"), F.min("cos_sim").alias("lo")
    ).first()
    if row.n:
        assert row.lo >= 0.5
    ids = pairs.filter(F.col("vec_a") >= F.col("vec_b")).count()
    assert ids == 0  # canonical ordering


def test_degenerate_vectors_excluded_not_fatal(spark, embs, queries):
    """Null and all-zero embeddings must be EXCLUDED by every ANN entry
    point, not crash it: cosine of a zero norm divides by zero, which
    under Spark 4's default ANSI mode killed the whole job on the first
    garbage vector (DIVIDE_BY_ZERO at similarity.py's score division) —
    and had ANSI been off, NaN sorts above every real score in a
    descending window, so the zero vector would have ranked top-1 for
    every query. Clean-corpus results must be unchanged."""
    dim = len(embs.select("embedding").first()[0])
    base = embs.limit(100)
    dirty = base.unionByName(
        spark.createDataFrame(
            [(100001, [0.0] * dim, 0), (100002, None, 0)],
            "vec_id long, embedding array<float>, label int",
        ).select(*base.columns)
    )

    clean_top = S.brute_force_topk(base, queries, k=K)
    dirty_top = S.brute_force_topk(dirty, queries, k=K)
    got = {(r.query_id, r.vec_id, r.score) for r in dirty_top.collect()}
    assert got == {(r.query_id, r.vec_id, r.score) for r in clean_top.collect()}
    assert all(v not in (100001, 100002) for _, v, _ in got)

    # the other cosine entry points accept the same dirty frame
    assert S.cosine_pairs(dirty, threshold=0.5).filter(
        (F.col("vec_a").isin(100001, 100002))
        | (F.col("vec_b").isin(100001, 100002))
    ).count() == 0
    assert S.hard_negatives(dirty, k=3, n_queries=5).filter(
        F.col("vec_id").isin(100001, 100002)
    ).count() == 0
    ivf = S.ivf_topk(dirty, queries, k=K, nlist=4, nprobe=2)
    assert ivf.filter(F.col("vec_id").isin(100001, 100002)).count() == 0

    # Euclidean paths: nulls dropped before MLlib/numpy ever see them
    # (zero vectors are legitimate points there)
    assert S.lsh_topk(dirty, [1.0] * dim, k=K).filter(
        F.col("vec_id") == 100002
    ).count() == 0
    books = S.pq_train_codebooks(dirty, m=4, k=4)
    codes = S.pq_encode(dirty, books, m=4)
    assert codes.filter(F.col("vec_id") == 100002).count() == 0


def test_degenerate_vectors_audit_helper(spark, embs):
    """The module's dropped-id contract is observable: for any input
    frame, ``degenerate_vectors`` names exactly the ids the search
    entry points would silently exclude, with the reason."""
    dim = len(embs.select("embedding").first()[0])
    base = embs.limit(50)
    dirty = base.unionByName(
        spark.createDataFrame(
            [(100001, [0.0] * dim, 0), (100002, None, 0)],
            "vec_id long, embedding array<float>, label int",
        ).select(*base.columns)
    )
    audit = {
        r.vec_id: r.reason for r in S.degenerate_vectors(dirty).collect()
    }
    assert audit == {100001: "zero_norm", 100002: "null_vector"}
    # clean corpus: audit is empty (nothing silently dropped)
    assert S.degenerate_vectors(base).count() == 0


def test_pq_reconstruction_beats_random_codebook(spark):
    """PQ quality gate: reconstructing each vector from its trained
    codes must give a much lower MSE than assigning codes from an
    UNTRAINED (randomly initialized, zero Lloyd iterations) codebook —
    the signal that the subspace k-means actually converged."""
    import numpy as np

    from real_time_predictive_maintenance_data_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import (
        load_table,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    m, k = 8, 16

    def mse(books):
        rows = books.collect()
        dsub = len(rows[0].centroid)
        C = np.zeros((m, k, dsub))
        for r in rows:
            C[r.sub, r.code] = r.centroid
        codes = {
            r.vec_id: r.codes for r in pq_encode(e, books, m=m).collect()
        }
        errs = []
        for r in e.collect():
            x = np.array(r.embedding, dtype=np.float64).reshape(m, dsub)
            rec = np.stack([C[s, codes[r.vec_id][s]] for s in range(m)])
            errs.append(((x - rec) ** 2).mean())
        return float(np.mean(errs))

    trained = mse(pq_train_codebooks(e, m=m, k=k, n_iter=10))
    untrained = mse(pq_train_codebooks(e, m=m, k=k, n_iter=0))
    assert trained < untrained * 0.8, (trained, untrained)


def test_recall_gate_entries_fire_and_cannot_self_certify(spark):
    """The r16 recall-ε-gated ANN entries: every ``recall_ok`` must be
    TRUE at the suite's fixtures, and — like the approx-sketch trio's
    independent-recompute test — the gate is re-derived OUTSIDE the
    entry's own plan (operators + Python set math vs
    ``brute_force_topk``/``brute_force_topk_l2``) so a broken
    ``_recall_gated`` expression can't certify itself. Floors mirror
    the entry docstrings (measured minus wide margin; see the
    per-entry measured means at sf0.001/0.01/0.1)."""
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    Q = all_queries()
    e = spark.read.parquet(f"{sf}/embeddings.parquet")

    for name, nq, k, floor, exact_fn in (
        ("sim_ivf_topk", 20, 3, 0.5, S.brute_force_topk),
        ("sim_pq_adc_topk", 5, 10, 0.10, S.brute_force_topk_l2),
        ("sim_ivf_pq_topk", 5, 10, 0.10, S.brute_force_topk_l2),
    ):
        rows = Q[name].spark(spark, sf).collect()
        assert rows, name
        assert all(r.recall_ok for r in rows), (name, rows)
        assert all(r.n_exact == k for r in rows), (name, rows)
        assert {r.query_id for r in rows} == set(range(nq)), name

        # independent recompute: approximate ids from the entry's own
        # exact_ids CANNOT be used — rebuild the approx side from the
        # operator and the exact side from the brute-force twin
        q = e.filter(F.col("vec_id") < nq).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {}
        for r in exact_fn(e, q, k=k).collect():
            exact.setdefault(r.query_id, set()).add(r.vec_id)
        # entry exact_ids must equal the operator's exact set
        for r in rows:
            got_ids = {int(x) for x in r.exact_ids.split(",")}
            assert got_ids == exact[r.query_id], (name, r.query_id)


def test_pq_adc_recall_vs_exact_euclidean(spark):
    """ADC top-10 must recover a meaningful fraction of the EXACT
    euclidean top-10 (random top-10 from a 500-vector corpus would
    overlap ~0.02) — the quantization-error recall gate for the IVF-PQ
    query path."""
    import numpy as np

    from real_time_predictive_maintenance_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_codebooks,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import (
        load_table,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # m=16 x 16 codes = 64-bit quantization; ~31 training points per
    # centroid at the smallest sf, so the fit is stable across fixture
    # regenerations
    books = pq_train_codebooks(e, m=16, k=16)
    from pyspark.sql import functions as F

    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = pq_adc_topk(e, books, q, k=10, m=16)
    got = {}
    for r in adc.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    recalls = []
    for qid in range(5):
        dists = sorted(
            (np.sum((v - vecs[qid]) ** 2), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        exact = {vid for _, vid in dists[:10]}
        recalls.append(len(exact & got[qid]) / 10)
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_ivf_pq_recall_vs_exact_euclidean(spark):
    """IVF-PQ quality gate: recall@10 vs exact euclidean must clear a
    floor far above random (~0.02). Combines IVF cell-pruning recall
    (~0.7 at nprobe 6/16 on near-random vectors) with residual-PQ
    ranking quality."""
    import numpy as np

    from pyspark.sql import functions as F

    from real_time_predictive_maintenance_data_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import (
        load_table,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = ivf_pq_topk(e, q, k=10, nlist=16, nprobe=6, m=16, pq_k=16)
    got = {}
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    recalls = []
    for qid in range(5):
        dists = sorted(
            (np.sum((v - vecs[qid]) ** 2), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        exact = {vid for _, vid in dists[:10]}
        recalls.append(len(exact & got.get(qid, set())) / 10)
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_pca_whitening_scree_and_decorrelation(spark):
    """emb_pca_whitening gate: projected components must be (a)
    variance-ordered (the scree contract) and (b) pairwise
    decorrelated (PCA diagonalizes the covariance — verified on the
    actual projection with numpy)."""
    import numpy as np

    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import functions as F

    from real_time_predictive_maintenance_data_pipeline_spark.functions.vectors import (
        as_double,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    rows = (
        all_queries()["emb_pca_whitening"]
        .spark(spark, "/root/testdata/sf0.01")
        .collect()
    )
    variances = [r.variance for r in rows]
    assert len(variances) == 16
    assert variances == sorted(variances, reverse=True)

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        array_to_vector(as_double("embedding")).alias("features")
    )
    model = PCA(k=8, inputCol="features", outputCol="proj").fit(e)
    mat = np.vstack(
        [
            r.p
            for r in model.transform(e)
            .select(vector_to_array("proj").alias("p"))
            .collect()
        ]
    )
    c = np.corrcoef(mat.T)
    off = c - np.diag(np.diag(c))
    assert np.abs(off).max() < 1e-6, np.abs(off).max()


def test_ivf_dead_cells_flags_sum_to_zero_cell(spark):
    """The IVF-only degeneracy made observable (r10 VERDICT item 7): a
    cell whose vectors sum to exactly zero learns the zero centroid,
    which ivf_topk silently never probes — its members are stranded
    (recall loss) while staying fully reachable by brute force. The
    ivf_dead_cells audit, fitting the same seeded quantizer, must name
    that cell and count its stranded members; a clean corpus must audit
    empty."""
    # tight cloud at (0,100) + an antipodal pair summing to (0,0): the
    # optimal 2-clustering isolates the pair, whose centroid is zero
    cloud = [(i, [0.0, 100.0], 0) for i in range(30)]
    pair = [(100, [50.0, 0.0], 0), (101, [-50.0, 0.0], 0)]
    corpus = spark.createDataFrame(
        cloud + pair, "vec_id long, embedding array<double>, label int"
    )

    dead = S.ivf_dead_cells(corpus, nlist=2).collect()
    assert len(dead) == 1 and dead[0].n_members == 2

    # the stranded ids are invisible to the index even when every
    # rankable cell is probed...
    queries = spark.createDataFrame(
        [(0, [49.0, 1.0])], "query_id long, embedding array<double>"
    )
    ivf_ids = {
        r.vec_id
        for r in S.ivf_topk(
            corpus, queries, k=5, nlist=2, nprobe=2
        ).collect()
    }
    assert ivf_ids and not ivf_ids & {100, 101}
    # ...but brute force still reaches them (members are healthy)
    bf_ids = {
        r.vec_id for r in S.brute_force_topk(corpus, queries, k=5).collect()
    }
    assert 100 in bf_ids  # cosine([49,1],[50,0]) ~ 1.0: the true top hit

    # clean corpus: no dead cells
    clean = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 3 + 1)], 0) for i in range(40)],
        "vec_id long, embedding array<double>, label int",
    )
    assert S.ivf_dead_cells(clean, nlist=4).count() == 0


@pytest.mark.slow
def test_sf01_recall_floors(spark):
    """Driver-scale recall pins (r12 verdict item 6): the SCALING.md
    recall table is backed by these lower bounds on the sf0.1
    embeddings (2000 near-random 64-d vectors — recall FLOORS; real
    encoder embeddings cluster far better). Measured r13: IVF 6/16 =
    0.710, IVF 16/16 = 1.000 (exhaustive ≡ exact), PQ-ADC = 0.346,
    IVF-PQ = 0.330 vs the ~0.02 random-top-10 baseline. Floors leave
    margin for fixture regeneration, not for regressions."""
    import numpy as np

    sf_dir = "/root/testdata/sf0.1"
    k, nq = 10, 25
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    def recall(got, truth):
        return sum(
            len(got.get(i, set()) & truth[i]) / k for i in truth
        ) / len(truth)

    cos_truth = topk(S.brute_force_topk(e, q, k=k))
    r_ivf = recall(topk(S.ivf_topk(e, q, k=k, nlist=16, nprobe=6)), cos_truth)
    assert r_ivf >= 0.55, f"IVF 6/16 recall@10 fell to {r_ivf:.3f}"
    r_full = recall(topk(S.ivf_topk(e, q, k=k, nlist=16, nprobe=16)), cos_truth)
    assert r_full >= 0.95, f"exhaustive IVF no longer ~exact: {r_full:.3f}"

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    l2_truth = {}
    for qid in range(nq):
        d = sorted(
            (float(np.sum((v - vecs[qid]) ** 2)), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        l2_truth[qid] = {vid for _, vid in d[:k]}
    books = S.pq_train_codebooks(e, m=16, k=16)
    r_pq = recall(topk(S.pq_adc_topk(e, books, q, k=k, m=16)), l2_truth)
    assert r_pq >= 0.2, f"PQ-ADC recall@10 fell to {r_pq:.3f}"
    r_ivfpq = recall(
        topk(S.ivf_pq_topk(e, q, k=k, nlist=16, nprobe=6, m=16, pq_k=16)),
        l2_truth,
    )
    assert r_ivfpq >= 0.18, f"IVF-PQ recall@10 fell to {r_ivfpq:.3f}"
    e.unpersist()


@pytest.mark.slow
def test_clustered_recall_floors(spark):
    """Clustered-fixture recall pins (r14, r13 verdict task 5): the
    sf0.1 fixture's near-random vectors are a recall FLOOR with no
    neighborhood structure; this is the encoder-like counterpart —
    ``clustered_embeddings`` (2000 x 64 mixture-of-Gaussians, 20
    clusters, noise 0.25). Measured r14 (SCALING.md "r14: ANN
    recall@10 on a CLUSTERED corpus"):

    - IVF is effectively EXACT at nprobe=2/16 (recall 1.000): a
      query's neighbors share its cluster, and KMeans cells align with
      clusters — the regime a real deployment sits in.
    - PQ-ADC at the default m=16/k=16 drops to 0.200 (vs 0.346 on the
      random fixture): all cluster members share near-identical codes,
      so intra-cluster ranking is where quantization error bites. The
      (m, k) knob recovers it — 0.684 at m=32/k=64, 0.840 at
      m=32/k=256 — which is exactly the memory/recall trade the
      SCALING.md table documents.

    Floors leave margin for KMeans-seed sensitivity, not regressions."""
    import numpy as np

    from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
        clustered_embeddings,
    )

    k, nq = 10, 25
    e = clustered_embeddings(spark).drop("cluster_id").cache()
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    def recall(got, truth):
        return sum(
            len(got.get(i, set()) & truth[i]) / k for i in truth
        ) / len(truth)

    cos_truth = topk(S.brute_force_topk(e, q, k=k))
    r_ivf = recall(topk(S.ivf_topk(e, q, k=k, nlist=16, nprobe=2)), cos_truth)
    assert r_ivf >= 0.85, f"clustered IVF 2/16 recall@10 fell to {r_ivf:.3f}"

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    l2_truth = {}
    for qid in range(nq):
        d = sorted(
            (float(np.sum((v - vecs[qid]) ** 2)), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        l2_truth[qid] = {vid for _, vid in d[:k]}
    books = S.pq_train_codebooks(e, m=32, k=64)
    r_pq = recall(topk(S.pq_adc_topk(e, books, q, k=k, m=32)), l2_truth)
    assert r_pq >= 0.5, f"clustered PQ-ADC m=32 k=64 recall@10 fell to {r_pq:.3f}"
    e.unpersist()


# ---------------------------------------------------------------------------
# r15: pinned-artifact / deterministic-training contract (the r14 layout
# audit's one real finding: trained ANN structures must not depend on
# physical row layout).
# ---------------------------------------------------------------------------


def _reorder(df, parts, seed):
    """Same logical frame, different physical layout: seeded shuffle
    order + a different partition count."""
    return (
        df.orderBy(F.xxhash64(F.col("vec_id") + seed))
        .repartition(parts)
        .select(df.columns)
    )


def test_ivf_train_centroids_layout_deterministic(embs):
    a = S.ivf_train_centroids(embs, nlist=8).collect()
    b = S.ivf_train_centroids(_reorder(embs, 3, 11), nlist=8).collect()
    c = S.ivf_train_centroids(_reorder(embs, 17, 99), nlist=8).collect()
    key = lambda rows: sorted((r.cell, tuple(r.centroid)) for r in rows)
    assert key(a) == key(b) == key(c)  # byte-identical floats


def test_pq_train_codebooks_layout_deterministic(embs):
    a = S.pq_train_codebooks(embs, m=4, k=8).collect()
    b = S.pq_train_codebooks(_reorder(embs, 5, 7), m=4, k=8).collect()
    key = lambda rows: sorted((r.sub, r.code, tuple(r.centroid)) for r in rows)
    assert key(a) == key(b)


def test_ivf_topk_given_centroids_matches_contract(embs, queries, exact_topk):
    """The pinned-centroids query path: no training in the plan, recall
    holds the same floor as the self-contained path, and results are
    stable across physical re-layouts of the corpus."""
    cents = S.ivf_train_centroids(embs, nlist=16)
    out = S.ivf_topk(embs, queries, k=K, nlist=16, nprobe=6, centroids=cents)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(got.get(q, set()) & truth) for q, truth in exact_topk.items())
    recall = hits / (N_QUERIES * K)
    assert recall >= 0.7, f"pinned-centroid IVF recall@{K} = {recall:.3f}"

    again = S.ivf_topk(
        _reorder(embs, 7, 3), queries, k=K, nlist=16, nprobe=6, centroids=cents
    )
    key = lambda df: sorted(
        (r.query_id, r.vec_id, r.score, r.rank) for r in df.collect()
    )
    assert key(out) == key(again)


def test_ivf_dead_cells_given_centroids(spark, embs):
    """Pinned-centroids audit leg: a hand-built centroid table with one
    zero centroid reports exactly that cell's members as stranded."""
    cents = S.ivf_train_centroids(embs, nlist=4)
    healthy = S.ivf_dead_cells(embs, centroids=cents)
    assert healthy.count() == 0

    rows = [(int(r.cell), list(r.centroid)) for r in cents.collect()]
    dim = len(rows[0][1])
    poisoned = spark.createDataFrame(
        rows + [(99, [0.0] * dim)], schema="cell INT, centroid ARRAY<DOUBLE>"
    )
    dead = S.ivf_dead_cells(embs, centroids=poisoned).collect()
    # cell 99's centroid is the zero vector: it is reported iff some
    # vector is nearest to it; either way no OTHER cell may be flagged.
    assert all(r.cell == 99 for r in dead)


def test_pinned_artifact_roundtrip(tmp_path, monkeypatch):
    from real_time_predictive_maintenance_data_pipeline_spark.ml import artifact as A

    monkeypatch.setenv("RTPMDP_ARTIFACT_DIR", str(tmp_path))
    calls = []

    def train():
        calls.append(1)
        return {"centroids": [[1.0, 2.0], [3.0, 4.0]]}

    first = A.pinned("unit_test_key", train)
    second = A.pinned("unit_test_key", train)
    assert first == second == {"centroids": [[1.0, 2.0], [3.0, 4.0]]}
    assert len(calls) == 1  # train-once: the second call loaded the pin


def test_dataset_fingerprint_layout_insensitive(embs):
    from real_time_predictive_maintenance_data_pipeline_spark.ml import artifact as A

    a = A.dataset_fingerprint(embs, "vec_id", "embedding")
    b = A.dataset_fingerprint(_reorder(embs, 9, 5), "vec_id", "embedding")
    assert a == b
    # ...but content changes move it (drop one row)
    c = A.dataset_fingerprint(
        embs.filter(F.col("vec_id") != 0), "vec_id", "embedding"
    )
    assert a != c


def test_opq_rotation_recovers_clustered_pq(spark):
    """OPQ-lite floor (r15, r14 verdict task 8): the r14 sweep showed
    default PQ DEGRADES on the clustered fixture — recall@10 0.200 at
    m=16/k=16 (vs 0.346 random) because within-cluster variance
    concentrates in a few correlated dims. One learned rotation
    (``opq_rotation``: PCA eigenbasis + eigenvalue allocation, the
    OPQ_P parametric baseline) applied to corpus AND queries before
    codebook training recovers it. Measured r15: clustered 0.328 (from
    0.200 — back to the random-corpus level), random 0.432 (from
    0.346 — it helps there too). Floors leave margin for sample/seed
    sensitivity, not regressions. ADC distance is rotation-invariant,
    so recall is against the ORIGINAL-space exact euclidean truth."""
    import numpy as np

    from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
        clustered_embeddings,
    )

    k, nq = 10, 25
    e = clustered_embeddings(spark).drop("cluster_id").cache()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    truth = {}
    for qid in range(nq):
        d = sorted(
            (float(np.sum((v - vecs[qid]) ** 2)), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        truth[qid] = {vid for _, vid in d[:k]}
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    R = S.opq_rotation(e, m=16)
    # orthogonality: ADC distances must be exactly preserved
    assert float(np.abs(R @ R.T - np.eye(R.shape[0])).max()) < 1e-10

    er = S.apply_rotation(e, R).cache()
    qr = S.apply_rotation(q, R, id_col="query_id")
    books = S.pq_train_codebooks(er, m=16, k=16)
    got = {}
    for r in S.pq_adc_topk(er, books, qr, k=k, m=16).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    rec = sum(len(got.get(i, set()) & truth[i]) / k for i in truth) / len(truth)
    er.unpersist()
    e.unpersist()
    assert rec >= 0.27, (
        f"clustered OPQ-lite PQ m=16/k=16 recall@10 fell to {rec:.3f} "
        "(unrotated baseline is 0.200 — the rotation must stay material)"
    )


def test_opq_rotation_layout_deterministic(embs):
    import numpy as np

    a = S.opq_rotation(embs, m=8)
    b = S.opq_rotation(_reorder(embs, 13, 21), m=8)
    assert np.array_equal(a, b)  # byte-identical trained rotation


def test_adc_query_bound_crisp(embs):
    """r15 verdict task 5: the driver-side query materialization in
    pq_adc_topk / ivf_pq_topk is BOUNDED — exceeding max_queries raises
    the module's crisp estimator error (and the collect itself is
    limit-capped, so the failure costs O(max_queries), not O(|queries|)
    driver memory)."""
    books = S.pq_train_codebooks(embs, m=8, k=16)
    q = embs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="needs at most max_queries=3"):
        S.pq_adc_topk(embs, books, q, k=3, m=8, max_queries=3)
    cents = S.ivf_train_centroids(embs, nlist=4)
    with pytest.raises(ValueError, match="needs at most max_queries=3"):
        S.ivf_pq_topk(
            embs, q, k=3, nlist=4, nprobe=2, m=8, pq_k=8,
            centroids=cents, max_queries=3,
        )
    # at the bound: both still run
    assert S.pq_adc_topk(embs, books, q, k=3, m=8, max_queries=4).count() > 0


def test_assign_cells_forms_agree(embs, monkeypatch):
    """r15 verdict task 6: the closure-matrix mapInPandas form of
    nearest-cell assignment (used above _LITERAL_NLIST_MAX) must agree
    EXACTLY with the codegen'd literal fold — same direct (x-c)^2 sum,
    same lowest-cell tie-break — on the catalog corpus, at an nlist on
    each side of the crossover."""
    from real_time_predictive_maintenance_data_pipeline_spark.functions.vectors import (
        as_double,
    )

    base = embs.filter(F.col("embedding").isNotNull()).select(
        "vec_id", as_double("embedding").alias("__vec")
    )
    for nlist in (16, 96):
        cents = S.ivf_train_centroids(embs, nlist=nlist)
        cent_rows = [(int(r[0]), list(r[1])) for r in cents.collect()]

        monkeypatch.setattr(S, "_LITERAL_NLIST_MAX", 10_000)
        lit = {
            r.vec_id: r["__cell"]
            for r in S.assign_cells(base, cent_rows, id_col="vec_id").collect()
        }
        monkeypatch.setattr(S, "_LITERAL_NLIST_MAX", 1)
        mat = {
            r.vec_id: r["__cell"]
            for r in S.assign_cells(base, cent_rows, id_col="vec_id").collect()
        }
        assert lit == mat, f"nlist={nlist}: forms diverge"
        assert len(lit) == base.count()


def test_ivf_large_nlist_uses_matrix_form(embs):
    """Above the crossover the search plan must not embed nlist x d
    literals: at nlist=96 the assignment runs through mapInPandas and
    ivf_topk still returns well-formed top-k."""
    cents = S.ivf_train_centroids(embs, nlist=96)
    q = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivf_topk(embs, q, k=3, nlist=96, nprobe=24, centroids=cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    rows = out.collect()
    assert {r.query_id for r in rows} == set(range(5))
    assert all(1 <= r.rank <= 3 for r in rows)


def test_opq_np_alternation_beats_parametric_floor(spark):
    """Full OPQ (r15 verdict task 9, Ge et al. OPQ_NP): alternating
    per-subspace codebook training with an orthogonal-Procrustes
    rotation update must push clustered-corpus PQ recall ABOVE the
    OPQ_P parametric baseline's pinned floor. Measured r16 at
    m=16/k=16 on the clustered fixture (recall@10 vs original-space
    exact euclidean): OPQ_P 0.328; OPQ_NP 0.428 (n_alt=3), 0.376 (5),
    0.396 (8), 0.400 (10) — the floor at 0.33 leaves noise margin
    while sitting above the OPQ_P 0.27 floor. Also pins orthogonality
    (ADC-distance preservation) and layout-determinism of the trained
    rotation."""
    import numpy as np

    from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
        clustered_embeddings,
    )

    k, nq = 10, 25
    e = clustered_embeddings(spark).drop("cluster_id").cache()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    truth = {}
    for qid in range(nq):
        d = sorted(
            (float(np.sum((v - vecs[qid]) ** 2)), vid)
            for vid, v in vecs.items()
            if vid != qid
        )
        truth[qid] = {vid for _, vid in d[:k]}
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    R = S.opq_rotation_np(e, m=16, k=16)
    assert float(np.abs(R @ R.T - np.eye(R.shape[0])).max()) < 1e-10

    er = S.apply_rotation(e, R).cache()
    qr = S.apply_rotation(q, R, id_col="query_id")
    books = S.pq_train_codebooks(er, m=16, k=16)
    got = {}
    for r in S.pq_adc_topk(er, books, qr, k=k, m=16).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    rec = sum(len(got.get(i, set()) & truth[i]) / k for i in truth) / len(truth)
    er.unpersist()

    # layout-determinism: byte-identical rotation on a re-layout
    R2 = S.opq_rotation_np(
        e.repartition(13).sortWithinPartitions("vec_id"), m=16, k=16
    )
    e.unpersist()
    assert np.array_equal(R, R2)
    assert rec >= 0.33, (
        f"clustered OPQ_NP PQ m=16/k=16 recall@10 fell to {rec:.3f} "
        "(OPQ_P parametric baseline floor is 0.27 — the alternation "
        "must stay material)"
    )


def test_adc_batch_prune_is_lossless(embs):
    """r16: the per-batch (k+1)-th-smallest prune inside the ADC scans
    must be LOSSLESS — pq_adc_topk's output equals a driver-side full
    ADC ranking (same rounded distances, same (adist, vec_id) tie
    order) computed with no pruning at all, over a multi-partition
    corpus so batch boundaries actually exercise the prune."""
    import numpy as np

    k, m = 7, 8
    e = embs.repartition(11)
    books = S.pq_train_codebooks(embs, m=m, k=16)
    q = embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.adist)
        for r in S.pq_adc_topk(e, books, q, k=k, m=m).collect()
    }

    # driver-side full ranking from the same codes + codebooks
    rows = books.collect()
    kk = max(r.code for r in rows) + 1
    dsub = len(rows[0].centroid)
    C = np.zeros((m, kk, dsub))
    for r in rows:
        C[r.sub, r.code] = r.centroid
    codes = {
        r.vec_id: np.array(r.codes)
        for r in S.pq_encode(embs, books, m=m).collect()
    }
    qv = {
        r.query_id: np.array(r.embedding, dtype=np.float64).reshape(m, dsub)
        for r in q.collect()
    }
    for qid, Q in qv.items():
        lut = ((Q[:, None, :] - C) ** 2).sum(axis=2)  # (m, kk)
        scored = sorted(
            (round(float(lut[np.arange(m), c].sum()), 4), vid)
            for vid, c in codes.items()
            if vid != qid
        )
        for rank, (ad, vid) in enumerate(scored[:k], start=1):
            assert got[(qid, rank)] == (vid, ad), (
                qid, rank, got[(qid, rank)], (vid, ad)
            )
