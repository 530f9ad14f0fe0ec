"""ANN quality tests: LSH and IVF recall against brute-force truth.

An approximate index that returns plausible-but-wrong neighbors passes
rows-only checks; these tests pin a quantitative recall floor so a
regression in banding/probing logic (or the plan-shape rewrites those
functions have needed) shows up as a failing number, not silence.
"""

from __future__ import annotations

import os

import pytest

from fortymhz_spark.operators.similarity import brute_force_knn, ivf_knn, lsh_knn
from fortymhz_spark.sources.batch import load_table

SF = "/root/testdata/sf0.001"
K = 5
N_QUERIES = 20


@pytest.fixture(scope="module")
def truth(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.orderBy("vec_id").limit(N_QUERIES)
    rows = brute_force_knn(emb, queries, k=K).collect()
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return emb, queries, by_q


def _recall(got_rows, truth_by_q) -> float:
    got: dict[int, set[int]] = {}
    for r in got_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth_by_q.items())
    total = sum(len(t) for t in truth_by_q.values())
    return hits / total


def test_ivf_recall(spark, truth):
    emb, queries, by_q = truth
    got = ivf_knn(emb, queries, k=K, n_cells=16, nprobe=4).collect()
    r = _recall(got, by_q)
    assert r >= 0.5, f"IVF recall@{K} = {r:.2f}"


def test_ivf_probe_all_is_exact(spark, truth):
    emb, queries, by_q = truth
    got = ivf_knn(emb, queries, k=K, n_cells=8, nprobe=8).collect()
    assert _recall(got, by_q) == 1.0  # probing every cell == brute force


def test_lsh_recall(spark, truth):
    emb, queries, by_q = truth
    got = lsh_knn(emb, queries, k=K, n_planes=16, bands=8).collect()
    r = _recall(got, by_q)
    assert r >= 0.5, f"LSH recall@{K} = {r:.2f}"


@pytest.mark.parametrize("bound", [3, 6])
def test_simhash_pigeonhole_recall_complete(spark, sf_dir, bound):
    """The chunked bucket join must find EVERY pair within the Hamming
    bound — pigeonhole requires bound+1 chunks, so this catches any
    regression to a fixed chunk count (4 chunks with bound 6 silently
    drops distance-4..6 pairs)."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dups,
    )
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs)
    brute = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.id") < F.col("b.id"))
        .withColumn(
            "hamming", F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
        )
        .filter(F.col("hamming") <= bound)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming"
        )
    )
    want = {tuple(r) for r in brute.collect()}
    got = {tuple(r) for r in simhash_near_dups(docs, max_hamming=bound).collect()}
    assert got == want


def test_kmeans_separable_clusters_and_determinism(spark):
    """On well-separated blobs, 3 Lloyd iterations recover the exact
    partition regardless of init; and two runs are bit-identical."""
    import random

    from fortymhz_spark.operators.similarity import kmeans_assign

    rng = random.Random(7)
    blobs = [(-100.0, -100.0), (100.0, 100.0), (-100.0, 100.0)]
    rows = []
    for i in range(90):
        cx, cy = blobs[i % 3]
        rows.append((i, [cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out1 = kmeans_assign(df, k=3, iters=3).collect()
    out2 = kmeans_assign(df, k=3, iters=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    by_cluster: dict[int, set[int]] = {}
    for r in out1:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"] % 3)
    # every found cluster is pure (contains one true blob only)
    assert len(by_cluster) == 3
    assert all(len(v) == 1 for v in by_cluster.values())


def test_arrow_knn_matches_jvm_neighbors(spark, sf_dir):
    """The BLAS path must return the SAME neighbor sets as the JVM
    fold — only the float tails of the scores may differ."""
    from fortymhz_spark.operators.similarity import (
        brute_force_knn,
        brute_force_knn_arrow,
    )
    from fortymhz_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    jvm = brute_force_knn(emb, queries, k=10).collect()
    arrow = brute_force_knn_arrow(emb, queries, k=10).collect()
    jvm_sets: dict[int, set[int]] = {}
    arrow_sets: dict[int, set[int]] = {}
    for r in jvm:
        jvm_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in arrow:
        arrow_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert jvm_sets == arrow_sets
    # and the scores agree to float64 fold-vs-pairwise tolerance
    jvm_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in jvm}
    for r in arrow:
        assert abs(jvm_scores[(r["query_id"], r["neighbor_id"])] - r["cosine"]) < 1e-9


def test_kmeans_degenerate_small_corpus(spark):
    """k larger than the corpus must clamp, not crash: each row becomes
    its own centroid and gets distance ~0."""
    from fortymhz_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, [9.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_assign(df, k=8, iters=2).collect()
    assert len(out) == 3
    assert {r["cluster"] for r in out} == {0, 1, 2}
    assert all(r["dist_e9"] == 0 for r in out)

def test_kmeanspar_init_beats_lowest_id_on_adversarial_ids(spark):
    """Blob-separation quality gate for the k-means|| init: ids are
    assigned so the k LOWEST ids all fall in ONE blob — the worst case
    for the default lowest-id seeding (all seeds start in the same
    cluster; two Lloyd rounds cannot always un-merge the far blobs).
    The hash-seeded k-means|| init must (a) be deterministic across
    runs, (b) end with inertia at least as good as lowest-id, and
    (c) recover the true partition (one pure cluster per blob)."""
    import random

    from pyspark.sql import functions as F

    from fortymhz_spark.operators.similarity import kmeans_assign

    rng = random.Random(11)
    blobs = [(0.0, 0.0), (1000.0, 0.0), (0.0, 1000.0), (1000.0, 1000.0)]
    rows = []
    # ids 0..9 all in blob 0 (the adversarial part), the rest round-robin
    for i in range(120):
        b = 0 if i < 10 else i % 4
        cx, cy = blobs[b]
        rows.append((i, b, [cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)]))
    df = spark.createDataFrame(
        [(i, v) for i, _, v in rows], "vec_id long, embedding array<float>"
    )
    true_blob = {i: b for i, b, _ in rows}

    def inertia(assigned):
        return sum(r["dist_e9"] for r in assigned)

    par1 = kmeans_assign(df, k=4, iters=2, init="kmeanspar").collect()
    par2 = kmeans_assign(df, k=4, iters=2, init="kmeanspar").collect()
    low = kmeans_assign(df, k=4, iters=2, init="lowest_id").collect()
    assert sorted(map(tuple, par1)) == sorted(map(tuple, par2))  # (a)
    assert inertia(par1) <= inertia(low)  # (b)
    by_cluster: dict[int, set[int]] = {}
    for r in par1:
        by_cluster.setdefault(r["cluster"], set()).add(true_blob[r["vec_id"]])
    assert len(by_cluster) == 4  # (c): all four blobs found...
    assert all(len(v) == 1 for v in by_cluster.values())  # ...each pure


def test_kmeans_init_validation(spark):
    import pytest as _pytest

    from fortymhz_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(0, [0.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="init"):
        kmeans_assign(df, k=1, iters=1, init="random")


def test_semantic_near_dup_is_verified_subset_with_full_recall_on_blobs(spark):
    """SemDeDup cells on angularly-separated blobs: every returned pair
    must appear in the exact all-pairs form with the identical cosine
    (precision 1.0 — the exact-verify step), and on well-separated
    blobs multi-probe assignment must reach recall 1.0."""
    import math
    import random

    from fortymhz_spark.operators.similarity import (
        cosine_near_dup_pairs,
        semantic_near_dup_pairs,
    )

    rng = random.Random(7)
    rows = []
    # four angular blobs at 0/90/180/270 degrees +- ~3 degrees: within a
    # blob cosine ~1, across blobs cosine <= ~0.1
    for i in range(80):
        theta = (i % 4) * math.pi / 2 + rng.uniform(-0.05, 0.05)
        r = rng.uniform(1.0, 3.0)
        rows.append((i, [r * math.cos(theta), r * math.sin(theta)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(df, threshold=0.99).collect()
    }
    sem = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_near_dup_pairs(
            df, threshold=0.99, n_cells=4, probes=2
        ).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    # precision: subset with bit-identical cosines (same verify expr)
    for pair, cos in sem.items():
        assert pair in exact
        assert cos == exact[pair]
    # recall on separated blobs: everything found
    assert set(sem) == set(exact)


def test_semantic_near_dup_validates_probes(spark):
    import pytest as _pytest

    from fortymhz_spark.operators.similarity import semantic_near_dup_pairs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        semantic_near_dup_pairs(df, threshold=0.9, n_cells=4, probes=0)
    with _pytest.raises(ValueError):
        semantic_near_dup_pairs(df, threshold=0.9, n_cells=4, probes=5)


def test_semantic_near_dup_arrow_path_matches_expr_on_blobs(spark):
    """The large-k physical forms (hash seeding + Arrow batch-matmul
    assignment) must find the same verified pairs as the small-k
    expression path on well-separated blobs — different candidate
    generators, same exact-verified output when recall is 1.0 — and
    must stay deterministic across runs."""
    import math
    import random

    from fortymhz_spark.operators.similarity import semantic_near_dup_pairs

    rng = random.Random(13)
    rows = []
    for i in range(80):
        theta = (i % 4) * math.pi / 2 + rng.uniform(-0.05, 0.05)
        r = rng.uniform(1.0, 3.0)
        rows.append((i, [r * math.cos(theta), r * math.sin(theta)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    expr = sorted(
        map(
            tuple,
            semantic_near_dup_pairs(
                df, threshold=0.99, n_cells=4, probes=2
            ).collect(),
        )
    )
    arrow1 = sorted(
        map(
            tuple,
            semantic_near_dup_pairs(
                df,
                threshold=0.99,
                n_cells=4,
                probes=2,
                init="hash",
                assign="arrow",
            ).collect(),
        )
    )
    arrow2 = sorted(
        map(
            tuple,
            semantic_near_dup_pairs(
                df,
                threshold=0.99,
                n_cells=4,
                probes=2,
                init="hash",
                assign="arrow",
            ).collect(),
        )
    )
    assert arrow1 == arrow2  # deterministic
    assert arrow1 == expr  # same exact-verified pairs at full recall


def _cells_by_both_paths(df, cents, probes):
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.similarity import (
        _assign_cells_arrow,
        _nearest_cells,
    )

    expr = df.select(
        F.col("vec_id").alias("id"),
        F.explode(_nearest_cells("embedding", cents, probes)).alias("cell"),
    )
    arrow = _assign_cells_arrow(df, "vec_id", "embedding", cents, probes)
    return sorted(map(tuple, expr.collect())), sorted(map(tuple, arrow.collect()))


def test_arrow_and_expr_cell_assignment_agree_on_ties(spark):
    """The Arrow batch-matmul cell assignment (the only one ivf_knn /
    ivfpq_knn / the codes encode use) must pick the same cells as the
    pure-expression reference ``_nearest_cells`` — both break
    dot-product ties toward the HIGHER cell index (reverse(array_sort)
    order).  Two inputs: a FIXED centroid list containing duplicates
    with vectors that tie (one equidistant from everything, every dot
    0), and the real sf0.01 embeddings against their 16 lowest-id
    centroids (the ivf_knn default sizing), at 1 probe (the corpus
    side) and 4 (the query side)."""
    from fortymhz_spark.operators.similarity import _centroids

    cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.5, 0.5]]  # 0 == 2
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),  # ties cells 0 and 2
            (1, [0.0, 0.0]),  # ties ALL cells (every dot 0)
            (2, [2.0, 0.0]),
            (3, [0.3, 0.3]),
        ],
        "vec_id long, embedding array<float>",
    )
    got_expr, got_arrow = _cells_by_both_paths(df, cents, 2)
    assert got_expr == got_arrow

    emb = load_table(
        spark, os.path.join(os.path.dirname(SF), "sf0.01"), "embeddings"
    )
    real_cents = _centroids(emb, "vec_id", "embedding", 16)
    n = emb.count()
    for probes in (1, 4):
        got_expr, got_arrow = _cells_by_both_paths(emb, real_cents, probes)
        assert len(got_expr) == n * probes
        assert got_expr == got_arrow, probes


def test_matrix_lit_non_finite_matches_f_lit(spark):
    """``_matrix_lit`` renders NaN and ±Inf as string casts (they have
    no SQL literal syntax); the values must be the ones ``F.lit``
    builds, finite neighbours included."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.similarity import _matrix_lit

    mat = [[float("nan"), float("inf"), -0.5], [float("-inf"), 0.1, 1e300]]
    got = spark.range(1).select(
        _matrix_lit(mat).alias("m"), F.lit(mat).alias("ref")
    )
    # the string casts make the element type nullable; the values match
    assert got.schema["m"].dataType.elementType.elementType == (
        got.schema["ref"].dataType.elementType.elementType
    )
    row = got.first()
    assert [[repr(x) for x in r] for r in row["m"]] == [
        [repr(x) for x in r] for r in row["ref"]
    ]


def test_kmeans_arrow_assignment_matches_expr_on_blobs(spark):
    """kmeans_assign(assign='arrow') must recover the same clustering
    as the expression argmin on well-separated blobs (partition = the
    semantic content; only exact-boundary points could ever differ
    between BLAS and the JVM fold) and must be deterministic."""
    import random

    from fortymhz_spark.operators.similarity import kmeans_assign

    rng = random.Random(29)
    blobs = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]
    rows = []
    for i in range(90):
        cx, cy = blobs[i % 3]
        rows.append((i, [cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def partition(result):
        by_cluster: dict[int, frozenset[int]] = {}
        for r in result:
            by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
        return {frozenset(v) for v in by_cluster.values()}

    expr = kmeans_assign(df, k=3, iters=2, init="kmeanspar").collect()
    arrow1 = kmeans_assign(df, k=3, iters=2, init="kmeanspar", assign="arrow").collect()
    arrow2 = kmeans_assign(df, k=3, iters=2, init="kmeanspar", assign="arrow").collect()
    assert sorted(map(tuple, arrow1)) == sorted(map(tuple, arrow2))
    assert partition(expr) == partition(arrow1)
    # dist_e9 may differ in the last ulp between BLAS and the fold;
    # on separated blobs it must agree to within a few nano-units
    e = {r["vec_id"]: r["dist_e9"] for r in expr}
    for r in arrow1:
        assert abs(e[r["vec_id"]] - r["dist_e9"]) <= 10


def test_semantic_near_dup_precision_structural_on_random_vectors(spark):
    """Precision of the cell-bucketed path is STRUCTURAL — on fully
    random (unclustered, adversarial-for-recall) vectors, every
    emitted pair must still appear in the exact form with an identical
    cosine, for both physical forms.  (Recall on such data is NOT
    asserted — cells can split neighbors; that contract is the graded
    aggregate bound on the fixtures.)"""
    import random

    from fortymhz_spark.operators.similarity import (
        cosine_near_dup_pairs,
        semantic_near_dup_pairs,
    )

    rng = random.Random(97)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(df, threshold=0.6).collect()
    }
    for kwargs in (
        {},
        {"init": "hash", "assign": "arrow"},
    ):
        sem = semantic_near_dup_pairs(
            df, threshold=0.6, n_cells=6, probes=2, **kwargs
        ).collect()
        for r in sem:
            key = (r["id_a"], r["id_b"])
            assert key in exact, (kwargs, key)
            assert r["cosine"] == exact[key], (kwargs, key)


def test_lsh_dim_inference_rejects_null_and_ragged(spark):
    """Dim inference must fail loudly on NULL or ragged embeddings —
    a wrong inferred dim NULLs the zip_with dots for the other rows
    and silently collapses them into one bucket (full-scan recall
    pathology), the exact failure the inference exists to prevent."""
    ragged = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    q = ragged.filter("vec_id = 0")
    with pytest.raises(ValueError, match="ragged"):
        lsh_knn(ragged, q, k=1)

    nulled = spark.createDataFrame(
        [(0, None), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL"):
        lsh_knn(nulled, nulled.filter("vec_id = 1"), k=1)


def test_pq_train_rejects_corpus_smaller_than_n_cells(spark):
    """A corpus with fewer vectors than n_cells used to train short
    codebooks that the probe side indexed past the end of
    (INVALID_ARRAY_INDEX under ANSI mode) — now a clear ValueError."""
    from fortymhz_spark.operators.similarity import pq_knn

    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="n_cells"):
        pq_knn(tiny, tiny, k=1, n_sub=2, n_cells=16)


def test_ann_recall_report_mirrors_graded_bounds(spark):
    """The bench-scale recall report must run the SAME configurations
    as the graded q_emb_ann_* rows: each family's measured min recall
    at sf0.001 must clear that family's graded bound (lsh 0.7, ivf
    0.4, pq 0.5, ivfpq 0.4) — if someone edits a query's parameters
    without updating the report (or vice versa), the drifted config's
    recall profile changes and this trips."""
    from fortymhz_spark.queries.llm import ann_recall_report

    report = ann_recall_report(spark, SF)
    bounds = {"lsh": 0.7, "ivf": 0.4, "pq": 0.5, "ivfpq": 0.4}
    assert set(report) == set(bounds)
    for fam, bound in bounds.items():
        r = report[fam]
        assert r["n_queries"] > 0, fam
        assert r["min"] >= bound, (fam, r)
        assert 0.0 <= r["min"] <= r["mean"] <= 1.0, (fam, r)


def test_ivf_auto_cells_sqrt_sizing(spark):
    """n_cells=None auto-sizes to ceil(sqrt(N)) capped at 4096, and the
    auto-sized index still returns k neighbors per query."""
    from fortymhz_spark.operators.similarity import _auto_cells

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    want = int(n ** 0.5) if (int(n ** 0.5)) ** 2 == n else int(n ** 0.5) + 1
    assert _auto_cells(emb, None) == want
    assert _auto_cells(emb, 7) == 7

    queries = emb.orderBy("vec_id").limit(3)
    got = ivf_knn(emb, queries, k=3, n_cells=None, nprobe=4).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(per_q) == 3
    for q, ns in per_q.items():
        assert len(ns) == 3, (q, ns)


# ---------------------------------------------------------------------------
# persisted index lifecycle (operators/ann_index.py): train once,
# serve many — the snapshot-table artifact must reproduce the
# in-process fit byte for byte, survive rebuilds via time travel, and
# fail loudly on corrupt/foreign artifacts.
# ---------------------------------------------------------------------------


def test_ann_index_roundtrip_serves_byte_identical(spark, truth, tmp_path):
    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    td = str(tmp_path / "idx")
    v = build_ann_index(emb, td, n_coarse=None, n_sub=8, n_cells=16)
    assert v == 1
    idx = load_ann_index(spark, td)
    assert idx.kind == "ivfpq" and idx.version == 1
    assert idx.dim == idx.d_sub * idx.n_sub
    served = ivfpq_knn(
        emb, queries, k=K, nprobe=None, rerank=None, index=idx
    ).collect()
    refit = ivfpq_knn(
        emb, queries, k=K, n_coarse=None, nprobe=None, n_sub=8,
        n_cells=16, rerank=None,
    ).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, served)) == sorted(map(key, refit))


def test_ann_index_time_travel_and_validation(spark, truth, tmp_path):
    import pytest as _pytest

    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn
    from fortymhz_spark.sources.snapshots import write_snapshot

    emb, _, _ = truth
    td = str(tmp_path / "idx")
    build_ann_index(emb, td, n_coarse=4, n_sub=8, n_cells=16)
    build_ann_index(emb, td, n_coarse=8, n_sub=8, n_cells=16)
    # current resolves to the rebuild; v=1 stays pinned (time travel)
    assert load_ann_index(spark, td).n_coarse == 8
    old = load_ann_index(spark, td, version=1)
    assert old.n_coarse == 4 and old.version == 1
    # a non-index snapshot in the same lineage is rejected by note
    other = str(tmp_path / "notidx")
    write_snapshot(
        emb.limit(1).select("vec_id"), other, note="plain table"
    )
    with _pytest.raises(ValueError, match=r"not a.*ann_index.*artifact"):
        load_ann_index(spark, other)
    # serving kind is validated on ALL THREE access paths — a future
    # non-ivfpq artifact (or a corrupted kind field) must never be
    # consumed silently with wrong geometry
    from fortymhz_spark.operators.similarity import ivf_knn, pq_knn

    idx = load_ann_index(spark, td)
    object.__setattr__(idx, "kind", "pq")
    with _pytest.raises(ValueError, match="'ivfpq' index"):
        ivfpq_knn(emb, emb.limit(1), index=idx)
    with _pytest.raises(ValueError, match="kind='pq'"):
        ivf_knn(emb, emb.limit(1), index=idx)
    with _pytest.raises(ValueError, match="kind='pq'"):
        pq_knn(emb, emb.limit(1), index=idx)


def test_ann_codes_roundtrip_serves_byte_identical(spark, truth, tmp_path):
    """The persisted encoded corpus (build_ann_codes → load_ann_codes →
    ivfpq_knn(index=..., codes=...)) must reproduce the in-plan encode
    byte for byte, and the codes table itself must hold exactly the
    in-plan encode rows."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import _ivfpq_codes, ivfpq_knn

    emb, queries, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    assert build_ann_codes(emb, codes_dir, idx, corpus_version=1) == 1
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=1)
    # the artifact rows ARE the in-plan encode rows
    inplan_codes = _ivfpq_codes(
        emb, "vec_id", "embedding", idx.coarse, idx.books,
        idx.n_sub, idx.n_cells, idx.d_sub,
    ).withColumnRenamed("neighbor_id", "id")
    key = lambda r: tuple(r)
    assert sorted(map(key, codes.collect())) == sorted(
        map(key, inplan_codes.collect())
    )
    served = ivfpq_knn(
        emb, queries, k=K, nprobe=None, rerank=None, index=idx, codes=codes
    ).collect()
    inplan = ivfpq_knn(
        emb, queries, k=K, nprobe=None, rerank=None, index=idx
    ).collect()
    assert sorted(map(key, served)) == sorted(map(key, inplan))


def test_ann_codes_staleness_guards_and_validation(spark, truth, tmp_path):
    """A stale (index, codes) or (corpus, codes) pairing is the
    silent-wrong-recall failure mode — every mismatch must fail
    loudly before any data is served."""
    import pytest as _pytest

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, _, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx, corpus_version=3)
    # happy path: matching pins serve
    assert load_ann_codes(
        spark, codes_dir, idx, corpus_version=3
    ).count() == emb.count()
    # unpinned corpus_version skips the corpus check (caller's call)
    assert load_ann_codes(spark, codes_dir, idx).count() == emb.count()
    # corpus moved since the encode
    with _pytest.raises(ValueError, match="corpus .*moved|moved since"):
        load_ann_codes(spark, codes_dir, idx, corpus_version=4)
    # index rebuilt since the encode (new version, different geometry)
    build_ann_index(emb, idx_dir, n_coarse=4, n_sub=8, n_cells=16)
    idx2 = load_ann_index(spark, idx_dir)
    with _pytest.raises(ValueError, match="built against index"):
        load_ann_codes(spark, codes_dir, idx2, corpus_version=3)
    # codes without their index carry no geometry
    with _pytest.raises(ValueError, match="codes= carries no index"):
        ivfpq_knn(emb, emb.limit(1), codes=emb.limit(1))
    # a frame that is not a codes table for this index fails the
    # column inventory check
    from pyspark.sql import functions as F

    bad = emb.select(F.col("vec_id").alias("id"), F.lit(0).alias("cell"))
    with _pytest.raises(ValueError, match="missing columns"):
        ivfpq_knn(emb, emb.limit(1), index=idx, codes=bad)
    # a non-codes snapshot is rejected by note
    from fortymhz_spark.sources.snapshots import write_snapshot

    other = str(tmp_path / "plain")
    write_snapshot(emb.limit(1).select("vec_id"), other, note="plain")
    with _pytest.raises(ValueError, match=r"not a.*ann_codes.*artifact"):
        load_ann_codes(spark, other, idx)


def test_ann_codes_cell_partitioned_prunes_and_stays_identical(
    spark, truth, tmp_path
):
    """build_ann_codes(partition_by_cell=True) lays the table out as
    one directory per coarse cell (the inverted file made literal);
    the serving join on cell must then qualify for DYNAMIC PARTITION
    PRUNING — only probed cells' files are read — while results stay
    byte-identical to the unpartitioned and in-plan forms, and the
    extend path must preserve the partitioned layout."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(
        emb.filter(F.col("vec_id") % 5 != 0), codes_dir, idx,
        corpus_version=1, partition_by_cell=True,
    )
    # the snapshot MERGE preserves partition_by from the manifest
    extend_ann_codes(
        emb.filter(F.col("vec_id") % 5 == 0), codes_dir, idx,
        corpus_version=2,
    )
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=2)
    assert codes.count() == emb.count()
    served = ivfpq_knn(
        emb, queries, k=K, nprobe=2, rerank=8, index=idx, codes=codes
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, (
        "cell-partitioned codes must serve under dynamic partition "
        "pruning (probed cells only)"
    )
    key = lambda r: tuple(r)
    inplan = ivfpq_knn(emb, queries, k=K, nprobe=2, rerank=8, index=idx)
    assert sorted(map(key, served.collect())) == sorted(
        map(key, inplan.collect())
    )


def test_ann_codes_extend_matches_from_scratch(spark, truth, tmp_path):
    """extend_ann_codes (the incremental ADD step): encode ONLY the
    arriving batch and upsert — the resulting table must equal a
    from-scratch build over the full corpus element for element, the
    corpus-version pin must advance, pinned time travel must still see
    the pre-extend rows, and extending with a mismatched index must
    fail loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
    )

    emb, _, _ = truth
    old = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)

    inc_dir = str(tmp_path / "codes_inc")
    assert build_ann_codes(old, inc_dir, idx, corpus_version=1) == 1
    assert extend_ann_codes(batch, inc_dir, idx, corpus_version=2) == 2
    scratch_dir = str(tmp_path / "codes_scratch")
    build_ann_codes(emb, scratch_dir, idx, corpus_version=2)
    key = lambda r: tuple(r)
    inc = load_ann_codes(spark, inc_dir, idx, corpus_version=2)
    scratch = load_ann_codes(spark, scratch_dir, idx, corpus_version=2)
    assert sorted(map(key, inc.collect())) == sorted(
        map(key, scratch.collect())
    )
    # the extend advanced the corpus pin: the OLD pin now fails at
    # current, but still time-travels at the pre-extend version
    with _pytest.raises(ValueError, match="moved since"):
        load_ann_codes(spark, inc_dir, idx, corpus_version=1)
    assert load_ann_codes(
        spark, inc_dir, idx, version=1, corpus_version=1
    ).count() == old.count()
    # re-ingest is an idempotent upsert, not a duplicate append
    extend_ann_codes(batch, inc_dir, idx, corpus_version=3)
    assert load_ann_codes(spark, inc_dir, idx).count() == emb.count()
    # codes from two fits must never mix
    build_ann_index(emb, idx_dir, n_coarse=4, n_sub=8, n_cells=16)
    idx2 = load_ann_index(spark, idx_dir)
    with _pytest.raises(ValueError, match="never mix"):
        extend_ann_codes(batch, inc_dir, idx2, corpus_version=4)


def test_ann_codes_serving_plan_reads_codes_not_corpus_encode(
    spark, truth, tmp_path
):
    """The codes-served plan's candidate side must SCAN the persisted
    codes table: the code_* values come from parquet, not from
    re-encoding the corpus in-plan — the executed plan reads the codes
    path and carries no PQ argmin (array_sort-over-codebook)
    expressions for the corpus side (the query side's dtab transforms
    remain, and exactly one arrow kernel assigns QUERY cells)."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=1)
    plan = (
        ivfpq_knn(
            emb, queries, k=K, nprobe=4, rerank=8, index=idx, codes=codes
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the candidate scan READS the code columns from parquet (a
    # FileScan carrying code_* output — directory paths get truncated
    # in Location strings, so assert on the scanned schema instead)
    assert any(
        "FileScan parquet" in line and "code_0#" in line
        for line in plan.splitlines()
    ), "candidate scan must read the persisted codes table"
    # corpus-side PQ encode is an argmin = array_sort over (dist, cell)
    # structs; absent when codes are served at rest
    assert "array_sort" not in plan, "in-plan PQ encode leaked back in"
    """The composed ivfpq artifact serves all three access paths —
    ivf_knn reads its coarse half, pq_knn its codebook half, ivfpq_knn
    both — each byte-identical to the corresponding in-process fit
    with the same sizing."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivf_knn, ivfpq_knn, pq_knn

    emb, queries, _ = truth
    td = str(tmp_path / "idx")
    build_ann_index(emb, td, n_coarse=16, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, td)
    key = lambda r: tuple(r)
    pairs = [
        (
            ivf_knn(emb, queries, k=K, nprobe=4, index=idx),
            ivf_knn(emb, queries, k=K, n_cells=16, nprobe=4),
        ),
        (
            pq_knn(emb, queries, k=K, rerank=8, index=idx),
            pq_knn(emb, queries, k=K, n_sub=8, n_cells=16, rerank=8),
        ),
        (
            ivfpq_knn(emb, queries, k=K, nprobe=4, rerank=8, index=idx),
            ivfpq_knn(
                emb, queries, k=K, n_coarse=16, nprobe=4, n_sub=8,
                n_cells=16, rerank=8,
            ),
        ),
    ]
    for served, refit in pairs:
        assert sorted(map(key, served.collect())) == sorted(
            map(key, refit.collect())
        )


def test_ann_codes_delete_matches_refit_on_survivors(spark, truth, tmp_path):
    """delete_ann_codes (the tombstone step the dedup pipeline needs):
    after deleting a slice, the table must be byte-identical to
    build_ann_codes re-run on the surviving corpus, serving must never
    return a deleted id, the corpus pin must advance (with time travel
    back to the pre-delete version), replaying the same delete must be
    an idempotent no-op, and a mismatched index must fail loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        delete_ann_codes,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    surviving = emb.filter(F.col("vec_id") % 7 != 0)
    doomed = emb.filter(F.col("vec_id") % 7 == 0)
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)
    assert delete_ann_codes(doomed, codes_dir, idx, corpus_version=2) == 2

    key = lambda r: tuple(r)
    deleted = load_ann_codes(spark, codes_dir, idx, corpus_version=2)
    scratch_dir = str(tmp_path / "codes_scratch")
    build_ann_codes(surviving, scratch_dir, idx, corpus_version=2)
    scratch = load_ann_codes(spark, scratch_dir, idx, corpus_version=2)
    assert sorted(map(key, deleted.collect())) == sorted(
        map(key, scratch.collect())
    )
    # serving the post-delete table returns no vanished id and matches
    # the in-plan twin over the surviving corpus
    served = ivfpq_knn(
        surviving, queries, k=K, nprobe=4, rerank=8, index=idx,
        codes=deleted,
    ).collect()
    assert all(r["neighbor_id"] % 7 != 0 for r in served)
    inplan = ivfpq_knn(
        surviving, queries, k=K, nprobe=4, rerank=8, index=idx
    ).collect()
    assert sorted(map(key, served)) == sorted(map(key, inplan))
    # pin advanced: old pin fails at current, still time-travels
    with _pytest.raises(ValueError, match="moved since"):
        load_ann_codes(spark, codes_dir, idx, corpus_version=1)
    assert load_ann_codes(
        spark, codes_dir, idx, version=1, corpus_version=1
    ).count() == emb.count()
    # replaying the delete (absent keys) is an idempotent no-op row-wise
    delete_ann_codes(doomed, codes_dir, idx, corpus_version=2)
    assert load_ann_codes(
        spark, codes_dir, idx, corpus_version=2
    ).count() == surviving.count()
    # corpus_version=None inherits the prior pin instead of erasing it
    delete_ann_codes(emb.filter(F.col("vec_id") == 1), codes_dir, idx)
    assert load_ann_codes(
        spark, codes_dir, idx, corpus_version=2
    ).count() == surviving.count() - 1
    # a different fit must never tombstone this table
    build_ann_index(emb, idx_dir, n_coarse=4, n_sub=8, n_cells=16)
    idx2 = load_ann_index(spark, idx_dir)
    with _pytest.raises(ValueError, match="different fit"):
        delete_ann_codes(doomed, codes_dir, idx2)


def test_ann_codes_delete_preserves_cell_partitioning(spark, truth, tmp_path):
    """Deletes against a cell-partitioned codes table must re-publish
    under the same layout (DPP keeps working) and stay byte-identical
    to the unpartitioned delete."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        delete_ann_codes,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(
        emb, codes_dir, idx, corpus_version=1, partition_by_cell=True
    )
    delete_ann_codes(
        emb.filter(F.col("vec_id") % 7 == 0), codes_dir, idx,
        corpus_version=2,
    )
    surviving = emb.filter(F.col("vec_id") % 7 != 0)
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=2)
    assert codes.count() == surviving.count()
    served = ivfpq_knn(
        surviving, queries, k=K, nprobe=2, rerank=8, index=idx, codes=codes
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, (
        "post-delete partitioned codes must still serve under DPP"
    )


def test_extend_ann_codes_inherits_pin(spark, truth, tmp_path):
    """extend_ann_codes must INHERIT the table's corpus pin when
    corpus_version=None — an extend that forgot to re-pass the version
    must not strip a pinned table of its staleness guard."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
    )

    emb, _, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(
        emb.filter(F.col("vec_id") % 5 != 0), codes_dir, idx,
        corpus_version=7,
    )
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    # None inherits the pin: the table still serves under pin 7
    extend_ann_codes(batch, codes_dir, idx)
    assert load_ann_codes(
        spark, codes_dir, idx, corpus_version=7
    ).count() == emb.count()


def test_ann_drift_report_detects_corpus_drift(spark, truth, tmp_path):
    """ann_drift_report: the fitted corpus scores a finite mean ADC
    quantization error; a drifted corpus (element-wise squared
    embeddings) scores strictly HIGHER under the stale index; a fresh
    refit on the drifted corpus brings it back DOWN — the measured
    inequalities a refit-now alert rests on.  Wrong-kind indexes are
    rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        AnnIndex,
        ann_drift_report,
        build_ann_index,
        load_ann_index,
    )

    emb, _, _ = truth
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    r_fit = ann_drift_report(emb, idx, label="fit").first()
    assert r_fit["corpus_label"] == "fit"
    assert r_fit["n_vectors"] == emb.count()
    assert 0.0 <= r_fit["mean_quant_err"] <= r_fit["max_quant_err"]
    drifted = emb.select(
        "vec_id", F.transform("embedding", lambda x: x * x).alias("embedding")
    )
    r_stale = ann_drift_report(drifted, idx, label="drifted").first()
    assert r_stale["mean_quant_err"] > r_fit["mean_quant_err"]
    refit_dir = str(tmp_path / "refit")
    build_ann_index(drifted, refit_dir, n_coarse=8, n_sub=8, n_cells=16)
    r_refit = ann_drift_report(drifted, load_ann_index(spark, refit_dir))
    assert r_refit.first()["mean_quant_err"] < r_stale["mean_quant_err"]
    bad = AnnIndex(
        kind="flat", coarse=idx.coarse, books=idx.books, dim=idx.dim,
        n_sub=idx.n_sub, n_cells=idx.n_cells, d_sub=idx.d_sub,
    )
    with _pytest.raises(ValueError, match="ivfpq"):
        ann_drift_report(emb, bad)
    # NULL-embedding rows yield NULL __qerr__, which avg/max already
    # exclude — n_vectors must use the SAME denominator (count the
    # non-NULL errors), or count and averages silently disagree
    with_null = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    r_null = ann_drift_report(with_null, idx).first()
    n_live = with_null.filter(F.col("embedding").isNotNull()).count()
    assert r_null["n_vectors"] == n_live
    assert abs(r_null["mean_quant_err"]) >= 0.0  # defined, not NULL


def test_delete_ann_codes_empty_and_null_ids_are_noops(
    spark, truth, tmp_path
):
    """An EMPTY delete batch returns the current version unchanged (a
    dedup pass that dropped zero documents must not crash), and NULL
    ids are dropped rather than rejected by the merge's NULL-key
    guard."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        delete_ann_codes,
        load_ann_codes,
        load_ann_index,
    )

    emb, _, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)
    empty = emb.filter(F.lit(False))
    assert delete_ann_codes(empty, codes_dir, idx) == 1  # no new version
    nulls_and_one = spark.createDataFrame(
        [(None,), (3,)], "vec_id long"
    )
    assert delete_ann_codes(nulls_and_one, codes_dir, idx) == 2
    assert load_ann_codes(spark, codes_dir, idx).count() == emb.count() - 1


def test_ivfpq_by_residual_recall_floor(spark, truth):
    """Residual encoding (FAISS by_residual=true): codebooks quantize
    (vn - anchor[cell]) — recall must clear the same floor the raw
    form does, and probing every cell with a generous rerank must stay
    exact (the residual shift cancels in the ADC ranking only
    approximately, but the exact re-rank tail is mode-independent)."""
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, by_q = truth
    got = ivfpq_knn(
        emb, queries, k=K, n_coarse=8, n_sub=8, n_cells=16,
        by_residual=True,
    ).collect()
    r = _recall(got, by_q)
    assert r >= 0.5, f"residual IVFPQ recall@{K} = {r:.2f}"


def test_residual_index_roundtrip_codes_identity_and_lifecycle(
    spark, truth, tmp_path
):
    """by_residual is INDEX GEOMETRY: the persisted artifact records
    it, serving inherits it, the codes table is byte-identical to the
    in-plan residual encode, extend/delete keep the from-scratch
    identity, and every mode-mixing path fails loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        delete_ann_codes,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import (
        _ivfpq_codes,
        ivfpq_knn,
        pq_knn,
    )

    emb, queries, _ = truth
    idx_dir = str(tmp_path / "idx")
    build_ann_index(
        emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16, by_residual=True
    )
    idx = load_ann_index(spark, idx_dir)
    assert idx.by_residual is True

    # serve == in-process residual refit of the same sizing
    key = lambda r: tuple(r)
    served = ivfpq_knn(
        emb, queries, k=K, nprobe=None, rerank=None, index=idx
    ).collect()
    refit = ivfpq_knn(
        emb, queries, k=K, n_coarse=8, nprobe=None, n_sub=8,
        n_cells=16, rerank=None, by_residual=True,
    ).collect()
    assert sorted(map(key, served)) == sorted(map(key, refit))

    # codes artifact == in-plan residual encode, element for element
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=1)
    inplan = _ivfpq_codes(
        emb, "vec_id", "embedding", idx.coarse, idx.books,
        idx.n_sub, idx.n_cells, idx.d_sub, by_residual=True,
    ).withColumnRenamed("neighbor_id", "id")
    assert sorted(map(key, codes.collect())) == sorted(
        map(key, inplan.collect())
    )
    # ...and the codes DIFFER from a raw encode (the mode is real)
    raw = _ivfpq_codes(
        emb, "vec_id", "embedding", idx.coarse, idx.books,
        idx.n_sub, idx.n_cells, idx.d_sub, by_residual=False,
    ).withColumnRenamed("neighbor_id", "id")
    assert sorted(map(key, codes.collect())) != sorted(
        map(key, raw.collect())
    )

    # extend + delete preserve the from-scratch identity in residual
    # mode (shared encode path — this pins the plumbing end to end)
    survivors = emb.filter(F.col("vec_id") % 5 != 0)
    extend_ann_codes(
        emb.filter(F.col("vec_id") % 5 == 0).limit(0), codes_dir, idx
    )  # empty extend keeps the table serving
    delete_ann_codes(
        emb.filter(F.col("vec_id") % 5 == 0), codes_dir, idx,
        corpus_version=2,
    )
    scratch_dir = str(tmp_path / "codes_scratch")
    build_ann_codes(survivors, scratch_dir, idx, corpus_version=2)
    after = load_ann_codes(spark, codes_dir, idx, corpus_version=2)
    scratch = load_ann_codes(spark, scratch_dir, idx, corpus_version=2)
    assert sorted(map(key, after.collect())) == sorted(
        map(key, scratch.collect())
    )

    # mode mixing is geometry corruption: a RAW index (same sizing,
    # fresh fit) must not touch residual codes, and vice versa
    raw_dir = str(tmp_path / "rawidx")
    build_ann_index(
        emb, raw_dir, n_coarse=8, n_sub=8, n_cells=16, by_residual=False
    )
    raw_idx = load_ann_index(spark, raw_dir)
    assert raw_idx.by_residual is False
    # pin versions equal so ONLY the mode differs in the pairing check
    assert raw_idx.version == idx.version
    with _pytest.raises(ValueError, match="never mix"):
        load_ann_codes(spark, codes_dir, raw_idx)
    with _pytest.raises(ValueError, match="never mix"):
        extend_ann_codes(emb.limit(3), codes_dir, raw_idx)

    # pq_knn has no cell context — residual codebooks are unservable
    with _pytest.raises(ValueError, match="by_residual"):
        pq_knn(emb, queries, index=idx)


def test_residual_drift_report_measures_residual_space(
    spark, truth, tmp_path
):
    """Drift under a residual index is the quantization error of the
    RESIDUAL, not the raw normalized vector — on the fitted corpus it
    must be small (codebooks trained on these residuals) and a drifted
    corpus must measure strictly higher."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_index,
        load_ann_index,
    )

    emb, _, _ = truth
    idx_dir = str(tmp_path / "idx")
    build_ann_index(
        emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16, by_residual=True
    )
    idx = load_ann_index(spark, idx_dir)
    fitted = ann_drift_report(emb, idx, label="fitted").collect()[0]
    drifted_corpus = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x * x * F.signum(x)
        ).alias("embedding"),
    )
    drifted = ann_drift_report(
        drifted_corpus, idx, label="drifted"
    ).collect()[0]
    assert fitted["n_vectors"] == emb.count()
    assert drifted["mean_quant_err"] > fitted["mean_quant_err"]


def test_refit_ann_codes_drift_policy_and_byte_identity(
    spark, truth, tmp_path
):
    """The drift→refit loop closed end to end: a below-threshold
    corpus is a true no-op (no writes), an above-threshold corpus
    triggers an atomic index+codes rebuild that is byte-identical to a
    manual rebuild of the same sizing, drift strictly recovers, old
    versions stay time-travelable, the cell layout survives, and
    load_ann_serving always resolves a consistent pair."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
        load_ann_serving,
        refit_ann_codes,
    )
    from fortymhz_spark.sources.snapshots import snapshot_versions

    emb, _, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx1 = load_ann_index(spark, idx_dir)
    build_ann_codes(
        emb, codes_dir, idx1, corpus_version=1, partition_by_cell=True
    )
    fitted_err = ann_drift_report(emb, idx1).collect()[0]["mean_quant_err"]

    # the corpus drifts (element-wise squared, sign kept); pick the
    # policy threshold BETWEEN the two measured errors so each side of
    # the decision rule is exercised for real
    drifted = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x * x * F.signum(x)
        ).alias("embedding"),
    )
    drifted_err = ann_drift_report(drifted, idx1).collect()[0][
        "mean_quant_err"
    ]
    assert drifted_err > fitted_err
    threshold = (fitted_err + drifted_err) / 2

    # healthy corpus, threshold above its error → true no-op
    r = refit_ann_codes(emb, idx_dir, codes_dir, drift_threshold=threshold)
    assert r == {
        "refit": False,
        "mean_quant_err": r["mean_quant_err"],
        "deleted_fraction": 0.0,
        "index_version": 1,
        "codes_version": 1,
    }
    assert len(snapshot_versions(idx_dir)) == 1  # nothing was written

    r2 = refit_ann_codes(
        drifted, idx_dir, codes_dir,
        drift_threshold=threshold, corpus_version=2,
    )
    assert r2["refit"] is True
    assert r2["mean_quant_err"] > threshold
    assert r2["index_version"] == 2 and r2["codes_version"] == 2

    # drift RECOVERS under the refit index, and a re-check is a no-op
    idx2 = load_ann_index(spark, idx_dir)
    after = ann_drift_report(drifted, idx2).collect()[0]["mean_quant_err"]
    assert after < r2["mean_quant_err"]
    r3 = refit_ann_codes(
        drifted, idx_dir, codes_dir, drift_threshold=after * 1.5
    )
    assert r3["refit"] is False and r3["index_version"] == 2

    # byte-identity to a MANUAL rebuild of the same structural sizing
    key = lambda r: tuple(r)
    man_idx_dir = str(tmp_path / "man_idx")
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_index(drifted, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    man_idx = load_ann_index(spark, man_idx_dir)
    build_ann_codes(
        drifted, man_codes_dir, man_idx, corpus_version=2,
        partition_by_cell=True,
    )
    got = load_ann_codes(spark, codes_dir, idx2, corpus_version=2)
    want = load_ann_codes(spark, man_codes_dir, man_idx, corpus_version=2)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books

    # the cell layout survived the refit rebuild
    assert [
        e for e in snapshot_versions(codes_dir) if e["version"] == 2
    ][0]["partition_by"] == ["cell"]

    # old pair stays time-travelable; serving loader pairs consistently
    old = load_ann_codes(
        spark, codes_dir, idx1, version=1, corpus_version=1
    )
    assert old.count() == emb.count()
    sidx, scodes = load_ann_serving(spark, idx_dir, codes_dir)
    assert sidx.version == 2 and scodes.count() == emb.count()
    sidx1, scodes1 = load_ann_serving(
        spark, idx_dir, codes_dir, codes_version=1, corpus_version=1
    )
    assert sidx1.version == 1


def test_refit_ann_codes_heals_half_refit_crash_window(
    spark, truth, tmp_path
):
    """A crash between a refit's two publishes leaves index vN+1
    current while the codes still pair vN.  refit_ann_codes resolves
    CODES-FIRST (the load_ann_serving rule), so the retriggered call
    measures drift under the SERVING pair, rebuilds past the orphaned
    version, and heals — instead of failing the pairing check
    forever."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
        load_ann_serving,
        refit_ann_codes,
    )
    from fortymhz_spark.sources.snapshots import resolve_artifact

    emb, _, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx1 = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx1, corpus_version=1)
    # simulate the crash window: an index publish landed (v2), the
    # codes rebuild didn't — codes still pair v1
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    assert load_ann_index(spark, idx_dir).version == 2
    # serving is still consistent through the window
    sidx, _ = load_ann_serving(spark, idx_dir, codes_dir)
    assert sidx.version == 1
    # the retriggered refit heals: index v3 + codes v2 paired to v3
    r = refit_ann_codes(emb, idx_dir, codes_dir)
    assert r["refit"] is True
    assert r["index_version"] == 3 and r["codes_version"] == 2
    _, params = resolve_artifact(codes_dir, "ann_codes ")
    assert int(params["index_version"]) == 3
    sidx2, scodes2 = load_ann_serving(spark, idx_dir, codes_dir)
    assert sidx2.version == 3 and scodes2.count() == emb.count()


def test_filtered_ann_meta_at_rest_pushdown_and_fallback(
    spark, truth, tmp_path
):
    """Metadata-filtered ANN: (a) with meta_cols at rest the predicate
    reaches the CODES SCAN as a parquet PushedFilter and no join is
    added, (b) the metadata-free table serves the same rows via the
    semi-join fallback, (c) both equal the in-plan twin over the
    filtered corpus byte for byte, (d) recall clears the family band
    against the FILTERED exact truth, and (e) no out-of-filter row is
    ever served."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import (
        brute_force_knn,
        ivfpq_knn,
    )
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, SF, "embeddings")  # vec_id, embedding, label
    pred = F.col("label") < 4
    queries = emb.orderBy("vec_id").limit(8).select("vec_id", "embedding")
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)

    meta_dir, bare_dir = str(tmp_path / "meta"), str(tmp_path / "bare")
    build_ann_codes(emb, meta_dir, idx, meta_cols=["label"])
    build_ann_codes(emb, bare_dir, idx)
    meta_codes = load_ann_codes(spark, meta_dir, idx)
    assert "label" in meta_codes.columns
    bare_codes = load_ann_codes(spark, bare_dir, idx)

    kw = dict(k=K, nprobe=4, rerank=8)
    meta_served = ivfpq_knn(
        emb, queries, index=idx, codes=meta_codes, corpus_filter=pred, **kw
    )
    bare_served = ivfpq_knn(
        emb, queries, index=idx, codes=bare_codes, corpus_filter=pred, **kw
    )
    inplan = ivfpq_knn(emb, queries, index=idx, corpus_filter=pred, **kw)
    key = lambda r: tuple(r)
    meta_rows = meta_served.collect()
    assert sorted(map(key, meta_rows)) == sorted(
        map(key, bare_served.collect())
    )
    assert sorted(map(key, meta_rows)) == sorted(map(key, inplan.collect()))

    # the predicate reached the codes scan as a parquet PushedFilter
    plan = meta_served._jdf.queryExecution().executedPlan().toString()
    assert "LessThan(label,4)" in plan

    # recall vs the FILTERED exact truth + no out-of-filter row
    filtered = emb.filter(pred)
    truth_rows = brute_force_knn(filtered, queries, k=K).collect()
    tby: dict[int, set[int]] = {}
    for r in truth_rows:
        tby.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in meta_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in tby.items())
    assert hits / sum(len(t) for t in tby.values()) >= 0.5
    ok_ids = {r["vec_id"] for r in filtered.select("vec_id").collect()}
    assert all(r["neighbor_id"] in ok_ids for r in meta_rows)


def test_meta_cols_inherit_through_extend_and_refit(spark, truth, tmp_path):
    """meta_cols are TABLE state: an extend inherits the recorded set
    (and fails loudly when the batch lacks a recorded attribute), a
    drift refit rebuilds WITH the metadata, and validation rejects
    colliding names."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
        refit_ann_codes,
    )
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, SF, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    with _pytest.raises(ValueError, match="collide"):
        build_ann_codes(emb, codes_dir, idx, meta_cols=["cell"])
    with _pytest.raises(ValueError, match="absent"):
        build_ann_codes(emb, codes_dir, idx, meta_cols=["nope"])
    build_ann_codes(old, codes_dir, idx, meta_cols=["label"])

    # a batch stripped of the recorded attribute is rejected
    with _pytest.raises(ValueError, match="absent"):
        extend_ann_codes(
            batch.select("vec_id", "embedding"), codes_dir, idx
        )
    extend_ann_codes(batch, codes_dir, idx)
    got = load_ann_codes(spark, codes_dir, idx)
    scratch_dir = str(tmp_path / "scratch")
    build_ann_codes(emb, scratch_dir, idx, meta_cols=["label"])
    key = lambda r: tuple(r)
    assert sorted(map(key, got.collect())) == sorted(
        map(key, load_ann_codes(spark, scratch_dir, idx).collect())
    )

    # an unconditional refit keeps the metadata at rest
    refit_ann_codes(emb, idx_dir, codes_dir)
    idx2 = load_ann_index(spark, idx_dir)
    after = load_ann_codes(spark, codes_dir, idx2)
    assert "label" in after.columns and after.count() == emb.count()


def test_tune_ann_serving_minimal_and_bounded(spark, truth, tmp_path):
    """The serving auto-tuner: the returned nprobe MEETS the target on
    the strided sample, is EXACTLY minimal (the audit trail holds
    nprobe-1 measured below target), an unreachable target reports
    met=False at full probe width instead of looping, and validation
    rejects bad inputs."""
    import pytest as _pytest

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
        tune_ann_serving,
    )

    emb, _, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=1)

    target = 0.7
    res = tune_ann_serving(
        emb, idx, k=10, target_recall=target, sample_queries=16,
        codes=codes,
    )
    assert res["met"] is True and res["recall"] >= target
    assert 1 <= res["nprobe"] <= idx.n_coarse
    ev = dict(res["evaluated"])
    assert res["nprobe"] == 1 or ev[res["nprobe"] - 1] < target
    # the audit trail's entry for the returned knob IS the result
    assert ev[res["nprobe"]] == res["recall"]

    # an unreachable SLO (rerank=1 starves the exact re-rank) reports
    # met=False at full probe width — no loop, no exception
    hard = tune_ann_serving(
        emb, idx, k=10, target_recall=1.0, sample_queries=16,
        rerank=1, codes=codes,
    )
    assert hard["met"] is False and hard["nprobe"] == idx.n_coarse

    with _pytest.raises(ValueError, match="target_recall"):
        tune_ann_serving(emb, idx, target_recall=0.0)
    object.__setattr__(idx, "kind", "pq")
    with _pytest.raises(ValueError, match="'ivfpq' index"):
        tune_ann_serving(emb, idx)


def test_by_residual_conflict_with_index_is_rejected(spark, truth, tmp_path):
    """The encode space is INDEX geometry: an explicit ``by_residual``
    that contradicts the index's recorded mode must fail loudly (the
    mode-mixing contract the pairing check enforces everywhere else),
    never be silently overridden; a MATCHING explicit value and the
    omitted default both serve normally."""
    import pytest as _pytest

    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    raw_idx = load_ann_index(spark, idx_dir)
    assert raw_idx.by_residual is False
    res_dir = str(tmp_path / "res_idx")
    build_ann_index(
        emb, res_dir, n_coarse=8, n_sub=8, n_cells=16, by_residual=True
    )
    res_idx = load_ann_index(spark, res_dir)
    assert res_idx.by_residual is True

    kw = dict(k=K, nprobe=4, rerank=8)
    with _pytest.raises(ValueError, match="conflicts with the"):
        ivfpq_knn(emb, queries, index=raw_idx, by_residual=True, **kw)
    with _pytest.raises(ValueError, match="conflicts with the"):
        ivfpq_knn(emb, queries, index=res_idx, by_residual=False, **kw)
    # matching explicit value and the omitted default are equivalent
    key = lambda r: tuple(r)
    a = ivfpq_knn(emb, queries, index=raw_idx, by_residual=False, **kw)
    b = ivfpq_knn(emb, queries, index=raw_idx, **kw)
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))
    c = ivfpq_knn(emb, queries, index=res_idx, by_residual=True, **kw)
    d = ivfpq_knn(emb, queries, index=res_idx, **kw)
    assert sorted(map(key, c.collect())) == sorted(map(key, d.collect()))


def test_filtered_pushdown_gated_on_meta_columns_only(spark, truth, tmp_path):
    """A corpus predicate referencing a column that happens to share a
    CODES-schema name (``cell`` means coarse-cell there, vector-id for
    ``id``) must NOT be pushed into the codes scan — it would filter
    on the wrong semantics silently.  The gate is meta-only
    resolution: such predicates take the semi-join fallback and serve
    exactly the in-plan twin's rows; true meta predicates still push
    down."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, _, _ = truth
    # a corpus whose OWN column is named "cell" — string-valued, with
    # semantics unrelated to the codes table's coarse-cell int
    emb2 = emb.withColumn(
        "cell",
        F.when(F.col("vec_id") % 2 == 0, F.lit("even")).otherwise(
            F.lit("odd")
        ),
    )
    queries = emb2.orderBy("vec_id").limit(6).select("vec_id", "embedding")
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb2, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(emb2, codes_dir, idx, meta_cols=["label"])
    codes = load_ann_codes(spark, codes_dir, idx)

    pred = F.col("cell") == "even"
    kw = dict(k=K, nprobe=4, rerank=8)
    served = ivfpq_knn(
        emb2, queries, index=idx, codes=codes, corpus_filter=pred, **kw
    )
    inplan = ivfpq_knn(emb2, queries, index=idx, corpus_filter=pred, **kw)
    key = lambda r: tuple(r)
    served_rows = served.collect()
    assert sorted(map(key, served_rows)) == sorted(
        map(key, inplan.collect())
    )
    assert served_rows, "filtered serve returned nothing"
    assert all(r["neighbor_id"] % 2 == 0 for r in served_rows)
    # the wrong-semantics pushdown would have compared the codes
    # table's int cell to 'even': no PushedFilter on "cell" may appear
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(cell," not in plan
    # a TRUE meta predicate still reaches the scan as a PushedFilter
    meta_served = ivfpq_knn(
        emb2, queries, index=idx, codes=codes,
        corpus_filter=F.col("label") < 4, **kw
    )
    plan2 = meta_served._jdf.queryExecution().executedPlan().toString()
    assert "LessThan(label,4)" in plan2


def test_codes_meta_null_values_rejected_at_build_and_extend(
    spark, truth, tmp_path
):
    """The no-silently-NULL-filter-attributes invariant covers VALUES,
    not just column presence: a NULL meta value is invisible to every
    pushed-down predicate (a silent recall leak), so build aborts via
    CHECK constraint and extend rejects the batch before merging —
    the table never holds such rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import snapshot_versions

    emb, _, _ = truth
    holey = emb.withColumn(
        "label",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("label")
        ),
    )
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    codes_dir = str(tmp_path / "codes")
    with _pytest.raises(ValueError, match="meta_label_not_null"):
        build_ann_codes(holey, codes_dir, idx, meta_cols=["label"])
    # the aborted publish left no readable version behind
    assert snapshot_versions(codes_dir) == []

    clean = holey.filter(F.col("label").isNotNull())
    build_ann_codes(clean, codes_dir, idx, meta_cols=["label"])
    v1 = load_ann_codes(spark, codes_dir, idx)
    n1 = v1.count()
    bad_batch = holey.filter(F.col("vec_id") % 7 == 0)
    with _pytest.raises(ValueError, match="NULL metadata values"):
        extend_ann_codes(bad_batch, codes_dir, idx)
    # nothing merged: same version, same rows
    assert len(snapshot_versions(codes_dir)) == 1
    assert load_ann_codes(spark, codes_dir, idx).count() == n1


def test_refit_deleted_fraction_arm_and_manifest_math(spark, truth, tmp_path):
    """The tombstone-mass refit arm (round-11): heavy deletes leave
    cells sparse without moving quantization error, so
    refit_ann_codes gains deleted_fraction_threshold — fires when the
    codes table's NET shrinkage since the current fit crosses it,
    no-ops below, and a refit resets the fraction.  The fraction
    itself is manifest-only arithmetic: extends never push it above
    0, and the base is the fresh encode under the CURRENT index
    version."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        codes_deleted_fraction,
        delete_ann_codes,
        extend_ann_codes,
        load_ann_index,
        refit_ann_codes,
    )
    from fortymhz_spark.sources.snapshots import snapshot_versions

    emb, _, _ = truth
    seed = emb.filter(F.col("vec_id") % 4 != 0)
    late = emb.filter(F.col("vec_id") % 4 == 0)
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(seed, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(seed, codes_dir, idx)
    assert codes_deleted_fraction(codes_dir) == 0.0

    # an extend GROWS the table: net shrinkage stays 0 (the documented
    # net-mass semantics), and the base stays the fresh encode
    extend_ann_codes(late, codes_dir, idx)
    assert codes_deleted_fraction(codes_dir) == 0.0

    # delete ~two thirds of the fit population
    n_seed = seed.count()
    doomed = seed.filter(F.col("vec_id") % 3 != 0)
    delete_ann_codes(doomed, codes_dir, idx)
    frac = codes_deleted_fraction(codes_dir)
    n_doomed = doomed.count()
    want_frac = max(0.0, 1.0 - (n_seed + late.count() - n_doomed) / n_seed)
    assert abs(frac - want_frac) < 1e-9 and frac > 0.2

    survivors = emb.join(doomed.select("vec_id"), ["vec_id"], "anti")
    # below the armed threshold (and drift armed sky-high): true no-op
    res = refit_ann_codes(
        survivors, idx_dir, codes_dir,
        drift_threshold=1e9, deleted_fraction_threshold=frac + 0.1,
    )
    assert res["refit"] is False
    assert abs(res["deleted_fraction"] - frac) < 1e-9
    assert len(snapshot_versions(idx_dir)) == 1

    # crossing the threshold fires even though drift never would
    res2 = refit_ann_codes(
        survivors, idx_dir, codes_dir,
        drift_threshold=1e9, deleted_fraction_threshold=frac - 0.1,
    )
    assert res2["refit"] is True
    assert len(snapshot_versions(idx_dir)) == 2
    # the rebuild re-encoded the surviving corpus under the new fit:
    # the tombstone mass is spent
    assert codes_deleted_fraction(codes_dir) == 0.0


def test_opq_rotation_orthogonal_balanced_deterministic():
    """_opq_rotation (parametric OPQ, Ge et al. 2013): the matrix is
    orthogonal (an isometry — rotating cannot distort distances),
    every subquantizer block gets exactly d_sub rows, the allocation
    balances per-block eigenvalue mass (no PCA-style all-variance-in-
    block-0 degeneracy), and the same sample yields the same bits."""
    import numpy as np

    from fortymhz_spark.operators.similarity import _opq_rotation

    rng = np.random.default_rng(7)
    dim, n_sub = 16, 4
    # anisotropic sample: variance concentrated in few directions,
    # the case plain PCA ordering would misallocate
    scales = np.array([10.0, 8.0, 5.0] + [0.5] * (dim - 3))
    X = rng.normal(size=(200, dim)) * scales
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    sample = X.tolist()
    rot = _opq_rotation(sample, n_sub, dim // n_sub)
    R = np.asarray(rot)
    assert R.shape == (dim, dim)
    assert np.abs(R @ R.T - np.eye(dim)).max() < 1e-9
    assert _opq_rotation(sample, n_sub, dim // n_sub) == rot
    # balanced allocation: the three dominant variance directions must
    # land in three DISTINCT blocks (log-product balancing spreads
    # them; plain PCA ordering would stack all three into block 0)
    cov = (X.T @ X) / len(X)
    evals, evecs = np.linalg.eigh(cov)
    top3 = evecs[:, np.argsort(evals)[::-1][:3]]
    owner_blocks = set()
    for t in range(3):
        row = int(np.argmax(np.abs(R @ top3[:, t])))
        owner_blocks.add(row // (dim // n_sub))
    assert len(owner_blocks) == 3, owner_blocks


def test_opq_index_lifecycle_byte_identity(spark, truth, tmp_path):
    """rotation='opq' as index geometry: persisted fit serves
    byte-identical to the in-process twin, codes-at-rest serves
    byte-identical to the in-plan encode, an extend inherits the
    rotation, the refit rebuilds WITH it, the drift report measures
    in rotated space, and recall clears the family floor."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_codes,
        build_ann_index,
        extend_ann_codes,
        load_ann_codes,
        load_ann_index,
        refit_ann_codes,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, by_q = truth
    kw = dict(k=K, nprobe=4, rerank=8)
    inproc = ivfpq_knn(
        emb, queries, n_coarse=8, n_sub=8, n_cells=16, rotation="opq", **kw
    ).collect()
    assert _recall(inproc, by_q) >= 0.5

    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16,
                    rotation="opq")
    idx = load_ann_index(spark, idx_dir)
    assert idx.rotation == "opq" and len(idx.rot) == idx.dim
    served = ivfpq_knn(emb, queries, index=idx, **kw).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, served)) == sorted(map(key, inproc))

    old = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(old, codes_dir, idx)
    extend_ann_codes(batch, codes_dir, idx)
    codes = load_ann_codes(spark, codes_dir, idx)
    at_rest = ivfpq_knn(
        emb, queries, index=idx, codes=codes, **kw
    ).collect()
    assert sorted(map(key, at_rest)) == sorted(map(key, served))

    # drift in rotated space is finite and sane; unconditional refit
    # re-trains WITH the rotation (inherited structural geometry)
    err = ann_drift_report(emb, idx).first()["mean_quant_err"]
    assert err is not None and err >= 0.0
    res = refit_ann_codes(emb, idx_dir, codes_dir)
    assert res["refit"] is True
    idx2 = load_ann_index(spark, idx_dir)
    assert idx2.rotation == "opq" and len(idx2.rot) == idx2.dim


def test_opq_mode_mixing_rejected(spark, truth, tmp_path):
    """Rotation is geometry: same-version same-sizing indexes that
    differ ONLY in rotation mode must not mix — codes built raw are
    rejected by a rotated index (and vice versa), and an explicit
    rotation= conflicting with the loaded index's recorded mode
    raises in both ivfpq_knn and pq_knn."""
    import pytest as _pytest

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn, pq_knn

    emb, queries, _ = truth
    raw_dir, opq_dir = str(tmp_path / "raw"), str(tmp_path / "opq")
    build_ann_index(emb, raw_dir, n_coarse=8, n_sub=8, n_cells=16)
    build_ann_index(emb, opq_dir, n_coarse=8, n_sub=8, n_cells=16,
                    rotation="opq")
    raw_idx = load_ann_index(spark, raw_dir)
    opq_idx = load_ann_index(spark, opq_dir)
    assert raw_idx.version == opq_idx.version  # same v, same sizing

    codes_dir = str(tmp_path / "codes_raw")
    build_ann_codes(emb, codes_dir, raw_idx)
    with _pytest.raises(ValueError, match="must never mix"):
        load_ann_codes(spark, codes_dir, opq_idx)

    kw = dict(k=K, nprobe=4, rerank=8)
    with _pytest.raises(ValueError, match="rotation is index geometry"):
        ivfpq_knn(emb, queries, index=raw_idx, rotation="opq", **kw)
    with _pytest.raises(ValueError, match="rotation is index geometry"):
        ivfpq_knn(emb, queries, index=opq_idx, rotation="none", **kw)
    with _pytest.raises(ValueError, match="rotation is index geometry"):
        pq_knn(emb, queries, index=opq_idx, rotation="opq2", k=K, rerank=8)
    # matching explicit value passes through
    a = ivfpq_knn(emb, queries, index=opq_idx, rotation="opq", **kw)
    b = ivfpq_knn(emb, queries, index=opq_idx, **kw)
    key = lambda r: tuple(r)
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_opq_composes_with_residual(spark, truth, tmp_path):
    """rotation and by_residual are INDEPENDENT geometry axes: an
    index built with both trains codebooks on ROTATED RESIDUALS,
    round-trips through persistence byte-identically, and serves
    within the family recall floor."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, by_q = truth
    kw = dict(k=K, nprobe=4, rerank=8)
    inproc = ivfpq_knn(
        emb, queries, n_coarse=8, n_sub=8, n_cells=16,
        by_residual=True, rotation="opq", **kw
    ).collect()
    assert _recall(inproc, by_q) >= 0.5
    idx_dir = str(tmp_path / "idx")
    build_ann_index(
        emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16,
        by_residual=True, rotation="opq",
    )
    idx = load_ann_index(spark, idx_dir)
    assert idx.by_residual is True and idx.rotation == "opq"
    served = ivfpq_knn(emb, queries, index=idx, **kw).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, served)) == sorted(map(key, inproc))


def test_tune_ann_serving_rerank_escalation(spark, truth, tmp_path):
    """The round-11 escalation arm: when the nprobe sweep fails at the
    resolved rerank, an AUTO-resolved width doubles (bounded by
    max_rerank) and the search re-runs — each abandoned width lands in
    the ``escalations`` audit trail; an EXPLICIT rerank pins the
    caller's budget and never escalates; max_rerank=None disables
    escalation outright."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
        tune_ann_serving,
    )

    emb, _, _ = truth
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(emb, codes_dir, idx)
    codes = load_ann_codes(spark, codes_dir, idx)

    # explicit rerank=1 starves the exact re-rank: no escalation, the
    # failure is reported at the caller's pinned budget
    hard = tune_ann_serving(
        emb, idx, k=10, target_recall=1.0, sample_queries=16,
        rerank=1, codes=codes,
    )
    assert hard["met"] is False and hard["rerank"] == 1
    assert hard["escalations"] == []

    # auto rerank at an aggressive target: escalation may fire; every
    # abandoned width is strictly increasing and below the final one,
    # and the final result is consistent either way
    res = tune_ann_serving(
        emb, idx, k=10, target_recall=0.99, sample_queries=16,
        codes=codes, max_rerank=256,
    )
    widths = [w for w, _ in res["escalations"]]
    assert widths == sorted(widths)
    assert all(w < res["rerank"] for w in widths)
    if not res["met"]:
        assert res["rerank"] >= 256 or res["escalations"] == []

    # max_rerank=None: single sweep, legacy behavior
    legacy = tune_ann_serving(
        emb, idx, k=10, target_recall=1.0, sample_queries=16,
        codes=codes, max_rerank=None,
    )
    assert legacy["escalations"] == []


def test_tune_ann_serving_large_ids_no_overflow(spark, tmp_path):
    """Round-12 advisor item: the tuner's Knuth hash-spread sample
    multiplied the RAW id by 2654435761, overflowing int64 for ids
    above ~3.5e9 — silent wraparound with ANSI off, a runtime throw
    under Spark 4's ANSI default.  The id is now reduced mod 2^31
    before the multiply; this pins that a corpus with ids in the
    5e9 range tunes cleanly (and deterministically) under ANSI."""
    import math

    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        tune_ann_serving,
    )

    # ids ≡ 5 (mod 13) so the tuner's strided sample is non-empty,
    # all above 2^31 so the unreduced product would exceed int64
    base = 5_000_000_010  # base % 13 == 5
    rows = [
        (
            base + 13 * i,
            [math.sin(0.7 * i + j) for j in range(8)],
        )
        for i in range(64)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=4, n_sub=4, n_cells=8)
    idx = load_ann_index(spark, idx_dir)
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        res = tune_ann_serving(
            emb, idx, k=3, target_recall=0.5, sample_queries=4
        )
        again = tune_ann_serving(
            emb, idx, k=3, target_recall=0.5, sample_queries=4
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    assert 1 <= res["nprobe"] <= idx.n_coarse
    assert {k2: res[k2] for k2 in ("nprobe", "rerank", "recall")} == {
        k2: again[k2] for k2 in ("nprobe", "rerank", "recall")
    }


def test_ann_tuning_persists_and_serves(spark, truth, tmp_path):
    """Persisted serving knobs (round-12): save_ann_tuning records the
    tuned (nprobe, rerank) as artifact state, load_ann_serving
    (tuning_dir=) attaches it, and ivfpq_knn with OMITTED knobs serves
    at exactly the recorded point — byte-identical to passing the same
    knobs explicitly, and different from the formula defaults when the
    recorded point differs.  Explicit arguments always win over the
    attached tuning."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_serving,
        load_ann_tuning,
        save_ann_tuning,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir = str(tmp_path / "idx")
    codes_dir = str(tmp_path / "codes")
    tune_dir = str(tmp_path / "tuning")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    from fortymhz_spark.operators.ann_index import load_ann_index

    plain_idx = load_ann_index(spark, idx_dir)
    codes_v = build_ann_codes(emb, codes_dir, plain_idx)

    # absent tuning table: the normal pre-tune state, attaches nothing
    assert load_ann_tuning(tune_dir, index_version=plain_idx.version) is None
    idx0, _ = load_ann_serving(
        spark, idx_dir, codes_dir, tuning_dir=tune_dir
    )
    assert idx0.tuning is None

    # record a DELIBERATELY non-default point (nprobe=1, rerank=1 —
    # the formulas would never resolve these at this corpus size)
    crafted = {
        "nprobe": 1, "rerank": 1, "recall": 0.25, "met": False,
        "evaluated": [(1, 0.25)], "escalations": [],
    }
    v = save_ann_tuning(
        spark, tune_dir, crafted,
        index_version=plain_idx.version, codes_version=codes_v,
        target_recall=0.9, k=5,
    )
    assert v == 1
    t = load_ann_tuning(tune_dir, index_version=plain_idx.version)
    assert t["nprobe"] == 1 and t["rerank"] == 1 and t["met"] is False
    assert t["codes_version"] == codes_v

    tuned_idx, tuned_codes = load_ann_serving(
        spark, idx_dir, codes_dir, tuning_dir=tune_dir
    )
    assert tuned_idx.tuning["nprobe"] == 1

    key = lambda r: (r["query_id"], r["neighbor_id"])
    served = sorted(
        map(key, ivfpq_knn(
            emb, queries, k=5, index=tuned_idx, codes=tuned_codes,
        ).collect())
    )
    explicit = sorted(
        map(key, ivfpq_knn(
            emb, queries, k=5, index=plain_idx, codes=tuned_codes,
            nprobe=1, rerank=1,
        ).collect())
    )
    formula = sorted(
        map(key, ivfpq_knn(
            emb, queries, k=5, index=plain_idx, codes=tuned_codes,
        ).collect())
    )
    assert served == explicit  # omitted knobs default to the artifact
    assert served != formula  # and the point is really non-default

    # explicit knobs WIN over attached tuning
    override = sorted(
        map(key, ivfpq_knn(
            emb, queries, k=5, index=tuned_idx, codes=tuned_codes,
            nprobe=tuned_idx.n_coarse, rerank=64,
        ).collect())
    )
    assert override == sorted(
        map(key, ivfpq_knn(
            emb, queries, k=5, index=plain_idx, codes=tuned_codes,
            nprobe=plain_idx.n_coarse, rerank=64,
        ).collect())
    )
    assert override != served

    # the audit trail rides the artifact rows
    from fortymhz_spark.sources.snapshots import read_snapshot

    roles = {
        r["role"] for r in read_snapshot(spark, tune_dir).collect()
    }
    assert "accepted" in roles and "evaluated" in roles

    with pytest.raises(ValueError, match="missing key"):
        save_ann_tuning(
            spark, tune_dir, {"nprobe": 1}, index_version=1
        )


def test_tuned_serving_skips_corpus_count(spark, truth, tmp_path, monkeypatch):
    """The documented plan property of tuned serving: when BOTH knobs
    resolve from the attached tuning artifact, ivfpq_knn touches
    nothing but the probed cells — in particular it must NOT run the
    corpus count the formula defaults need (at 100 TB that count is a
    full-scan job per serving call).  Pinned by poisoning
    DataFrame.count for the duration of the tuned call; the formula
    path's need for the count is sanity-checked unpatched."""
    import dataclasses

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
        load_ann_codes,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)
    codes = load_ann_codes(spark, codes_dir, idx)
    tuned_idx = dataclasses.replace(
        idx, tuning={"nprobe": 4, "rerank": 32}
    )
    # localCheckpoint the inputs first — checkpointing itself may
    # count; the claim under test is about the serving call only
    emb_c, q_c = emb.localCheckpoint(), queries.localCheckpoint()

    def _poisoned(self):
        raise AssertionError(
            "corpus count ran during fully-tuned serving"
        )

    # patch the RUNTIME class (Spark 4's classic.DataFrame defines
    # count itself — patching the abstract base is shadowed)
    _cls = type(emb_c)
    real_count = _cls.count
    monkeypatch.setattr(_cls, "count", _poisoned)
    try:
        rows = ivfpq_knn(
            emb_c, q_c, k=5, index=tuned_idx, codes=codes
        ).collect()
    finally:
        monkeypatch.setattr(_cls, "count", real_count)
    assert len(rows) > 0

    # sanity: the formula path (no tuning attached) needs the count
    monkeypatch.setattr(_cls, "count", _poisoned)
    try:
        with pytest.raises(AssertionError, match="count ran"):
            ivfpq_knn(emb_c, q_c, k=5, index=idx, codes=codes)
    finally:
        monkeypatch.setattr(_cls, "count", real_count)


def test_ann_tuning_invalidated_by_refit(spark, truth, tmp_path):
    """A refit republishes the index — geometry moved, so recorded
    knobs are STALE: load_ann_serving(tuning_dir=) warns and falls
    back to formula defaults (tuning=None) instead of silently
    serving knobs measured against the old fit.  The one-call
    tune_ann_serving(tuning_dir=) form persists its own result and
    round-trips through the loader."""
    import warnings as _warnings

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
        load_ann_serving,
        load_ann_tuning,
        refit_ann_codes,
        tune_ann_serving,
    )

    emb, _, _ = truth
    idx_dir = str(tmp_path / "idx")
    codes_dir = str(tmp_path / "codes")
    tune_dir = str(tmp_path / "tuning")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    codes_v = build_ann_codes(emb, codes_dir, idx)

    res = tune_ann_serving(
        emb, idx, k=5, target_recall=0.6, sample_queries=8,
        tuning_dir=tune_dir, codes_version=codes_v,
    )
    assert res["tuning_version"] == 1
    t = load_ann_tuning(tune_dir, index_version=idx.version)
    assert (t["nprobe"], t["rerank"]) == (res["nprobe"], res["rerank"])
    served_idx, _ = load_ann_serving(
        spark, idx_dir, codes_dir, tuning_dir=tune_dir
    )
    assert served_idx.tuning["nprobe"] == res["nprobe"]

    # unconditional refit → index v2; the recorded pairing is stale
    refit_ann_codes(emb, idx_dir, codes_dir)
    with pytest.warns(RuntimeWarning, match="STALE"):
        after_idx, _ = load_ann_serving(
            spark, idx_dir, codes_dir, tuning_dir=tune_dir
        )
    assert after_idx.version == idx.version + 1
    assert after_idx.tuning is None  # formula defaults serve again

    # re-tuning against the new index heals the pairing
    res2 = tune_ann_serving(
        emb, after_idx, k=5, target_recall=0.6, sample_queries=8,
        tuning_dir=tune_dir,
    )
    assert res2["tuning_version"] == 2
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # no stale warning now
        healed_idx, _ = load_ann_serving(
            spark, idx_dir, codes_dir, tuning_dir=tune_dir
        )
    assert healed_idx.tuning["nprobe"] == res2["nprobe"]


def test_ann_tuning_history_search_and_pinned_time_travel(
    spark, truth, tmp_path
):
    """Knob resolution is by PAIRING, not recency (round-13 advisor
    item): a pinned ``codes_version=`` time travel resolves an OLDER
    index whose knobs are still on record — the lineage search must
    return them warning-free instead of misdiagnosing the current
    row's mismatch as a STALE refit; and a pin landing in pre-tune
    history attaches nothing, silently (deliberate time travel is
    not a refit surprise)."""
    import warnings as _warnings

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
        load_ann_serving,
        load_ann_tuning,
        refit_ann_codes,
        save_ann_tuning,
        tune_ann_serving,
    )

    emb, _, _ = truth
    idx_dir = str(tmp_path / "idx")
    codes_dir = str(tmp_path / "codes")
    tune_dir = str(tmp_path / "tuning")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx1 = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx1)  # codes v1 ↔ index v1
    res1 = tune_ann_serving(
        emb, idx1, k=5, target_recall=0.6, sample_queries=8,
        tuning_dir=tune_dir,
    )
    # unconditional refit → index v2 + codes v2; re-tune pairs v2 and
    # becomes the tuning table's CURRENT row
    refit_ann_codes(emb, idx_dir, codes_dir)
    idx2 = load_ann_index(spark, idx_dir)
    res2 = tune_ann_serving(
        emb, idx2, k=5, target_recall=0.6, sample_queries=8,
        tuning_dir=tune_dir,
    )
    assert idx2.version == 2 and res2["tuning_version"] == 2

    # without history search the old pairing is invisible (current
    # row pairs v2) — the pre-round-13 behavior, kept for explicit
    # version pins
    with pytest.warns(RuntimeWarning, match="STALE"):
        assert load_ann_tuning(tune_dir, index_version=1) is None
    # with it, the lineage scan finds the v1-paired row, warning-free
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        t1 = load_ann_tuning(tune_dir, index_version=1, search_history=True)
    assert t1 is not None and t1["index_version"] == 1
    assert (t1["nprobe"], t1["rerank"]) == (res1["nprobe"], res1["rerank"])

    # pinned time travel through load_ann_serving: codes v1 resolves
    # index v1 and attaches the knobs MEASURED for it, warning-free
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        old_idx, _ = load_ann_serving(
            spark, idx_dir, codes_dir,
            codes_version=1, tuning_dir=tune_dir,
        )
    assert old_idx.version == 1
    assert old_idx.tuning["nprobe"] == res1["nprobe"]

    # a pin landing where NO row pairs the resolved index: silent
    # formula fallback (pre-tune history is a normal pin target)
    only_v2 = str(tmp_path / "tuning_v2_only")
    save_ann_tuning(
        spark, only_v2,
        {"nprobe": 1, "rerank": 1, "recall": 0.5, "met": False},
        index_version=2,
    )
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        pinned_idx, _ = load_ann_serving(
            spark, idx_dir, codes_dir,
            codes_version=1, tuning_dir=only_v2,
        )
    assert pinned_idx.version == 1 and pinned_idx.tuning is None
    # …while the UNPINNED load against a true refit mismatch still
    # warns loudly (the refit-outran-the-re-tune alarm is unchanged)
    stale_only = str(tmp_path / "tuning_stale_only")
    save_ann_tuning(
        spark, stale_only,
        {"nprobe": 1, "rerank": 1, "recall": 0.5, "met": False},
        index_version=1,
    )
    with pytest.warns(RuntimeWarning, match="STALE"):
        cur_idx, _ = load_ann_serving(
            spark, idx_dir, codes_dir, tuning_dir=stale_only
        )
    assert cur_idx.version == 2 and cur_idx.tuning is None


def test_tune_ann_serving_concurrent_publish_vetoed(
    spark, truth, tmp_path, monkeypatch
):
    """Tuning publishes join the CAS veto discipline (round-13
    advisor item): a competing tuner landing a version mid-sweep
    makes THIS tuner's publish surface ConcurrentWriteError instead
    of interleaving last-writer-wins — the loser's measurements may
    describe superseded state, so it must re-resolve, and the
    winner's row survives as current."""
    import fortymhz_spark.operators.similarity as sim_mod
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
        load_ann_tuning,
        save_ann_tuning,
        tune_ann_serving,
    )
    from fortymhz_spark.sources.snapshots import ConcurrentWriteError

    emb, _, _ = truth
    idx_dir = str(tmp_path / "idx")
    codes_dir = str(tmp_path / "codes")
    tune_dir = str(tmp_path / "tuning")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)

    real = sim_mod.ivfpq_knn
    fired = {"done": False}

    def racing(*args, **kwargs):
        # the competitor publishes DURING this tuner's sweep — after
        # the CAS base was resolved, before the save
        if not fired["done"]:
            fired["done"] = True
            save_ann_tuning(
                spark, tune_dir,
                {"nprobe": 7, "rerank": 16, "recall": 0.9, "met": True},
                index_version=idx.version,
            )
        return real(*args, **kwargs)

    monkeypatch.setattr(sim_mod, "ivfpq_knn", racing)
    with pytest.raises(ConcurrentWriteError):
        tune_ann_serving(
            emb, idx, k=5, target_recall=0.6, sample_queries=8,
            tuning_dir=tune_dir,
        )
    # the winner's row is untouched by the vetoed publish
    t = load_ann_tuning(tune_dir, index_version=idx.version)
    assert (t["nprobe"], t["rerank"]) == (7, 16)


def test_anisotropy_stat_block_mass():
    """The rotation='auto' decision statistic in isolation: the
    heaviest contiguous block's second-moment share as a multiple of
    fair share — 1.0 exactly when blocks balance, n_sub·share under
    coordinate-aligned concentration, 1.0 (not a crash) on an
    all-zero sample."""
    from fortymhz_spark.operators.similarity import (
        ANISOTROPY_OPQ_THRESHOLD,
        _anisotropy_stat,
    )

    balanced = [[1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 1.0]]
    assert _anisotropy_stat(balanced, 2) == pytest.approx(1.0)
    # all mass in block 0 of 2 → stat = 2 · 1.0 = 2.0
    piled = [[1.0, 1.0, 0.0, 0.0], [2.0, 0.5, 0.0, 0.0]]
    assert _anisotropy_stat(piled, 2) == pytest.approx(2.0)
    assert _anisotropy_stat([[0.0, 0.0, 0.0, 0.0]], 2) == 1.0
    assert ANISOTROPY_OPQ_THRESHOLD == 2.0  # the pre-declared knob


def _planted_anisotropic(emb, vec_col="embedding"):
    """The soak's corpus class (tools/scale_soak.py --pq-opq-aniso):
    per-dimension exp(-j/8) decaying scales — variance piles into the
    first contiguous subquantizer blocks, OPQ's win case."""
    import math

    from pyspark.sql import functions as F

    dim = len(emb.select(vec_col).first()[0])
    scales = [float(math.exp(-j / 8.0)) for j in range(dim)]
    return emb.select(
        "vec_id",
        F.zip_with(
            vec_col,
            F.array(*[F.lit(s) for s in scales]),
            lambda x, s: x * s,
        ).alias(vec_col),
    ).localCheckpoint()


def test_rotation_auto_decides_per_corpus_class(spark, truth, tmp_path):
    """rotation='auto' honors the MEASURED per-corpus-class rule
    (SCALE.md r11/r12: isotropic → raw, anisotropic → opq) at build
    time, records the decision + statistic + threshold as auditable
    index geometry, and resolves to fits byte-identical to the
    explicit modes — auto is a decision layer, never a third
    geometry."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import (
        ANISOTROPY_OPQ_THRESHOLD,
    )
    from fortymhz_spark.sources.snapshots import resolve_artifact

    emb, _, _ = truth
    kw = dict(n_coarse=8, n_sub=8, n_cells=16)

    # isotropic corpus → raw (the r11 rule: rotation is pure overhead)
    iso_dir = str(tmp_path / "iso")
    build_ann_index(emb, iso_dir, rotation="auto", **kw)
    _, p = resolve_artifact(iso_dir, "ann_index ")
    assert p["rotation"] is None and p["rotation_requested"] == "auto"
    assert 0 < p["anisotropy"] < ANISOTROPY_OPQ_THRESHOLD
    assert p["anisotropy_threshold"] == ANISOTROPY_OPQ_THRESHOLD
    iso_idx = load_ann_index(spark, iso_dir)
    assert iso_idx.rotation is None and iso_idx.rot is None
    # …and the fit is byte-identical to an explicit raw build
    raw_dir = str(tmp_path / "raw")
    build_ann_index(emb, raw_dir, **kw)
    raw_idx = load_ann_index(spark, raw_dir)
    assert iso_idx.books == raw_idx.books
    assert iso_idx.coarse == raw_idx.coarse

    # planted anisotropy → opq (the r12 rule), byte-identical to the
    # explicit opq build of the same sizing
    aniso = _planted_anisotropic(emb)
    an_dir = str(tmp_path / "aniso")
    build_ann_index(aniso, an_dir, rotation="auto", **kw)
    _, pa = resolve_artifact(an_dir, "ann_index ")
    assert pa["rotation"] == "opq" and pa["rotation_requested"] == "auto"
    assert pa["anisotropy"] >= ANISOTROPY_OPQ_THRESHOLD
    an_idx = load_ann_index(spark, an_dir)
    assert an_idx.rotation == "opq"
    assert len(an_idx.rot) == an_idx.dim
    opq_dir = str(tmp_path / "opq")
    build_ann_index(aniso, opq_dir, rotation="opq", **kw)
    opq_idx = load_ann_index(spark, opq_dir)
    assert an_idx.rot == opq_idx.rot and an_idx.books == opq_idx.books

    # explicit rotation ALWAYS wins over the decision rule: opq on
    # the isotropic corpus still rotates, and still records the
    # (below-threshold) statistic as the audit trail
    iso_opq_dir = str(tmp_path / "iso_opq")
    build_ann_index(emb, iso_opq_dir, rotation="opq", **kw)
    _, po = resolve_artifact(iso_opq_dir, "ann_index ")
    assert po["rotation"] == "opq" and po["rotation_requested"] == "opq"
    assert po["anisotropy"] < ANISOTROPY_OPQ_THRESHOLD


def test_rotation_auto_inplan_and_serving_twins(spark, truth, tmp_path):
    """The in-plan fit path accepts rotation='auto' with the same
    decision (results byte-identical to the resolved explicit mode on
    each corpus class), and serving an auto-built index with
    rotation='auto' passed again is accepted — the recorded mode IS
    the auto result (any other explicit mismatch still fails
    loudly)."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    kw = dict(
        k=K, n_coarse=8, nprobe=4, n_sub=8, n_cells=16, rerank=8,
    )
    key = lambda r: (r["query_id"], r["neighbor_id"])

    # isotropic: auto == raw in-plan
    assert sorted(
        map(key, ivfpq_knn(emb, queries, rotation="auto", **kw).collect())
    ) == sorted(map(key, ivfpq_knn(emb, queries, **kw).collect()))

    # anisotropic: auto == opq in-plan
    aniso = _planted_anisotropic(emb)
    qa = aniso.orderBy("vec_id").limit(N_QUERIES)
    assert sorted(
        map(key, ivfpq_knn(aniso, qa, rotation="auto", **kw).collect())
    ) == sorted(
        map(key, ivfpq_knn(aniso, qa, rotation="opq", **kw).collect())
    )

    # serving: rotation='auto' accepts BOTH resolved modes; a wrong
    # explicit mode still fails loudly
    an_dir = str(tmp_path / "aniso_idx")
    build_ann_index(aniso, an_dir, rotation="auto", n_coarse=8,
                    n_sub=8, n_cells=16)
    an_idx = load_ann_index(spark, an_dir)
    served_auto = sorted(map(key, ivfpq_knn(
        aniso, qa, k=K, index=an_idx, nprobe=4, rerank=8,
        rotation="auto",
    ).collect()))
    served_plain = sorted(map(key, ivfpq_knn(
        aniso, qa, k=K, index=an_idx, nprobe=4, rerank=8,
    ).collect()))
    assert served_auto == served_plain
    with pytest.raises(ValueError, match="rotation"):
        ivfpq_knn(aniso, qa, k=K, index=an_idx, rotation="none")


def test_rotation_auto_decision_inherited_by_refit(spark, truth, tmp_path):
    """extend/delete/refit inherit the RESOLVED auto decision, never
    re-roll it: a refit of an auto-built (opq-resolved) index rebuilds
    with rotation='opq' — recorded as the new version's requested
    mode (a geometry re-decision is an explicit rebuild with
    rotation='auto', by contract)."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
        refit_ann_codes,
    )
    from fortymhz_spark.sources.snapshots import resolve_artifact

    emb, _, _ = truth
    aniso = _planted_anisotropic(emb)
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(aniso, idx_dir, rotation="auto", n_coarse=8,
                    n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    assert idx.rotation == "opq"
    build_ann_codes(aniso, codes_dir, idx)

    res = refit_ann_codes(aniso, idx_dir, codes_dir)  # unconditional
    assert res["refit"] and res["index_version"] == 2
    _, p2 = resolve_artifact(idx_dir, "ann_index ", version=2)
    assert p2["rotation"] == "opq"
    assert p2["rotation_requested"] == "opq"  # resolved, not re-rolled
    idx2 = load_ann_index(spark, idx_dir)
    assert idx2.rotation == "opq" and len(idx2.rot) == idx2.dim


def test_filtered_ann_broad_filter_guard(spark, truth, tmp_path):
    """The semi-join fallback's broad-filter guard (round-13,
    SCALE.md honest-list #5): a corpus_filter that cannot push into
    the codes scan AND matches more than half the served table warns
    toward the metadata-at-rest path (its shuffle is ∝ table there);
    a selective fallback filter — the case the fallback exists for —
    stays silent."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn

    emb, queries, _ = truth
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)  # NO meta_cols: every
    codes = load_ann_codes(spark, codes_dir, idx)  # filter falls back
    kw = dict(k=K, index=idx, codes=codes, nprobe=4, rerank=8)

    # broad: label < 100 matches the whole corpus → warn, naming the
    # at-rest fix
    with pytest.warns(RuntimeWarning, match="meta_cols"):
        ivfpq_knn(
            emb, queries, corpus_filter=F.col("label") < 100, **kw
        )
    # selective: ~4 % of rows — the fallback's intended regime, silent
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        got = ivfpq_knn(
            emb, queries, corpus_filter=F.col("vec_id") < 20, **kw
        ).collect()
    assert len(got) > 0
    assert {r["neighbor_id"] for r in got} <= set(range(20))
