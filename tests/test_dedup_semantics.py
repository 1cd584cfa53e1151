"""Semantic ground-truth tests for the near-dup pipelines: planted
duplicates MUST be found (recall), and the LSH candidate stage must
never drop a pair that exact verification would accept at high
similarity — checks the oracle hash-compare can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from core2_spark import dedup, similarity
from core2_spark.catalog import load_tables
from core2_spark.plans import plan_text
from core2_spark.queries.registry import all_queries
from tests.conftest import SF_DIR


def test_minhash_finds_planted_clones(spark):
    d = load_tables(spark, SF_DIR, ("documents",))["documents"].filter(
        F.col("doc_id") < 60
    )
    base = d.select("doc_id", "text", "lang", "source")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
    )
    aug = base.unionByName(clones)
    pairs = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_near_duplicates(
            aug, k=8, rows_per_band=2, threshold=0.5, block_cols=("lang", "source")
        ).collect()
    }
    planted = {(i, i + 100000) for i in range(60)}
    found = planted & pairs
    # LSH is probabilistic per band, but a near-identical clone (one
    # extra token) shares ~94% of its tokens — with 4 bands of 2 rows
    # essentially every clone pair must surface.
    assert len(found) >= 55, f"only {len(found)}/60 planted clones found"


def test_simhash_finds_planted_clones(spark):
    d = load_tables(spark, SF_DIR, ("documents",))["documents"].filter(
        F.col("doc_id") < 40
    )
    base = d.select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    aug = base.unionByName(clones)
    # Short docs (~17 tokens) shift up to ~12 of 64 bits when one token
    # is added; with n_blocks = max_hamming+1 the pigeonhole guarantee
    # covers that radius, so EVERY planted clone must surface.
    pairs = {
        (r["a_id"], r["b_id"])
        for r in dedup.simhash_near_duplicates(aug, max_hamming=13).collect()
    }
    planted = {(i, i + 100000) for i in range(40)}
    assert planted <= pairs, f"missing: {sorted(planted - pairs)[:5]}"


def test_lsh_knn_recall_vs_brute_force(spark):
    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    brute = [r["vec_id"] for r in similarity.brute_force_knn(e, qv, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.lsh_bucketed_knn(e, qv, k=10, multiprobe_bits=3).collect()
    ]
    # the query's own vector must always be found (cosine 1.0 with itself)
    assert brute[0] == 0 and approx[0] == 0
    # random 64-d vectors are near-orthogonal (top cosine ≈ 0.4), the
    # hard case for 8-plane sign-LSH — measured recall ≈ 3/10; assert
    # the floor, not the dream
    assert len(set(brute) & set(approx)) >= 2


def test_auto_n_planes_scales_with_corpus():
    """Bucket count must grow with N so expected bucket size stays
    bounded — the round-1/2 'weak' finding was a fixed 8-plane count."""
    assert similarity.auto_n_planes(100) == 4
    assert similarity.auto_n_planes(256 * 2**8) == 8
    assert similarity.auto_n_planes(256 * 2**20) == 20
    assert similarity.auto_n_planes(10**12) == 30  # capped
    # expected bucket size ≈ target at every scale
    for n in (10**5, 10**7, 10**9):
        planes = similarity.auto_n_planes(n)
        assert n / 2**planes <= 256


def test_banded_near_dup_recall_on_skewed_fixture(spark):
    """Planted near-identical vectors (cos ≈ 0.999) in a skewed corpus
    (half the corpus clustered around one direction) must surface, and
    the banded candidate stage must keep per-bucket sizes bounded."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim, n_pairs, n_noise = 16, 30, 200
    rows = []
    vid = 0
    for _ in range(n_pairs):  # planted pairs: tiny perturbation
        v = rng.standard_normal(dim)
        w = v + rng.standard_normal(dim) * 0.01
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        vid += 2
    hot = rng.standard_normal(dim)  # skew: a hot direction
    for _ in range(n_noise):
        v = hot * 2.0 + rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    found = {
        (r["a_id"], r["b_id"])
        for r in similarity.embedding_cosine_near_duplicates(
            df, threshold=0.99, bands=4, bits_per_band=6
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(n_pairs)}
    hits = planted & found
    assert len(hits) >= 27, f"only {len(hits)}/{n_pairs} planted pairs found"


def test_ivf_knn_recall(spark):
    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    brute = [r["vec_id"] for r in similarity.brute_force_knn(e, qv, k=10).collect()]
    ivf = [
        r["vec_id"]
        for r in similarity.ivf_knn(e, qv, k=10, n_clusters=8, nprobe=4).collect()
    ]
    assert ivf[0] == 0
    assert len(set(brute) & set(ivf)) >= 4


def test_ivf_kmeans_refinement_improves_cells(spark):
    """Lloyd refinement on a clustered fixture: refined centroids must
    recover the planted cluster structure (each refined centroid lands
    near one planted center) and keep kNN recall."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim, per = 8, 60
    centers = rng.standard_normal((4, dim)) * 3
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            v = c + rng.standard_normal(dim) * 0.3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seeds = similarity._centroids_from_seed_rows(df, 4, "vec_id", "embedding")
    refined = similarity.kmeans_refine_centroids(df, seeds, iters=3)
    # every planted center should have a refined centroid within 1.0
    # (cluster radius ~0.3*sqrt(8)≈0.85; seeds all came from cluster 0)
    import math

    def d2(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    matched = sum(1 for c in centers if min(d2(c, r) for r in refined) < 1.0)
    seed_matched = sum(1 for c in centers if min(d2(c, s) for s in seeds) < 1.0)
    assert matched > seed_matched or matched == 4

    qv = similarity.query_vector(df, "vec_id", "embedding", 100)
    brute = [r["vec_id"] for r in similarity.brute_force_knn(
        df, qv, k=5, id_col="vec_id").collect()]
    ivf = [
        r["vec_id"]
        for r in similarity.ivf_knn(
            df, qv, k=5, n_clusters=4, nprobe=1, refine_iters=3
        ).collect()
    ]
    assert len(set(brute) & set(ivf)) >= 4


def test_quantized_vectors_preserve_knn(spark):
    """Int8-quantized embeddings must preserve the exact top-k almost
    perfectly (quantization error ~0.4% of max component)."""
    from pyspark.sql import functions as F

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)
    exact = [r["vec_id"] for r in similarity.brute_force_knn(e, qv, k=10).collect()]

    deq = similarity.quantize_int8(e).select(
        "vec_id",
        F.transform(
            "q_vec", lambda x: x.cast("double") * F.col("q_scale")
        ).alias("embedding"),
    )
    quant = [r["vec_id"] for r in similarity.brute_force_knn(deq, qv, k=10).collect()]
    assert len(set(exact) & set(quant)) >= 8


def test_ivf_partitioned_layout_prunes_and_matches_inline(spark, tmp_path):
    """write_ivf_partitioned + ivf_knn_partitioned: the probe scan must
    show the cell predicate in PartitionFilters (file pruning — the
    whole point of the at-ingest layout) and return exactly what the
    inline ivf_knn computes with the same centroids/probe set."""
    from core2_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity._centroids_from_seed_rows(e, 8, "vec_id", "embedding")
    qv = similarity.query_vector(e, "vec_id", "embedding", 0)

    path = str(tmp_path / "ivf")
    similarity.write_ivf_partitioned(e, path, cents)

    import os

    cells = [n for n in os.listdir(path) if n.startswith("cell=")]
    assert len(cells) >= 3, cells

    probed = similarity.ivf_knn_partitioned(
        spark, path, qv, cents, k=10, nprobe=4
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    inline = similarity.ivf_knn(e, qv, k=10, n_clusters=8, nprobe=4)
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in inline.collect()
    ]


def test_exact_substring_spans_chunked_boundaries(spark):
    """Round 7 memory fix: documents shingle per-WINDOW (bounded task
    memory), and a tiny chunk size must give byte-identical results to
    whole-document shingling — including duplicates planted exactly
    across window boundaries and a large document (the shape whose
    single-task allocation was ~40x document size — and whose substr
    offsets made CPU quadratic — before the fix)."""
    import hashlib
    import random

    from core2_spark.queries.llm_q import _exact_substring_spans

    rng = random.Random(421)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"
    mk = lambda n: "".join(rng.choice(alpha) for _ in range(n))

    shared_a = mk(120)
    shared_b = mk(200)
    docs = [
        # shared_a straddles doc 1's first window boundary (chunk=257)
        (1, mk(230) + shared_a + mk(150)),
        (2, mk(80) + shared_a + mk(40)),
        (3, mk(500) + shared_b),
        (4, shared_b + mk(313)),
        (5, mk(700)),       # no duplication
        (6, "short"),       # < k chars
        # large doc (1600 windows at chunk=257) sharing a span with docs 1/2
        (7, mk(400_000) + shared_a + mk(999)),
    ]

    def reference(docs, k=40):
        anchored = {}
        for doc_id, text in docs:
            s = text.lower()
            anchored[doc_id] = {
                g
                for i in range(len(s) - k + 1)
                for g in [s[i : i + k]]
                if hashlib.md5(g.encode()).hexdigest()[0] == "0"
            }
        want = {}
        for doc_id, mine in anchored.items():
            n = sum(
                1
                for g in mine
                if any(g in other for d, other in anchored.items() if d != doc_id)
            )
            if n:
                want[doc_id] = n
        return want

    want = reference(docs)
    assert want.get(1, 0) > 0 and want.get(7, 0) > 0  # planted pairs anchored

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    # tiny chunk: doc 7 alone splits into ~1600 windows
    got = {
        r["doc_id"]: r["n_dup_shingles"]
        for r in _exact_substring_spans(sdf, chunk=257).collect()
    }
    assert got == want
    # default (production) chunk agrees too
    got_default = {
        r["doc_id"]: r["n_dup_shingles"]
        for r in _exact_substring_spans(sdf).collect()
    }
    assert got_default == want


def test_semdedup_drops_planted_semantic_dup(spark):
    """A vector that is a tiny perturbation of another (cosine ~1,
    disjoint from any n-gram signal) must be dropped; the survivor is
    the one closer to its cluster seed.  Plan audit: the pairwise
    stage must be an equi-join on the cluster id, never a cartesian
    product over the whole corpus."""
    import numpy as np

    from core2_spark.queries.registry import all_queries

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=64)
        rows.append((i, [float(x) for x in v], 0))
    # plant a near-identical copy of vec 12 (id far from the original)
    base = np.array(rows[12][1])
    rows.append((99, [float(x) for x in base + rng.normal(scale=1e-4, size=64)], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="semdedup_t_")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    q = all_queries()["dedup_semantic_embedding_clusters"]
    res = q(spark, d)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    kept = {r[0] for r in res.collect()}
    # exactly one of the planted pair survives (both are bit-near-equal
    # so they land in the same Voronoi cell and cosine ~1 > 0.4)
    assert (12 in kept) != (99 in kept)
    assert len(kept) < 41


def test_semantic_dedup_refuses_oversized_cell(spark):
    """The quadratic-pair-join guard fires when a Voronoi cell exceeds
    the cap — raise n_clusters, don't eat the cartesian."""
    import numpy as np
    import pytest as _pytest

    from core2_spark.dedup import semantic_dedup
    from core2_spark.functions import vectors as vec
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").select(
        "vec_id", vec.as_double(F.col("embedding")).alias("v")
    )
    with _pytest.raises(ValueError, match="quadratic pair join refused"):
        semantic_dedup(df, n_clusters=2, max_cell_rows=5)


def test_minhash_mega_bucket_star_linkage(spark):
    """max_bucket_rows bounds a degenerate LSH bucket (every doc from
    one tiny vocabulary → all signatures collide): candidates become
    O(bucket) star links instead of O(bucket²) all-pairs, while
    connected-components over the verified pairs still sees ONE
    cluster; default (None) keeps the exact all-pairs contract."""
    from core2_spark.dedup import minhash_candidate_pairs, minhash_near_duplicates
    from core2_spark.operators.components import connected_components

    # 20 docs with identical token sets: Jaccard 1.0 clique
    rows = [(i, "alpha beta gamma delta") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = minhash_candidate_pairs(df).collect()
    assert len(exact) == 20 * 19 // 2  # the true quadratic clique

    capped = minhash_candidate_pairs(df, max_bucket_rows=5).collect()
    assert len(capped) == 19  # star: min id paired with every member
    assert {r["a_id"] for r in capped} == {0}

    # downstream components are unchanged by the capped linkage
    verified = minhash_near_duplicates(df, max_bucket_rows=5)
    comp = connected_components(verified, "a_id", "b_id")
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 20

    # a small bucket below the cap still gets exact all-pairs
    small = spark.createDataFrame(
        [(100, "zeta eta theta iota"), (101, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    both = df.unionByName(small)
    capped2 = minhash_candidate_pairs(both, max_bucket_rows=5).collect()
    assert (100, 101) in {(r["a_id"], r["b_id"]) for r in capped2}


def test_decontamination_spreads_before_shingling(spark):
    """Both decontamination queries must spread the corpus across
    cores BEFORE the gram/shingle explode: a compact corpus scans as
    one parquet split, and the r11 sweep measured the 40-char shingle
    pass serialized on a single task without the explicit round-robin
    repartition (REPARTITION_BY_NUM opts out of AQE coalescing)."""
    qs = all_queries()
    for name in (
        "curation_decontaminate_ngram",
        "curation_decontaminate_substring",
    ):
        plan = plan_text(qs[name](spark, SF_DIR))
        assert "RoundRobinPartitioning" in plan, name
