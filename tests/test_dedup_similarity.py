"""Dedup + similarity operators: golden expectations on constructed fixtures,
plus recall of the LSH/IVF approximations against their exact baselines."""

import pyspark.sql.functions as F

from link_profiler_repo_spark.operators.dedup import (
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_dup,
    ngram_jaccard_pairs,
    simhash_dup,
)
from link_profiler_repo_spark.operators.similarity import brute_force_topk, ivf_topk

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps near "
    "the warm fire and the birds sing in the morning light of early spring"
)


def _docs(spark):
    rows = [
        (1, BASE_TEXT),
        (2, BASE_TEXT),  # exact dup of 1
        (3, BASE_TEXT.replace("morning", "evening")),  # near dup
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "another unrelated text mentioning bloom filters and politeness"),
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_exact_dedup(spark):
    groups = {r["keeper"]: r["n_docs"] for r in exact_dedup(_docs(spark)).collect()}
    assert groups[1] == 2  # docs 1,2 identical
    assert sum(groups.values()) == 5


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {(r["a"], r["b"]): r["est_jaccard"] for r in minhash_lsh_dup(_docs(spark), threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5  # one-word edit
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_groups_exact_dups(spark):
    groups = {r["keeper"]: r["n_docs"] for r in simhash_dup(_docs(spark)).collect()}
    assert groups.get(1, 0) >= 2


def test_ngram_jaccard_exact_values(spark):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark), threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.4 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_embedding_near_dup_and_ann_recall(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64)).astype("float32")
    vecs = [(i, base[i].tolist()) for i in range(40)]
    # vector 40 = near-copy of vector 0
    vecs.append((40, (base[0] + rng.standard_normal(64).astype("float32") * 0.01).tolist()))
    df = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")

    dups = {(r["a"], r["b"]) for r in embedding_near_dup(df, threshold=0.98).collect()}
    assert (0, 40) in dups

    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = [r["vec_id"] for r in brute_force_topk(df, qs, k=5).orderBy("rank").collect()]
    assert exact[0] == 0 and exact[1] == 40  # self, then the near-copy

    approx = [r["vec_id"] for r in ivf_topk(df, qs, k=5, nlist=4, nprobe=2).orderBy("rank").collect()]
    # IVF with nprobe=2/4 cells must still find the top hit
    assert approx[0] == 0
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.6


def test_ivf_trained_recall_sf01(spark):
    """VERDICT r01 #10 acceptance: trained-centroid IVF (sampled spherical
    k-means, nlist ~ sqrt(N), multi-assignment) reaches recall@10 >= 0.9 vs
    brute force on the sf0.1 embeddings table — which is near-uniform
    gaussian, the WORST case for IVF."""
    sf_dir = "/root/testdata/sf0.1"
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    base = e.filter(F.col("vec_id") >= 20).persist()
    exact: dict[int, set] = {}
    for r in brute_force_topk(base, qs, k=10).collect():
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
    approx: dict[int, set] = {}
    for r in ivf_topk(base, qs, k=10).collect():
        approx.setdefault(r["q_id"], set()).add(r["vec_id"])
    recall = sum(
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ) / len(exact)
    base.unpersist()
    assert recall >= 0.9, f"recall@10 = {recall:.3f}"


def test_ivf_clustered_small_nprobe(spark):
    """The 100 TB scale path for IVF: on a CLUSTERED corpus (real embedding
    distributions), a small nprobe — here 8 of 32 cells, 25% — already
    reaches recall@10 >= 0.9 against brute force, because trained centroids
    align with the clusters and neighbors co-locate. (The gate's uniform
    fixture needs the defensive ~36% default; this asserts the favorable
    regime actually works so the small-nprobe claim isn't hand-waving.)"""
    import numpy as np

    from link_profiler_repo_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 64)).astype("float32") * 4
    rows = []
    for i in range(1200):
        c = centers[i % 16]
        rows.append((i, (c + rng.standard_normal(64).astype("float32") * 0.3).tolist()))
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(df, qs, k=10).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_topk(df, qs, k=10, nlist=32, nprobe=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered-corpus recall@10 {recall} with nprobe=25%"


def test_quantized_topk_recall_vs_float(spark):
    """int8 quantization (4x storage reduction for the 100 TB embedding
    corpus) must keep recall@10 >= 0.95 vs the float32 exact baseline, and
    the quantized cosine must stay within ~1/127 of the float value."""
    import numpy as np

    from link_profiler_repo_spark.operators.similarity import quantized_topk

    rng = np.random.default_rng(3)
    vecs = [(i, rng.standard_normal(64).astype("float32").tolist()) for i in range(500)]
    df = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vs = df.filter(F.col("vec_id") >= 10)
    exact = {(r["q_id"], r["vec_id"]): r["cosine"] for r in brute_force_topk(vs, qs, k=10).collect()}
    quant = {(r["q_id"], r["vec_id"]): r["cosine"] for r in quantized_topk(vs, qs, k=10).collect()}
    recall = len(set(exact) & set(quant)) / len(exact)
    assert recall >= 0.95, f"int8 recall@10 {recall}"
    for key in set(exact) & set(quant):
        assert abs(exact[key] - quant[key]) < 0.02, (key, exact[key], quant[key])


def test_cdc_partial_dup_pairs(spark):
    """Rolling-hash content-defined chunking: docs sharing a large embedded
    passage are flagged as partial duplicates (containment — the case
    whole-doc MinHash misses), edits only disturb local chunks, and
    unrelated docs share nothing."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import partial_dup_pairs

    words = ["table", "scan", "fast", "merge", "row", "key", "value", "join",
             "filter", "group", "sort", "hash", "spark", "data", "query",
             "batch", "line", "part", "order", "window"]

    def prose(n, seed):
        r = np.random.default_rng(seed)
        return " ".join(words[i] for i in r.integers(0, len(words), n))

    base = prose(600, 1)
    edited = base[:1500] + "XXEDITXX" + base[1508:]
    other = prose(600, 2)
    contained = other[:90] + " " + base[:1500] + " " + other[90:180]
    rows = [(1, base), (2, edited), (3, other), (4, contained)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    pairs = {(r["a"], r["b"]): r["shared_chunks"]
             for r in partial_dup_pairs(df, min_shared=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 20   # near-identical
    assert (1, 4) in pairs and pairs[(1, 4)] >= 5    # containment
    assert (1, 3) not in pairs                       # unrelated
    assert (2, 4) in pairs                           # shared passage transitively


def test_minhash_bucket_modes_agree(spark):
    """hash-bucket (at-scale) and exact-bucket (oracle) banding yield the
    SAME pair set — locks the production F.hash bucket path against the
    DuckDB-oracled exact path (queries.py minhash_near_dup)."""
    from link_profiler_repo_spark.operators.dedup import (
        minhash_pairs_from_sigs,
        minhash_signatures,
    )

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(BASE_TEXT + " variant "),
            (F.col("id") % 17).cast("string"),
            F.lit(" tail tokens "),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )
    sigs = minhash_signatures(docs).persist()
    get = lambda exact: {  # noqa: E731
        (r["a"], r["b"]): r["n_agree"]
        for r in minhash_pairs_from_sigs(
            sigs, threshold=0.5, exact_buckets=exact
        ).collect()
    }
    hashed, exact = get(False), get(True)
    assert hashed == exact and len(exact) > 0
    sigs.unpersist()


def test_cdc_chunk_table_split_matches_composed(spark):
    """cdc_chunks + partial_dup_pairs_from_chunks == partial_dup_pairs."""
    from link_profiler_repo_spark.operators.dedup import (
        cdc_chunks,
        partial_dup_pairs,
        partial_dup_pairs_from_chunks,
    )

    docs = _docs(spark)
    composed = {
        (r["a"], r["b"]): r["shared_chunks"]
        for r in partial_dup_pairs(docs, min_shared=1).collect()
    }
    split = {
        (r["a"], r["b"]): r["shared_chunks"]
        for r in partial_dup_pairs_from_chunks(cdc_chunks(docs), min_shared=1).collect()
    }
    assert composed == split


def test_ivf_blocked_cosine_pairs_recall_and_exactness(spark):
    """ivf_blocked_cosine_pairs (cell-blocked exact dedup tier, end-to-end):
    on a clustered corpus, (1) every emitted pair's cosine is EXACTLY the
    brute-force value (the per-cell join changes candidates, never values),
    (2) no pair below threshold leaks, and (3) recall >= 0.9 of the true
    >=threshold pairs (missed only when a pair shares no replica cell)."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import (
        blocked_cosine_pairs,
        ivf_blocked_cosine_pairs,
    )

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 64)).astype("float32") * 4
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, (c + rng.standard_normal(64).astype("float32") * 0.25).tolist()))
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")

    # all-pairs truth via blocked_cosine_pairs with a single global block
    truth = {
        (r["a"], r["b"]): r["cosine"]
        for r in blocked_cosine_pairs(
            df.withColumn("one", F.lit(1)), block_col="one", threshold=0.9
        ).collect()
    }
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in ivf_blocked_cosine_pairs(df, threshold=0.9, nlist=16).collect()
    }
    assert got, "clustered corpus must produce >=0.9 pairs"
    for pair, cos in got.items():
        assert pair in truth and truth[pair] == cos  # exact values, no leaks
    recall = len(got) / len(truth)
    assert recall >= 0.9, f"cell-blocked recall {recall:.3f}"


def test_ivf_blocked_pairs_plan_is_per_cell_join(spark):
    """Plan lock: the exact pair join's condition is on the cell key (plus
    the a<b dedup) — i.e. the self-join IS per-cell, never all-pairs."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import ivf_blocked_cosine_pairs

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(64).astype("float32").tolist()) for i in range(64)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    cents = np.eye(8, 64, dtype="float32")
    plan = ivf_blocked_cosine_pairs(
        df, threshold=0.5, centroids=cents
    )._jdf.queryExecution().executedPlan().toString()
    # blocked_cosine_pairs aliases the block (cell) key to _blk; the pair
    # join must be an equi-join ON that key, never a cartesian/nested-loop
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "_blk" in ln]
    assert joins, f"no cell-keyed equi-join in plan:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_pairs_matmul_equals_catalyst(spark):
    """The BLAS tier (per-cell X@X.T in applyInPandas) emits the same pair
    set as the bit-exact Catalyst fold, with cosines equal to fp rounding —
    so the bench can publish the fast kernel while the gate oracles the
    exact one."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import (
        blocked_cosine_pairs,
        blocked_cosine_pairs_matmul,
    )

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)], int(i % 5))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>, cell int")
    # threshold 0 => every within-cell pair emitted; boundary effects excluded
    cat = {
        (r["a"], r["b"]): r["cosine"]
        for r in blocked_cosine_pairs(
            df, block_col="cell", threshold=-1.0
        ).collect()
    }
    mm = {
        (r["a"], r["b"]): r["cosine"]
        for r in blocked_cosine_pairs_matmul(
            df, block_col="cell", threshold=-1.0
        ).collect()
    }
    assert set(cat) == set(mm) and len(cat) == 5 * 40 * 39 // 2
    assert all(abs(cat[k] - mm[k]) < 1e-9 for k in cat)


def test_minhash_agree_kernels_identical(spark):
    """numpy agree kernel (vectorized batch compare) emits identical integer
    n_agree to the Catalyst fold — same pairs, same counts."""
    from link_profiler_repo_spark.operators.dedup import (
        minhash_pairs_from_sigs,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = minhash_signatures(docs).persist()
    key = lambda r: (r["a"], r["b"], r["n_agree"])  # noqa: E731
    cat = {key(r) for r in minhash_pairs_from_sigs(sig, threshold=0.4).collect()}
    np_ = {
        key(r)
        for r in minhash_pairs_from_sigs(
            sig, threshold=0.4, agree_kernel="numpy"
        ).collect()
    }
    sig.unpersist()
    assert cat == np_ and len(cat) > 0


def test_semdedup_keep_rule_golden(spark):
    """SemDeDup keep-rule golden on a hand-built hard partition: one cell
    holds a transitive duplicate chain (a~b, b~c but a!~c — components must
    close it) plus an unpaired singleton; the keeper is the chain member
    with the LOWEST centroid similarity. cent_sim_q values are checked
    against hand-computed micro-unit cosines."""
    import math

    from link_profiler_repo_spark.operators.dedup import semdedup_keep

    # centroid = x-axis; members at angles 10, 40, 70 degrees: cos(10,40) and
    # cos(40,70) = cos(30deg) ~ .866 >= .8, cos(10,70) = cos(60deg) = .5 < .8
    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    c = [1.0, 0.0]
    rows = [
        (1, 0, vec(10), c),
        (2, 0, vec(40), c),
        (3, 0, vec(70), c),   # lowest centroid similarity -> the keeper
        (9, 1, vec(0), c),    # alone in its cell: keeps itself
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, cell int, e array<double>, c array<double>"
    )
    out = {r["vec_id"]: r for r in semdedup_keep(df, threshold=0.8).collect()}
    assert {v: out[v]["cluster_id"] for v in (1, 2, 3, 9)} == {1: 1, 2: 1, 3: 1, 9: 9}
    assert {v: out[v]["keep"] for v in (1, 2, 3, 9)} == {
        1: False, 2: False, 3: True, 9: True,
    }
    for v, deg in ((1, 10), (2, 40), (3, 70), (9, 0)):
        assert out[v]["cent_sim_q"] == round(1e6 * math.cos(math.radians(deg)))


def test_semdedup_end_to_end_python_twin(spark):
    """semdedup (train + hard-assign + keep) equals a python twin that
    re-derives assignment, within-cell pairs, transitive closure, and the
    lowest-centroid-sim keep rule from the SAME trained centroids."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import semdedup
    from link_profiler_repo_spark.operators.similarity import train_centroids

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((6, 32)).astype("float32") * 4
    rows = [
        (i, (centers[i % 6] + rng.standard_normal(32).astype("float32") * 0.3).tolist())
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    cents = train_centroids(df, 6, n_rows=150)
    got = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semdedup(df, threshold=0.9, centroids=cents).collect()
    }

    X = np.array([r[1] for r in rows], dtype=np.float32)
    ids = np.array([r[0] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cell = np.argmax(Xn @ cents.T, axis=1)
    Xd = X.astype(np.float64)
    nrm = np.linalg.norm(Xd, axis=1)
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cell[i] != cell[j]:
                continue
            cos = float(Xd[i] @ Xd[j]) / (nrm[i] * nrm[j])
            if cos >= 0.9:
                a, b = find(int(ids[i])), find(int(ids[j]))
                if a != b:
                    parent[max(a, b)] = min(a, b)
    cd = cents.astype(np.float64)
    cn = np.linalg.norm(cd, axis=1)
    simq = {
        int(ids[i]): round(
            1e6 * float(Xd[i] @ cd[cell[i]]) / (nrm[i] * cn[cell[i]])
        )
        for i in range(len(ids))
    }
    clusters = {}
    for i in ids:
        clusters.setdefault(find(int(i)), []).append(int(i))
    expect = {}
    for root, members in clusters.items():
        keeper = min(members, key=lambda v: (simq[v], v))
        for v in members:
            expect[v] = (root, v == keeper)
    assert got == expect
    assert any(not k for (_, k) in got.values()), "fixture must have duplicates"


def test_semdedup_matmul_kernel_equals_catalyst(spark):
    """semdedup's matmul throughput tier produces the identical verdict
    table as the catalyst (oracle-exact) tier on a clustered corpus, and
    measures the same pair set via keep_block on both kernels."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import semdedup
    from link_profiler_repo_spark.operators.similarity import train_centroids

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((5, 32)).astype("float32") * 4
    rows = [
        (i, (centers[i % 5] + rng.standard_normal(32).astype("float32") * 0.3).tolist())
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    cents = train_centroids(df, 5, n_rows=200)
    cat = {
        r["vec_id"]: (r["cluster_id"], r["cent_sim_q"], r["keep"])
        for r in semdedup(df, threshold=0.9, centroids=cents).collect()
    }
    mm = {
        r["vec_id"]: (r["cluster_id"], r["cent_sim_q"], r["keep"])
        for r in semdedup(df, threshold=0.9, centroids=cents, kernel="matmul").collect()
    }
    assert cat == mm
    assert any(not k for (_, _, k) in cat.values())


def test_semdedup_plan_per_cell_join_single_closure(spark):
    """Plan lock for semdedup: (1) the closure pipeline's pair self-join is
    an equi-join on the cell key (never cartesian/nested-loop) feeding ONE
    FlatMapGroupsInPandas union-find over that key — no iterative
    star-contraction rounds; (2) the composed operator's final plan reads
    the checkpointed label table (pair join + closure run once) and plans
    the keep rule as a min-struct aggregate, not a window over the corpus."""
    import numpy as np
    import pyspark.sql.functions as F

    from link_profiler_repo_spark.operators.dedup import (
        _per_block_closure,
        semdedup,
    )

    rng = np.random.default_rng(3)
    rows = [
        (i, int(i % 6), rng.standard_normal(32).astype("float64").tolist())
        for i in range(64)
    ]
    base = spark.createDataFrame(rows, schema="vec_id long, cell int, e array<double>")
    closure_plan = _per_block_closure(
        base, threshold=0.5, id_col="vec_id", vec_col="e", block_col="cell"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in closure_plan
    assert "BroadcastNestedLoopJoin" not in closure_plan
    joins = [ln for ln in closure_plan.splitlines() if "Join" in ln and "_blk" in ln]
    assert joins, f"no cell-keyed pair equi-join:\n{closure_plan[:2000]}"
    closures = [
        ln for ln in closure_plan.splitlines() if "FlatMapGroupsInPandas" in ln
    ]
    assert len(closures) == 1, closures

    cents = np.eye(6, 32, dtype="float32")
    df = base.select("vec_id", F.col("e").cast("array<float>").alias("embedding"))
    final_plan = semdedup(
        df, threshold=0.5, centroids=cents
    )._jdf.queryExecution().executedPlan().toString()
    # lineage severed at the label checkpoint: the final plan scans the
    # materialized RDD instead of re-running the pair join + closure
    assert "Scan ExistingRDD" in final_plan
    assert "FlatMapGroupsInPandas" not in final_plan
    assert "min(struct(cent_sim_q" in final_plan
    assert "Window" not in final_plan
    assert "CartesianProduct" not in final_plan


def test_hash_tokens_non_ascii_fallback():
    """_hash_tokens must hash (not crash) when a caller bypasses the
    [a-z0-9]+ tokenize contract with non-ASCII tokens (ADVICE r5): the
    C-level ASCII packing raises UnicodeEncodeError, and the UTF-8
    fallback must keep ASCII tokens' hashes identical to the fast path."""
    import numpy as np

    from link_profiler_repo_spark.operators.dedup import _hash_tokens

    fast = _hash_tokens(["abc", "def9"], np.uint64(7))
    mixed = _hash_tokens(["abc", "déf9"], np.uint64(7))
    assert mixed[0] == fast[0]          # ASCII token unchanged
    assert mixed[1] != fast[1]          # non-ASCII token gets its own hash
    assert mixed.dtype == np.uint64
