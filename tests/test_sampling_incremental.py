"""Unit + property tests for the mixture-sampling and incremental-profile
operators (operators/sampling.py, operators/incremental.py). The naive twins
here are plain Python (hashlib md5 + greedy loops / dict folds) — a third
derivation independent of both the Spark plans and the DuckDB gate oracles.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from link_profiler_repo_spark.operators.incremental import (
    fold_profile_batch,
    merge_counters,
    merge_counters_many,
)
from link_profiler_repo_spark.operators.sampling import (
    SCALE,
    deterministic_sample,
    mixture_rates,
    mixture_sample,
    rate_threshold_hex,
    stratified_sample,
    token_budget_pack,
)


def _key(salt: str, i: int) -> str:
    return hashlib.md5(f"{salt}|{i}".encode()).hexdigest()[:8]


def _kept(salt: str, i: int, rate: float) -> bool:
    return int(_key(salt, i), 16) < int(rate * SCALE)


# ---------------------------------------------------------------------------
# deterministic_sample
# ---------------------------------------------------------------------------

def test_deterministic_sample_matches_python_md5(spark):
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    got = sorted(
        r.doc_id for r in deterministic_sample(df, "doc_id", 0.3, salt="s").collect()
    )
    want = sorted(i for i in range(1000) if _kept("s", i, 0.3))
    assert got == want
    # uniformity sanity: 1000 draws at 0.3 should land well inside +-5 sigma
    assert 230 <= len(got) <= 370


def test_samples_nest_across_rates(spark):
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    small = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.1, salt="n").collect()}
    big = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.4, salt="n").collect()}
    assert small <= big  # threshold monotonicity: the 10% sample nests in the 40%


def test_rate_edges(spark):
    df = spark.range(50).withColumnRenamed("id", "doc_id")
    assert deterministic_sample(df, "doc_id", 1.0).count() == 50
    assert deterministic_sample(df, "doc_id", 0.0).count() == 0
    assert rate_threshold_hex(0.5) == "80000000"
    assert rate_threshold_hex(0.0) == "00000000"


# ---------------------------------------------------------------------------
# stratified / mixture
# ---------------------------------------------------------------------------

def _docs(spark, n=600):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("L"), (F.col("id") % 3).cast("string")).alias("lang"),
    )


def test_stratified_sample_respects_per_stratum_rates(spark):
    d = _docs(spark)
    kept = stratified_sample(
        d, "doc_id", "lang", {"L0": 1.0, "L1": 0.25}, default_rate=0.0, salt="st"
    ).collect()
    by_lang: dict[str, set] = {}
    for r in kept:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by_lang.get("L0", ())) == 200  # rate 1: everything
    assert "L2" not in by_lang  # unlisted stratum: default 0
    want_l1 = {i for i in range(600) if i % 3 == 1 and _kept("st", i, 0.25)}
    assert by_lang.get("L1", set()) == want_l1


def test_mixture_rates_values_and_cap(spark):
    d = _docs(spark)  # 200 per stratum
    rates = {
        r.lang: r.rate
        for r in mixture_rates(d, "lang", {"L0": 0.5, "L1": 0.1}, 300.0).collect()
    }
    assert rates["L0"] == pytest.approx(300.0 * 0.5 / 200)
    assert rates["L1"] == pytest.approx(300.0 * 0.1 / 200)
    # availability cap: a target bigger than the stratum clamps to 1
    capped = {
        r.lang: r.rate
        for r in mixture_rates(d, "lang", {"L0": 1.0}, 900.0).collect()
    }
    assert capped["L0"] == 1.0


def test_mixture_sample_membership_matches_python(spark):
    d = _docs(spark)
    kept = mixture_sample(
        d, "doc_id", "lang", {"L0": 0.6, "L2": 0.4}, total_rows=250.0, salt="mx"
    ).collect()
    got = {(r.lang, r.doc_id) for r in kept}
    want = set()
    for i in range(600):
        lang = f"L{i % 3}"
        rate = {"L0": 250.0 * 0.6 / 200, "L2": 250.0 * 0.4 / 200}.get(lang)
        if rate is not None and _kept("mx", i, min(rate, 1.0)):
            want.add((lang, i))
    assert got == want
    assert not any(lang == "L1" for lang, _ in got)  # untargeted stratum dropped


# ---------------------------------------------------------------------------
# token_budget_pack vs a naive Python greedy loop
# ---------------------------------------------------------------------------

def _naive_pack(rows, budget, salt):
    """rows: (doc_id, lang, tokens). Greedy prefix per stratum in
    (md5 key, id) order — the single-threaded algorithm the two-level
    prefix sum must reproduce exactly."""
    out = {}
    by_lang: dict[str, list] = {}
    for i, lang, tok in rows:
        by_lang.setdefault(lang, []).append((_key(salt, i), i, tok))
    for lang, items in by_lang.items():
        cum = 0
        for _, i, tok in sorted(items):
            cum += tok
            out[i] = (cum, cum <= budget)
    return out


@pytest.mark.parametrize("budget", [0, 37, 500, 10**9])
def test_token_budget_pack_equals_naive_greedy(spark, budget):
    rows = [(i, f"L{i % 4}", (i * 7919) % 23 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, tokens long")
    got = {
        r.doc_id: (r.cum_tokens, r.keep)
        for r in token_budget_pack(
            df, "doc_id", "lang", "tokens", budget, salt="pk"
        ).collect()
    }
    assert got == _naive_pack(rows, budget, "pk")


def test_token_budget_pack_keeps_greedy_prefix_property(spark):
    # every kept doc's running total fits; every dropped doc's doesn't
    rows = [(i, "x", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, tokens long")
    out = token_budget_pack(df, "doc_id", "lang", "tokens", 250, salt="q").collect()
    kept = [r for r in out if r.keep]
    assert len(kept) == 25  # 25 * 10 == 250 fits exactly
    assert max(r.cum_tokens for r in kept) == 250


# ---------------------------------------------------------------------------
# incremental profile fold vs full recompute
# ---------------------------------------------------------------------------

def _full_recompute(rows):
    """rows: (key, member, flag, cents). Dict-based one-pass rollup."""
    out: dict[int, dict] = {}
    for k, m, fl, cents in rows:
        s = out.setdefault(
            k, {"n": 0, "members": set(), "flagged": 0, "cents": 0}
        )
        s["n"] += 1
        s["members"].add(m)
        s["flagged"] += int(fl)
        s["cents"] += cents
    return {
        k: (s["n"], len(s["members"]), s["flagged"], s["cents"])
        for k, s in out.items()
    }


def _fold(spark, batches):
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("flagged"),
        F.sum("cents").alias("cents"),
    ]
    state = (None, None)
    for b in batches:
        df = spark.createDataFrame(
            b, "key long, member string, flag boolean, cents long"
        )
        state = fold_profile_batch(
            state, df, key_col="key", member_col="member", agg_exprs=aggs
        )
    counters, pairs = state
    return counters, pairs


def test_incremental_fold_equals_full_recompute(spark):
    import random

    rng = random.Random(42)
    batches = []
    allrows = []
    for _ in range(5):
        b = [
            (
                rng.randrange(20),
                f"m{rng.randrange(6)}",
                rng.random() < 0.3,
                rng.randrange(1000),
            )
            for _ in range(rng.randrange(1, 80))
        ]
        batches.append(b)
        allrows.extend(b)
    counters, pairs = _fold(spark, batches)
    got = {
        r.key: (r.n, r.distinct_member, r.flagged, r.cents)
        for r in counters.collect()
    }
    assert got == _full_recompute(allrows)
    # the pair state is exactly the distinct (key, member) set
    assert pairs.count() == pairs.distinct().count() == len(
        {(k, m) for k, m, _, _ in allrows}
    )


def test_incremental_fold_single_batch_key_and_cross_batch_members(spark):
    batches = [
        [(1, "a", True, 10), (1, "b", False, 5)],
        [(1, "a", False, 7), (2, "z", True, 1)],  # 'a' repeats: no distinct bump
    ]
    counters, _ = _fold(spark, batches)
    got = {r.key: (r.n, r.distinct_member, r.flagged, r.cents) for r in counters.collect()}
    assert got == {1: (3, 2, 1, 22), 2: (1, 1, 1, 1)}


def test_merge_counters_column_union(spark):
    a = spark.createDataFrame([(1, 10)], "key long, x long")
    b = spark.createDataFrame([(1, 2), (2, 3)], "key long, y long")
    got = {r.key: (r.x, r.y) for r in merge_counters(a, b, "key").collect()}
    # missing counters on either side read as 0, never dropped
    assert got == {1: (10, 2), 2: (0, 3)}


def test_merge_counters_many_rejects_non_integral_counters(spark):
    """A double sum depends on the fold order, so the one-aggregation merge
    would not equal the chained merge: it must refuse before any job."""
    a = spark.createDataFrame([(1, 10)], "key long, x long")
    b = spark.createDataFrame([(1, 0.5)], "key long, y double")
    with pytest.raises(TypeError, match="'y' is double"):
        merge_counters_many([a, b], "key")
    with pytest.raises(TypeError, match="'y' is double"):
        merge_counters_many([b], "key")
    assert merge_counters_many([a, a], "key").first().x == 20


# ---------------------------------------------------------------------------
# plan locks: the scale properties the operators were designed around
# ---------------------------------------------------------------------------

def test_sampling_plan_is_filter_on_scan(spark):
    """stratified_sample is ONE scan + a codegen filter: no Exchange, no
    join, and column pruning intact. (The md5 threshold is an expression
    filter — not a parquet PushedFilter — but it runs inside the scan's
    WholeStageCodegen stage, which is the property that matters.)"""
    import os

    from link_profiler_repo_spark.plans import (
        count_exchanges,
        physical_plan,
        read_schema_columns,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    d = spark.read.parquet(f"{sf}/documents.parquet")
    kept = stratified_sample(
        d, "doc_id", "lang", {"en": 0.5}, salt="p"
    ).select("doc_id", "lang")
    assert count_exchanges(kept) == 0, physical_plan(kept)[:1500]
    assert read_schema_columns(kept) == [{"doc_id", "lang"}]


def test_mixture_sample_plan_broadcasts_rates(spark):
    import os

    from link_profiler_repo_spark.plans import has_broadcast_join

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    d = spark.read.parquet(f"{sf}/documents.parquet")
    kept = mixture_sample(d, "doc_id", "lang", {"en": 0.5}, 100.0, salt="p")
    assert has_broadcast_join(kept)


def test_token_budget_pack_plan_has_no_single_partition_stage(spark):
    """The two-level prefix sum never funnels the CORPUS through one
    partition: the full-data cumulative window partitions by
    (stratum, bucket) — 16-way parallel even for a single giant stratum —
    and the only per-stratum window runs over the 16-row subtotal table.
    (A constant-literal stratum column would constant-fold the subtotal
    window's key into SinglePartition — still bounded at 16 rows, but the
    test uses a real column like every caller.)"""
    from link_profiler_repo_spark.plans import (
        assert_no_single_partition_exchange,
        physical_plan,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("L"), (F.col("id") % 2).cast("string")).alias("lang"),
        (F.col("id") % 7 + 1).alias("tokens"),
    )
    out = token_budget_pack(df, "doc_id", "lang", "tokens", 100, salt="p")
    assert_no_single_partition_exchange(out)
    # and the heavy window really keys on (lang, _bkt), not lang alone
    assert "hashpartitioning(lang" in physical_plan(out)


# ---------------------------------------------------------------------------
# HLL sketch state: the fixed-size distinct alternative (monitoring tier)
# ---------------------------------------------------------------------------

def _sketch_fold(spark, batches, lgk=12):
    from link_profiler_repo_spark.operators.incremental import (
        merge_sketches,
        sketch_delta,
    )

    state = None
    for b in batches:
        df = spark.createDataFrame(b, "key long, member string")
        state = merge_sketches(state, sketch_delta(df, "key", "member", lgk), "key")
    return state


def test_sketch_fold_accuracy_and_determinism(spark):
    from link_profiler_repo_spark.operators.incremental import sketch_estimates

    # 3 batches, overlapping members across batches; key 0 sees 1000
    # distinct members, key 1 sees 100, key 2 appears in one batch only
    batches = [
        [(0, f"m{i}") for i in range(600)] + [(1, f"m{i % 100}") for i in range(300)],
        [(0, f"m{i}") for i in range(400, 1000)] + [(2, "only") for _ in range(5)],
        [(0, f"m{i}") for i in range(200)] + [(1, f"m{i % 50}") for i in range(200)],
    ]
    est = {
        r.key: r.approx_distinct
        for r in sketch_estimates(_sketch_fold(spark, batches), "key").collect()
    }
    exact = {0: 1000, 1: 100, 2: 1}
    for k, ex in exact.items():
        assert abs(est[k] - ex) / ex < 0.05, (k, est[k], ex)
    # determinism: the same fold yields the same estimates
    est2 = {
        r.key: r.approx_distinct
        for r in sketch_estimates(_sketch_fold(spark, batches), "key").collect()
    }
    assert est == est2


def test_sketch_merge_one_sided_keys_survive(spark):
    from link_profiler_repo_spark.operators.incremental import sketch_estimates

    batches = [[(1, "a"), (1, "b")], [(2, "z")]]
    est = {
        r.key: r.approx_distinct
        for r in sketch_estimates(_sketch_fold(spark, batches), "key").collect()
    }
    assert est == {1: 2, 2: 1}  # HLL is exact at tiny cardinalities


# ---------------------------------------------------------------------------
# corpus_build composition + incremental state resume
# ---------------------------------------------------------------------------

def test_corpus_build_invariants(spark):
    """The composed corpus-build gate query respects every stage's contract:
    dedup (no two kept docs share text), mixture (only targeted langs),
    packing (per-lang token budget holds and totals are maximal prefixes)."""
    from link_profiler_repo_spark.queries import q_corpus_build

    out = q_corpus_build(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "composition produced an empty corpus"
    assert {r.lang for r in rows} <= {"en", "de", "es"}
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert max(r.cum_tokens for r in rs) <= 3000
        # cum_tokens of the kept set is consistent: max == sum of tokens
        assert max(r.cum_tokens for r in rs) == sum(r.n_tokens for r in rs)


def test_incremental_state_round_trips_through_parquet(spark, tmp_path):
    """Checkpoint-resume for the incremental profile state: persist
    (counters, pairs) after batch 1, 'restart' by re-reading them, fold the
    remaining batches, and land on the identical fixpoint as the
    uninterrupted fold — state tables ARE the checkpoint (the same contract
    as the crawl loop's Iceberg epoch tables)."""
    batches = [
        [(1, "a", True, 10), (2, "b", False, 3)],
        [(1, "a", False, 7), (1, "c", True, 2)],
        [(3, "z", False, 1), (2, "b", True, 4)],
    ]
    full_counters, _ = _fold(spark, batches)
    want = {
        r.key: (r.n, r.distinct_member, r.flagged, r.cents)
        for r in full_counters.collect()
    }

    c1, p1 = _fold(spark, batches[:1])
    c1.write.mode("overwrite").parquet(str(tmp_path / "counters"))
    p1.write.mode("overwrite").parquet(str(tmp_path / "pairs"))
    # restart: state comes back from storage, not lineage
    state = (
        spark.read.parquet(str(tmp_path / "counters")),
        spark.read.parquet(str(tmp_path / "pairs")),
    )
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("flagged"),
        F.sum("cents").alias("cents"),
    ]
    for b in batches[1:]:
        df = spark.createDataFrame(
            b, "key long, member string, flag boolean, cents long"
        )
        state = fold_profile_batch(
            state, df, key_col="key", member_col="member", agg_exprs=aggs
        )
    got = {
        r.key: (r.n, r.distinct_member, r.flagged, r.cents)
        for r in state[0].collect()
    }
    assert got == want == {1: (3, 2, 2, 19), 2: (2, 1, 1, 7), 3: (1, 1, 0, 1)}


# ---------------------------------------------------------------------------
# repetition filters (Gopher rules) vs a naive Python twin
# ---------------------------------------------------------------------------

def test_repetition_profile_matches_naive_python(spark):
    import re
    from collections import Counter

    from link_profiler_repo_spark.operators.textops import repetition_profile

    texts = [
        (0, "a b a b a b c"),                      # dominant bigram 'a b'
        (1, "x\nx\ny\nx"),                         # duplicate lines
        (2, ""),                                   # empty: both metrics 0
        (3, "one"),                                # <2 words: no bigrams
        (4, "l1\n l1 \nl2\nunique words here now"),  # trim before line-dedup
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_line_frac, r.top_bigram_frac, r.repetition_ok)
        for r in repetition_profile(df).collect()
    }

    def naive(text):
        lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
        dl = 0.0 if not lines else 1.0 - len(set(lines)) / len(lines)
        words = [w for w in re.sub(r"[^a-zA-Z0-9']+", " ", text.lower()).split() if w]
        grams = Counter(
            f"{a} {b}" for a, b in zip(words, words[1:])
        )
        tb = max(grams.values()) / sum(grams.values()) if grams else 0.0
        return (dl, tb, dl <= 0.30 and tb <= 0.20)

    for i, text in texts:
        dl, tb, ok = naive(text)
        assert got[i][0] == pytest.approx(dl)
        assert got[i][1] == pytest.approx(tb)
        assert got[i][2] == ok, (i, got[i])
    # the degenerate-repetition doc is flagged, the healthy one is kept
    assert not got[0][2] and got[4][2]


def test_incremental_profile_stream_folds_to_full_recompute(spark, tmp_path):
    """§2.9 integration: the incremental fold driven by Structured Streaming
    foreachBatch (one stored batch file per micro-batch) lands on the same
    fixpoint as the batch fold and the dict recompute."""
    import pyspark.sql.types as T

    from link_profiler_repo_spark.streaming.stream import (
        run_incremental_profile_stream,
    )

    batches = [
        [(1, "a", True, 10), (2, "b", False, 3)],
        [(1, "a", False, 7), (1, "c", True, 2)],
        [(3, "z", False, 1), (2, "b", True, 4)],
    ]
    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("member", T.StringType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(in_dir / f"batch{i}")
        )
    # the file source reads leaf files; point it at the batch dirs' parquet
    counters = run_incremental_profile_stream(
        spark,
        str(in_dir / "batch*"),
        schema,
        state_dir=str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ckpt"),
        key_col="key",
        member_col="member",
        agg_exprs=[
            F.count("*").alias("n"),
            F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("flagged"),
            F.sum("cents").alias("cents"),
        ],
    )
    got = {
        r.key: (r.n, r.distinct_member, r.flagged, r.cents)
        for r in counters.collect()
    }
    assert got == {1: (3, 2, 2, 19), 2: (2, 1, 1, 7), 3: (1, 1, 0, 1)}


def test_incremental_profile_stream_replay_is_noop(spark, tmp_path):
    """Replayed batch ids (at-least-once foreachBatch) must not double-fold:
    re-driving the same input against the SAME state dir with a fresh
    checkpoint re-delivers batch ids 0..2, and the folded-id guard skips
    them all — the state is unchanged."""
    import pyspark.sql.types as T

    from link_profiler_repo_spark.streaming.stream import (
        run_incremental_profile_stream,
    )

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("member", T.StringType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, b in enumerate(
        [[(1, "a", True, 10)], [(1, "a", False, 7), (1, "b", True, 2)]]
    ):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(in_dir / f"batch{i}")
        )
    kw = dict(
        schema=schema,
        state_dir=str(tmp_path / "state"),
        key_col="key",
        member_col="member",
        agg_exprs=[
            F.count("*").alias("n"),
            F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("flagged"),
            F.sum("cents").alias("cents"),
        ],
    )
    first = run_incremental_profile_stream(
        spark, str(in_dir / "batch*"), checkpoint=str(tmp_path / "ck1"), **kw
    )
    want = {r.key: (r.n, r.distinct_member, r.flagged, r.cents) for r in first.collect()}
    assert want == {1: (3, 2, 2, 19)}
    replay = run_incremental_profile_stream(
        spark, str(in_dir / "batch*"), checkpoint=str(tmp_path / "ck2"), **kw
    )
    got = {r.key: (r.n, r.distinct_member, r.flagged, r.cents) for r in replay.collect()}
    assert got == want  # every replayed fold was skipped


def test_incremental_fold_null_members_and_keys(spark):
    """NULL members never count toward the distinct counter (COUNT(DISTINCT)
    semantics) and never re-admit across batches; NULL keys merge as one
    group instead of accumulating duplicate rows."""
    aggs = lambda: [F.count("*").alias("n"), F.sum("cents").alias("cents")]  # noqa: E731
    batches = [
        [(1, None, False, 10), (None, "a", False, 1)],
        [(1, None, False, 5), (None, "a", False, 2), (None, "b", False, 3)],
    ]
    state = (None, None)
    for b in batches:
        df = spark.createDataFrame(
            b, "key long, member string, flag boolean, cents long"
        )
        state = fold_profile_batch(
            state, df, key_col="key", member_col="member", agg_exprs=aggs()
        )
    counters, pairs = state
    rows = counters.collect()
    assert len(rows) == 2  # one row per key, incl. exactly ONE NULL-key row
    got = {r.key: (r.n, r.distinct_member, r.cents) for r in rows}
    assert got[1] == (2, 0, 15)  # NULL member: counted rows, 0 distinct
    assert got[None] == (3, 2, 6)
    assert pairs.filter(F.col("member").isNull()).count() == 0


def test_incremental_stream_zero_batches_returns_typed_empty(spark, tmp_path):
    import pyspark.sql.types as T

    from link_profiler_repo_spark.streaming.stream import (
        run_incremental_profile_stream,
    )

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("member", T.StringType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    (tmp_path / "in").mkdir()
    out = run_incremental_profile_stream(
        spark,
        str(tmp_path / "in"),
        schema,
        state_dir=str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ck"),
        key_col="key",
        member_col="member",
        agg_exprs=[F.count("*").alias("n"), F.sum("cents").alias("cents")],
    )
    assert out.count() == 0
    assert set(out.columns) == {"key", "n", "cents", "distinct_member"}


# ---------------------------------------------------------------------------
# outreach pipeline (operators/outreach.py)
# ---------------------------------------------------------------------------

def test_prospect_status_lifecycle_golden(spark):
    from link_profiler_repo_spark.operators.outreach import (
        campaign_metrics,
        prospect_status,
    )

    events = spark.createDataFrame(
        [
            # p0: contacted then replied -> replied (latest wins)
            (0, "c0", "p0", "email_sent"),
            (1, "c0", "p0", "reply"),
            # p1: link secured EARLY, reply later -> link_acquired (terminal)
            (2, "c0", "p1", "link_secured"),
            (3, "c0", "p1", "reply"),
            # p2: two contacts -> contacted, last_contacted = latest seq
            (4, "c1", "p2", "email_sent"),
            (5, "c1", "p2", "follow_up"),
            # p3: only an unknown event type -> new (n_events counted)
            (6, "c1", "p3", "note_added"),
            # p5: contacted THEN noted -> stays contacted (a trailing
            # non-lifecycle event must not demote the status)
            (7, "c1", "p5", "email_sent"),
            (8, "c1", "p5", "note_added"),
        ],
        "seq long, campaign_id string, prospect_id string, event_type string",
    )
    prospects = spark.createDataFrame(
        [("p0",), ("p1",), ("p2",), ("p3",), ("p4",), ("p5",)],
        "prospect_id string",
    )
    got = {
        r.prospect_id: (r.status, r.last_contacted_seq, r.link_acquired_seq, r.n_events)
        for r in prospect_status(prospects, events).collect()
    }
    assert got == {
        "p0": ("replied", 0, None, 2),
        "p1": ("link_acquired", None, 2, 2),
        "p2": ("contacted", 5, None, 2),
        "p3": ("new", None, None, 1),
        "p4": ("new", None, None, 0),
        "p5": ("contacted", 7, None, 2),
    }
    cm = {
        r.campaign_id: (
            r.total_prospects, r.contacts_made, r.replies_received,
            r.links_acquired, r.reply_rate,
        )
        for r in campaign_metrics(events).collect()
    }
    assert cm == {"c0": (2, 1, 2, 1, 2.0), "c1": (3, 3, 0, 0, 0.0)}


def test_token_budget_pack_property_random(spark):
    """Property layer (hypothesis-style over seeded randomness, one Spark
    round-trip per case batch): for random strata/token shapes — including
    all-one-stratum (every bucket hot), empty strata names, zero-token docs
    — the two-level prefix sum equals the naive single-threaded greedy."""
    import random

    rng = random.Random(7)
    for case in range(3):
        n = rng.randrange(50, 300)
        # include the empty-string stratum name (hash salting and the
        # groupBy must treat it as a normal key)
        langs = ["", *(f"s{j}" for j in range(rng.choice([1, 2, 6])))]
        rows = [
            (i, rng.choice(langs), rng.choice([0, 1, 5, 50, 500]))
            for i in range(n)
        ]
        budget = rng.choice([0, 100, 1500, 10**8])
        df = spark.createDataFrame(rows, "doc_id long, lang string, tokens long")
        got = {
            r.doc_id: (r.cum_tokens, r.keep)
            for r in token_budget_pack(
                df, "doc_id", "lang", "tokens", budget, salt=f"c{case}"
            ).collect()
        }
        assert got == _naive_pack(rows, budget, f"c{case}"), (case, budget)


def test_outreach_plans_have_no_single_partition_stage(spark):
    """Both outreach grains are plain keyed aggregations — no window, no
    global sort, no single-partition exchange anywhere."""
    from link_profiler_repo_spark.operators.outreach import (
        campaign_metrics,
        prospect_status,
    )
    from link_profiler_repo_spark.plans import assert_no_single_partition_exchange

    events = spark.range(100).select(
        F.col("id").alias("seq"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("campaign_id"),
        F.concat(F.lit("p"), (F.col("id") % 11).cast("string")).alias("prospect_id"),
        F.when(F.col("id") % 4 == 0, "reply").otherwise("email_sent").alias("event_type"),
    )
    prospects = events.select("prospect_id").distinct()
    assert_no_single_partition_exchange(prospect_status(prospects, events))
    assert_no_single_partition_exchange(campaign_metrics(events))


def test_recrawl_schedule_estimator_golden(spark):
    """Hand-computed Cho & Garcia-Molina cases: mid-rate page, single
    capture (no evidence -> default), never-changed (-> max interval),
    always-changed (clamped to the floor)."""
    import math

    from link_profiler_repo_spark.operators.recrawl import (
        change_rates,
        recrawl_schedule,
    )

    rows = (
        [("A", float(d), x) for d, x in enumerate(["x", "x", "y", "y"])]
        + [("B", 0.0, "z")]
        + [("C", float(d), "s") for d in range(4)]
        + [("D", float(d), f"v{d}") for d in range(4)]
    )
    df = spark.createDataFrame(rows, "url string, ts_days double, digest string")
    got = {
        r.url: (r.n_intervals, r.n_changes, r.lambda_per_day, r.recrawl_days)
        for r in recrawl_schedule(change_rates(df)).collect()
    }
    lam_a = -math.log((3 - 1 + 0.5) / 3.5)  # one change in three 1-day gaps
    assert got["A"][0:2] == (3, 1)
    assert got["A"][2] == pytest.approx(lam_a)
    assert got["A"][3] == pytest.approx(1 / lam_a)
    assert got["B"] == (0, 0, None, 30.0)  # no evidence -> default
    assert got["C"][1] == 0 and got["C"][2] == pytest.approx(0.0)
    assert got["C"][3] == 90.0  # observed stable -> max interval
    lam_d = -math.log(0.5 / 3.5)
    assert got["D"][2] == pytest.approx(lam_d)
    assert got["D"][3] == 1.0  # faster than the feasible floor -> clamp


def test_anchor_profile_classification_golden(spark):
    from link_profiler_repo_spark.operators.analytics import anchor_profile

    edges = spark.createDataFrame(
        [
            # exact beats branded even when the brand appears in the term
            ("acme.test", "Acme widgets"),
            ("acme.test", "acme widgets"),   # money term, case-insensitive
            ("acme.test", "http://other.test/page"),  # naked URL
            ("acme.test", "acme.test"),      # bare host = naked
            ("acme.test", "Click Here "),    # generic, trimmed+lowered
            ("acme.test", "the ACME story"), # branded (contains 'acme')
            ("acme.test", "editorial words"),
            ("www.beta.test", "beta press"), # brand token = label left of TLD
            ("m.example.com", "an example of prose"),  # subdomain -> 'example'
            ("m.example.com", "more summer info"),     # no whole-word 'example'/'m'
            ("hp.test", "php frameworks"),             # substring would match 'hp' 
        ],
        "dst_host string, anchor_text string",
    )
    got = {
        r.dst_host: (
            r.n_backlinks, r.exact_ratio, r.naked_ratio, r.generic_ratio,
            r.branded_ratio, r.other_ratio, r.over_optimized,
        )
        for r in anchor_profile(edges, money_terms=["acme widgets"]).collect()
    }
    assert got["acme.test"] == (7, round(2 / 7, 6), round(2 / 7, 6),
                                round(1 / 7, 6), round(1 / 7, 6),
                                round(1 / 7, 6), False)
    assert got["www.beta.test"] == (1, 0.0, 0.0, 0.0, 1.0, 0.0, False)
    assert got["m.example.com"] == (2, 0.0, 0.0, 0.0, 0.5, 0.5, False)
    assert got["hp.test"] == (1, 0.0, 0.0, 0.0, 0.0, 1.0, False)


def test_recrawl_intervals_drive_frontier_priority(spark):
    """Composition: recrawl_schedule output feeds the frontier scheduler's
    priority column — faster-changing pages get lower priority values (the
    scheduler pops priority ASC), so the issued wave under a tight host
    budget is the due-and-fast-changing subset."""
    from link_profiler_repo_spark.operators.frontier import schedule_epoch
    from link_profiler_repo_spark.operators.recrawl import (
        change_rates,
        recrawl_schedule,
    )

    # 6 urls on one host: u0/u1 change every capture, u2/u3 mid, u4/u5 never
    caps = [
        (f"u{k}", float(d), (f"v{d}" if k < 2 else ("w" + str(d // 3) if k < 4 else "s")))
        for k in range(6)
        for d in range(4)
    ]
    sched = recrawl_schedule(
        change_rates(
            spark.createDataFrame(caps, "url string, ts_days double, digest string")
        )
    )
    frontier = sched.select(
        "url",
        F.sha2("url", 256).alias("url_hash"),
        F.lit("h0.test").alias("host"),
        # priority = clamped revisit interval: sooner-due sorts first
        F.col("recrawl_days").cast("int").alias("priority"),
        F.monotonically_increasing_id().alias("arrival_seq"),
    )
    wave = schedule_epoch(frontier, seen=None, host_budget=2)
    issued = {r.url for r in wave.select("url").collect()}
    assert issued == {"u0", "u1"}  # the always-changing pair wins the budget


def test_corpus_build_cli_rejects_malformed_targets(spark, tmp_path, monkeypatch, capsys):
    """--targets entries must be stratum=share; a malformed pair exits with
    an argparse error instead of a tuple-unpack traceback."""
    import importlib.util
    import os
    import sys as _sys

    import pytest as _pytest

    spec = importlib.util.spec_from_file_location(
        "run_job_main_targets",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "jobs", "run_job.py"),
    )
    rj = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rj)
    monkeypatch.setattr(
        _sys, "argv",
        ["run_job.py", "--type", "corpus_build",
         "--sf-dir", "/root/testdata/sf0.001", "--targets", "en=0.6,de"],
    )
    with _pytest.raises(SystemExit) as e:
        rj.main()
    assert e.value.code == 2
    assert "stratum=share" in capsys.readouterr().err
