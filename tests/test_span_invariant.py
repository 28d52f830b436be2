"""Per-row invariant (BASELINE.json input_hint): span-sequence equality —
(kind, text, media_ref, order) — for every document passing through the
engine. Docs are read, joined, and extracted from, but spans are NEVER
reordered or mutated. Verified via posexplode comparison (SURVEY §1.3)."""

import pyspark.sql.functions as F

from link_profiler_repo_spark.synth import SynthParams, gen_all_docs, synth_docs_spark


def span_signature(df, doc_col="doc_id", spans_col="spans"):
    """Canonical (doc_id, pos, kind, text, media_ref) rows via posexplode —
    pos is the ARRAY position, compared against the span's own offset too."""
    return df.select(
        F.col(doc_col).alias("doc_id"), F.posexplode(spans_col).alias("pos", "s")
    ).select(
        "doc_id", "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def test_distributed_generation_matches_driver_side(spark):
    """The same corpus must come out of mapInPandas-distributed generation and
    driver-side generation (the oracle's view of the web)."""
    p = SynthParams(n_docs=60, n_hosts=6)
    dist = {
        (r["doc_id"], r["pos"]): (r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in span_signature(synth_docs_spark(spark, p)).collect()
    }
    drv = {}
    for url, spans in gen_all_docs(p).items():
        for i, (k, t, m, o) in enumerate(spans):
            drv[(url, i)] = (k, t, m, o)
    assert dist == drv


def test_spans_survive_engine_round_trip(spark, tmp_workdir):
    """Docs that flow through the crawl plan (join + extraction) keep their
    span sequences bit-identical: compare the docs table before and after an
    engine run touches it (the engine never writes docs, and the extraction
    UDF is read-only over its Arrow batches)."""
    from link_profiler_repo_spark.config import CrawlConfig
    from link_profiler_repo_spark.functions.extract import with_links
    from link_profiler_repo_spark.operators.crawl import CrawlEngine
    from link_profiler_repo_spark.synth import default_seeds

    p = SynthParams(n_docs=60, n_hosts=6)
    docs_df = synth_docs_spark(spark, p).persist()
    before = {
        (r["doc_id"], r["pos"]): (r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in span_signature(docs_df).collect()
    }

    cfg = CrawlConfig(max_depth=2, max_pages=50)
    eng = CrawlEngine(spark, cfg, docs_df, tmp_workdir, synth_params=p, prefilter=None, metrics_enabled=False)
    eng.run_bfs([u for _, u, _ in default_seeds(p, 2)])

    # the docs table after the run — and a projection THROUGH the extraction
    # UDF (spans column carried alongside links) — both unchanged
    after = {
        (r["doc_id"], r["pos"]): (r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in span_signature(docs_df).collect()
    }
    assert after == before

    through_udf = with_links(docs_df).select("doc_id", "spans")
    after_udf = {
        (r["doc_id"], r["pos"]): (r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in span_signature(through_udf).collect()
    }
    assert after_udf == before
    # offsets are the array positions (strictly increasing per doc)
    for (_, pos), (_, _, _, off) in after_udf.items():
        assert pos == off
    docs_df.unpersist()
