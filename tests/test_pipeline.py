"""End-to-end corpus-preparation pipeline: stage composition, monotone
shrinkage, and per-stage semantics on a corpus with planted artifacts."""

import pytest
from pyspark.sql import functions as F

from pr2_transformation_spark.pipeline import prepare_training_corpus


@pytest.fixture()
def corpus(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away. " * 3
    rows = []
    for i in range(40):
        rows.append((i, good + f"unique tail number {i}", "web"))
    rows.append((100, good + "unique tail number 0", "web"))       # exact dup of doc 0
    rows.append((101, good + "unique tail number 1 extra", "web")) # near dup of doc 1
    rows.append((102, "x", "web"))                                  # fails quality (too short)
    rows.append((103, "le renard brun rapide saute par dessus le chien paresseux et court tres loin maintenant " * 4, "web"))  # non-English
    rows.append((104, good + "contact me at alice@example.com now please", "mail"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_pipeline_full_sequence(spark, corpus):
    eval_docs = spark.createDataFrame(
        [(0, "unique tail number 7 " * 2)], "doc_id long, text string"
    )
    out, stats = prepare_training_corpus(
        corpus,
        langs=["en"],
        near_dup=True,
        jaccard_threshold=0.9,
        eval_docs=eval_docs,
        collect_stats=True,
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}

    assert 102 not in ids          # quality-filtered
    assert 103 not in ids          # language-filtered
    assert 100 not in ids and 0 in ids   # exact dup dropped, keeper stays
    assert 7 not in ids            # decontaminated (shares eval 4-grams)
    assert 1 in ids                # near-dup keeper survives
    # near-dup of doc 1 dropped at 0.9 jaccard
    assert 101 not in ids
    # PII redacted, not dropped
    t104 = out.filter(F.col("doc_id") == 104).first()["text"]
    assert "alice@example.com" not in t104 and 104 in ids
    # stats shrink monotonically through the recorded stages
    order = ["input", "language", "quality", "exact_dedup", "near_dup", "decontaminated"]
    vals = [stats[s] for s in order]
    assert vals == sorted(vals, reverse=True)
    assert stats["input"] == 45


def test_pipeline_token_budget_per_source(spark, corpus):
    out, _ = prepare_training_corpus(
        corpus,
        near_dup=False,
        redact_pii=False,
        max_tokens_per_source=200,
    )
    per_source = {
        r["source"]: r["n"]
        for r in out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # ~42 tokens/doc -> at most 4 docs per source fit a 200-token budget
    assert per_source.get("web", 0) <= 4
    # budget keeps the LOWEST doc_ids (deterministic cumulative order)
    kept_web = sorted(
        r["doc_id"] for r in out.filter(F.col("source") == "web").collect()
    )
    assert kept_web == list(range(len(kept_web)))


def test_pipeline_lazy_without_stats(spark, corpus):
    out, stats = prepare_training_corpus(corpus, near_dup=False)
    assert stats == {}
    assert out.count() > 0


def test_pipeline_reliable_checkpoint(spark, corpus, tmp_path):
    """checkpoint='auto' promotes to reliable when a checkpoint dir is
    configured: the iterative stages (MinHash signatures, CC labels) write
    RDD checkpoint files to the directory — the cluster-survivable mode —
    and the result matches the local-checkpoint run exactly."""
    baseline, _ = prepare_training_corpus(
        corpus, near_dup=True, jaccard_threshold=0.9, checkpoint="local"
    )
    expected = {r["doc_id"] for r in baseline.select("doc_id").collect()}

    sc = spark.sparkContext
    ckpt_dir = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt_dir)
    try:
        out, _ = prepare_training_corpus(
            corpus, near_dup=True, jaccard_threshold=0.9
        )
        got = {r["doc_id"] for r in out.select("doc_id").collect()}
        assert got == expected
        # reliable mode actually hit the durable directory
        import glob
        assert glob.glob(f"{ckpt_dir}/*/rdd-*"), "no RDD checkpoint written"
    finally:
        sc._jsc.sc().setCheckpointDir(None)  # type: ignore[union-attr]


def test_pipeline_compression_floor_drops_template_spam(spark, corpus):
    """A planted ultra-repetitive doc falls below the zlib ratio floor
    while natural-prose docs survive."""
    spam = corpus.sparkSession.createDataFrame(
        [(200, "buy the item now " * 200, "web")], "doc_id long, text string, source string"
    )
    out, stats = prepare_training_corpus(
        corpus.unionByName(spam),
        near_dup=False,
        redact_pii=False,
        min_compression_ratio=0.06,
        collect_stats=True,
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 200 not in kept
    assert 0 in kept
    assert stats["compression_floor"] < stats["quality"]


def test_pipeline_segment_dedup_rewrites_shared_boilerplate(spark, corpus):
    """With the segment rewrite on, the shared 10-word boilerplate prefix
    survives in exactly one document; every doc keeps its unique tail."""
    out, _ = prepare_training_corpus(
        corpus,
        near_dup=False,
        redact_pii=False,
        segment_dedup=True,
        collect_stats=False,
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    with_prefix = [d for d, t in rows.items() if t.startswith("the quick brown")]
    assert len(with_prefix) == 1  # first occurrence only
    # every other doc keeps (at least) its distinct ragged-tail segment
    assert all(
        t.endswith(f"number {d}") for d, t in rows.items() if 1 <= d < 40
    )
    # schema preserved (source column still present)
    assert "source" in out.columns


def test_pipeline_chunking_emits_window_rows(spark, corpus):
    """chunk_tokens turns documents into overlapping window rows carrying
    provenance columns; stitching at stride boundaries rebuilds a doc."""
    out, _ = prepare_training_corpus(
        corpus,
        near_dup=False,
        redact_pii=False,
        chunk_tokens=20,
        chunk_stride=15,
    )
    assert {"chunk_id", "start_token", "n_tokens", "text", "doc_id", "source"} <= set(
        out.columns
    )
    d0 = (
        out.filter(F.col("doc_id") == 5)
        .orderBy("chunk_id")
        .collect()
    )
    assert len(d0) > 1
    assert [r["start_token"] for r in d0] == [15 * i for i in range(len(d0))]
    stitched = d0[0]["text"].split()
    for r in d0[1:]:
        stitched += r["text"].split()[20 - 15:]
    full = " ".join(stitched)
    assert full.endswith("unique tail number 5")


def test_pipeline_near_dup_failure_leaves_no_spark_job(spark, corpus, monkeypatch):
    """Fault injection: the near-dup stage raises while the overlapped
    decontamination job is running.  The error propagates, and the
    background job has been cancelled or awaited — no orphaned Spark job
    is left running behind the failed call."""
    import time

    from pr2_transformation_spark.functions import dedup

    sc = spark.sparkContext

    def boom(*args, **kwargs):
        # fire only once the background gram job is on the cluster
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getActiveJobsIds():
            assert time.monotonic() < deadline, "decontamination job never started"
            time.sleep(0.005)
        raise RuntimeError("injected near-dup failure")

    monkeypatch.setattr(dedup, "near_dup_pairs_minhash", boom)
    eval_docs = spark.createDataFrame(
        [(0, "unique tail number 7 " * 2)], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="injected near-dup failure"):
        prepare_training_corpus(
            corpus, near_dup=True, eval_docs=eval_docs, checkpoint="local"
        )
    # job-end events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
