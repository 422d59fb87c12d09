"""End-to-end training-corpus preparation — the operator families composed
the way a real pre-training data job runs them.

One call chains the hygiene passes this engine provides piecemeal:

    language filter -> quality rules -> PII redaction -> exact dedup ->
    near-dup removal (MinHash-LSH + transitive clusters) ->
    decontamination vs a held-out eval set -> per-source token budget

Every stage is a pure DataFrame transformation (lazily composed — one
Spark plan unless stats are requested), each individually oracle-checked
or unit-tested elsewhere; this module only sequences them, so the whole
pipeline inherits the per-operator scale posture (bucketed candidate
generation, broadcast eval grams, hash-keyed shuffles).  No reference
analogue (the reference pipeline is survey-ETL); cited in SURVEY.md §2.12
EXT as the training-data composition layer.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions import dedup, textstats
from .operators.graph import dedup_clusters

__all__ = ["prepare_training_corpus"]


def _contaminated_ids(
    docs: DataFrame, eval_docs: DataFrame, text_col: str, id_col: str, n: int = 4
) -> DataFrame:
    """ids of training docs sharing any exact word n-gram with the eval set
    (GPT-3-appendix-C-style decontamination).  The eval gram set is tiny by
    contract, so it broadcasts — the training side never shuffles."""
    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        # materialize the token array in its own projection (the slices
        # below reference it n times), then explode_outer + IS NOT NULL
        # ≡ explode minus the inferred size-filter that would inline
        # the gram assembly twice into the scan Filter (r10, guide §7.2)
        toked = df.select(
            *cols,
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__t"),
        )
        toks = F.col("__t")
        m = F.size(toks)
        length = F.greatest(m - (n - 1), F.lit(0))
        g = F.slice(toks, 1, length)
        for j in range(1, n):
            g = F.zip_with(
                g,
                F.slice(toks, 1 + j, length),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        kept = [F.col(id_col)] if keep_id else []
        return toked.select(
            *kept, F.explode_outer(F.array_distinct(g)).alias("__gram")
        ).filter(F.col("__gram").isNotNull())

    eval_grams = F.broadcast(grams(eval_docs, keep_id=False).distinct())
    return (
        grams(docs, keep_id=True)
        .join(eval_grams, "__gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def prepare_training_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: Optional[str] = "source",
    langs: Optional[list[str]] = None,
    quality_rules: Optional[dict] = None,
    redact_pii: bool = True,
    near_dup: bool = True,
    jaccard_threshold: float = 0.5,
    eval_docs: Optional[DataFrame] = None,
    max_tokens_per_source: Optional[int] = None,
    collect_stats: bool = False,
    hasher: str = "xxhash64",
    min_compression_ratio: Optional[float] = None,
    segment_dedup: bool = False,
    segment_tokens: int = 10,
    chunk_tokens: Optional[int] = None,
    chunk_stride: Optional[int] = None,
    checkpoint: str = "auto",
) -> tuple[DataFrame, dict]:
    """Run the standard pre-training hygiene sequence over ``docs``.

    Returns ``(clean_df, stats)``.  ``stats`` maps stage -> surviving row
    count and is only populated when ``collect_stats=True`` (each count is
    an extra job; leave it off in production and read the final count from
    the sink).  Stage order follows the usual cost gradient: cheap
    scan-side filters first, the shuffling dedup passes on the reduced
    corpus, decontamination and budget trims last.

    ``checkpoint`` selects how the iterative stages (MinHash signatures,
    connected-component labels) materialize intermediates — ``"local"`` /
    ``"reliable"`` / ``None`` as in ``checkpointing.checkpoint_frame``, or
    the default ``"auto"``: reliable when the session has a checkpoint
    directory configured, local otherwise.  On a real multi-executor
    cluster set a checkpoint dir (object store) so one lost executor
    can't invalidate every iteration's blocks mid-pipeline.
    """
    if checkpoint == "auto":
        sc = docs.sparkSession.sparkContext
        checkpoint = "reliable" if sc.getCheckpointDir() else "local"

    stats: dict[str, int] = {}

    def note(stage: str, df: DataFrame) -> DataFrame:
        if collect_stats:
            stats[stage] = df.count()
        return df

    out = note("input", docs)

    if langs is not None:
        out = note(
            "language",
            out.filter(textstats.language_guess(F.col(text_col)).isin(*langs)),
        )
    out = note(
        "quality", out.filter(textstats.quality_pass(F.col(text_col), quality_rules))
    )
    if redact_pii:
        out = out.withColumn(text_col, textstats.redact_pii(F.col(text_col)))

    if min_compression_ratio is not None:
        # zlib-repetitiveness floor: template spam compresses far below
        # natural prose (functions/scoring.compression_ratio); runs after
        # the cheap rule filters, before any shuffle touches the corpus
        from .functions.scoring import compression_ratio

        scored = compression_ratio(out, text_col=text_col, id_col=id_col)
        out = note(
            "compression_floor",
            scored.filter(
                F.col("compression_ratio") >= min_compression_ratio
            ).drop("n_bytes", "n_compressed", "compression_ratio"),
        )

    out = note(
        "exact_dedup",
        dedup.exact_dedup_by_hash(out, [text_col], id_col, hasher=hasher),
    )

    decon_base: Optional[DataFrame] = None
    bad_future = None
    if near_dup:
        # materialize the exact-dedup output ONCE (r10, guide §1.2):
        # it feeds the MinHash signature build, the keeper semi-join,
        # AND the downstream decontamination grams — each arm
        # otherwise re-runs the scan + quality filter + dedup window
        from .checkpointing import checkpoint_frame

        out = checkpoint_frame(out, checkpoint)
        if not segment_dedup:
            # decontamination folds into the keeper join below (r11,
            # guide §2.4 / VERDICT r10 item 3): a doc's contaminated
            # verdict depends only on ITS OWN text vs the eval grams,
            # so computing it over the pre-keeper checkpoint instead
            # of the keeper-joined frame decides identically for every
            # surviving doc — and the gram arm then reads the
            # checkpoint directly instead of re-running the keeper
            # semi-join inside its own subtree.  segment_dedup rewrites
            # the text in between, so the fold only applies without it.
            decon_base = out
        if decon_base is not None and eval_docs is not None and checkpoint:
            # overlap the (independent) decontamination gram job with
            # the iterative near-dup rounds (guide §2.6): the gram
            # scan's tasks back-fill executors left idle by the CC
            # loop's driver round-trips.  Job descriptions/locality are
            # thread-local, so the concurrent job labels correctly.
            from concurrent.futures import ThreadPoolExecutor

            from .checkpointing import checkpoint_frame as _ckpt

            _bad = _contaminated_ids(decon_base, eval_docs, text_col, id_col)
            _pool = ThreadPoolExecutor(max_workers=1)
            bad_future = _pool.submit(_ckpt, _bad, checkpoint)
            _pool.shutdown(wait=False)
        try:
            pairs = dedup.near_dup_pairs_minhash(
                out,
                text_col=text_col,
                id_col=id_col,
                threshold=jaccard_threshold,
                hasher=hasher,
                checkpoint=checkpoint,
            )
            keep = dedup_clusters(
                pairs, out.select(id_col), id_col, "id_a", "id_b",
                checkpoint=checkpoint,
            ).filter(F.col("keep")).select(F.col("id").alias(id_col))
            out = note("near_dup", out.join(keep, id_col, "left_semi"))
        except BaseException:
            # never leave the gram job running behind a failed call:
            # cancel it if it has not started, else wait for it (its
            # own outcome is irrelevant — the near-dup error wins)
            if bad_future is not None and not bad_future.cancel():
                bad_future.exception()
            raise

    if segment_dedup:
        # C4-style cross-document segment rewrite: each distinct
        # segment_tokens-word window survives only at its first global
        # occurrence; fully-claimed docs drop (dedup.segment_dedup_rewrite)
        rewritten = dedup.segment_dedup_rewrite(
            out.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            segment_tokens=segment_tokens,
            hasher=hasher,
        ).select(F.col(id_col), F.col(text_col).alias("__seg_text"))
        out = note(
            "segment_dedup",
            out.drop(text_col)
            .join(rewritten, id_col)
            .withColumnRenamed("__seg_text", text_col),
        )

    if eval_docs is not None:
        if bad_future is not None:
            bad = bad_future.result()
        else:
            bad = _contaminated_ids(
                decon_base if decon_base is not None else out,
                eval_docs, text_col, id_col)
        out = note("decontaminated", out.join(bad, id_col, "left_anti"))

    if max_tokens_per_source is not None:
        if source_col is None:
            raise ValueError("max_tokens_per_source requires source_col")
        w = (
            Window.partitionBy(source_col)
            .orderBy(F.col(id_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = note(
            "token_budget",
            out.withColumn("__cum", F.sum(textstats.token_count(F.col(text_col))).over(w))
            .filter(F.col("__cum") <= max_tokens_per_source)
            .drop("__cum"),
        )

    if chunk_tokens is not None:
        # context-window chunking LAST — downstream stages reason about
        # documents; the packer consumes chunks (textstats.chunk_documents)
        stride = chunk_stride if chunk_stride is not None else chunk_tokens
        keep_cols = [c for c in out.columns if c not in (text_col,)]
        chunks = textstats.chunk_documents(
            out.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            chunk_tokens=chunk_tokens,
            stride=stride,
        )
        out = note(
            "chunked",
            chunks.join(out.select(*keep_cols), id_col).select(
                *keep_cols, "chunk_id", "start_token", "n_tokens",
                F.col("chunk_text").alias(text_col),
            ),
        )

    return out, stats
