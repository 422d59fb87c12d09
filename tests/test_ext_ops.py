"""Tests for EXT operators added beyond the reference surface: IVF
similarity search and skew-aware salted joins."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pr2_transformation_spark.functions import similarity
from pr2_transformation_spark.operators.joins import salted_join


def _vectors(spark, n=60, dim=8):
    rows = []
    for i in range(n):
        # three well-separated clusters along different axes
        base = [0.0] * dim
        base[i % 3] = 10.0
        vec = [b + ((i * 7 + j * 3) % 5) * 0.1 for j, b in enumerate(base)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_matches_bruteforce_with_full_probe(spark):
    """With n_probe == n_centroids IVF scores every cell => exact top-k."""
    emb = _vectors(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = similarity.cosine_topk_bruteforce(corpus, queries, k=5)
    ivf = similarity.cosine_topk_ivf(
        corpus, queries, k=5, n_centroids=4, n_probe=4
    )
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, ivf.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, exact.collect()), key=lambda t: (t[0], t[3])
    )


def test_ivf_partial_probe_recall(spark):
    """n_probe=1 on clustered data still recovers same-cluster neighbors."""
    emb = _vectors(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    ivf = similarity.cosine_topk_ivf(corpus, queries, k=5, n_centroids=3, n_probe=1)
    got = ivf.collect()
    assert len(got) == 15  # 3 queries x k
    # every returned neighbor shares the query's cluster (axis mod 3)
    for r in got:
        assert r["vec_id"] % 3 == r["query_id"] % 3
        assert r["score"] > 0.9


def test_salted_join_equals_plain_join(spark):
    skewed = spark.createDataFrame(
        [(1 if i % 10 else 2, f"v{i}") for i in range(200)], "k int, payload string"
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "k int, name string")
    plain = sorted(map(tuple, skewed.join(dim, ["k"], "inner").collect()))
    salted = sorted(map(tuple, salted_join(skewed, dim, ["k"], "inner", salt=8).collect()))
    assert salted == plain


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (9, "b")], "k int, v string")
    dim = spark.createDataFrame([(1, "one")], "k int, name string")
    got = sorted(map(tuple, salted_join(left, dim, ["k"], "left", salt=4).collect()))
    assert got == [(1, "a", "one"), (9, "b", None)]


def test_lsh_recall_against_bruteforce(spark):
    """Hyperplane LSH with few planes keeps recall high on clustered data."""
    emb = _vectors(spark, n=90)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_bruteforce(corpus, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_lsh(
            corpus, queries, k=5, n_planes=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f} below floor"


def test_exact_dedup_by_hash_matches_window_dedup(spark):
    from pyspark.sql import functions as F

    from pr2_transformation_spark.functions.dedup import exact_dedup, exact_dedup_by_hash

    df = spark.createDataFrame(
        [(i, f"text-{i % 7}", f"src-{i % 3}") for i in range(100)],
        "doc_id long, text string, source string",
    )
    a = sorted(map(tuple, exact_dedup(df, ["text", "source"], "doc_id").collect()))
    b = sorted(map(tuple, exact_dedup_by_hash(df, ["text", "source"], "doc_id").collect()))
    assert a == b
    assert len(a) == 21  # 7 texts x 3 sources


def test_asof_join_backward_semantics(spark):
    from pyspark.sql import functions as F

    from pr2_transformation_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 300), (4, 11, 150), (5, 12, 100)],
        "id long, k long, t long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b"), (10, 205, "c"), (11, 160, "d")],
        "k long, t long, payload string",
    )
    out = {
        r["id"]: r["payload"]
        for r in asof_join(left, right, ["k"], "t", ["payload"]).collect()
    }
    assert out[1] == "a"      # exact-timestamp tie matches (<=)
    assert out[2] == "c"      # latest at equal ts wins over earlier
    assert out[3] == "c"      # carries forward
    assert out[4] is None     # right row is in the future
    assert out[5] is None     # no right rows for this key


def test_zscore_applyinpandas_matches_window(spark):
    from pyspark.sql import functions as F

    from pr2_transformation_spark.functions.scoring import (
        zscore_apply_in_pandas,
        zscore_window,
    )

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float((i * 37) % 101)) for i in range(120)]
        + [(200, "solo", 5.0)],  # single-row group -> NULL zscore
        "id long, g string, v double",
    )
    a = {
        r["id"]: (None if r["zscore"] is None else round(r["zscore"], 6))
        for r in zscore_window(df, ["g"], "v").collect()
    }
    b = {
        r["id"]: (None if r["zscore"] is None else round(r["zscore"], 6))
        for r in zscore_apply_in_pandas(df, ["g"], "v").collect()
    }
    assert a == b
    assert a[200] is None


def test_duplicate_stats_hash_matches_exact(spark):
    from pr2_transformation_spark.functions.dedup import (
        duplicate_stats,
        duplicate_stats_by_hash,
    )

    df = spark.createDataFrame(
        [(i, f"text-{i % 13}") for i in range(300)], "id long, text string"
    )
    exact = duplicate_stats(df, ["text"]).collect()[0]
    hashed = duplicate_stats_by_hash(df, ["text"]).collect()[0]
    portable = duplicate_stats_by_hash(df, ["text"], hasher="md5").collect()[0]
    assert tuple(exact) == tuple(hashed) == tuple(portable) == (300, 13, 287)


def test_connected_components_known_graph(spark):
    """Two multi-edge components + transitive link + a disconnected pair:
    labels must be the min reachable id, including across indirect hops.
    String vertex ids (hash-based corpus doc ids) label by the string
    ordering's minimum, with no cast to long."""
    from pr2_transformation_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3), (10, 11), (5, 5), (20, 21), (21, 20)],
        "src long, dst long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    # 5 only appears in a self-loop -> dropped from the vertex set entirely.
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    edges = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_b", "doc_c"), ("doc_x", "doc_y")],
        "src string, dst string",
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {
        "doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a",
        "doc_x": "doc_x", "doc_y": "doc_x",
    }


def test_connected_components_round_aggregates_neighbours_once(
        spark, monkeypatch):
    """Each round's plans hold exactly one neighbour aggregate: the
    pointer jump reads the checkpointed neighbour minimum instead of
    planning the neighbour join a second time (column pruning makes the
    two copies differ, so exchange reuse would not merge them)."""
    from pr2_transformation_spark.operators import graph

    plans = []
    real = graph.checkpoint_frame

    def spy(df, mode, eager=True):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, mode, eager)

    monkeypatch.setattr(graph, "checkpoint_frame", spy)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long")
    graph.connected_components(edges).collect()
    # the edge list and the initial labels, then two frames per round
    rounds = plans[2:]
    assert rounds and len(rounds) % 2 == 0
    aggs = [line for p in rounds for line in p.splitlines()
            if "HashAggregate" in line and "partial_min(comp" in line]
    assert len(aggs) == len(rounds) // 2


def test_connected_components_long_chain_converges(spark):
    """Paths need multiple propagation rounds; the label must still reach
    the far end (exercises the iteration/checkpoint loop).  The 200-vertex
    chain has a diameter far above the 25-round bound, so it converges
    only because the pointer jump closes O(2^round) hops per round."""
    from pr2_transformation_spark.operators.graph import connected_components

    for n in (20, 200):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )
        got = connected_components(edges)
        assert got.count() == n + 1
        assert got.agg(F.count_distinct("comp")).collect()[0][0] == 1
        assert got.filter(F.col("comp") != 0).count() == 0


def test_dedup_clusters_keeps_min_and_singletons(spark):
    from pr2_transformation_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame(
        [(7, 3), (3, 9)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 3, 7, 9]], "doc_id long")
    got = {r["id"]: (r["cluster"], r["keep"]) for r in
           dedup_clusters(pairs, ids, "doc_id", "id_a", "id_b").collect()}
    assert got == {1: (1, True), 3: (3, True), 7: (3, False), 9: (3, False)}

    # string ids: the singleton keeps itself, the cluster keeps its min
    pairs = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_b", "doc_c"), ("doc_x", "doc_y")],
        "src string, dst string",
    )
    ids = spark.createDataFrame(
        [("doc_a",), ("doc_b",), ("doc_c",), ("doc_x",), ("doc_y",), ("solo",)],
        "doc_id string",
    )
    got = {r["id"]: (r["cluster"], r["keep"]) for r in
           dedup_clusters(pairs, ids, "doc_id", "src", "dst").collect()}
    assert got == {
        "doc_a": ("doc_a", True), "doc_b": ("doc_a", False),
        "doc_c": ("doc_a", False), "doc_x": ("doc_x", True),
        "doc_y": ("doc_x", False), "solo": ("solo", True),
    }


def _union_find_components(edges):
    """Pure-Python reference: id -> min id of its undirected component,
    over the vertices of non-self-loop edges (the operator's contract)."""
    parent = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    """Hypothesis: on random edge lists over <= 60 vertices — self-loops,
    duplicate edges and both edge directions included — the labels equal
    a pure-Python union-find's component minimum, for long and string
    vertex ids alike."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from pr2_transformation_spark.operators.graph import connected_components

    vertex = st.integers(min_value=0, max_value=59)

    @settings(max_examples=12, deadline=None)
    @given(st.lists(st.tuples(vertex, vertex), min_size=1, max_size=90),
           st.booleans())
    @example([(3, 3), (4, 4)], False)  # self-loops only: no vertices
    @example([(9, 8), (8, 9), (9, 8), (10, 7), (7, 8)], True)
    def check(edges, as_string):
        if as_string:
            # unpadded, so string order differs from int order
            # ("v7" > "v10"): the min must follow the column's ordering
            edges = [(f"v{a}", f"v{b}") for a, b in edges]
            schema = "src string, dst string"
        else:
            schema = "src long, dst long"
        got = {r["id"]: r["comp"] for r in connected_components(
            spark.createDataFrame(edges, schema)).collect()}
        assert got == _union_find_components(edges)

    check()


def test_approx_distinct_accuracy(spark):
    """Default HLL++ rsd is 0.05; hold the estimate to 3 sigma, and a
    tightened-rsd sketch to 3 sigma of its own (smaller) bound."""
    df = spark.range(0, 20000).select(
        (F.col("id") % 4999).alias("k"), F.col("id")
    )
    row = df.agg(
        F.approx_count_distinct("k").alias("approx"),
        F.approx_count_distinct("k", 0.01).alias("approx_tight"),
        F.count_distinct("k").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.15
    assert abs(row["approx_tight"] - row["exact"]) / row["exact"] < 0.03


def test_quality_rules_flag_reasons(spark):
    """Each Gopher-style rule fires on the document shaped to break it."""
    from pr2_transformation_spark.functions import textstats

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on one of the mats, quietly."),
            (2, "tiny"),  # under min_tokens
            (3, "!!! ??? ;;; ,,, ... !!!"),  # punctuation soup
            (4, "supercalifragilistic pneumonoultramicroscopic " * 5),  # long tokens
        ],
        "doc_id long, text string",
    )
    flags = textstats.quality_rule_columns(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            textstats.quality_pass(F.col("text")).alias("keep"),
            *[c.alias(n) for n, c in flags.items()],
        ).collect()
    }
    assert out[1]["keep"]
    assert not out[2]["keep"] and not out[2]["pass_token_count"]
    assert not out[3]["keep"] and not out[3]["pass_punct_ratio"]
    assert not out[4]["keep"] and not out[4]["pass_avg_token_len"]


def test_redact_pii_masks_and_counts(spark):
    from pr2_transformation_spark.functions import textstats

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call 555-867-5309."),
        (2, "ssn 123-45-6789 appears once; phone 555.123.4567 too"),
        (3, "clean text, no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = textstats.pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textstats.redact_pii(F.col("text")).alias("red"),
            *[c.alias(k) for k, c in counts.items()],
        ).collect()
    }
    assert "[EMAIL]" in out[1]["red"] and "jane" not in out[1]["red"]
    assert "[PHONE]" in out[1]["red"] and "5309" not in out[1]["red"]
    assert (out[1]["email"], out[1]["phone"], out[1]["ssn"]) == (1, 1, 0)
    assert "[SSN]" in out[2]["red"] and "6789" not in out[2]["red"]
    assert (out[2]["email"], out[2]["phone"], out[2]["ssn"]) == (0, 1, 1)
    assert out[3]["red"] == rows[2][1]
    assert (out[3]["email"], out[3]["phone"], out[3]["ssn"]) == (0, 0, 0)


def test_deterministic_sample_stable_under_repartition(spark):
    from pr2_transformation_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    a = sorted(r["k"] for r in deterministic_sample(df, "k", 0.3).collect())
    b = sorted(
        r["k"]
        for r in deterministic_sample(df.repartition(17, "k"), "k", 0.3).collect()
    )
    assert a == b, "membership must be a pure function of the key"
    assert 0.25 < len(a) / 5000 < 0.35


def test_assign_splits_partition_exactly(spark):
    from pr2_transformation_spark.operators.sampling import assign_splits

    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    out = assign_splits(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 5000  # every row in exactly one split
    assert 0.75 < counts["train"] / 5000 < 0.85
    with pytest.raises(ValueError, match="sum to 1"):
        assign_splits(df, "k", {"train": 0.5, "val": 0.1})


def test_stratified_sample_rates_and_drops(spark):
    from pr2_transformation_spark.operators.sampling import stratified_sample

    df = spark.range(0, 6000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("fr")
        .alias("lang"),
    )
    out = stratified_sample(df, "k", "lang", {"en": 0.1, "de": 1.0})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "fr" not in counts, "strata without a fraction are dropped"
    assert counts["de"] == 2000, "fraction 1.0 keeps everything"
    assert 120 < counts["en"] < 280


def test_z_value_interleaves_bits(spark):
    from pr2_transformation_spark.operators.zorder import z_value

    df = spark.createDataFrame(
        [(0, 0), (3, 1), (1, 3), (7, 7)], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(z_value(F.col("x"), F.col("y"), 3).alias("z"))
        .orderBy("x", "y")
        .collect()
    ]
    # hand-interleaved: z(0,0)=0; z(1,3)=0b1011=11; z(3,1)=0b0111=7; z(7,7)=63
    assert got == [0, 11, 7, 63]
    with pytest.raises(ValueError, match="bits"):
        z_value(F.col("x"), F.col("y"), 40)


def test_zorder_layout_bounds_both_columns(spark):
    """On a 64x64 grid split into 16 shards, z-ordered shards must bound
    BOTH coordinates: mean bounding-box area well under the x-sorted
    layout's (which leaves y unbounded)."""
    from pr2_transformation_spark.operators.zorder import zorder_frame

    grid = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def extents(df, order_col):
        return (
            df.repartitionByRange(16, F.col(order_col))
            .sortWithinPartitions(order_col)
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("x") - F.min("x") + 1).alias("dx"),
                (F.max("y") - F.min("y") + 1).alias("dy"),
            )
            .agg(F.max("dx").alias("dx"), F.max("dy").alias("dy"))
            .collect()[0]
        )

    z = extents(zorder_frame(grid, "x", "y", bits=6), "_z")
    x = extents(grid.withColumn("_z", F.col("x")), "_z")
    # Lexicographic x-sort: tight on x, y completely unbounded (no shard
    # can ever be pruned by a y predicate). Z-order bounds BOTH dims: the
    # 16 shards are ~16x16 quadrant tiles.
    assert x["dy"] == 64
    assert z["dx"] <= 16 and z["dy"] <= 16


def test_heavy_hitters_exact_on_skewed_data(spark):
    """MG candidate pass + exact verify == plain groupBy/HAVING, and the
    per-partition summary honors its capacity bound."""
    from pr2_transformation_spark.functions.sketches import (
        _misra_gries_partition,
        heavy_hitters,
    )
    import pandas as pd

    n = 30000
    df = spark.range(0, n).select(
        F.when(F.col("id") % 3 == 0, F.concat(F.lit("hot"), (F.col("id") % 2).cast("string")))
        .otherwise(F.col("id").cast("string"))
        .alias("v")
    ).repartition(8)

    got = {r["value"]: r["n"] for r in heavy_hitters(df, "v", support=0.1).collect()}
    want = {
        r["v"]: r["n"]
        for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 0.1 * n).collect()
    }
    assert got == want and set(got) == {"hot0", "hot1"}

    # capacity bound: one partition with 1000 distinct values, cap 10
    batches = iter([pd.DataFrame({"v": [str(i) for i in range(1000)]})])
    (summary,) = _misra_gries_partition(batches, "v", 10)
    assert len(summary) <= 10

    with pytest.raises(ValueError, match="support"):
        heavy_hitters(df, "v", support=1.5)


def test_approx_quantiles_within_rank_tolerance(spark):
    """q97's GK sketch guarantees RANK error (<= n/accuracy), not value
    error — so each approx quartile must lie between the exact quantiles
    at p +/- 0.02 (generous: the sketch's own bound at this size is ~1
    rank)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    approx = {
        r["o_orderpriority"]: r["price_quartiles"]
        for r in entrymod.q97_approx_quantiles(spark, sf).collect()
    }
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    ps = [0.23, 0.25, 0.27, 0.48, 0.50, 0.52, 0.73, 0.75, 0.77]
    exact = {
        r["o_orderpriority"]: r["q"]
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.expr(
                f"percentile(o_totalprice, array({', '.join(map(str, ps))}))"
            ).alias("q")
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for grp, qs in approx.items():
        for i, a in enumerate(qs):
            lo, hi = exact[grp][3 * i], exact[grp][3 * i + 2]
            assert lo <= a <= hi, (grp, a, lo, hi)


def test_semantic_dedup_keeper_invariants(spark):
    """SemDeDup keep/drop decisions: every vector is assigned exactly one
    cluster, the lowest id in every cluster is always kept (it can have no
    lower-id neighbor), and a dropped vector really has a kept-or-dropped
    lower-id neighbor above threshold in its own cluster."""
    from pr2_transformation_spark.functions.similarity import (
        cosine,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dedup(emb, n_seed_centroids=4, threshold=0.25).cache()

    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()

    # Minimum id per cluster must be kept.
    min_ids = out.groupBy("cluster").agg(F.min("vec_id").alias("vec_id"))
    not_kept_min = out.join(min_ids, ["cluster", "vec_id"]).filter(~F.col("keep"))
    assert not_kept_min.count() == 0

    # Every dropped vector has a lower-id same-cluster neighbor >= threshold.
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    labeled = out.join(v, "vec_id")
    a, b = labeled.alias("a"), labeled.alias("b")
    witnesses = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(cosine(F.col("a.v"), F.col("b.v")), 4) >= 0.25)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    dropped = out.filter(~F.col("keep")).select("vec_id")
    assert dropped.exceptAll(witnesses).count() == 0
    assert witnesses.exceptAll(dropped).count() == 0


def test_vectorized_bruteforce_matches_expression_form(spark):
    """The Arrow/numpy brute-force top-k returns the same (query, id, rank)
    set and equal rounded scores as the HOF-expression form."""
    from pr2_transformation_spark.functions.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_bruteforce_pandas,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    a = cosine_topk_bruteforce(corpus, queries, k=5)
    b = cosine_topk_bruteforce_pandas(corpus, queries, k=5)
    rows_a = {(r["query_id"], r["vec_id"]): (r["rank"], r["score"]) for r in a.collect()}
    rows_b = {(r["query_id"], r["vec_id"]): (r["rank"], r["score"]) for r in b.collect()}
    assert set(rows_a) == set(rows_b)
    for key, (rank_a, score_a) in rows_a.items():
        rank_b, score_b = rows_b[key]
        assert rank_a == rank_b
        assert abs(score_a - score_b) <= 1e-4


def test_ann_query_collect_guard_fails_fast(spark):
    """The Arrow ANN paths collect the query frame to the driver; an
    oversized query frame must fail fast with an actionable error, and
    the guard must not scan past max_query_rows+1 rows (limit-bounded)."""
    import pytest as _pytest

    from pr2_transformation_spark.functions.similarity import (
        cosine_topk_bruteforce_pandas,
        cosine_topk_lsh_pandas,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"), "embedding")
    corpus = emb
    for fn in (cosine_topk_bruteforce_pandas, cosine_topk_lsh_pandas):
        with _pytest.raises(ValueError, match="max_query_rows"):
            fn(corpus, queries, k=3, max_query_rows=5)
    # at or under the cap still works
    out = cosine_topk_bruteforce_pandas(corpus, queries, k=3, max_query_rows=10)
    assert out.count() == 30


def test_winnowing_pairs_catch_shared_runs(spark):
    """Two documents sharing a >= k+w-1 token run must share at least one
    fingerprint (the winnowing guarantee); unrelated documents with
    disjoint vocabularies share none."""
    from pr2_transformation_spark.functions.dedup import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "fully disjoint tokens nothing in common here at all friend"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnowing_fingerprints(docs, k=5, w=4)
    f1 = {r["fingerprint"] for r in fp.filter("doc_id = 1").collect()}
    f2 = {r["fingerprint"] for r in fp.filter("doc_id = 2").collect()}
    f3 = {r["fingerprint"] for r in fp.filter("doc_id = 3").collect()}
    assert f1 & f2, "winnowing guarantee violated: shared run, no shared fingerprint"
    assert not (f1 & f3) and not (f2 & f3)

    pairs = winnowing_pairs(docs, k=5, w=4, min_shared=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_semantic_dedup_default_centroids_scale_with_corpus():
    """The default centroid count follows the SemDeDup √N rule, so expected
    cluster size (N/k ≈ √N) — and with it the cluster-local quadratic pair
    work — stays bounded relative to corpus growth: a 4x corpus gets 2x the
    clusters, not 1x."""
    import math

    from pr2_transformation_spark.functions.similarity import semantic_dedup
    from pr2_transformation_spark.session import build_session

    spark = build_session("test-semdedup-scale", master="local[4]", shuffle_partitions=4)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    emb4 = emb
    for shift in (1, 2, 3):
        emb4 = emb4.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(shift * n))
        )

    out1 = semantic_dedup(emb, threshold=0.25)
    out4 = semantic_dedup(emb4, threshold=0.25)
    k1 = out1.agg(F.max("cluster")).first()[0]
    k4 = out4.agg(F.max("cluster")).first()[0]
    # clusters are the first k ids; max assigned cluster id < k == max(8, √N)
    assert k1 < max(8, int(math.sqrt(n)))
    assert k4 < max(8, int(math.sqrt(4 * n)))
    # the derived k itself doubled with the 4x corpus (√N scaling).
    assert max(8, int(math.sqrt(4 * n))) == 2 * max(8, int(math.sqrt(n)))


def test_estimated_scan_partitions_matches_actual_for_tiny_scan(spark, tmp_path):
    """Estimator path: a tiny local parquet scan estimates <= cores
    partitions without touching df.rdd, agreeing with the exact count
    closely enough for the guard's purpose; non-scan frames fall back
    (return None) instead of guessing."""
    from pr2_transformation_spark.functions.dedup import (
        _estimated_scan_partitions,
        ensure_parallelism,
    )

    path = str(tmp_path / "tiny.parquet")
    spark.range(100).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    est = _estimated_scan_partitions(df)
    assert est is not None
    assert est <= spark.sparkContext.defaultParallelism
    # the guard repartitions the tiny scan up to cores
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    # in-memory frame: no input files -> estimator declines, no crash
    assert _estimated_scan_partitions(spark.range(10)) is None
    # already-parallel frame: guard is a no-op object-wise
    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism)
    assert ensure_parallelism(wide) is wide


def test_max_posting_prunes_boilerplate_shingles(spark):
    """Index-pruning lever: with a posting cap, pairs related ONLY through
    an ultra-common shingle disappear and surviving pairs' jaccard is
    computed over discriminating shingles; with the default (None) the
    exact-oracle semantics are unchanged."""
    from pr2_transformation_spark.functions.dedup import (
        ngram_jaccard_pairs,
        winnowing_pairs,
    )

    boiler = "all rights reserved by the example corporation"
    rows = [
        (1, f"alpha beta gamma delta epsilon {boiler}"),
        (2, f"alpha beta gamma delta epsilon {boiler}"),  # true near-dup of 1
        (3, f"zeta eta theta iota kappa {boiler}"),       # only boilerplate shared
        (4, f"zeta eta theta iota kappa {boiler}"),       # true near-dup of 3
        (5, "completely different text with nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = {(r.id_a, r.id_b) for r in
                ngram_jaccard_pairs(df, min_jaccard=0.01).collect()}
    capped = {(r.id_a, r.id_b) for r in
              ngram_jaccard_pairs(df, min_jaccard=0.01, max_posting=2).collect()}
    assert (1, 2) in capped and (3, 4) in capped  # real dups survive
    assert (1, 3) in uncapped and (1, 3) not in capped  # boilerplate-only pruned
    assert capped < uncapped

    wp_uncapped = {(r.id_a, r.id_b) for r in
                   winnowing_pairs(df, min_shared=1).collect()}
    wp_capped = {(r.id_a, r.id_b) for r in
                 winnowing_pairs(df, min_shared=1, max_posting=2).collect()}
    assert (1, 2) in wp_capped and (3, 4) in wp_capped
    assert wp_capped <= wp_uncapped
    assert (1, 3) not in wp_capped


def test_embedding_lsh_max_bucket_prunes_dense_clusters(spark):
    """Skew guard: with a bucket cap, pairs inside an oversized LSH bucket
    vanish while pairs in small buckets survive; default keeps everything."""
    import numpy as np

    from pr2_transformation_spark.functions.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    # 12 near-identical vectors (one dense bucket) + 2 isolated near-dups
    rows = [(i, (base + rng.normal(scale=1e-3, size=8)).tolist()) for i in range(12)]
    iso = rng.normal(size=8)
    rows += [(100, iso.tolist()), (101, (iso + 1e-4).tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    full = embedding_near_dup_pairs(df, threshold=0.99)
    capped = embedding_near_dup_pairs(df, threshold=0.99, max_bucket=4)
    full_pairs = {(r.id_a, r.id_b) for r in full.collect()}
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in full_pairs and (100, 101) in capped_pairs
    dense_full = {p for p in full_pairs if p[0] < 50}
    dense_capped = {p for p in capped_pairs if p[0] < 50}
    assert len(dense_full) > 0 and len(dense_capped) == 0


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized equivalence oracle: our union-trick backward as-of join
    must agree with pandas.merge_asof (allow_exact_matches=True,
    direction='backward') over random keys/timestamps, including
    duplicate timestamps within a group and keys absent from one side."""
    import numpy as np
    import pandas as pd

    from pr2_transformation_spark.operators.joins import asof_join

    rng = np.random.default_rng(11)
    left_pd = pd.DataFrame({
        "id": np.arange(300),
        "k": rng.integers(0, 8, 300),
        "t": rng.integers(0, 1000, 300),
    })
    right_pd = pd.DataFrame({
        "k": rng.integers(0, 6, 150),          # keys 6,7 missing on right
        "t": rng.integers(0, 1000, 150),
        "payload": [f"p{i}" for i in range(150)],
    })
    # pandas reference: sort by time; break right-side ties deterministically
    # (merge_asof takes the LAST among equal timestamps, as does ours via
    # the max-payload-at-max-t convention) — drop dup (k, t) keeping last.
    right_ref = (
        right_pd.sort_values(["t", "payload"])
        .drop_duplicates(["k", "t"], keep="last")
    )
    expected = pd.merge_asof(
        left_pd.sort_values("t"), right_ref.sort_values("t"),
        on="t", by="k", direction="backward", allow_exact_matches=True,
    ).set_index("id")["payload"].to_dict()

    left = spark.createDataFrame(left_pd)
    right = spark.createDataFrame(
        right_ref
    )
    got = {
        r["id"]: r["payload"]
        for r in asof_join(left, right, ["k"], "t", ["payload"]).collect()
    }
    norm = lambda v: None if (v is None or v != v) else v
    assert {k: norm(v) for k, v in expected.items()} == {k: norm(v) for k, v in got.items()}


def test_ensure_parallelism_post_shuffle_uses_exact_partitions(spark, tmp_path):
    """ensure_parallelism must not trust the file-size estimate for frames
    downstream of a shuffle — inputFiles() still reports the scan there, but
    the frame's real partitioning is the shuffle's (regression: a post-agg
    frame got a redundant repartition / skipped a needed one)."""
    from pr2_transformation_spark.functions.dedup import (
        _is_bare_scan,
        ensure_parallelism,
    )

    p = str(tmp_path / "t.parquet")
    # many files -> the file-size ESTIMATE reports >= 16 partitions
    spark.range(0, 1000).selectExpr("id", "id % 7 AS k").repartition(16).write.parquet(p)
    scan = spark.read.parquet(p).select("k", "id").filter("id >= 0")
    assert _is_bare_scan(scan)

    shuffled = spark.read.parquet(p).groupBy("k").count()
    assert not _is_bare_scan(shuffled)
    # The tiny aggregate's ACTUAL partitioning (AQE-coalesced, ~1) is far
    # below the 16-file scan estimate; trusting the estimate would skip the
    # needed repartition.  The exact path must add it.
    actual = shuffled.rdd.getNumPartitions()
    target = actual + 4
    out = ensure_parallelism(shuffled, min_partitions=target)
    assert "Repartition" in out._jdf.queryExecution().analyzed().toString()

    # bare-scan path: the file estimate answers without touching .rdd, and a
    # target at/below the estimate adds no repartition node
    from pr2_transformation_spark.functions.dedup import _estimated_scan_partitions

    est = _estimated_scan_partitions(scan)
    assert est is not None and est > 1
    same = ensure_parallelism(scan, min_partitions=est)
    assert "Repartition" not in same._jdf.queryExecution().analyzed().toString()


def test_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint='reliable' writes recovery state to the configured
    checkpoint dir and produces identical results to the local mode for
    minhash pairs, semantic dedup, and connected components; without a
    checkpoint dir it fails fast with a clear error."""
    import os

    from pr2_transformation_spark.checkpointing import checkpoint_frame
    from pr2_transformation_spark.functions.dedup import near_dup_pairs_minhash
    from pr2_transformation_spark.functions.similarity import semantic_dedup
    from pr2_transformation_spark.operators.graph import connected_components

    sc = spark.sparkContext
    prior = sc.getCheckpointDir()
    assert not prior, "test assumes no checkpoint dir configured by default"
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        checkpoint_frame(spark.range(3), "reliable")
    with pytest.raises(ValueError, match="unknown checkpoint mode"):
        checkpoint_frame(spark.range(3), "bogus")

    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {'epsilon' if i % 3 else 'zeta'} "
                 f"eta theta iota kappa {i % 4}") for i in range(24)],
            "doc_id long, text string",
        )
        for fn in (
            lambda ck: near_dup_pairs_minhash(
                docs, num_hashes=16, bands=4, threshold=0.3, checkpoint=ck
            ),
            lambda ck: semantic_dedup(
                spark.createDataFrame(
                    [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(20)],
                    "vec_id long, embedding array<float>",
                ),
                n_seed_centroids=4,
                checkpoint=ck,
            ),
            lambda ck: connected_components(
                spark.createDataFrame(
                    [(1, 2), (2, 3), (7, 8)], "src long, dst long"
                ),
                checkpoint=ck,
            ),
        ):
            local = sorted(map(tuple, fn("local").collect()))
            reliable = sorted(map(tuple, fn("reliable").collect()))
            assert local == reliable
        # reliable mode actually wrote recovery state to the directory
        found = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert found, "reliable checkpoint wrote nothing to the checkpoint dir"
    finally:
        sc.setCheckpointDir(None)


def test_semantic_dedup_ivf_full_probe_equals_flat(spark):
    """assignment='ivf' with n_probe >= coarse_cells probes every cell, so
    the result must be EXACTLY the flat assignment on any data (same score
    expression, same tie-break)."""
    from pr2_transformation_spark.functions.similarity import semantic_dedup

    rows = [(i, [float((i * 13 + j * 7) % 11) - 5.0 for j in range(8)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flat = sorted(map(tuple, semantic_dedup(
        df, n_seed_centroids=16, threshold=0.6, assignment="flat"
    ).collect()))
    full_probe = sorted(map(tuple, semantic_dedup(
        df, n_seed_centroids=16, threshold=0.6,
        assignment="ivf", coarse_cells=4, n_probe=4,
    ).collect()))
    assert full_probe == flat


def test_semantic_dedup_ivf_partial_probe_clustered(spark):
    """On well-separated clusters a single probe finds the true cell: the
    partial-probe IVF assignment equals flat."""
    from pr2_transformation_spark.functions.similarity import semantic_dedup

    rows = []
    for i in range(90):
        axis = i % 3
        v = [0.1 * ((i * 7 + j) % 5) for j in range(6)]
        v[axis] += 50.0  # three far-apart clusters along axes 0/1/2
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flat = sorted(map(tuple, semantic_dedup(
        df, n_seed_centroids=9, threshold=0.9, assignment="flat"
    ).collect()))
    ivf = sorted(map(tuple, semantic_dedup(
        df, n_seed_centroids=9, threshold=0.9,
        assignment="ivf", coarse_cells=3, n_probe=1,
    ).collect()))
    assert ivf == flat
    with pytest.raises(ValueError, match="unknown assignment"):
        semantic_dedup(df, n_seed_centroids=9, assignment="bogus")


def test_lsh_pandas_matches_expression_form(spark):
    """The Arrow/BLAS LSH twin must produce the same top-k sets as the
    expression form: same planes, same multi-table candidate rule."""
    emb = _vectors(spark, n=80)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 4)
    for planes, tables in [(2, 1), (4, 8), (3, 4)]:
        expr = {(r["query_id"], r["vec_id"]) for r in similarity.cosine_topk_lsh(
            corpus, queries, k=5, n_planes=planes, n_tables=tables
        ).collect()}
        fast = {(r["query_id"], r["vec_id"]) for r in similarity.cosine_topk_lsh_pandas(
            corpus, queries, k=5, n_planes=planes, n_tables=tables
        ).collect()}
        assert fast == expr, (planes, tables)


def test_segment_dedup_rewrite_first_occurrence_wins(spark):
    """Duplicate segments survive only at the smallest (doc_id, pos);
    documents are rebuilt in original order and fully-claimed docs drop."""
    from pr2_transformation_spark.functions.dedup import segment_dedup_rewrite

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),     # segs (k=2): "a b", "c d"
            (2, "c d e f a b"), # "c d" and "a b" claimed by doc 1; keeps "e f"
            (3, "a b c d"),     # every segment claimed -> doc drops
            (4, "g"),           # ragged single-token tail
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup_rewrite(docs, segment_tokens=2).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["text"] == "a b c d"
    assert (out[1]["n_segments"], out[1]["n_kept"]) == (2, 2)
    assert out[2]["text"] == "e f"
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (3, 1)
    assert out[4]["text"] == "g"
    assert (out[4]["n_segments"], out[4]["n_kept"]) == (1, 1)


def test_segment_dedup_rewrite_intra_doc_duplicates(spark):
    """A segment repeated INSIDE one document keeps only its first
    position — C4's 'all but one occurrence' applies within docs too.
    md5 and xxhash64 modes elect identical winners."""
    from pr2_transformation_spark.functions.dedup import segment_dedup_rewrite

    docs = spark.createDataFrame(
        [(7, "x y z w x y q r")], "doc_id long, text string"
    )
    for hasher in ("xxhash64", "md5"):
        (row,) = segment_dedup_rewrite(
            docs, segment_tokens=2, hasher=hasher
        ).collect()
        assert row["text"] == "x y z w q r"
        assert (row["n_segments"], row["n_kept"]) == (4, 3)


def test_chunk_documents_overlap_and_coverage(spark):
    """Chunks cover every token position, overlap by size-stride, keep the
    ragged tail, and reproduce the original token stream when stitched at
    stride boundaries."""
    from pr2_transformation_spark.functions.textstats import chunk_documents

    text = " ".join(f"t{i}" for i in range(23))
    docs = spark.createDataFrame([(1, text), (2, "only")], "doc_id long, text string")
    rows = chunk_documents(
        docs, chunk_tokens=10, stride=6
    ).orderBy("doc_id", "chunk_id").collect()

    d1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["start_token"] for r in d1] == [0, 6, 12, 18]
    assert [r["n_tokens"] for r in d1] == [10, 10, 10, 5]
    # overlap: chunk i shares its last 4 tokens with chunk i+1's first 4
    for a, b in zip(d1, d1[1:]):
        assert a["chunk_text"].split()[6:] == b["chunk_text"].split()[: len(a["chunk_text"].split()) - 6]
    # stitching at stride boundaries reproduces the doc
    stitched = d1[0]["chunk_text"].split()
    for r in d1[1:]:
        stitched += r["chunk_text"].split()[10 - 6:]
    assert stitched == text.split()

    (d2,) = [r for r in rows if r["doc_id"] == 2]
    assert (d2["chunk_id"], d2["n_tokens"], d2["chunk_text"]) == (0, 1, "only")


def test_chunk_documents_rejects_gapping_stride(spark):
    from pr2_transformation_spark.functions.textstats import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="skip tokens"):
        chunk_documents(docs, chunk_tokens=4, stride=5)


def test_bm25_scores_match_hand_computation(spark):
    """BM25 on a 3-doc corpus equals the closed-form score computed
    independently here; docs without any query term score 0."""
    import math

    from pr2_transformation_spark.functions.textstats import bm25_scores

    corpus = {1: "cat dog cat", 2: "dog mouse", 3: "bird bird bird bird"}
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bm25_scores(docs, ["cat", "dog"]).collect()}

    n, avgdl = 3, (3 + 2 + 4) / 3
    dfs = {"cat": 1, "dog": 2}
    k1, b = 1.2, 0.75

    def score(doc):
        toks = corpus[doc].split()
        s = 0.0
        for t in ("cat", "dog"):
            tf = toks.count(t)
            idf = math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        return round(s, 4)

    for doc_id in corpus:
        assert rows[doc_id]["score"] == pytest.approx(score(doc_id), abs=1e-4)
        assert rows[doc_id]["dl"] == len(corpus[doc_id].split())
    assert rows[3]["score"] == 0.0

    with pytest.raises(ValueError, match="alphanumeric"):
        bm25_scores(docs, ["bad'term"])
    with pytest.raises(ValueError, match="at least one"):
        bm25_scores(docs, [])


def test_vocab_topk_and_oov_rates(spark):
    """Deterministic top-k (count desc, then lex) and exact OOV rates; a
    tie between tokens resolves lexicographically."""
    from pr2_transformation_spark.functions.textstats import oov_rates, vocab_topk

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "b a d d"), (3, "e e e a")],
        "doc_id long, text string",
    )
    vocab = vocab_topk(docs, 2)
    rows = {r["rank"]: r for r in vocab.collect()}
    # counts: a=4, e=3, d=2, b=2, c=1 -> top2 = a, e
    assert (rows[1]["token"], rows[1]["n_occurrences"]) == ("a", 4)
    assert (rows[2]["token"], rows[2]["n_occurrences"]) == ("e", 3)
    # tie-break: with k=4 both b and d (count 2) fit; d < b is false ->
    # lexicographic order puts b before d
    v4 = {r["rank"]: r["token"] for r in vocab_topk(docs, 4).collect()}
    assert (v4[3], v4[4]) == ("b", "d")

    oov = {r["doc_id"]: r for r in oov_rates(docs, vocab).collect()}
    assert (oov[1]["n_tokens"], oov[1]["n_oov"]) == (4, 2)      # b, c
    assert oov[1]["oov_rate"] == 0.5
    assert (oov[2]["n_tokens"], oov[2]["n_oov"]) == (4, 3)      # b, d, d
    assert (oov[3]["n_tokens"], oov[3]["n_oov"]) == (4, 0)


def test_exact_dedup_against_history_and_batch(spark):
    """Rows matching history content drop; in-batch duplicates keep the
    smallest key; md5 and xxhash64 agree."""
    from pr2_transformation_spark.functions.dedup import exact_dedup_against

    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma"), (5, "delta")],
        "doc_id long, text string",
    )
    history = spark.createDataFrame(
        [(100, "beta"), (101, "zeta")], "doc_id long, text string"
    )
    for hasher in ("xxhash64", "md5"):
        kept = sorted(
            r["doc_id"]
            for r in exact_dedup_against(
                batch, history, ["text"], "doc_id", hasher=hasher
            ).collect()
        )
        # beta drops (history), doc 3 drops (in-batch dup of 1)
        assert kept == [1, 4, 5], hasher


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; adding a pendant vertex changes nothing;
    duplicate/reversed/self-loop edges normalize away."""
    from pr2_transformation_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (3, 4), (0, 1)]
    edges = spark.createDataFrame(noisy, "src long, dst long")
    (row,) = triangle_count(edges).collect()
    assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)

    tri_plus_path = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    (row,) = triangle_count(tri_plus_path).collect()
    assert row["n_triangles"] == 1

    no_tri = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(no_tri).collect()[0]["n_triangles"] == 0


def test_ppmi_bigrams_hand_computed(spark):
    """PPMI on a tiny corpus equals the closed form; independent pairs
    get ~0 and negative-PMI pairs clamp to 0."""
    import math

    from pr2_transformation_spark.functions.textstats import ppmi_bigrams

    # bigrams: (a,b) x4, (b,a) x3, (b,c) x1  -> N=8
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "b a b c")], "doc_id long, text string"
    )
    rows = {(r["w1"], r["w2"]): r for r in ppmi_bigrams(docs, min_count=1).collect()}
    # marginals over the bigram table: left a=4,b=4; right a=3,b=4,c=1
    def pmi(c12, c1, c2, n=8):
        return round(max(0.0, math.log(c12 * n / (c1 * c2))), 4)

    assert rows[("a", "b")]["n_pair"] == 4
    assert rows[("a", "b")]["ppmi"] == pytest.approx(pmi(4, 4, 4), abs=1e-4)
    assert rows[("b", "a")]["ppmi"] == pytest.approx(pmi(3, 4, 3), abs=1e-4)
    assert rows[("b", "c")]["ppmi"] == pytest.approx(pmi(1, 4, 1), abs=1e-4)
    assert ppmi_bigrams(docs, min_count=3).count() == 2  # (a,b) and (b,a)


def test_kneser_ney_hand_computed(spark):
    """Interpolated KN on a tiny corpus matches the closed form, and the
    conditional distribution p(.|w1) sums to ~1 when every continuation
    of w1 appears in the output (unsmoothed mass + continuation mass)."""
    import math

    from pr2_transformation_spark.functions.textstats import kneser_ney_bigrams

    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "b a b c a b")], "doc_id long, text string"
    )
    rows = {(r["w1"], r["w2"]): r["p_kn"]
            for r in kneser_ney_bigrams(docs, min_count=1).collect()}
    # bigram table: (a,b)x4 (b,a)x3 (a,c)x1 (b,c)x1 (c,a)x1  -> 5 types
    # left: a: c=5,n1p=2; b: c=4,n1p=2; c: c=1,n1p=1
    # right contexts: b:1(a), a:2(b,c), c:2(a,b)
    d, types = 0.75, 5

    def kn(c12, c1, n1p_l, n1p_r):
        return round(max(c12 - d, 0) / c1 + (d * n1p_l / c1) * (n1p_r / types), 6)

    assert rows[("a", "b")] == pytest.approx(kn(4, 5, 2, 1), abs=1e-6)
    assert rows[("b", "a")] == pytest.approx(kn(3, 4, 2, 2), abs=1e-6)
    assert rows[("a", "c")] == pytest.approx(kn(1, 5, 2, 2), abs=1e-6)
    assert rows[("c", "a")] == pytest.approx(kn(1, 1, 1, 2), abs=1e-6)
    # conditional mass for w1='a' over its observed continuations {b, c}:
    # discounted mass + lambda * (p_cont(b) + p_cont(c)); with all of a's
    # continuations present, total = 1 - lambda*(1 - p_cont(b) - p_cont(c))
    lam = d * 2 / 5
    assert rows[("a", "b")] + rows[("a", "c")] == pytest.approx(
        1 - lam * (1 - 1 / 5 - 2 / 5), abs=1e-6
    )


def test_pagerank_hand_computed(spark):
    """One and two power iterations on a 3-cycle + feeder match the
    closed form computed here; cycle symmetry is preserved."""
    from pr2_transformation_spark.operators.graph import pagerank

    # 0 -> 1 -> 2 -> 0 cycle plus feeder 3 -> 0
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    n, d = 4, 0.85
    p0 = {v: 1 / n for v in range(4)}

    def step(p):
        contrib = {0: p[2] + p[3], 1: p[0], 2: p[1], 3: 0.0}
        return {v: (1 - d) / n + d * contrib[v] for v in range(4)}

    p1, p2 = step(p0), step(step(p0))
    got1 = {r["id"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
    got2 = {r["id"]: r["rank"] for r in pagerank(edges, iterations=2).collect()}
    for v in range(4):
        assert got1[v] == pytest.approx(p1[v], abs=1e-8)
        assert got2[v] == pytest.approx(p2[v], abs=1e-8)
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)


def test_compression_ratio_separates_repetitive_text(spark):
    """Repetitive text compresses far below random text; byte counts are
    exact vs stdlib zlib; empty text gets the defined ratio 1.0."""
    import zlib

    from pr2_transformation_spark.functions.scoring import compression_ratio

    import random

    rng = random.Random(7)
    noisy = " ".join(
        "".join(rng.choice("abcdefghijklmnop") for _ in range(8)) for _ in range(200)
    )
    docs = spark.createDataFrame(
        [(1, "spam " * 400), (2, noisy), (3, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert rows[1]["compression_ratio"] < 0.05          # pure repetition
    assert rows[2]["compression_ratio"] > 0.5           # high-entropy text
    assert rows[3]["compression_ratio"] == 1.0
    for did, text in ((1, "spam " * 400), (2, noisy)):
        raw = text.encode()
        assert rows[did]["n_bytes"] == len(raw)
        assert rows[did]["n_compressed"] == len(zlib.compress(raw, 6))


def test_key_skew_report_and_histogram(spark):
    """Skew shares are exact against a planted hot key; histogram clamps
    out-of-range values to the edge buckets."""
    from pr2_transformation_spark.profiling import (
        equi_width_histogram,
        key_skew_report,
    )

    rows = [(1,)] * 70 + [(2,)] * 20 + [(3,)] * 10
    df = spark.createDataFrame(rows, "k long")
    top = {r["rank"]: r for r in key_skew_report(df, "k", top_k=2).collect()}
    assert (top[1]["key"], top[1]["n_rows"], top[1]["share"]) == ("1", 70, 0.7)
    assert (top[2]["key"], top[2]["share"]) == ("2", 0.2)

    vals = spark.createDataFrame(
        [(-5.0,), (0.0,), (5.0,), (15.0,), (25.0,), (100.0,), (None,)],
        "v double",
    )
    h = {r["bucket"]: r for r in
         equi_width_histogram(vals, "v", bins=3, lo=0.0, hi=30.0).collect()}
    assert h[1]["n"] == 3      # -5 clamps in, 0 and 5 in range
    assert h[2]["n"] == 1      # 15
    assert h[3]["n"] == 2      # 25 plus clamped 100
    assert (h[1]["lo_edge"], h[3]["hi_edge"]) == (0.0, 30.0)


def test_bpe_train_and_apply_roundtrip(spark):
    """Sennrich's textbook corpus: merges learn 'est</w>' and 'low';
    unseen 'lowest' decomposes into learned units; the distributed apply
    round-trips every word and counts subwords exactly."""
    from pr2_transformation_spark.functions.tokenizer import (
        EOW,
        apply_bpe,
        encode_word,
        train_bpe,
        word_frequencies,
    )

    merges = train_bpe({"low": 5, "lower": 2, "newest": 6, "widest": 3}, 10)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert encode_word("lowest", ranks) == ["low", "est" + EOW]
    assert encode_word("newest", ranks) == ["newest" + EOW]

    docs = spark.createDataFrame(
        [(1, "low lower newest"), (2, "widest lowest unseen")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in apply_bpe(docs, merges).collect()}
    assert rows[1]["n_words"] == 3 and rows[1]["roundtrip_ok"]
    assert rows[2]["roundtrip_ok"]
    # newest -> 1 subword; low -> low + </w>? low merges to 'low' then
    # ('low','</w>') is merge 8 -> 'low</w>' single
    # low -> [low</w>]; lower -> [low, e, r, </w>]; newest -> [newest</w>]
    assert rows[1]["n_subwords"] == 1 + 4 + 1
    # distributed word_frequencies matches a local count
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
    assert wf == {"low": 1, "lower": 1, "newest": 1, "widest": 1,
                  "lowest": 1, "unseen": 1}


def test_bpe_training_from_dataframe_is_bounded_and_deterministic(spark):
    """DataFrame-input training truncates to max_vocab most-frequent words
    (deterministically) and both input forms learn identical merges."""
    from pr2_transformation_spark.functions.tokenizer import (
        train_bpe,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc"), (2, "aa bb cc dd")], "doc_id long, text string"
    )
    wf = word_frequencies(docs)
    m_df = train_bpe(wf, 5)
    m_dict = train_bpe({"aa": 4, "bb": 3, "cc": 2, "dd": 1}, 5)
    assert m_df == m_dict
    m_trunc = train_bpe(wf, 5, max_vocab=2)  # only aa, bb survive
    assert m_trunc == train_bpe({"aa": 4, "bb": 3}, 5)


def test_hard_negative_mining_excludes_same_label(spark):
    """Every mined negative carries a different label than its anchor,
    ranking is by similarity, and the nearest same-label vector (an easy
    positive) never appears."""
    from pr2_transformation_spark.functions.similarity import hard_negative_mining

    rows = [
        (0, [1.0, 0.0], 0),   # anchor
        (10, [0.99, 0.1], 0),   # same label, most similar -> must be excluded
        (11, [0.9, 0.2], 1),
        (12, [0.5, 0.5], 1),
        (13, [0.0, 1.0], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    anchors = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS anchor_id", "embedding", "label"
    )
    corpus = emb.filter("vec_id >= 10")
    got = hard_negative_mining(corpus, anchors, k=2).collect()
    assert [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])] == [11, 12]
    assert all(r["anchor_label"] != r["neg_label"] for r in got)


# ---------------------------------------------------------------------------
# Count-min sketch (DataFrame representation)
# ---------------------------------------------------------------------------


def _cms_keys(spark):
    # zipf-ish: key k appears 60 - 3k times for k in 0..19
    rows = [(k,) for k in range(20) for _ in range(60 - 3 * k)]
    return spark.createDataFrame(rows, "user_id long")


def test_cms_one_sided_error_and_exact_when_wide(spark):
    from pr2_transformation_spark.functions import sketches as sk

    df = _cms_keys(spark)
    exact = {r["user_id"]: r["n"] for r in
             df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    keys = df.select("user_id").distinct()

    # tight width => collisions; estimate must never undercount
    tight = sk.count_min_sketch_table(df, "user_id", depth=3, width=8)
    est_t = {r["user_id"]: r["cms_est"] for r in
             sk.count_min_estimate(tight, keys, "user_id", depth=3, width=8).collect()}
    assert all(est_t[k] >= exact[k] for k in exact)

    # wide sketch => no collisions at 20 keys (4096 buckets): exact
    wide = sk.count_min_sketch_table(df, "user_id", depth=4, width=4096)
    est_w = {r["user_id"]: r["cms_est"] for r in
             sk.count_min_estimate(wide, keys, "user_id", depth=4, width=4096).collect()}
    assert est_w == exact


def test_cms_merge_is_linear(spark):
    """Sketch(A union B) == per-counter SUM of Sketch(A) and Sketch(B) —
    the property that lets daily sketches merge into rolling windows."""
    from pr2_transformation_spark.functions import sketches as sk

    df = _cms_keys(spark)
    a = df.filter(F.col("user_id") < 10)
    b = df.filter(F.col("user_id") >= 10)
    kw = dict(depth=3, width=16, hasher="md5")
    merged = (
        sk.count_min_sketch_table(a, "user_id", **kw)
        .unionByName(sk.count_min_sketch_table(b, "user_id", **kw))
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sk.count_min_sketch_table(df, "user_id", **kw)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_cms_missing_key_estimates_from_zero_counters(spark):
    from pr2_transformation_spark.functions import sketches as sk

    df = _cms_keys(spark)
    sketch = sk.count_min_sketch_table(df, "user_id", depth=4, width=4096)
    ghost = df.sparkSession.createDataFrame([(999999,)], "user_id long")
    [row] = sk.count_min_estimate(sketch, ghost, "user_id", depth=4, width=4096).collect()
    assert row["cms_est"] == 0


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis-Spirakis, hash-deterministic)
# ---------------------------------------------------------------------------


def test_weighted_sample_topk_exact_k_and_partition_stable(spark):
    from pr2_transformation_spark.operators.sampling import weighted_sample_topk

    rows = [(i, "g%d" % (i % 2), float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    picked = weighted_sample_topk(df, "id", "w", 25, partition_cols=("g",))
    got = picked.collect()
    assert len(got) == 50
    per_g = {}
    for r in got:
        per_g.setdefault(r["g"], set()).add(r["id"])
    assert all(len(v) == 25 for v in per_g.values())

    # repartitioning must not change membership (pure function of data)
    again = weighted_sample_topk(
        df.repartition(13, "w"), "id", "w", 25, partition_cols=("g",)
    )
    assert {r["id"] for r in again.collect()} == {r["id"] for r in got}


def test_weighted_sample_topk_excludes_nonpositive_weights(spark):
    from pr2_transformation_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "id long, w double",
    )
    got = {r["id"] for r in weighted_sample_topk(df, "id", "w", 10).collect()}
    assert got == {1, 5}


def test_weighted_sample_topk_biases_toward_heavy_weights(spark):
    """With weights 100 vs 1 and a 10%-of-pool sample, the heavy class
    must dominate the selection (deterministic draw, so this is a fixed
    fact about the hash, not a flaky statistical test)."""
    from pr2_transformation_spark.operators.sampling import weighted_sample_topk

    rows = [(i, 100.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = [r["id"] for r in weighted_sample_topk(df, "id", "w", 100).collect()]
    heavy = sum(1 for i in got if i < 500)
    assert heavy >= 90  # P[light id wins a slot] ~ w ratio; hash draw gives 97


# ---------------------------------------------------------------------------
# Product quantization ANN
# ---------------------------------------------------------------------------


def test_pq_encode_shape_and_determinism(spark):
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)  # 60 x 8-dim clustered vectors
    books = similarity.train_pq_codebooks(emb, m=4, k=8, sample_rows=60)
    assert len(books) == 4 and all(len(b) <= 8 for b in books)
    codes = similarity.pq_encode(emb, books)
    rows = codes.collect()
    assert len(rows) == 60
    assert all(len(r["code"]) == 4 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r["code"])
    # pure function of data: repartitioning changes nothing
    again = similarity.pq_encode(emb.repartition(7), books)
    assert sorted((r["vec_id"], tuple(r["code"])) for r in again.collect()) == \
           sorted((r["vec_id"], tuple(r["code"])) for r in rows)


def test_pq_rerank_recovers_exact_topk_on_clustered_data(spark):
    """On well-separated clusters with a generous shortlist, the exact
    re-rank stage must return exactly the brute-force top-k."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    books = similarity.train_pq_codebooks(corpus, m=4, k=16, sample_rows=60)
    approx = similarity.cosine_topk_pq(
        corpus, queries, k=5, codebooks=books, rerank=30
    )
    exact = similarity.cosine_topk_bruteforce(corpus, queries, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert a == e


def test_pq_shortlist_only_mode_respects_k(spark):
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 2)
    books = similarity.train_pq_codebooks(corpus, m=2, k=4, sample_rows=60)
    out = similarity.cosine_topk_pq(corpus, queries, k=3, codebooks=books)
    per_q = {}
    for r in out.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_kcenter_greedy_spreads_across_clusters(spark):
    """Farthest-point traversal must visit all 3 well-separated clusters
    within the first 3 picks, and be invariant to partitioning."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)  # clusters along axes 0/1/2 (i % 3)
    picks = similarity.kcenter_greedy(emb, k=3)
    assert [s for s, _, _ in picks] == [1, 2, 3]
    assert picks[0][2] is None and all(d > 0 for _, _, d in picks[1:])
    clusters = {i % 3 for _, i, _ in picks}
    assert clusters == {0, 1, 2}

    again = similarity.kcenter_greedy(emb.repartition(11), k=3)
    assert [(s, i) for s, i, _ in again] == [(s, i) for s, i, _ in picks]


def test_kcenter_broadcast_picks_equivalent_and_plan_flat(spark):
    """picks_via='broadcast' returns the SAME picks as the literal form
    (q202's fixture shape), and its per-round plan size stays flat in
    the embedding dimension — the literal form's plan grows ~linearly,
    which is the 1536-dim x hundreds-of-picks failure mode."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    lit = similarity.kcenter_greedy(emb, k=5, picks_via="literal")
    bc = similarity.kcenter_greedy(emb, k=5, picks_via="broadcast")
    assert lit == bc

    def plan_len(dim: int, mode: str) -> int:
        vec = [float(i % 7) for i in range(dim)]
        state = spark.createDataFrame(
            [(1, vec, 0.5), (2, vec, 0.4)],
            "vec_id long, embedding array<double>, dmin double",
        )
        scored = similarity._kcenter_folded_view(
            state, [(1, vec)], "vec_id", "embedding", 6, mode
        )
        return len(scored._jdf.queryExecution().optimizedPlan().toString())

    assert plan_len(512, "literal") > plan_len(64, "literal") + 1500
    assert abs(plan_len(512, "broadcast") - plan_len(64, "broadcast")) < 500


def test_kcenter_refold_cadence_value_identical(spark):
    """The lazy pending-pick fold is value-identical at every refold
    cadence: refolding after each pick (the old per-round persist
    design), every 3rd pick, and never (all picks stay lazy) must give
    the same pick sequence with the same distances — min over rounded
    distances is associative, so fold order cannot matter."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    eager = similarity.kcenter_greedy(emb, k=6, refold_every=1)
    mid = similarity.kcenter_greedy(emb, k=6, refold_every=3)
    lazy = similarity.kcenter_greedy(emb, k=6, refold_every=100)
    assert eager == mid == lazy
    bc = similarity.kcenter_greedy(emb, k=6, refold_every=3, picks_via="broadcast")
    assert bc == eager


def test_portable_hll_merge_and_accuracy(spark):
    from pr2_transformation_spark.functions import sketches as sk

    df = spark.range(5000).select(F.col("id").alias("k"))
    a = df.filter(F.col("k") < 3000)
    b = df.filter(F.col("k") >= 2000)  # overlapping halves
    merged = (
        sk.hll_register_table(a, "k", p=8)
        .unionByName(sk.hll_register_table(b, "k", p=8))
        .groupBy("bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    whole = sk.hll_register_table(df, "k", p=8)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    [est] = sk.hll_estimate(whole, p=8).collect()
    assert abs(est["estimate"] - 5000) <= 3 * (1.04 / 16) * 5000


def test_portable_hll_small_range_linear_counting(spark):
    from pr2_transformation_spark.functions import sketches as sk

    df = spark.range(20).select(F.col("id").alias("k"))
    regs = sk.hll_register_table(df, "k", p=8)
    [est] = sk.hll_estimate(regs, p=8).collect()
    # linear counting regime: near-exact at 20 of 256 registers
    assert abs(est["estimate"] - 20) < 2


def test_cms_group_cols_partitions_sketches(spark):
    """group_cols builds one independent sketch per group — the daily-
    sketch layout that rolling windows merge."""
    from pr2_transformation_spark.functions import sketches as sk

    rows = [(d, k) for d in ("d1", "d2") for k in range(30) for _ in range(k % 3 + 1)]
    df = spark.createDataFrame(rows, "day string, user_id long")
    per_day = sk.count_min_sketch_table(
        df, "user_id", depth=3, width=64, group_cols=("day",)
    )
    assert set(per_day.columns) == {"day", "row_i", "bucket", "cnt"}
    merged = per_day.groupBy("row_i", "bucket").agg(F.sum("cnt").alias("cnt"))
    whole = sk.count_min_sketch_table(df, "user_id", depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_asof_join_forward_and_tolerance_match_pandas(spark):
    """direction='forward' and tolerance must agree with
    pandas.merge_asof on randomized numeric-ts data."""
    import random

    import pandas as pd

    from pr2_transformation_spark.operators.joins import asof_join

    rng = random.Random(11)
    lrows = [(i, i % 3, float(rng.randint(0, 500))) for i in range(120)]
    rrows = [(j, j % 3, float(rng.randint(0, 500)), float(j)) for j in range(80)]
    left = spark.createDataFrame(lrows, "lid long, g long, ts double")
    right = spark.createDataFrame(rrows, "rid long, g long, ts double, payload double")

    for direction, tol in (("forward", None), ("forward", 25.0), ("backward", 25.0)):
        got = {
            r["lid"]: r["payload"]
            for r in asof_join(
                left, right.select("g", "ts", "payload"), ["g"], "ts",
                ["payload"], direction=direction, tolerance=tol,
            ).collect()
        }
        lp = pd.DataFrame(lrows, columns=["lid", "g", "ts"]).sort_values("ts")
        rp = pd.DataFrame(rrows, columns=["rid", "g", "ts", "payload"])[
            ["g", "ts", "payload"]
        ].sort_values("ts")
        exp = pd.merge_asof(
            lp, rp, on="ts", by="g", direction=direction,
            tolerance=tol if tol is None else tol,
        )
        for _, row in exp.iterrows():
            want = None if pd.isna(row["payload"]) else row["payload"]
            assert got[row["lid"]] == want, (direction, tol, row["lid"])


def test_prefix_join_equals_unfiltered_ngram_jaccard(spark):
    """Prefix filtering must be LOSSLESS: identical pairs and jaccards
    to the unfiltered posting-list operator at the same threshold."""
    from pr2_transformation_spark.functions import dedup

    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "a completely different sentence about spark and data",
        "rare words cluster here quietly under moonlight tonight",
    ]
    rows = []
    for i in range(45):
        b = base[i % 3].split()
        # rotate + perturb so pairs span the whole jaccard range
        rot = b[i % len(b):] + b[: i % len(b)]
        if i % 5 == 0:
            rot = rot + ["extra%d" % i]
        rows.append((i, " ".join(rot)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", n=2, min_jaccard=t
            ).collect()
        }
        fast = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs_prefix(
                df, "text", "doc_id", n=2, min_jaccard=t
            ).collect()
        }
        assert fast == exact, t


def test_prefix_join_indexes_fewer_postings(spark):
    """The prefix index must actually be smaller than the full index at
    a high threshold (the point of the algorithm)."""
    from pr2_transformation_spark.functions import dedup, textstats
    import pyspark.sql.functions as F

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        "doc_id", textstats.word_shingles(F.col("text"), 2).alias("sh")
    )
    full_count = sh.select(F.explode("sh")).count()
    # at t=0.8 each 9-shingle doc indexes 9 - ceil(7.2) + 1 = 2 shingles
    out = dedup.ngram_jaccard_pairs_prefix(df, min_jaccard=0.8)
    assert out.count() == 45  # identical docs: all pairs at jaccard 1.0
    assert full_count == 90


def test_asof_cogrouped_matches_union_trick(spark):
    """The cogroup().applyInPandas as-of twin must agree with the
    union+window implementation in both directions."""
    import random

    from pr2_transformation_spark.operators.joins import (
        asof_join,
        asof_join_cogrouped,
    )

    rng = random.Random(5)
    # g spans 0..6 on the left but the right only carries 0..3: keys
    # (and, under the r10 bucketed cogroup, whole hash buckets) with a
    # left side and NO right side must fill None, not crash on the
    # zero-column empty frame Spark hands the missing cogroup side
    left = spark.createDataFrame(
        [(i, i % 7, float(rng.randint(0, 300))) for i in range(150)],
        "lid long, g long, ts double",
    )
    # unique (g, ts) on the right: with duplicate keys the matched
    # payload is implementation-defined (documented tie contract)
    right = spark.createDataFrame(
        [(j % 4, float(j * 4 + j % 4), float(j)) for j in range(90)],
        "g long, ts double, payload double",
    )
    for direction in ("backward", "forward"):
        a = {
            r["lid"]: r["payload"]
            for r in asof_join(
                left, right, ["g"], "ts", ["payload"], direction=direction
            ).collect()
        }
        b = {
            r["lid"]: r["payload"]
            for r in asof_join_cogrouped(
                left, right, ["g"], "ts", ["payload"], direction=direction
            ).collect()
        }
        assert a == b, direction


def test_asof_cogrouped_shared_lineage_projection(spark):
    """q241 regression: when left and right derive from ONE frame (two
    filters of the same scan) their key columns share exprIds; with the
    r10 bucketed cogroup the key is a plain data column, and a
    projection ABOVE the cogroup let ColumnPruning drop the right
    side's copy of the key (KeyError in the pandas merge).  The
    re-alias inside asof_join_cogrouped must keep this shape working,
    including a projection that renames/derives from the output."""
    from pyspark.sql import functions as F

    from pr2_transformation_spark.operators.joins import (
        asof_join,
        asof_join_cogrouped,
    )

    base = spark.createDataFrame(
        [(i, i % 5, float(i), "L" if i % 3 else "R") for i in range(120)],
        "eid long, g long, ts double, side string",
    )
    left = base.filter(F.col("side") == "L").select("eid", "g", "ts")
    right = base.filter(F.col("side") == "R").select(
        "g", "ts", (F.col("eid") * 1.0).alias("payload"))

    def shaped(df):
        return {
            r["eid"]: r["p2"]
            for r in df.select(
                "eid", F.round(F.col("payload") * 2, 3).alias("p2")
            ).collect()
        }

    a = shaped(asof_join(left, right, ["g"], "ts", ["payload"]))
    b = shaped(asof_join_cogrouped(left, right, ["g"], "ts", ["payload"]))
    assert a == b and len(a) > 0


def test_asof_cogrouped_timestamp_and_date_tolerance(spark):
    """Timestamp/date ts columns with a NUMERIC (seconds) tolerance — the
    asof_join contract — must work in the cogrouped twin too: pandas
    demands a Timedelta for datetime64 keys and cannot sort object-dtype
    dates, both of which the twin now converts internally."""
    import datetime as dt

    from pr2_transformation_spark.operators.joins import (
        asof_join,
        asof_join_cogrouped,
    )

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, i % 3, base + dt.timedelta(seconds=i * 37)) for i in range(60)],
        "lid long, g long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(j % 3, base + dt.timedelta(seconds=j * 50), float(j)) for j in range(40)],
        "g long, ts timestamp, payload double",
    )
    for tol in (None, 30.0):
        a = {
            r["lid"]: r["payload"]
            for r in asof_join(
                left, right, ["g"], "ts", ["payload"], tolerance=tol
            ).collect()
        }
        b = {
            r["lid"]: r["payload"]
            for r in asof_join_cogrouped(
                left, right, ["g"], "ts", ["payload"], tolerance=tol
            ).collect()
        }
        assert a == b, tol
    assert any(v is None for v in b.values())  # the tolerance actually bites

    dleft = left.select("lid", "g", F.to_date("ts").alias("ts"))
    # per-group right timestamps >24h apart -> unique (g, date) keys, so
    # the implementation-defined duplicate-key tie never engages
    dright = spark.createDataFrame(
        [(j % 3, base + dt.timedelta(seconds=j * 50_000), float(j)) for j in range(40)],
        "g long, ts timestamp, payload double",
    ).select("g", F.to_date("ts").alias("ts"), "payload")
    da = {
        r["lid"]: r["payload"]
        for r in asof_join(
            dleft, dright, ["g"], "ts", ["payload"], tolerance=86400.0
        ).collect()
    }
    db_rows = asof_join_cogrouped(
        dleft, dright, ["g"], "ts", ["payload"], tolerance=86400.0
    ).collect()
    db = {r["lid"]: r["payload"] for r in db_rows}
    assert da == db
    assert all(isinstance(r["ts"], dt.date) for r in db_rows)


def test_bloom_no_false_negatives_and_merge(spark):
    from pr2_transformation_spark.functions import sketches as sk

    df = spark.range(400).select(F.col("id").alias("k"))
    a, b = df.filter(F.col("k") < 250), df.filter(F.col("k") >= 200)
    kw = dict(k=4, m=2048, hasher="md5")
    merged = (
        sk.bloom_bits_table(a, "k", **kw)
        .unionByName(sk.bloom_bits_table(b, "k", **kw))
        .distinct()
    )
    whole = sk.bloom_bits_table(df, "k", **kw)
    assert sorted(r["bit"] for r in merged.collect()) == sorted(
        r["bit"] for r in whole.collect()
    )
    probes = df.select(F.col("k").alias("key"))
    out = sk.bloom_contains(whole, probes, "key", **kw)
    assert all(r["maybe_present"] for r in out.collect())  # never FN

    ghosts = spark.range(400, 800).select(F.col("id").alias("key"))
    fp = sum(
        1
        for r in sk.bloom_contains(whole, ghosts, "key", **kw).collect()
        if r["maybe_present"]
    )
    # (1 - e^{-kn/m})^k with k=4, n=400, m=2048 ~ 0.086 -> expect ~34 of 400
    assert fp < 120

    # DUPLICATE key rows must not break the no-false-negative invariant:
    # they collapse into one group whose per-bit hit rows multiply, which
    # the old sum(__set) == k aggregate misread as absent (sum = 2k).
    dup_probes = probes.unionByName(probes.filter(F.col("key") < 50))
    dup_out = sk.bloom_contains(whole, dup_probes, "key", **kw).collect()
    assert len(dup_out) == 400  # distinct key rows out
    assert all(r["maybe_present"] for r in dup_out)


def test_duplicate_spans_lee_et_al(spark):
    """Positional k-gram span dedup: a shared 9-word substring yields one
    maximal merged span per doc at the right word offsets; within-doc
    repeats count; sub-k overlaps and unique docs yield nothing."""
    from pr2_transformation_spark.functions.dedup import (
        duplicate_span_stats,
        duplicate_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, shared + " again and again today"),
        (2, "intro text " + shared + " closing words here"),
        (3, "completely unrelated content with no overlap whatsoever in this doc"),
        (4, "short"),
        # within-doc repetition: same 6-gram twice in one doc
        (5, "alpha beta gamma delta epsilon zeta filler alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, k=5).collect()
    }
    # doc 1: shared substring at words 0..8; doc 2: at words 2..10
    assert (1, 0, 8) in spans and (2, 2, 10) in spans
    assert not any(d == 3 or d == 4 for d, *_ in spans)
    k6 = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, k=6).collect()
    }
    assert (5, 0, 5) in k6 and (5, 7, 12) in k6  # within-doc pair, not merged
    stats = {r.doc_id: r for r in duplicate_span_stats(df, k=5).collect()}
    assert stats[1].n_spans == 1 and stats[1].dup_tokens == 9
    assert stats[1].dup_fraction == round(9 / stats[1].n_tokens, 4)
    assert stats[3].n_spans == 0 and stats[3].dup_tokens == 0
    assert stats[4].dup_fraction == 0.0
    # overlapping marked windows merge into ONE maximal span
    assert stats[2].n_spans == 1 and stats[2].dup_tokens == 9
    import pytest

    with pytest.raises(ValueError):
        duplicate_spans(df, k=1)


def test_excise_duplicate_spans_rewrites_text(spark):
    """Span excision removes exactly the duplicate-span words (all
    occurrences, aggressive mode), preserves word order of survivors,
    and leaves unique docs byte-identical (modulo lower/trim)."""
    from pr2_transformation_spark.functions.dedup import excise_duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, shared + " again and again today"),
        (2, "intro text " + shared + " closing words here"),
        (3, "unique content here only once"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in excise_duplicate_spans(df, k=5).collect()}
    assert out[1].text_after == "again and again today"
    assert out[2].text_after == "intro text closing words here"
    assert out[3].text_after == "unique content here only once"
    assert out[1].text_before_tokens == 13 and out[1].text_after_tokens == 4
    assert out[3].text_before_tokens == out[3].text_after_tokens == 5
    # a doc that is ENTIRELY a duplicate span excises to empty
    df2 = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in excise_duplicate_spans(df2, k=5).collect()}
    assert out2[1].text_after == "" and out2[1].text_after_tokens == 0
    assert out2[2].text_after == "" and out2[2].text_before_tokens == 9


def test_duplicate_spans_match_suffix_array_reference(spark):
    """INDEPENDENT-ALGORITHM cross-check (the q216 lesson: same-expression
    oracles can share blind spots): expected spans come from a real
    suffix-array + LCP construction over the concatenated token stream —
    maximal repeated substrings of >= k tokens, projected to per-doc
    word intervals — built with none of the hashing/grouping machinery
    the engine uses.  The two implementations must agree exactly."""
    from pr2_transformation_spark.functions.dedup import duplicate_spans

    docs = [
        (1, "a b c d e f g h i j"),
        (2, "z z a b c d e f q r s t"),          # shares a..f (6 tokens)
        (3, "m n o p q r s t u v m n o p q"),     # within-doc repeat m n o p q
        (4, "unique tokens only here nothing repeats at all"),
        (5, "q r s t u v w x y"),                 # shares q r s t u v with doc 3
    ]
    k = 4

    # reference: suffix array over the doc-separated token stream
    toks, owner, offs = [], [], []
    for did, text in docs:
        ws = text.lower().split()
        for i, w in enumerate(ws):
            toks.append(w)
            owner.append(did)
            offs.append(i)
        toks.append(f"\x00sep{did}")  # unique separator: no cross-doc runs
        owner.append(None)
        offs.append(None)
    n = len(toks)
    sa = sorted(range(n), key=lambda i: toks[i:])
    lcp = [0] * n  # lcp[r] = common prefix tokens of sa[r] and sa[r-1]
    for r in range(1, n):
        i, j = sa[r], sa[r - 1]
        l = 0
        while i + l < n and j + l < n and toks[i + l] == toks[j + l]:
            l += 1
        lcp[r] = l
    marked = set()  # (doc, word_pos) covered by a duplicated >= k-token run
    for r in range(1, n):
        if lcp[r] >= k:
            for start in (sa[r], sa[r - 1]):
                for p in range(start, start + lcp[r]):
                    if owner[p] is not None:
                        marked.add((owner[p], offs[p]))
    # project marked positions to maximal per-doc intervals
    expected = set()
    for did, _text in docs:
        pos = sorted(p for d, p in marked if d == did)
        run = []
        for p in pos:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    expected.add((did, run[0], run[-1]))
                run = [p]
        if run:
            expected.add((did, run[0], run[-1]))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, k=k).collect()
    }
    assert got == expected


def test_assign_training_shards_properties(spark):
    """Shard assignment: stable across runs, seed-sensitive, positions
    are a dense 0..n-1 permutation within every shard, hasher modes
    agree on the contract (not on the layout), and n_shards=1 yields one
    totally-ordered shard."""
    import pyspark.sql.functions as F
    import pytest

    from pr2_transformation_spark.operators.sampling import assign_training_shards

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    out = assign_training_shards(df, "doc_id", 8, seed=7, hasher="md5")
    rows = out.collect()
    again = assign_training_shards(df, "doc_id", 8, seed=7, hasher="md5").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    reseed = assign_training_shards(df, "doc_id", 8, seed=8, hasher="md5").collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, reseed))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.position)
    assert set(by_shard) <= set(range(8)) and len(by_shard) == 8
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    xx = assign_training_shards(df, "doc_id", 8, seed=7).collect()
    assert len(xx) == 500  # production hasher keeps every row exactly once
    one = assign_training_shards(df, "doc_id", 1, hasher="md5").collect()
    assert {r.shard for r in one} == {0}
    assert sorted(r.position for r in one) == list(range(500))
    with pytest.raises(ValueError):
        assign_training_shards(df, "doc_id", 0)
    with pytest.raises(ValueError):
        assign_training_shards(df, "doc_id", 4, hasher="sha1")


def test_repetition_profile_hand_computed(spark):
    from pr2_transformation_spark.functions import textstats

    df = spark.createDataFrame(
        [
            # 8 tokens; "a b" occurs 3x (top2 = 3*2/8); distinct = {a,b,c}
            # -> dup_word_frac = (8-3)/8; no 5-gram repeats.
            (1, "a b a b a b c c"),
            # 10 tokens, "x y z w v" repeated back-to-back: the 5-gram
            # occurs twice, covering all 10 positions -> dup5 = 1.0.
            (2, "x y z w v x y z w v"),
            # shorter than 5 tokens: no 5-grams -> dup5 backfilled 0.0.
            (3, "p q r"),
            # degenerate repeat: "a a a a" -> top2 "a a" occurs 3x ->
            # raw ratio 3*2/4 = 1.5 (> 1, matching the published
            # count-times-length definition).
            (4, "a a a a"),
        ],
        ["doc_id", "text"],
    )
    prof = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_profile(df).collect()
    }
    assert prof[1]["dup_word_frac"] == 0.625
    assert prof[1]["top2_frac"] == 0.75
    assert prof[1]["dup5_cover_frac"] == 0.0
    assert prof[2]["dup5_cover_frac"] == 1.0
    assert prof[2]["top2_frac"] == 0.4  # "x y" (or any) occurs 2x: 2*2/10
    assert prof[3]["dup5_cover_frac"] == 0.0
    assert prof[3]["dup_word_frac"] == 0.0
    assert prof[4]["top2_frac"] == 1.5
    assert prof[4]["dup_word_frac"] == 0.75


def test_repetition_partial_5gram_coverage(spark):
    """Duplicated 5-grams covering only part of the doc: positional union,
    no double counting of overlapping duplicate grams."""
    from pr2_transformation_spark.functions import textstats

    # 12 tokens; "a b c d e" occurs at positions 0 and 7 (0-based), and no
    # other 5-gram repeats -> covered = {0..4, 7..11} = 10 of 12.
    text = "a b c d e q r a b c d e"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = textstats.repetition_profile(df).collect()[0]
    assert row["n_tokens"] == 12
    assert row["dup5_cover_frac"] == round(10 / 12, 4)


def test_repetition_keep_bounds(spark):
    from pr2_transformation_spark.functions import textstats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b c c"),          # top2 0.75 > 0.20 -> drop
            # all unique, long enough that a single occurrence of a 4-gram
            # (4/n) stays under the 0.16 bound -> keep
            (2, " ".join(f"w{i}" for i in range(40))),
        ],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]: r["keep"]
        for r in textstats.repetition_keep(
            textstats.repetition_profile(df)
        ).collect()
    }
    assert kept == {1: False, 2: True}


def test_contamination_spans_and_excision(spark):
    """Cross-corpus decontamination: only spans matching the benchmark are
    flagged; within-corpus duplicates alone are NOT contamination."""
    from pr2_transformation_spark.functions import dedup

    corpus = spark.createDataFrame(
        [
            # 8 tokens; tokens 0..5 appear verbatim in the benchmark.
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # clean doc — no benchmark overlap.
            (2, "one two three four five six seven eight nine"),
            # within-corpus duplicate of doc 1's tail only; its benchmark
            # overlap is tokens 2..7.
            (3, "x y alpha beta gamma delta epsilon zeta q r"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "junk alpha beta gamma delta epsilon zeta more junk")],
        ["doc_id", "text"],
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in dedup.contamination_spans(corpus, bench, k=6).collect()
    }
    assert spans == {1: (0, 5), 3: (2, 7)}

    stats = {
        r["doc_id"]: r.asDict()
        for r in dedup.contamination_stats(corpus, bench, k=6).collect()
    }
    assert stats[1]["contaminated_tokens"] == 6
    assert stats[1]["contaminated_fraction"] == 0.75
    assert stats[2]["n_spans"] == 0 and stats[2]["contaminated_tokens"] == 0
    assert stats[3]["contaminated_fraction"] == 0.6

    ex = {
        r["doc_id"]: r["text_after"]
        for r in dedup.excise_spans(
            corpus, dedup.contamination_spans(corpus, bench, k=6)
        ).collect()
    }
    assert ex == {
        1: "eta theta",
        2: "one two three four five six seven eight nine",
        3: "x y q r",
    }


def test_contamination_range_union_merge(spark):
    """Two benchmark hits butted against each other merge into ONE span
    (range-union, not window-start merging)."""
    from pr2_transformation_spark.functions import dedup

    # benchmark contributes 3-grams "a b c" (pos 0) and "d e f" (pos 3):
    # coverage [0,2] and [3,5] touch -> one span (0,5).
    corpus = spark.createDataFrame(
        [(1, "a b c d e f tail1 tail2")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame(
        [(100, "a b c zzz d e f")], ["doc_id", "text"]
    )
    spans = dedup.contamination_spans(corpus, bench, k=3).collect()
    assert [(r["span_start"], r["span_end"]) for r in spans] == [(0, 5)]


def test_contamination_no_bench_overlap_is_empty(spark):
    from pr2_transformation_spark.functions import dedup

    corpus = spark.createDataFrame(
        [(1, "a a a a a a a a a a")], ["doc_id", "text"]  # self-repetitive
    )
    bench = spark.createDataFrame([(100, "b c d e f g")], ["doc_id", "text"])
    assert dedup.contamination_spans(corpus, bench, k=3).count() == 0


def test_hamming_near_dup_pairs_exact_and_lossless(spark):
    from pr2_transformation_spark.functions import dedup

    # 4 hashes: a=0b0000, b=0b0001 (d=1), c=0b0111 (d(a)=3, d(b)=2),
    # d=0b1111_0000_1111 (far from all within 2)
    rows = [(1, 0b0000), (2, 0b0001), (3, 0b0111), (4, 0b111100001111)]
    df = spark.createDataFrame(rows, ["vid", "h"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.hamming_near_dup_pairs(
            df, "h", "vid", max_distance=2, bits=12
        ).collect()
    }
    assert got == {(1, 2): 1, (2, 3): 2}

    # losslessness vs brute force on a pseudo-random set
    import itertools
    vals = [(i, (i * 2654435761) % (1 << 20)) for i in range(60)]
    vdf = spark.createDataFrame(vals, ["vid", "h"])
    expect = {
        (a[0], b[0])
        for a, b in itertools.combinations(vals, 2)
        if bin(a[1] ^ b[1]).count("1") <= 3
    }
    got2 = {
        (r["id_a"], r["id_b"])
        for r in dedup.hamming_near_dup_pairs(
            vdf, "h", "vid", max_distance=3, bits=20
        ).collect()
    }
    assert got2 == expect


def test_hamming_near_dup_pairs_validation(spark):
    import pytest as _pytest
    from pr2_transformation_spark.functions import dedup

    df = spark.createDataFrame([(1, 3)], ["vid", "h"])
    with _pytest.raises(ValueError):
        dedup.hamming_near_dup_pairs(df, "h", "vid", max_distance=3, bands=3)
    with _pytest.raises(ValueError):
        dedup.hamming_near_dup_pairs(df, "h", "vid", bits=64)


def test_embedding_simhash_angular_property(spark):
    """Near-parallel vectors agree on almost every hyperplane side; a
    negated vector flips every decided bit."""
    from pr2_transformation_spark.functions import dedup, similarity

    base = [(0.1 * ((i * 7) % 13) - 0.6) for i in range(16)]
    near = [v * 1.5 for v in base]            # same direction, scaled
    perturbed = [v + (0.001 if i == 3 else 0) for i, v in enumerate(base)]
    neg = [-v for v in base]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, perturbed), (4, neg)],
        "vec_id long, embedding array<double>",
    )
    sigs = {
        r["vec_id"]: r["simhash"]
        for r in similarity.embedding_simhash(
            df, "embedding", "vec_id", bits=32
        ).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")
    # scaling preserves every sign exactly (floor-quantized magnitudes
    # change, signs of dots cannot flip direction)
    assert ham(sigs[1], sigs[2]) <= 2
    assert ham(sigs[1], sigs[3]) <= 2
    assert ham(sigs[1], sigs[4]) >= 28  # antipodal: nearly all bits flip

    pairs = dedup.hamming_near_dup_pairs(
        similarity.embedding_simhash(df, "embedding", "vec_id", bits=32),
        "simhash",
        "vec_id",
        max_distance=3,
        bits=32,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got and (1, 4) not in got


def test_render_ordered_transcript_deterministic(spark):
    from pyspark.sql import functions as F
    from pr2_transformation_spark.functions import textstats

    df = spark.createDataFrame(
        [
            ("c1", 3, "third"),
            ("c1", 1, "first"),
            ("c1", 2, "second"),
            ("c2", 1, "only"),
        ],
        ["convo", "turn", "line"],
    )
    out = {
        r["convo"]: (r["n_turns"], r["transcript"])
        for r in textstats.render_ordered_transcript(
            df, ["convo"], ["turn"], "line"
        ).collect()
    }
    assert out["c1"] == (3, "first\nsecond\nthird")
    assert out["c2"] == (1, "only")
    # stable under a different physical row order
    out2 = {
        r["convo"]: r["transcript"]
        for r in textstats.render_ordered_transcript(
            df.repartition(7).sortWithinPartitions(F.desc("turn")),
            ["convo"],
            ["turn"],
            "line",
        ).collect()
    }
    assert out2["c1"] == "first\nsecond\nthird"


def test_leakage_free_split_keeps_clusters_together(spark):
    from pr2_transformation_spark.functions import dedup
    from pr2_transformation_spark.operators.graph import dedup_clusters
    from pr2_transformation_spark.operators.sampling import assign_splits

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "s"),
        (2, "alpha beta gamma delta epsilon eta", "en", "s"),  # near-dup of 1
        (3, "alpha beta gamma delta epsilon theta", "en", "s"),  # near-dup of 2
        (4, "one two three four five six", "en", "s"),
        (5, "completely different words here now indeed", "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=2, min_jaccard=0.5,
        bucket_cols=["lang", "source"],
    )
    clustered = dedup_clusters(pairs, docs, "doc_id", "id_a", "id_b")
    out = assign_splits(
        clustered, "cluster", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by_id = {r["id"]: r for r in out}
    # 1-2-3 are one transitive cluster: same representative, same split
    assert by_id[1]["cluster"] == by_id[2]["cluster"] == by_id[3]["cluster"] == 1
    assert by_id[1]["split"] == by_id[2]["split"] == by_id[3]["split"]
    # singletons are their own cluster
    assert by_id[4]["cluster"] == 4 and by_id[5]["cluster"] == 5
    # every split name is one of the three
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_int8_quantization_exact_codes_and_bounds(spark):
    from pr2_transformation_spark.functions.similarity import (
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # all-zero vector: scale 0, NULL rel_err
            (3, [1.0]),
            (4, [-2.0, 1.0, 0.5, -0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    assert rows[1]["codes"] == [127, -64, 0]  # -63.5 rounds away from zero
    assert rows[2]["codes"] == [0, 0, 0]
    assert rows[2]["scale"] == 0.0 and rows[2]["rel_err"] is None
    assert rows[3]["codes"] == [127] and rows[3]["rel_err"] == 0.0
    assert rows[4]["codes"] == [-127, 64, 32, -32]
    # error bound: observed max dequant error <= scale/2 (rel_err <= 0.5)
    for r in rows.values():
        if r["rel_err"] is not None:
            assert 0.0 <= r["rel_err"] <= 0.5 + 1e-12
        assert all(-127 <= c <= 127 for c in r["codes"])
        assert r["n_dims"] == len(r["codes"])


def test_int8_quantization_preserves_cosine_ranking(spark):
    import numpy as np

    from pr2_transformation_spark.functions.similarity import (
        quantize_embeddings_int8,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = quantize_embeddings_int8(df).collect()
    byid = {r["vec_id"]: r for r in rows}
    qv = np.array(
        [np.array(byid[i]["codes"]) * byid[i]["scale"] for i in range(20)]
    )
    ref = vecs[0]

    def cos(m, v):
        return (m @ v) / (np.linalg.norm(m, axis=1) * np.linalg.norm(v))

    exact = np.argsort(-cos(vecs[1:], ref))
    approx = np.argsort(-cos(qv[1:], qv[0]))
    # top-5 neighbors by dequantized cosine match the exact top-5 set
    assert set(exact[:5]) == set(approx[:5])


def test_curriculum_order_properties(spark):
    """Curriculum layout: stage banding is the fixed floor(d*n) rule with
    the top of the range capped into the last stage and out-of-range
    difficulties clamped; positions are a dense 0..n-1 permutation within
    every stage; the layout is run-stable, seed-sensitive, and both hasher
    modes honor the same contract."""
    import pytest

    from pr2_transformation_spark.operators.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, i / 100.0) for i in range(100)] + [(100, -0.5), (101, 2.0)],
        ["doc_id", "difficulty"],
    )
    out = curriculum_order(df, "difficulty", "doc_id", n_stages=4, seed=3)
    rows = out.collect()
    stages = {r.doc_id: r.stage for r in rows}
    # fixed banding: d in [0, .25) -> 0 ... [.75, 1) -> 3, d == 1 capped to 3
    assert stages[0] == 0 and stages[24] == 0
    assert stages[25] == 1 and stages[74] == 2
    assert stages[75] == 3 and stages[99] == 3
    # clamping: below-range -> stage 0, above-range -> last stage
    assert stages[100] == 0 and stages[101] == 3
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r.position)
    assert set(by_stage) == {0, 1, 2, 3}
    for positions in by_stage.values():
        assert sorted(positions) == list(range(len(positions)))
    again = curriculum_order(
        df, "difficulty", "doc_id", n_stages=4, seed=3
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    reseed = curriculum_order(
        df, "difficulty", "doc_id", n_stages=4, seed=4
    ).collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, reseed))
    md = curriculum_order(
        df, "difficulty", "doc_id", n_stages=4, seed=3, hasher="md5"
    ).collect()
    assert {r.doc_id: r.stage for r in md} == stages  # stages hash-free
    with pytest.raises(ValueError):
        curriculum_order(df, "difficulty", "doc_id", n_stages=0)
    with pytest.raises(ValueError):
        curriculum_order(df, "difficulty", "doc_id", hasher="sha1")


def test_power_iteration_pca_matches_numpy(spark):
    """Power iteration converges to numpy's exact leading eigenvector of
    the covariance (PSD ⇒ no sign flip vs the deterministic init ⇒ compare
    up to the converged sign), with the Rayleigh-quotient eigenvalue and
    explained ratio matching eigh; run-to-run deterministic."""
    import numpy as np

    from pr2_transformation_spark.functions.similarity import power_iteration_pca

    rng = np.random.default_rng(11)
    # anisotropic cloud: one dominant direction, clear eigengap
    base = rng.normal(size=(300, 8))
    base[:, 0] *= 6.0
    base[:, 1] *= 2.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    got = power_iteration_pca(df, n_iters=12, seed=3)
    x = np.asarray(
        df.select("embedding").toPandas()["embedding"].tolist(), dtype=np.float64
    )
    c = np.cov(x, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(c)
    v_np, lam_np = vecs[:, -1], vals[-1]
    v = np.array(got["component"])
    assert abs(abs(float(v @ v_np)) - 1.0) < 1e-6
    assert abs(got["eigenvalue"] - lam_np) / lam_np < 1e-6
    assert abs(got["explained_ratio"] - lam_np / vals.sum()) < 1e-6
    assert np.allclose(got["mean"], x.mean(axis=0), atol=1e-9)
    again = power_iteration_pca(df, n_iters=12, seed=3)
    assert got["component"] == again["component"]
    with __import__("pytest").raises(ValueError):
        power_iteration_pca(df, n_iters=0)


def test_random_projection_jl_properties(spark):
    """JL sign projection: linearity (projection of a sum = sum of
    projections), scale equivariance, deterministic across runs,
    seed-sensitive, and distance-preserving on average (mean squared
    projected distance ≈ mean squared original distance — the E[·]
    identity that holds exactly for ±1/√k matrices)."""
    import numpy as np

    from pr2_transformation_spark.functions.similarity import random_projection

    rng = np.random.default_rng(4)
    pts = rng.normal(size=(120, 32))
    df = spark.createDataFrame(
        [(i, [float(v) for v in pts[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.proj for r in random_projection(df, out_dim=12, seed=9).collect()}
    again = {
        r.vec_id: r.proj for r in random_projection(df, out_dim=12, seed=9).collect()
    }
    assert out == again
    other = {
        r.vec_id: r.proj for r in random_projection(df, out_dim=12, seed=10).collect()
    }
    assert out != other
    p = np.array([out[i] for i in range(120)])
    x = np.asarray(
        df.orderBy("vec_id").select("embedding").toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    # linearity: P(x0 + x1) == P(x0) + P(x1) via a synthetic summed row
    df2 = spark.createDataFrame(
        [(0, [float(a + b) for a, b in zip(pts[0], pts[1])])],
        "vec_id long, embedding array<float>",
    )
    summed = random_projection(df2, out_dim=12, seed=9).collect()[0].proj
    assert np.allclose(summed, p[0] + p[1], atol=1e-9)
    # unbiased distance preservation in expectation over many pairs
    do = ((x[:60] - x[60:]) ** 2).sum(axis=1)
    dp = ((p[:60] - p[60:]) ** 2).sum(axis=1)
    assert abs(dp.mean() / do.mean() - 1.0) < 0.25
    with __import__("pytest").raises(ValueError):
        random_projection(df, out_dim=0)


def test_cohens_kappa_hand_computed(spark):
    """Kappa against hand-computed textbook values: a perfect-agreement
    group (κ=1), a known mixed 2x2 table, and a constant-label group
    where p_e = 1 yields NULL."""
    from pr2_transformation_spark.functions.scoring import cohens_kappa

    rows = (
        # g1: classic 2x2 — 20 items: a=yes/b=yes 10, yes/no 2, no/yes 4, no/no 4
        [("g1", 1, 1)] * 10 + [("g1", 1, 0)] * 2 + [("g1", 0, 1)] * 4 + [("g1", 0, 0)] * 4
        # g2: perfect agreement over two labels
        + [("g2", 0, 0)] * 3 + [("g2", 1, 1)] * 5
        # g3: both raters constant -> pe = 1 -> kappa NULL
        + [("g3", 2, 2)] * 4
    )
    df = spark.createDataFrame(rows, "grp string, rater_a int, rater_b int")
    out = {r.grp: r for r in cohens_kappa(df, ["grp"], "rater_a", "rater_b").collect()}
    # g1: po = 14/20 = .7; pe = (12*14 + 8*6)/400 = 216/400 = .54
    # kappa = (.7-.54)/.46 = 0.3478
    assert out["g1"].po == 0.7 and out["g1"].pe == 0.54
    assert out["g1"].kappa == 0.3478
    assert out["g2"].kappa == 1.0
    assert out["g3"].po == 1.0 and out["g3"].kappa is None


def test_k_anonymity_hand_computed(spark):
    """k-anonymity census on a hand-built table: classes of size 1, 2, and
    5 give known risky counts per threshold, and min_class_size reports
    the table's true anonymity level."""
    from pr2_transformation_spark.profiling import k_anonymity_report

    rows = (
        [("us", "a")] * 5 + [("us", "b")] * 2 + [("de", "a")] * 1
    )
    df = spark.createDataFrame(rows, "country string, seg string")
    out = {
        r.k: r for r in k_anonymity_report(df, ["country", "seg"], ks=(2, 3, 6)).collect()
    }
    assert out[2].n_classes == 3 and out[2].min_class_size == 1
    assert out[2].risky_classes == 1 and out[2].risky_rows == 1
    assert out[2].risky_frac == 0.125  # 1 / 8
    assert out[3].risky_classes == 2 and out[3].risky_rows == 3
    assert out[6].risky_classes == 3 and out[6].risky_rows == 8
    assert out[6].risky_frac == 1.0


def test_kmeans_lloyd_recovers_separated_clusters(spark):
    """On the 3-axis-separated fixture, k=3 Lloyd must recover the exact
    i%3 partition (20 members each), be invariant to input partitioning,
    and report the quantized squared distance to the FINAL centroid."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    km = similarity.kmeans_lloyd(emb, k=3, n_iters=3)
    got = {r["__id"]: r["cluster"] for r in km["assignments"].collect()}
    # members of one true cluster must share a label, across all three
    label_of = {axis: got[axis] for axis in (0, 1, 2)}
    assert len(set(label_of.values())) == 3
    assert all(got[i] == label_of[i % 3] for i in range(60))

    again = similarity.kmeans_lloyd(emb.repartition(13), k=3, n_iters=3)
    assert again["centroids"] == km["centroids"]

    # the reported dist is against the final centroid, quantized
    c = km["centroids"][got[0]]
    vec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    want = round(sum((a - b) * (a - b) for a, b in zip(vec, c)), 6)
    d0 = km["assignments"].filter(F.col("__id") == 0).first()["dist"]
    assert abs(d0 - want) < 1e-9


def test_kmeans_lloyd_empty_cluster_keeps_previous_centroid(spark):
    """A centroid that captures no members must survive the update
    unchanged (the deterministic, oracle-replayable rule)."""
    from pr2_transformation_spark.functions import similarity

    # ids 0/1 are duplicate init points -> in round 1 every vector ties
    # or prefers centroid 0 (ties break to the LOWER index), so centroid
    # 1 is starved and must keep its init value; once centroid 0 moves
    # to the far mass, the two zero-points legitimately re-assign to 1.
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])] + [
        (i, [10.0 + (i % 3) * 0.1, 5.0]) for i in range(2, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    km = similarity.kmeans_lloyd(emb, k=2, n_iters=1)
    assert km["centroids"][1] == [0.0, 0.0]
    by_cluster = {}
    for r in km["assignments"].collect():
        by_cluster.setdefault(r["cluster"], set()).add(r["__id"])
    assert by_cluster == {0: set(range(2, 12)), 1: {0, 1}}


def test_binary_classifier_report_auc_and_bins(spark):
    """AUC must be the exact tie-corrected Mann-Whitney statistic and the
    calibration bins exact: perfect separation -> 1.0, anti-separation ->
    0.0, all-tied scores -> 0.5 regardless of label mix."""
    from pr2_transformation_spark.functions import scoring

    def report(rows):
        df = spark.createDataFrame(rows, "p double, y int")
        out = scoring.binary_classifier_report(df, score_col="p", label_col="y")
        return {r["bin"]: r for r in out.collect()}

    perfect = report([(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])
    assert all(r["auc"] == 1.0 for r in perfect.values())
    assert perfect[8]["frac_pos"] == 1.0 and perfect[1]["frac_pos"] == 0.0

    inverted = report([(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)])
    assert all(r["auc"] == 0.0 for r in inverted.values())

    tied = report([(0.5, 1), (0.5, 1), (0.5, 0), (0.5, 0), (0.5, 0)])
    assert list(tied) == [5]
    assert tied[5]["auc"] == 0.5 and tied[5]["n"] == 5
    assert tied[5]["frac_pos"] == 0.4
    # brier for p=0.5 everywhere is exactly 0.25
    assert tied[5]["brier"] == 0.25

    # mixed case with a tie straddling the labels:
    # scores asc: 0.2(y0) r1, 0.4(y1),0.4(y0) avg r2.5, 0.7(y1) r4
    # rpos = 2.5 + 4 = 6.5; auc = (6.5 - 3) / (2*2) = 0.875
    mixed = report([(0.2, 0), (0.4, 1), (0.4, 0), (0.7, 1)])
    assert all(r["auc"] == 0.875 for r in mixed.values())


def test_label_propagation_deterministic_communities(spark):
    """Two disjoint triangles must collapse to their min-id labels in one
    round; a path node between two equal-size neighbor groups breaks the
    tie to the SMALLER label; result invariant to edge direction and
    partitioning."""
    from pr2_transformation_spark.operators.graph import label_propagation

    tri = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(tri, "src long, dst long")
    got = {r["id"]: r["label"] for r in label_propagation(edges, 3).collect()}
    assert {got[0], got[1], got[2]} == {0} or len({got[0], got[1], got[2]}) == 1
    assert len({got[10], got[11], got[12]}) == 1
    assert got[0] != got[10]

    flipped = spark.createDataFrame(
        [(b, a) for a, b in tri], "src long, dst long"
    ).repartition(7)
    again = {r["id"]: r["label"] for r in label_propagation(flipped, 3).collect()}
    assert again == got


def test_exponential_smoothing_closed_form_equals_recurrence(spark):
    """q294's windowed closed form must equal the literal sequential
    recurrence s_t = a*x_t + (1-a)*s_{t-1} seeded at x_0."""
    import __spark_entry__ as e

    out = {
        r["day"]: (r["level"], r["forecast"])
        for r in e.q294_exponential_smoothing(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    daily = sorted(
        (r["day"], r["rev"])
        for r in spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .collect()
    )
    s = None
    for i, (day, x) in enumerate(daily):
        prev = s
        s = x if s is None else 0.3 * x + 0.7 * s
        assert abs(out[day][0] - s) < max(1e-6 * abs(s), 1e-4), day
        if i > 0:
            assert abs(out[day][1] - prev) < max(1e-6 * abs(prev), 1e-4), day


def test_hamming_component_edges_preserve_components(spark):
    """The contracted spanning edge set must yield EXACTLY the connected
    components of the full all-pairs Hamming graph, including duplicate
    multiplicity and near (not just exact) matches."""
    from pr2_transformation_spark.functions import dedup
    from pr2_transformation_spark.operators import graph

    # hash families: 3 exact groups + one near pair (distance 2) + isolates
    rows = [
        (1, 0b1111000011110000), (2, 0b1111000011110000),
        (3, 0b1111000011110000),                      # exact group A
        (4, 0b1111000011110011),                      # near A (dist 2)
        (5, 0b0000111100001111), (6, 0b0000111100001111),  # exact group B
        (7, 0b1010101010101010),                      # isolate
        (8, 0b0101010101010101),                      # isolate
    ]
    df = spark.createDataFrame(rows, "vid long, h long")

    def comps(edges):
        out = graph.dedup_clusters(
            edges.select("id_a", "id_b"), df.select("vid"), "vid",
            "id_a", "id_b",
        )
        m = {}
        for r in out.collect():
            m.setdefault(r[1], set()).add(r[0])
        return sorted(frozenset(v) for v in m.values())

    full = dedup.hamming_near_dup_pairs(df, "h", "vid", max_distance=2, bits=16, bands=3)
    contracted = dedup.hamming_component_edges(df, "h", "vid", max_distance=2, bits=16, bands=3)
    assert comps(contracted) == comps(full)
    # the contraction is doing real work: fewer edges than pairs
    assert contracted.count() < full.count()


def test_soundex_chain_textbook_vectors(spark):
    """The q366 engine-portable soundex chain against the NARA standard
    examples — including the h/w rule (Ashcraft) and the adjacent
    same-code first letter (Pfister)."""
    from __spark_entry__ import _SOUNDEX_SQL

    vectors = {
        "robert": "R163", "rupert": "R163", "ashcraft": "A261",
        "ashcroft": "A261", "tymczak": "T522", "pfister": "P236",
        "washington": "W252", "lee": "L000", "gutierrez": "G362",
        "jackson": "J250", "honeyman": "H555",
    }
    df = spark.createDataFrame([(w,) for w in vectors], ["word"])
    got = {r["word"]: r["code"]
           for r in df.selectExpr("word", f"{_SOUNDEX_SQL} AS code").collect()}
    assert got == vectors


def test_bloom_prefilter_reduces_without_false_negatives(spark):
    """q367's contract: bloom_filter_rows never drops a true match,
    PRESERVES duplicate-row multiplicity (unlike the probe-verdict API),
    and strictly shrinks the probe side at these sizes."""
    from pr2_transformation_spark.functions import sketches as sk

    keys = spark.range(0, 200).select(F.col("id").alias("k"))
    probe = spark.range(0, 20000).select((F.col("id") % 4000).alias("k"))
    bits = sk.bloom_bits_table(keys, "k", k=4, m=4096)
    survivors = sk.bloom_filter_rows(bits, probe, "k", k=4, m=4096)
    n_surv = survivors.count()
    true_matches = probe.join(keys, "k").count()
    assert true_matches == 1000  # 200 keys x 5 repeats each
    # no false negatives AND multiplicity preserved: all 1000 match rows
    assert survivors.join(keys, "k").count() == true_matches
    # the prefilter genuinely reduced the probe side
    assert true_matches <= n_surv < 20000
    # map-side contract: with the bit table pre-materialized, the whole
    # prefilter plans as broadcast joins — zero shuffle over the probe side
    import contextlib, io
    flat_bits = spark.createDataFrame(bits.collect())
    flat = sk.bloom_filter_rows(flat_bits, probe, "k", k=4, m=4096)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        flat.explain("formatted")
    assert "Exchange" not in buf.getvalue().replace("BroadcastExchange", "BCX")


def test_hilbert_matches_reference_and_is_continuous(spark):
    """hilbert_frame vs the textbook xy2d on the full 32x32 grid, plus
    the property Z-order lacks: consecutive curve positions are always
    Manhattan-distance-1 neighbors."""
    from pr2_transformation_spark.operators.zorder import hilbert_frame

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    bits = 5
    n = 1 << bits
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y"))
    got = {(r["x"], r["y"]): r["_h"]
           for r in hilbert_frame(grid, "x", "y", bits=bits).collect()}
    assert got == {(x, y): xy2d(n, x, y) for x in range(n) for y in range(n)}
    # continuity: walk the curve, every step moves exactly one cell
    by_d = sorted(got, key=got.get)
    assert all(
        abs(a[0] - b[0]) + abs(a[1] - b[1]) == 1
        for a, b in zip(by_d, by_d[1:]))


def test_ivfpq_full_probe_rerank_matches_bruteforce(spark):
    """With every cell probed and a rerank shortlist covering the whole
    corpus, IVF-PQ's two-stage result is the exact top-k: the shortlist
    can't miss, and the re-rank is full-precision."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = similarity.cosine_topk_ivfpq(
        corpus, queries, k=3, n_centroids=3, n_probe=3,
        m=2, n_codes=8, rerank=60,
    )
    exact = similarity.cosine_topk_bruteforce_pandas(corpus, queries, k=3)
    a = {(r["query_id"], r["vec_id"]) for r in out.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert a == e


def test_ivfpq_encode_deterministic_and_residual_shaped(spark):
    """Encoding is deterministic across partitionings, every vector gets
    its argmax-dot cell, and codes index the residual codebooks."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    cents, books = similarity.train_ivfpq(
        emb, n_centroids=3, m=2, k=4, sample_rows=60)
    assert len(books) == 2 and all(len(b) <= 4 for b in books)
    one = {r["vec_id"]: (r["__cell"], tuple(r["code"]))
           for r in similarity.ivfpq_encode(emb, cents, books).collect()}
    two = {r["vec_id"]: (r["__cell"], tuple(r["code"]))
           for r in similarity.ivfpq_encode(
               emb.repartition(7), cents, books).collect()}
    assert one == two
    assert all(0 <= c < 3 for c, _ in one.values())
    assert all(all(0 <= x < 4 for x in code) for _, code in one.values())


def test_ivfpq_scan_filters_to_probed_cells(spark):
    """The encoded scan is filtered to the union of probed cells BEFORE
    scoring — the partition-pruning shape: with 1 probe over separated
    clusters each query only ever sees its own cell's ids."""
    from pr2_transformation_spark.functions import similarity

    emb = _vectors(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = similarity.cosine_topk_ivfpq(
        corpus, queries, k=5, n_centroids=3, n_probe=1, m=2, n_codes=8)
    cents, books = similarity.train_ivfpq(
        corpus, n_centroids=3, m=2, k=8, sample_rows=4096)
    cell_of = {r["vec_id"]: r["__cell"] for r in
               similarity.ivfpq_encode(corpus, cents, books).collect()}
    qcell = {r["vec_id"]: r["__cell"] for r in similarity.ivfpq_encode(
        emb.filter(F.col("vec_id") < 3), cents, books).collect()}
    for r in out.collect():
        assert cell_of[r["vec_id"]] == qcell[r["query_id"]]


def test_fastcdc_vectorized_matches_scalar():
    """The numpy candidate path in fastcdc_chunks must produce the
    IDENTICAL chunk list (offsets, lengths, hashes) as the per-byte
    scalar reference, including warm-region cuts right after a chunk
    reset and the max_size cap (r10)."""
    import hashlib
    import random

    from pr2_transformation_spark.functions.dedup import (
        _fastcdc_chunks_scalar,
        fastcdc_chunks,
    )

    rng = random.Random(11)
    snip = "".join(hashlib.md5(f"b{i}".encode()).hexdigest()
                   for i in range(128)).encode()
    cases = [
        (bytes(rng.randrange(256) for _ in range(n)), 256, 1024, 8192)
        for n in (0, 1, 255, 256, 257, 5000, 40000)
    ] + [
        (b"hello world " * 300 + snip, 256, 1024, 8192),
        (b"X" + b"hello world " * 300 + snip, 256, 1024, 8192),
        (b"\x00" * 20000, 256, 1024, 8192),          # max_size caps
        (snip * 5, 64, 256, 512),
        (bytes(rng.randrange(256) for _ in range(150000)),
         2048, 8192, 65536),
    ]
    for d, mn, av, mx in cases:
        assert fastcdc_chunks(d, mn, av, mx) == \
            _fastcdc_chunks_scalar(d, mn, av, mx)
