"""Interleaved A/B of the session-wide SHJ join posture (r10 VERDICT item 1).

Round-10 set `spark.sql.join.preferSortMergeJoin=false` +
`spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64MiB`
session-wide; the driver's solo re-time then confirmed q272 ~1.5x slower
with untouched code, and q286/q258/q260 shared the suspect profile.

This harness runs the suspect queries under BOTH postures in ONE session,
strictly interleaved (A,B,A,B,...) so slow environment drift cancels, with
`--reps` pairs per query (default 5).  Both knobs are runtime-settable SQL
confs, so flipping them between executions changes the next plan only.

Usage: python scripts/ab_join_posture.py [--reps 5] [queries...]
Reads $SPARK_GRAFT_SF_DIR; ``build_session`` reads $SPARK_GRAFT_CPUS
(default: all cores).
"""
from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pr2_transformation_spark.session import build_session

DEFAULT_QUERIES = [
    "q272_jl_projection_distortion",
    "q286_label_propagation",
    "q258_audio_perceptual_dedup",
    "q260_video_perceptual_dedup",
]

POSTURES = {
    # A = the r10 posture as committed in session.py
    "shj": {"spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
                str(64 * 1024 * 1024)},
    # B = Spark defaults (prefer sort-merge, AQE SHJ rewrite off)
    "smj": {"spark.sql.join.preferSortMergeJoin": "true",
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0"},
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    names = args.queries or DEFAULT_QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("ab-join-posture")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    qs = entrymod.queries()
    results: dict[str, dict[str, list[float]]] = {
        n: {k: [] for k in POSTURES} for n in names}
    for name in names:
        fn = qs[name]
        # one untimed warmup under each posture so JIT/codegen for both
        # plan shapes is compiled before any timed rep
        for key in POSTURES:
            for k, v in POSTURES[key].items():
                spark.conf.set(k, v)
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        for rep in range(args.reps):
            for key in POSTURES:
                for k, v in POSTURES[key].items():
                    spark.conf.set(k, v)
                gc.collect()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                dt = round(time.perf_counter() - t0, 3)
                results[name][key].append(dt)
                print(f"{name} rep{rep} {key}: {dt}", file=sys.stderr)

    summary = {}
    for name in names:
        r = results[name]
        summary[name] = {
            k: {"reps": r[k], "min": min(r[k]),
                "median": statistics.median(r[k])} for k in POSTURES}
        summary[name]["shj_over_smj_median"] = round(
            statistics.median(r["shj"]) / statistics.median(r["smj"]), 3)
        summary[name]["shj_over_smj_min"] = round(
            min(r["shj"]) / min(r["smj"]), 3)
    print(json.dumps(summary, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
