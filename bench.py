"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-count);
a warm-up of the input files happens once so the numbers measure query
execution, not OS page-cache misses.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ic_spark.queries import REGISTRY  # noqa: E402
from ic_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --------------------------------------------------------- calibration
#
# The bench host shows bursty CPU steal AND day-to-day drift (r4->r5
# driver files moved -11% while same-host A/B showed +13%), so raw
# cross-round totals are not interpretable.  A fixed CPU-bound Spark
# job — seeded in-memory range + chained xxhash64 aggregate, no IO, no
# shuffle beyond the final reduce — runs alongside the headline set;
# `value_normalized = value * (CALIBRATION_REF / calibration_now)`
# rescales totals to the reference host-speed so round-over-round
# deltas reflect the CODE.  CALIBRATION_REF is this job's min-of-4
# wall measured IN-BENCH (after the headline set, JVM fully warm) when
# the anchor was introduced (round 6); it must never be re-tuned, or
# the normalization loses its meaning.

CALIBRATION_REF = 0.302
CALIBRATION_ROWS = 512_000_000

# Second anchor (round 8): small-job FIXED cost.  The CPU anchor above
# corrects compute throughput, but sub-second sf0.1 headline queries are
# dominated by per-job orchestration (DAG scheduling, Py4J round-trips,
# task launch) that does NOT scale with host CPU speed — on a fast
# host-day the CPU anchor alone over-penalizes the code (r7: raw 0.90x
# vs CPU-normalized 1.14x, self-contradictory).  This anchor times a
# 32-task no-op job (scheduling + task launch + result fetch, zero
# compute), min-of-N.  LATENCY_REF is its min-of-40 measured IN-BENCH
# when the anchor was introduced (round 8, post-headline value 0.0501
# with pre/post drift 1.002 — same discipline as CALIBRATION_REF);
# never re-tune it.
LATENCY_REF = 0.050
LATENCY_REPS = 40

# The exact headline sets benchmarked in rounds 6 and 7 (BENCH_r06.json
# / BENCH_r07.json).  New headline queries are still timed and counted
# in `value`, but `value_comparable_r{6,7}` sum ONLY these, so
# round-over-round like-for-like comparison is a file read, not a
# recomputation.
COMPARABLE_R6 = frozenset(
    {
        "asof_join_latest_order", "dedup_exact", "dedup_minhash_lsh",
        "dedup_substring_spans", "dedup_token_jaccard",
        "events_tumbling_window", "mor_changelog_scan",
        "mor_equality_delete", "mor_full_merge_on_read",
        "mor_position_delete", "pipeline_decontaminate",
        "pipeline_prepare_training", "q1_pricing_summary",
        "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_revenue_forecast", "sim_bruteforce_topk", "sim_ivf_topk",
        "sim_ivf_topk_expr", "sim_pq_topk", "text_pii_scrub",
        "window_topk_revenue_per_brand",
    }
)

# COMPARABLE_R6 + sim_ivfpq_topk (joined the headline set in round 7).
COMPARABLE_R7 = COMPARABLE_R6 | {"sim_ivfpq_topk"}

# Same MEMBERSHIP as r7, new measurement epoch: every
# `value_comparable_r10` was produced under the clearCache-per-rep
# protocol (r10 measurement fix), so from round 10 on, this total is
# cold-vs-cold by file read.  The r6/r7 totals remain for continuity
# with old records but mix cache-served minima for self-persisting
# queries in rounds <=9.
COMPARABLE_R10 = COMPARABLE_R7


def calibration_secs(spark, reps: int = 4) -> float:
    best = float("inf")
    for _ in range(reps):
        start = time.perf_counter()
        spark.range(0, CALIBRATION_ROWS, 1, 32).selectExpr(
            "xxhash64(id) h"
        ).selectExpr("sum(xxhash64(h, h + 1)) s").collect()
        best = min(best, time.perf_counter() - start)
    return round(best, 3)


def latency_secs(spark, reps: int = LATENCY_REPS) -> float:
    """Small-job fixed-cost anchor: min-of-N wall for a 32-task no-op
    job.  Measures scheduling + Py4J + task-launch overhead, which the
    CPU anchor can't see (see LATENCY_REF comment)."""
    best = float("inf")
    for _ in range(reps):
        start = time.perf_counter()
        spark.range(0, 32, 1, 32).count()
        best = min(best, time.perf_counter() - start)
    return round(best, 4)


def main() -> None:
    spark = get_spark("ic_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = [q for q in REGISTRY.values() if q.headline]

    # Warm-up: touch every fixture file once (page cache + session JIT).
    from ic_spark.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).count()

    # Warm the Python UDF workers too (fork + numpy/pandas import is a
    # one-time ~2-3 s cost across 32 workers that would otherwise land
    # entirely on the first Arrow-UDF query).
    from pyspark.sql.functions import pandas_udf

    # No parameter hints: `from __future__ import annotations` would
    # stringify them, which pandas_udf's hint inference rejects.
    def _ping(s):
        return s

    # Aggregate OVER the UDF output — count() alone lets ColumnPruning
    # drop the (deterministic) UDF column and no worker ever forks.
    spark.range(0, 32, 1, 32).select(
        pandas_udf(_ping, "long")("id").alias("x")
    ).agg({"x": "sum"}).collect()

    # Untimed warm-up lap for the anchor jobs themselves (VERDICT r8
    # #2): the first calibration run JIT-compiles the codegen'd xxhash
    # pipeline and the first no-op jobs pay one-time scheduler set-up,
    # so without this lap the PRE anchors measure JVM warm-up and the
    # drift ratio conflates warm-up with genuine mid-run host drift
    # (r8 recorded drift 0.822/0.612 from exactly that).  Measured
    # residual: the latency anchor converges fully here (drift ~0.95),
    # but the CPU anchor plateaus at ~0.31 standalone and only reaches
    # ~0.27 after the 25-query headline set C2-compiles shared Spark
    # internals — deep-JVM warm-up no pre-lap can reach.  That is why
    # `calibration` (and CALIBRATION_REF) are POST values: the post
    # pair is the like-for-like anchor; calibration_drift below ~0.9
    # on top of that plateau gap indicates genuine host drift.
    calibration_secs(spark, reps=2)
    latency_secs(spark, reps=5)

    # Both anchors run BEFORE and AFTER the headline loop: the pre/post
    # delta detects intra-run host drift (CPU steal arriving mid-bench),
    # which single-point calibration silently folds into the code's
    # numbers.  `calibration` stays the POST value — CALIBRATION_REF was
    # measured post-headline (JVM fully warm) in round 6 and must be
    # compared like-for-like.
    calib_pre = calibration_secs(spark)
    latency_pre = latency_secs(spark)
    print(
        f"# pre-anchors: cpu {calib_pre}s latency {latency_pre}s",
        file=sys.stderr,
    )

    # Three reps, report the min: the shared host shows bursty CPU
    # steal, and min-of-reps measures the engine rather than the
    # neighbors (two reps left ±20% swings on individual queries).
    #
    # clearCache BEFORE every rep (r10 measurement fix): queries that
    # persist internally (dedup_minhash_lsh's signatures/candidates)
    # never unpersist, and Spark's CacheManager plan-matching let reps
    # 2-3 serve from rep 1's cache — the reported min measured
    # serve-from-cache, not end-to-end execution (verified: 2.17s cold
    # vs 1.37s cached at sf0.001), so a regression in the dominant
    # signature stage would not have moved the headline at all.  NOTE
    # for round-over-round reads: r≤9 minima for the self-persisting
    # queries are cache-served and NOT comparable to r10+ on those rows.
    timings: dict[str, float] = {}
    latency_mid = None
    calib_mid = None
    for i, q in enumerate(headline):
        best, rows = float("inf"), 0
        for _ in range(3):
            spark.catalog.clearCache()
            start = time.perf_counter()
            rows = q.fn(spark, SF_DIR).count()
            best = min(best, time.perf_counter() - start)
        timings[q.name] = round(best, 3)
        print(f"# {q.name}: {timings[q.name]}s ({rows} rows)", file=sys.stderr)
        if i == len(headline) // 2:
            # Mid-window latency sample (VERDICT r10 #6): with only
            # pre/post samples, one noisy post reading (r10 drift
            # 0.874) poisoned every latency-normalized total.  A third
            # sample inside the headline window lets lat_factor use
            # min(mid, post) — the min of a FIXED-cost job is the
            # honest estimator (noise only ever adds), and LATENCY_REF
            # is itself a warm-JVM min-of-40.
            latency_mid = latency_secs(spark)
            # Mid-window CPU sample (VERDICT r11 #2): r11's official
            # record landed in a window where the host speed changed
            # 15% mid-run (calibration_drift 0.849) and NEITHER the
            # pre nor the post CPU anchor could see it — the graded
            # normalized headline was hostage to host decay between
            # the anchors.  Same treatment latency got in r11:
            # cpu_factor below uses min(mid, post).
            calib_mid = calibration_secs(spark)
            print(
                f"# mid-headline anchors: latency {latency_mid}s "
                f"cpu {calib_mid}s",
                file=sys.stderr,
            )
    spark.catalog.clearCache()  # drop the last rep's leftover blocks

    # Serve-only persisted-index timing (VERDICT r8 #3): the
    # sim_ivfpq_topk headline times train + encode + serve every run,
    # but the production shape the build/serve split exists for is
    # "index built nightly, queries all day".  Reuse the registry's
    # own sim_ivfpq_indexed_topk (whose first invocation per process
    # builds the index, later ones serve from it — the exact query the
    # driver sweep correctness-checks, so a parameter change there
    # changes this row too instead of silently diverging): one untimed
    # build invocation, then time serve-only repeats, with the
    # dynamic-partition-pruning plan pin asserted in-bench.
    indexed = REGISTRY["sim_ivfpq_indexed_topk"].fn
    out = indexed(spark, SF_DIR)  # builds the per-process index
    plan = out._jdf.queryExecution().executedPlan().toString()
    # explicit raise, not `assert`: python -O would silently skip the
    # pin and publish a DPP-less full-scan serve row (r10 review find)
    if "dynamicpruning" not in plan.lower():
        raise AssertionError("serve path lost its DPP pin")
    best, rows = float("inf"), 0
    for _ in range(3):
        start = time.perf_counter()
        rows = indexed(spark, SF_DIR).count()
        best = min(best, time.perf_counter() - start)
    timings["sim_ivfpq_index_serve"] = round(best, 3)
    print(
        f"# sim_ivfpq_index_serve: {timings['sim_ivfpq_index_serve']}s"
        f" ({rows} rows, DPP pinned)",
        file=sys.stderr,
    )
    # Reclaim the per-process index through the registry's OWN keying
    # helper (the duplicated spelling would silently no-op if llm.py's
    # key construction changed — r10 review find).
    from ic_spark.queries.llm import ivfpq_index_release

    ivfpq_index_release(SF_DIR)

    # Comparable sets are like-for-like ONLY if every member was timed
    # this run — a silently demoted headline query deflated the total
    # with no error (r10 review find; demotions are routine).
    for label, names in (
        ("r6", COMPARABLE_R6),
        ("r7", COMPARABLE_R7),
        ("r10", COMPARABLE_R10),
    ):
        missing = sorted(names - timings.keys())
        if missing:
            raise AssertionError(
                f"COMPARABLE_{label.upper()} members not timed this "
                f"run: {missing} — a demoted/renamed headline query "
                "breaks the like-for-like total"
            )
    total = round(sum(timings.values()), 3)
    comparable_r6 = round(
        sum(t for n, t in timings.items() if n in COMPARABLE_R6), 3
    )
    comparable_r7 = round(
        sum(t for n, t in timings.items() if n in COMPARABLE_R7), 3
    )
    comparable_r10 = round(
        sum(t for n, t in timings.items() if n in COMPARABLE_R10), 3
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    calib = calibration_secs(spark)
    latency_post = latency_secs(spark)
    print(
        f"# post-anchors: cpu {calib}s (ref {CALIBRATION_REF}s, pre"
        f" {calib_pre}s) latency {latency_post}s (ref {LATENCY_REF}s,"
        f" pre {latency_pre}s)",
        file=sys.stderr,
    )
    # min(mid, post), mirroring the latency window (r11 VERDICT #2):
    # each sample is already an internal min-of-reps (one-sided noise
    # stripped), so the min across the in-window and post samples is
    # the fastest host state the headline window plausibly saw — the
    # normalized total is never flattered beyond what an anchor that
    # actually bracketed the window justifies, and a host that decays
    # mid-run (invisible to pre/post alone) is at least partially
    # corrected by the mid reading.
    calibration_window = min(x for x in (calib_mid, calib) if x is not None)
    cpu_factor = CALIBRATION_REF / calibration_window
    # min(mid, post): both are warm-JVM samples like LATENCY_REF, and
    # the min of a fixed-cost job discards one-sided noise — one noisy
    # post sample made r10's latency-normalized totals uninterpretable
    # (latency_drift 0.874 while the CPU anchor held 0.908).
    latency_window = min(
        x for x in (latency_mid, latency_post) if x is not None
    )
    lat_factor = LATENCY_REF / latency_window
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # Per-query CPU-normalized walls: lets round-over-round diffs
        # name the mover without recomputing, and makes a single
        # regressed query visible even when the total nets out flat.
        "queries_normalized": {
            n: round(t * cpu_factor, 3) for n, t in timings.items()
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration": calib,
        "calibration_pre": calib_pre,
        "calibration_mid": calib_mid,
        # the CPU factor divides CALIBRATION_REF by min(mid, post) —
        # see the cpu_factor comment (r11 VERDICT #2)
        "calibration_window": calibration_window,
        "calibration_ref": CALIBRATION_REF,
        "latency": latency_post,
        "latency_pre": latency_pre,
        "latency_mid": latency_mid,
        # the latency factor divides LATENCY_REF by min(mid, post) —
        # see lat_factor comment (r10 VERDICT #6)
        "latency_window": latency_window,
        "latency_ref": LATENCY_REF,
        # Drift ratios: |1 - drift| > ~0.15 means the host speed CHANGED
        # mid-run and any cross-round comparison this round needs a
        # same-host A/B (tools/pairs.py), not anchor arithmetic.
        "calibration_drift": round(calib / calib_pre, 3) if calib_pre else None,
        "latency_drift": (
            round(latency_post / latency_pre, 3) if latency_pre else None
        ),
        "value_normalized": round(total * cpu_factor, 3),
        # Latency-anchor view of the same total: sub-second sf0.1
        # queries are mostly fixed orchestration cost, so the honest
        # cross-round statement brackets the truth between the two
        # normalizations (CPU-bound floor, latency-bound ceiling).
        "value_normalized_latency": round(total * lat_factor, 3),
        "value_comparable_r6": comparable_r6,
        "value_comparable_r6_normalized": round(
            comparable_r6 * cpu_factor, 3
        ),
        "value_comparable_r7": comparable_r7,
        "value_comparable_r7_normalized": round(
            comparable_r7 * cpu_factor, 3
        ),
        "value_comparable_r7_normalized_latency": round(
            comparable_r7 * lat_factor, 3
        ),
        # Cold-protocol epoch (VERDICT r10 #2): same members as r7 but
        # every round contributing to this key ran clearCache-per-rep,
        # so r10+ rounds compare cold-vs-cold by file read.
        "value_comparable_r10": comparable_r10,
        "value_comparable_r10_normalized": round(
            comparable_r10 * cpu_factor, 3
        ),
        # r10 measurement fix carried IN the record: reps clearCache,
        # so self-persisting queries (dedup_minhash_lsh) time true
        # end-to-end execution — r<=9 minima for those rows were
        # cache-served and are NOT comparable (~+2s on the comparable
        # totals comes from this fix, not a code regression).
        "measurement_note": (
            "r10+: clearCache per rep; dedup_minhash_lsh (and any "
            "self-persisting query) no longer serves reps 2-3 from "
            "rep 1's cache — r<=9 minima for those rows are not "
            "comparable"
        ),
    }

    ran_probes = False
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        ran_probes = True
        sf1_timings, sf1_serve = run_sf1_probe(spark)
        record["sf1_queries"] = sf1_timings
        # The serve row (new in r10) lives OUTSIDE sf1_queries/sf1_value
        # so the cross-round sf1 total stays membership-stable vs r<=9
        # records (r10 ADVICE find; r10's own sf1_value included it —
        # subtract its sf1_queries entry when comparing to r10).
        record["sf1_index_serve"] = sf1_serve
        record["sf1_value"] = round(sum(sf1_timings.values()), 3)
        record["sf1_value_normalized"] = round(
            record["sf1_value"] * CALIBRATION_REF / calib, 3
        )
        if os.environ.get("SPARK_GRAFT_SKEW", "1") != "0":
            (
                skew,
                uniform,
                skew_rows,
                uniform_rows,
                skew_pairs,
                uniform_pairs,
            ) = run_skew_probe(spark)
            record["skew_queries"] = skew
            record["skew_uniform_queries"] = uniform
            record["skew_rows"] = skew_rows
            record["skew_uniform_rows"] = uniform_rows
            record["skew_ratios"] = {
                k: round(skew[k] / uniform[k], 2) if uniform[k] else None
                for k in skew
            }
            # Work-normalized view: enumerated candidate pairs (sum of
            # C(n,2) over each operator's blocking keys) and the
            # wall-per-pair ratio — separates legitimate work growth
            # (hot key merges blocks -> more pairs) from engine skew
            # overhead (same pairs, one slow task).
            record["skew_pairs"] = skew_pairs
            record["uniform_pairs"] = uniform_pairs
            record["skew_wall_per_pair_ratio"] = {
                k: round(
                    (skew[k] / skew_pairs[k])
                    / (uniform[k] / uniform_pairs[k]),
                    3,
                )
                if uniform_pairs.get(k) and skew_pairs.get(k) and uniform[k]
                else None
                for k in skew_pairs
            }
    # Independently gated (r11 ADVICE: the sf10 gate was nested inside
    # the sf1 block, so SPARK_GRAFT_SF1=0 silently disabled sf10 too).
    if os.environ.get("SPARK_GRAFT_SF10", "1") != "0":
        ran_probes = True
        sf10_timings = run_sf10_probe(spark)
        record["sf10_queries"] = sf10_timings
        # frozen membership: the r12 serve/skew rows stay out of the
        # cross-round total (see SF10_VALUE_MEMBERS)
        record["sf10_value"] = round(
            sum(
                t
                for n, t in sf10_timings.items()
                if n in SF10_VALUE_MEMBERS
            ),
            3,
        )
    if ran_probes:
        # Post-PROBE anchors (r10 review find): the sf1/skew probes run
        # entirely after the headline post-anchors, so a CPU-steal
        # burst arriving during them was invisible — no drift guard
        # covered the probe window and sf1_value_normalized rescaled
        # with a stale anchor.  probes_drift below plays the same role
        # calibration_drift plays for the headline window.
        calib_probes = calibration_secs(spark)
        latency_probes = latency_secs(spark)
        record["calibration_post_probes"] = calib_probes
        record["latency_post_probes"] = latency_probes
        record["probes_drift"] = round(min(calib, calib_probes)
                                       / max(calib, calib_probes), 3)
        print(
            f"# post-probe anchors: cpu {calib_probes}s latency "
            f"{latency_probes}s (probes_drift "
            f"{record['probes_drift']})",
            file=sys.stderr,
        )

    print(json.dumps(record))


# --------------------------------------------------------- sf1 scale probe
#
# The 100x-scale claims rest on plan reading; this probe actually RUNS the
# five most expensive headline queries at 10x the bench SF to catch any
# super-linear surprise (driver-side loop, job-count blowup, shuffle
# explosion) that plan inspection missed.
#
# Scaling model = how a real table grows: FACT tables (lineitem, orders,
# customer, documents, embeddings) are replicated 10x with join/delete
# keys shifted per replica; DIMENSION tables (part, supplier, nation,
# region) stay fixed.  The shift constant is a multiple of every modulus
# the queries use (360360 = 2^3*3^2*5*7*11*13), so mod-derived delete
# fractions and virtual-file layouts are IDENTICAL per replica and the
# correct output is exactly 10x the sf0.1 output.  Document text is
# Caesar-rotated per replica (token/shingle structure preserved, zero
# cross-replica shingle overlap) and `source` is replica-suffixed, so
# near-dup density and Jaccard block sizes match sf0.1 — the probe
# measures the ENGINE at 10x, not an artificially dup-heavy corpus.

SF1_SHIFT = 360360 * 10_000
SF1_REPLICAS = 10
SF1_PROBE_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_token_jaccard",
    "mor_full_merge_on_read",
    "sim_ivf_topk",
    "q5_local_supplier_volume",
    # r6 flagship additions: scale-tracked at 10x alongside their
    # headline rows (PQ scan-compression and the CDC scan are the two
    # newest 100 TB claims).
    "sim_pq_topk",
    "mor_changelog_scan",
    # r7: the composed IVFADC layout became headline (VERDICT r6 #6);
    # its 10x behavior is the flagship-ANN scale claim.
    "sim_ivfpq_topk",
]
# fact table -> key columns shifted by replica*SF1_SHIFT
SF1_FACTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SF1_DIMS = ["part", "supplier", "nation", "region"]


def _ensure_scaled_dir(
    spark, out_dir: str, stamp: str, replicas: int, text_map
) -> str:
    """Replicate the fact tables ``replicas``x into ``out_dir`` (keys
    shifted per replica, dims fixed) — shared by the sf1 and sf10
    probes.  ``text_map(i)`` returns the 26-letter translate target
    decorrelating replica i's document text."""
    import pyspark.sql.functions as F

    from ic_spark.tables import load_table

    marker = os.path.join(out_dir, "_GENERATED")
    # The marker records the GENERATOR INPUTS: a bare existence check
    # silently reused stale data after an SF_DIR or shift/replica
    # change (r10 review find).
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return out_dir
        print(f"# scaled data stale in {out_dir}: regenerating",
              file=sys.stderr)
        import shutil as _sh

        _sh.rmtree(out_dir, ignore_errors=True)
        # a stale sf1 set invalidates the skew sets derived from it
        _sh.rmtree(
            os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/ic_spark_sf1_skew"),
            ignore_errors=True,
        )
    os.makedirs(out_dir, exist_ok=True)
    alpha = "abcdefghijklmnopqrstuvwxyz"

    for name, keys in SF1_FACTS.items():
        base = load_table(spark, SF_DIR, name)
        parts = []
        for i in range(replicas):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(i * SF1_SHIFT))
            if name == "documents":
                rep = rep.withColumn(
                    "text", F.translate(F.col("text"), alpha, text_map(i))
                ).withColumn("source", F.concat_ws("_r", F.col("source"), F.lit(i)))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    for name in SF1_DIMS:
        load_table(spark, SF_DIR, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


def ensure_sf1_dir(spark) -> str:
    alpha = "abcdefghijklmnopqrstuvwxyz"
    # Caesar rotation per replica — distinct for replicas < 26, and the
    # stamp matches r9/r10 generations so existing sf1 data is reused.
    return _ensure_scaled_dir(
        spark,
        os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/ic_spark_sf1"),
        f"{SF_DIR}|shift={SF1_SHIFT}|replicas={SF1_REPLICAS}|v2",
        SF1_REPLICAS,
        lambda i: alpha[i:] + alpha[:i],
    )


# ------------------------------------------------------- sf10 scale probe
#
# VERDICT r10 #4: the sf1 probe extrapolates 100 TB claims from 10x;
# this one runs the three heaviest shapes at 100x the bench SF (sf10 ≈
# 500k docs / 60M lineitem rows, ~1.4 GB parquet) to catch
# superlinearity sf1 cannot show.  Caesar rotation repeats after 26
# replicas (replicas i and i+26 would share IDENTICAL text, flooding
# the near-dup probe with artificial cross-replica pairs), so replica
# text decorrelates with a seeded random alphabet PERMUTATION instead —
# distinct per replica, token/shingle structure preserved, zero
# expected cross-replica shingle overlap.

SF10_REPLICAS = 100
SF10_PROBE_QUERIES = [
    "dedup_minhash_lsh",
    "sim_ivfpq_topk",
    "mor_full_merge_on_read",
]
# sf10_value sums exactly the r11 membership forever (the r10 ADVICE
# rule that kept sf1_value stable when the serve row joined): the r12
# serve + skew rows land in sf10_queries but never inflate the
# cross-round total.
SF10_VALUE_MEMBERS = frozenset(SF10_PROBE_QUERIES)


def _perm_map(i: str | int) -> str:
    import random

    alpha = "abcdefghijklmnopqrstuvwxyz"
    if i == 0:
        return alpha  # replica 0 stays the base corpus, like sf1's
    r = random.Random(9176 + int(i))
    letters = list(alpha)
    r.shuffle(letters)
    return "".join(letters)


def ensure_sf10_dir(spark) -> str:
    return _ensure_scaled_dir(
        spark,
        os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/ic_spark_sf10"),
        f"{SF_DIR}|shift={SF1_SHIFT}|replicas={SF10_REPLICAS}|perm-v1",
        SF10_REPLICAS,
        _perm_map,
    )


def run_sf10_probe(spark) -> dict[str, float]:
    t0 = time.perf_counter()
    sf10_dir = ensure_sf10_dir(spark)
    print(f"# sf10 data ready in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    timings: dict[str, float] = {}
    for name in SF10_PROBE_QUERIES:
        q = REGISTRY[name]
        best, rows = float("inf"), 0
        # min-of-2 here, min-of-3 at sf1: these queries run 10-60 s, so
        # the per-rep fixed-cost noise that made min-of-2 unconfirmable
        # on ~1 s sf1 probes (r7) is proportionally small, and a third
        # rep of the longest row costs more wall than the whole sf1
        # probe.  The post-probe anchors still bracket the window.
        for _ in range(2):
            spark.catalog.clearCache()
            start = time.perf_counter()
            rows = q.fn(spark, sf10_dir).count()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
        print(f"# sf10 {name}: {timings[name]}s ({rows} rows)", file=sys.stderr)

    # Serve-only persisted-index row at 100x (VERDICT r11 #5): the
    # production-serve claim (DPP keeps serve ~nprobe/nlist of the
    # INDEX) was measured only to sf1.  Same protocol: one untimed
    # build, DPP pin asserted, then serve-only reps (min-of-2 like the
    # rest of this probe).
    indexed = REGISTRY["sim_ivfpq_indexed_topk"].fn
    out = indexed(spark, sf10_dir)  # builds the per-process sf10 index
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "dynamicpruning" not in plan.lower():  # raise: python -O safe
        raise AssertionError("sf10 serve path lost its DPP pin")
    best, rows = float("inf"), 0
    for _ in range(2):
        start = time.perf_counter()
        rows = indexed(spark, sf10_dir).count()
        best = min(best, time.perf_counter() - start)
    timings["sim_ivfpq_index_serve"] = round(best, 3)
    print(
        f"# sf10 sim_ivfpq_index_serve: {timings['sim_ivfpq_index_serve']}s"
        f" ({rows} rows, DPP pinned)",
        file=sys.stderr,
    )
    from ic_spark.queries.llm import ivfpq_index_release

    ivfpq_index_release(sf10_dir)

    # Skew leg at 100x (VERDICT r11 #5): the hot-LSH-bucket transform
    # of the sf1 skew probe applied to the sf10 corpus — adversarial
    # candidate explosions the verify stage must absorb at scale; the
    # plain sf10 dedup_minhash_lsh row above is its uniform twin.
    skew_docs = ensure_sf10_skew_lsh(spark, sf10_dir)
    q = REGISTRY["dedup_minhash_lsh"]
    best, rows = float("inf"), 0
    for _ in range(2):
        spark.catalog.clearCache()
        start = time.perf_counter()
        rows = q.fn(spark, skew_docs).count()
        best = min(best, time.perf_counter() - start)
    timings["dedup_minhash_lsh_skew"] = round(best, 3)
    print(
        f"# sf10 dedup_minhash_lsh_skew: "
        f"{timings['dedup_minhash_lsh_skew']}s ({rows} rows; uniform twin "
        f"{timings['dedup_minhash_lsh']}s)",
        file=sys.stderr,
    )
    return timings


def ensure_sf10_skew_lsh(spark, sf10_dir: str) -> str:
    """sf10 documents with the sf1 skew probe's hot-LSH-bucket
    transform (shared corpus-foreign token prefix on hot long docs);
    only documents.parquet is materialized — the minhash query reads
    nothing else.

    Hot fraction is 1% here (vs the sf1 leg's 10%) so the ABSOLUTE
    hot-doc count matches the sf1 leg (~5k docs): candidate-pair
    enumeration is quadratic in the hot-set size by the operator's
    semantics (every colliding pair must be verified), so scaling the
    hot set 10x with the corpus measures a 100x-bigger adversarial
    workload, not the engine at scale — a first attempt with 10% hot
    at sf10 (~50k hot docs → ~100M pairs x two ~300-hash arrays)
    exhausted local disk in shuffle spill.  Holding the hot-set size
    fixed asks the honest question: does hot-bucket overhead stay flat
    when the surrounding corpus grows 10x?"""
    import pyspark.sql.functions as F

    out_dir = os.environ.get(
        "SPARK_GRAFT_SF10_SKEW_DIR", "/tmp/ic_spark_sf10_skew"
    )
    marker = os.path.join(out_dir, "_GENERATED")
    stamp = f"{sf10_dir}|prefix={SKEW_PREFIX_TOKENS}|hot=1pct|v2"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return out_dir
        import shutil as _sh

        _sh.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf10_dir, "documents.parquet"))
    hot = F.col("doc_id") % 100 == 0
    long_enough = F.size(F.split(F.col("text"), " ")) >= 60
    prefix = " ".join(f"zq{i}" for i in range(SKEW_PREFIX_TOKENS))
    (
        docs.withColumn(
            "text",
            F.when(
                hot & long_enough, F.concat(F.lit(prefix + " "), F.col("text"))
            ).otherwise(F.col("text")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


def run_sf1_probe(spark) -> tuple[dict[str, float], float]:
    t0 = time.perf_counter()
    sf1_dir = ensure_sf1_dir(spark)
    print(f"# sf1 data ready in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    timings: dict[str, float] = {}
    for name in SF1_PROBE_QUERIES:
        q = REGISTRY[name]
        best, rows = float("inf"), 0
        # min-of-3 (was 2): the r7 verdict flagged two 1.25-1.27x sf1
        # readings as unconfirmable under min-of-2 on ±20%-noisy probes.
        for _ in range(3):
            spark.catalog.clearCache()  # r10: no serve-from-prior-rep
            start = time.perf_counter()
            rows = q.fn(spark, sf1_dir).count()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
        print(f"# sf1 {name}: {timings[name]}s ({rows} rows)", file=sys.stderr)

    # Serve-only persisted-index timing at 10x (VERDICT r9 #6): the
    # production-ANN claim is that DPP file-skipping keeps serve cost
    # ~nprobe/nlist of the INDEX, so its scale behavior must be
    # measured, not just plan-pinned at sf0.1.  Same protocol as the
    # sf0.1 row: one untimed invocation builds the per-process sf1
    # index, the DPP pin is asserted in-bench, then serve-only reps.
    indexed = REGISTRY["sim_ivfpq_indexed_topk"].fn
    out = indexed(spark, sf1_dir)  # builds the per-process sf1 index
    plan = out._jdf.queryExecution().executedPlan().toString()
    # explicit raise, not `assert` (python -O skips asserts — r10)
    if "dynamicpruning" not in plan.lower():
        raise AssertionError("sf1 serve path lost its DPP pin")
    best, rows = float("inf"), 0
    for _ in range(3):
        start = time.perf_counter()
        rows = indexed(spark, sf1_dir).count()
        best = min(best, time.perf_counter() - start)
    # Returned SEPARATELY, not in the timings dict: sf1_value sums the
    # probe timings, and folding this r10-new row into the dict
    # silently inflated cross-round sf1 totals relative to r<=9
    # records (r10 ADVICE find).
    serve = round(best, 3)
    print(
        f"# sf1 sim_ivfpq_index_serve: {serve}s ({rows} rows, DPP pinned)",
        file=sys.stderr,
    )
    # Reclaim the sf1 index (codes table is 10x the sf0.1 one) and
    # un-memoize it, through the registry's OWN keying helper (r10 —
    # a duplicated path spelling here would silently no-op if llm.py's
    # key construction changed).
    from ic_spark.queries.llm import ivfpq_index_release

    ivfpq_index_release(sf1_dir)
    return timings, serve


# --------------------------------------------------------- skew stress probe
#
# Real 100 TB corpora have hot keys the uniform sf1 replication can't
# show: one blocking key holding ~10% of documents, one join key holding
# ~10% of fact rows.  This probe SKEWS the sf1 data and re-times the
# skew-sensitive queries against their uniform-sf1 numbers, so the
# BENCH record shows whether AQE skew-split + the operators' bounded
# designs hold wall time sub-quadratic under hot keys.
#
# Three skew datasets, one per phenomenon, each derived from the
# uniform sf1 tables (mixing them would conflate "hot key" overhead
# with legitimately bigger outputs):
#
# - block/: jaccard hot BLOCK — every doc_id % 10 == 0 doc relabeled
#   (lang='en', source='hot') -> one (lang, source) block holds ~10% of
#   the corpus, ~25-50x the pairwise work of the biggest uniform block.
#   AQE's skew-join never fires here (a few MB of rows is far below its
#   byte threshold) — the operator's adaptive sub-block salting + the
#   length filter are what's under test.
# - lsh/: minhash hot BUCKETS — docs with doc_id % 10 == 0 and >= 60
#   tokens gain a shared 100-token prefix of corpus-foreign tokens.
#   Signatures collide into large LSH buckets (P(band match) ~
#   (100/160)^4 ~ 0.15) while TRUE 3-shingle Jaccard stays BELOW the
#   0.5 verify threshold (~100 shared / >=220 union), so the candidate
#   explosion is adversarial work the verify stage must absorb, not
#   legitimate output growth.
# - join/: lineitem rows with l_orderkey % 10 == 0 get l_partkey = 1
#   (one key holds ~10% of 6M rows).  The probe joins lineitem x part
#   on that key with broadcast DISABLED, forcing the shuffled-join path
#   AQE's OptimizeSkewedJoin must rescue — the 100 TB fact-dim shape
#   where the dim no longer broadcasts.

SKEW_PREFIX_TOKENS = 100


def ensure_skew_dirs(spark, sf1_dir: str) -> str:
    import pyspark.sql.functions as F

    out_dir = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/ic_spark_sf1_skew")
    marker = os.path.join(out_dir, "_GENERATED")
    # Input-stamped like the sf1 marker (ensure_sf1_dir also rmtree's
    # this dir when ITS inputs change, since these derive from sf1).
    stamp = f"{sf1_dir}|prefix={SKEW_PREFIX_TOKENS}|v2"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return out_dir
        print("# skew data stale (inputs changed): regenerating",
              file=sys.stderr)
        import shutil as _sh

        _sh.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    hot = F.col("doc_id") % 10 == 0

    # block/: hot (lang, source) block, text untouched.
    (
        docs.withColumn("lang", F.when(hot, F.lit("en")).otherwise(F.col("lang")))
        .withColumn("source", F.when(hot, F.lit("hot")).otherwise(F.col("source")))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "block", "documents.parquet"))
    )

    # lsh/: shared corpus-foreign prefix on hot long-enough docs.
    long_enough = F.size(F.split(F.col("text"), " ")) >= 60
    prefix = " ".join(f"zq{i}" for i in range(SKEW_PREFIX_TOKENS))
    (
        docs.withColumn(
            "text",
            F.when(
                hot & long_enough, F.concat(F.lit(prefix + " "), F.col("text"))
            ).otherwise(F.col("text")),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lsh", "documents.parquet"))
    )

    # join/: hot l_partkey + the part dim.
    li = spark.read.parquet(os.path.join(sf1_dir, "lineitem.parquet"))
    li.withColumn(
        "l_partkey",
        F.when(F.col("l_orderkey") % 10 == 0, F.lit(1)).otherwise(
            F.col("l_partkey")
        ),
    ).write.mode("overwrite").parquet(
        os.path.join(out_dir, "join", "lineitem.parquet")
    )
    spark.read.parquet(os.path.join(sf1_dir, "part.parquet")).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "join", "part.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


def _enumerated_pairs(spark, d: str, query: str) -> int:
    """Candidate pairs the query's blocked/banded self-join ENUMERATES
    (sum of C(n,2) over its blocking keys) — the work-normalizer for
    skew ratios: a hot key that legitimately merges blocks grows this
    number, so wall-per-pair separates real work growth from engine
    overhead.  One column-pruned aggregate per call; the C(n,2) sums
    use the exact key constructions the operators shuffle on."""
    import pyspark.sql.functions as F

    # Parameters come from the registry module, NOT hardcoded copies:
    # a retuned query would otherwise keep normalizing with stale
    # constants and skew_wall_per_pair would silently divide by the
    # wrong pair counts (r10 review find).
    from ic_spark.queries.llm import (
        _JACCARD_BLOCK,
        _MINHASH_BANDS,
        _MINHASH_N,
        _MINHASH_NUM,
        _MINHASH_R,
    )

    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    if query == "dedup_token_jaccard":
        keyed = docs.groupBy(*_JACCARD_BLOCK).count()
    elif query == "dedup_minhash_lsh":
        from ic_spark.operators.dedup import lsh_band_keys, minhash_signatures

        sigs = minhash_signatures(
            docs, "doc_id", "text", num_hashes=_MINHASH_NUM,
            shingle_n=_MINHASH_N, use_arrow=True
        )
        keyed = lsh_band_keys(
            sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_R
        ).groupBy("band", "bhash").count()
    else:
        raise ValueError(query)
    n = keyed.agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
    ).collect()[0][0]
    return int(n or 0)


def _join_partkey_agg(spark, d: str):
    """Fact x dim shuffled join on the (potentially hot) part key."""
    import pyspark.sql.functions as F

    li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(d, "part.parquet"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(li.l_extendedprice * (1 - li.l_discount)).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def run_skew_probe(spark) -> tuple[dict[str, float], dict[str, float]]:
    sf1_dir = ensure_sf1_dir(spark)
    t0 = time.perf_counter()
    skew_dir = ensure_skew_dirs(spark, sf1_dir)
    print(f"# skew data ready in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    def timed(fn, d) -> tuple[float, int]:
        # min-of-3 like the sf1 probe (r10: min-of-2 was the exact
        # protocol the r7 verdict called unconfirmable on ±20%-noisy
        # probes, and these produce the PUBLISHED skew ratios), with
        # clearCache so no rep serves from a prior rep's — or the sf1
        # probe's identical earlier run's — persisted blocks.
        best, rows = float("inf"), 0
        for _ in range(3):
            spark.catalog.clearCache()
            start = time.perf_counter()
            rows = fn(d)
            best = min(best, time.perf_counter() - start)
        return round(best, 3), rows

    # Output rows are recorded alongside wall time: a hot block merges
    # previously-separate blocks, so part of the skew wall is
    # LEGITIMATE result growth (more real near-dup pairs compared and
    # emitted), not engine overhead — rows_skew/rows_uniform shows how
    # much.
    skew: dict[str, float] = {}
    uniform: dict[str, float] = {}
    skew_rows: dict[str, int] = {}
    uniform_rows: dict[str, int] = {}
    skew_pairs: dict[str, int] = {}
    uniform_pairs: dict[str, int] = {}
    for name, sub in (
        ("dedup_token_jaccard", "block"),
        ("dedup_minhash_lsh", "lsh"),
    ):
        q = REGISTRY[name]
        uniform[name], uniform_rows[name] = timed(
            lambda d: q.fn(spark, d).count(), sf1_dir
        )
        skew[name], skew_rows[name] = timed(
            lambda d: q.fn(spark, d).count(), os.path.join(skew_dir, sub)
        )
        uniform_pairs[name] = _enumerated_pairs(spark, sf1_dir, name)
        skew_pairs[name] = _enumerated_pairs(
            spark, os.path.join(skew_dir, sub), name
        )
        print(
            f"# skew {name}: {skew[name]}s ({skew_rows[name]} rows, "
            f"{skew_pairs[name]} enum pairs) vs "
            f"uniform {uniform[name]}s ({uniform_rows[name]} rows, "
            f"{uniform_pairs[name]} enum pairs)",
            file=sys.stderr,
        )

    # Forced-shuffle join: disable broadcast so AQE's skew-split path is
    # the one under test (the 100 TB shape where the dim can't broadcast).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        uniform["join_partkey_agg"], uniform_rows["join_partkey_agg"] = timed(
            lambda d: _join_partkey_agg(spark, d).count(), sf1_dir
        )
        skew["join_partkey_agg"], skew_rows["join_partkey_agg"] = timed(
            lambda d: _join_partkey_agg(spark, d).count(),
            os.path.join(skew_dir, "join"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    print(
        f"# skew join_partkey_agg: {skew['join_partkey_agg']}s vs "
        f"uniform {uniform['join_partkey_agg']}s",
        file=sys.stderr,
    )
    return skew, uniform, skew_rows, uniform_rows, skew_pairs, uniform_pairs


if __name__ == "__main__":
    main()
