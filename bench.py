"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + materialize counts); a
warmup pass first touches every input file so the JVM/page-cache cold-start
is not attributed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_top_revenue",
    "tpch_q5_regional_revenue",
    "window_top3_orders_per_customer",
    "weblog_sessionization",
    "weblog_hourly_partitions",
    "weblog_daily_uniques",
    "dedup_exact_stats",
    "text_stats_by_lang",
    "embedding_knn_q0",
    "funnel_view_click_purchase",
    "asof_purchase_attribution",
    "ann_lsh_topk_raw",
    "text_sparse_cosine_pairs_capped",
    "text_bm25_topk",
    "pipeline_corpus_build_e2e",
    "events_heavy_hitter_users",
    "incremental_daily_rollup",
    "dq_expectations",
    "events_hourly_gapfill",
    "pipeline_chunk_512_overlap64",
    "events_user_skew_profile",
    "funnel_purchase_within_7d",
    "events_weekly_revenue_wow",
    "dedup_fuzzy_head_pairs",
    "dedup_semantic_prune",
    "dedup_substring_windows",
    "ann_pq_topk_raw",
    "scd2_customer_order_status",
    "events_rolling_active_users",
    "events_session_path_trigrams",
    "curation_source_mixing",
    "pipeline_curation_funnel",
    "ann_ivfpq_topk_raw",
    "ann_ivf_topk_indexed_raw",
    "text_hybrid_dense_rrf_topk",
    "acl_masked_events_rollup",
    "privacy_k_anon_events",
    "trino_url_traffic_rollup",
    "privacy_dp_event_counts",
    "snapshot_read_at_tag",
    "snapshot_read_at_branch",
    "dedup_incremental_admission",
    "embedding_pca_whiten_audit",
    "weblog_event_partition_rollup",
    "retrieval_mmr_topk_indexed",
    "snapshot_stats_minmax_rollup",
    "weblog_partitions_manifest_census",
    "snapshot_widened_type_rollup",
    "snapshot_sorted_partition_window",
    "snapshot_longurl_range_rollup",
    "snapshot_zorder_partition_box_probe",
    "snapshot_sharded_manifest_rollup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from web_analytics_on_aws_spark import plans
    from web_analytics_on_aws_spark.session import get_spark

    plans.load_all()
    # Initial shuffle partitions sized for the bench SF (sub-GB inputs →
    # 8 partitions ≈ 64-128 MB targets); AQE stays on and would re-split on
    # skew/scale — at cluster scale the initial count comes from input bytes.
    # Bench JVM gets a roomy heap (the box has 128 GiB): at sf0.1 the cached
    # tables + 35 queries in one JVM GC-thrash an 8g heap, adding seconds of
    # noise that has nothing to do with plan quality.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    # Initial shuffle partitions follow input bytes (what a cluster derives
    # from scan stats): 8 covers the sub-GB sf0.1 default; the 10x bench
    # overrides via env so shuffle stages keep using the whole box.
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", "8"))
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_parts,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: one count() per table (OS page cache + parquet footers on the
    # driver) plus one full pass over the headline queries (JIT, codegen,
    # broadcast machinery). We measure steady-state engine throughput, not
    # JVM cold-start. NOTE (r12 methodology fix): earlier rounds pinned every
    # table in Spark's in-memory columnar cache here, so timed queries read
    # the InMemoryRelation instead of parquet — that hid the scan path from
    # the measurement and counts as pre-computation outside the timed
    # region. Every timed pass now computes from the parquet inputs.
    from web_analytics_on_aws_spark.sources import tables
    from web_analytics_on_aws_spark.sources.tables import TABLE_NAMES, load_table

    # The testdata is one parquet file with ONE row group per table —
    # unsplittable, so without a repartition floor every map-heavy stage
    # runs on a single core regardless of cluster size. Production tables
    # are many files; this knob only compensates for the toy layout.
    # r13 (guide §2.6): the count is BYTES-derived (expanded table bytes /
    # split target), identical at every core count — the r2–r12 policy of
    # `cpus` partitions made every Python-boundary stage `cpus` tasks wide
    # over KB-sized splits, so per-task fixed costs grew with the core
    # count and 32-core runs measured SLOWER than 8-core ones
    # (PERF_r12.json scaling block). SPARK_GRAFT_INPUT_PARTS still forces
    # a fixed count for A/B archaeology.
    if os.environ.get("SPARK_GRAFT_INPUT_PARTS"):
        tables.INPUT_PARTITIONS = int(os.environ["SPARK_GRAFT_INPUT_PARTS"])
    else:
        tables.INPUT_SPLIT_MB = float(os.environ.get("SPARK_GRAFT_SPLIT_MB", "2"))
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).count()

    def run(name: str) -> None:
        # noop sink, not count(): count() lets Catalyst prune joins/columns
        # that don't affect cardinality, timing a cheaper plan than the
        # query's real output
        plans.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    names = [n for n in HEADLINE if n in plans.QUERIES]
    for name in names:
        run(name)

    # Self-diagnosing timing (VERDICT r3 #1): THREE full interleaved
    # passes; per-query MIN is the headline (steady-state engine cost —
    # what plan changes actually affect), per-query MEDIAN and spread
    # (max/min) ride along so a noisy box is visible IN the artifact
    # instead of looking like a uniform plan regression. A fixed
    # engine-independent sentinel kernel is timed before and after the
    # suite: if the two sentinel readings disagree, or a future round's
    # sentinel differs from this round's, the delta is machine load by
    # construction — not plans.
    sentinel_before = _sentinel()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _pass in range(3):
        for name in names:
            t0 = time.perf_counter()
            run(name)
            samples[name].append(round(time.perf_counter() - t0, 4))
    sentinel_after = _sentinel()
    timings = {n: min(s) for n, s in samples.items()}
    medians = {n: round(sorted(s)[len(s) // 2], 4) for n, s in samples.items()}
    spread = {
        n: round(max(s) / max(min(s), 1e-9), 2) for n, s in samples.items()
    }

    freshness = _measure_freshness(spark)
    compaction = _measure_compaction(spark)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_spread": spread,
        "sentinel_sec": {"before": sentinel_before, "after": sentinel_after},
        "sf": sf,
        "freshness_sec": freshness,
        "freshness_trigger_sec": FRESHNESS_TRIGGER_SEC,
        "compaction_sec": compaction,
    }
    # The driver captures only the tail (~2000 chars) of stdout; rounds 9-11
    # printed the full diagnostics dict (~6 KB), truncating the line so the
    # driver recorded "parsed": null every round. Print a compact line with
    # exactly the contract keys (metric/value/unit/queries/sf) so it fits
    # the capture window; the full diagnostics (medians, spread, sentinel,
    # freshness, compaction) live in the committed file artifact below.
    line = json.dumps(
        {
            "metric": out["metric"],
            "value": out["value"],
            "unit": "sec",
            "queries": {n: round(t, 2) for n, t in timings.items()},
            "sf": sf,
        },
        separators=(",", ":"),
    )
    if len(line) > 1900:
        # ADVICE r12: the capture window is ~2000 chars — re-round to 1 dp
        # before the line can silently truncate and re-break driver
        # parsing (per-query 4-dp values live in the file artifact below)
        line = json.dumps(
            {
                "metric": out["metric"],
                "value": out["value"],
                "unit": "sec",
                "queries": {n: round(t, 1) for n, t in timings.items()},
                "sf": sf,
            },
            separators=(",", ":"),
        )
    assert len(line) <= 1990, (
        f"bench stdout line {len(line)} chars would outgrow the driver's "
        "~2000-char capture window — trim the payload"
    )
    print(line)
    line = json.dumps(out)
    # Durable artifact (VERDICT r4 #7): the driver captures only the tail
    # of stdout, which truncated BENCH_r04.json — persist the full JSON
    # beside the repo so every per-query min survives regardless of
    # capture. Committed per round. Overridable so the 10x harness doesn't
    # clobber the sf0.1 artifact with its own run.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        str(Path(__file__).resolve().parent / "BENCH_LOCAL.json"),
    )
    try:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass  # read-only checkout: stdout line remains the artifact
    spark.stop()


def _sentinel() -> float:
    """Machine-load sentinel: a fixed, engine-independent CPU+memory
    kernel (seeded 1200² float64 matmul, best of 3). Its cost depends only
    on the box's momentary load — identical code every round — so
    cross-round bench comparability is readable straight from the
    artifact: sentinel moved → the box moved, queries moved alone → the
    plans moved."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((1200, 1200))
    b = rng.standard_normal((1200, 1200))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ b).sum()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


# Production micro-batch trigger interval: the worst-case scheduling delay
# a record waits before its batch starts. Reported beside the measured
# ingest time, never added into it, so ``freshness_sec`` stays a
# measurement. End-to-end freshness = freshness_sec + this; reference
# parity target: Firehose buffers 60–300 s + Lambda transform, 'within
# minutes' per web-analytics-iceberg/README.md — ≤ 300 s here.
FRESHNESS_TRIGGER_SEC = 60.0


def _measure_freshness(spark) -> float:
    """Ingest→queryable latency (VERDICT r1 #7): land 1000 records, drain one
    validated micro-batch into the raw zone, read it back, and report that
    measured wall time (the trigger wait is ``FRESHNESS_TRIGGER_SEC``)."""
    import json as _json
    import shutil
    import tempfile
    import time

    from web_analytics_on_aws_spark.streaming.ingest_stream import run_ingest_once

    work = tempfile.mkdtemp(prefix="bench-freshness-")
    try:
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        rec = {
            "userId": "u1", "sessionId": "s" * 24, "referrer": None,
            "userAgent": "UA", "ip": "10.0.0.1", "hostname": "h.example",
            "os": "Linux", "timestamp": "2026-03-02T13:45:00Z", "uri": "/p/1",
        }
        with open(os.path.join(landing, "batch.jsonl"), "w") as f:
            for i in range(1000):
                f.write(_json.dumps(rec | {"uri": f"/p/{i}"}) + "\n")
        t0 = time.perf_counter()
        run_ingest_once(
            spark, landing, os.path.join(work, "raw"),
            os.path.join(work, "err"), os.path.join(work, "ckpt"),
        )
        n = spark.read.text(os.path.join(work, "raw"), recursiveFileLookup=True).count()
        elapsed = time.perf_counter() - t0
        assert n == 1000, n
        return round(elapsed, 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure_compaction(spark) -> float:
    """Hourly-CTAS parity figure: wall time to compact one ingested hour of
    JSON-lines into curated parquet (the reference budgets 5 min for the
    merge Lambda submit + Athena CTAS; BASELINE.md 'Compaction cadence')."""
    import datetime as dt
    import json as _json
    import shutil
    import tempfile
    import time

    from web_analytics_on_aws_spark.operators.compaction import compact_hour
    from web_analytics_on_aws_spark.schema import WEB_LOG_WIRE_SCHEMA

    work = tempfile.mkdtemp(prefix="bench-compact-")
    try:
        when = dt.datetime(2026, 3, 2, 13, 0, 0)
        raw = os.path.join(
            work, "raw", "year=2026", "month=03", "day=02", "hour=13"
        )
        os.makedirs(raw)
        rec = {
            "userId": "u1", "sessionId": "s" * 24, "referrer": None,
            "userAgent": "UA", "ip": "10.0.0.1", "hostname": "h.example",
            "os": "Linux", "timestamp": "2026-03-02T13:45:00Z", "uri": "/p/1",
        }
        for part in range(8):  # small-file shape the compactor exists to fix
            with open(os.path.join(raw, f"part-{part}.jsonl"), "w") as f:
                for i in range(2000):
                    f.write(_json.dumps(rec | {"uri": f"/p/{part}/{i}"}) + "\n")
        t0 = time.perf_counter()
        n = compact_hour(
            spark, os.path.join(work, "raw"), os.path.join(work, "curated"),
            when, WEB_LOG_WIRE_SCHEMA,
        )
        elapsed = time.perf_counter() - t0
        assert n == 16_000, n
        return round(elapsed, 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
