"""Streaming + incremental ops layer tests (ST1/ST2/ST5/ST7/ST9 and
the Structured Streaming jobs)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from japanstockdatapipeline_spark.sources import load_table
from japanstockdatapipeline_spark.streaming.incremental import (
    FreshnessError,
    RunManifest,
    assert_fresh,
    catch_up_plan,
    check_fresh,
    forward_fill_plan,
    prune_retention,
    write_partition_overwrite,
)
from japanstockdatapipeline_spark.streaming.jobs import (
    dedup_stream,
    events_stream,
    run_to_parquet,
    windowed_event_counts,
)

D = dt.date


def test_forward_fill_overlap_and_cap():
    # overlap 1: restart from the max date itself (self-healing)
    days = forward_fill_plan(D(2026, 8, 10), D(2026, 8, 13))
    assert days == [D(2026, 8, 10), D(2026, 8, 11), D(2026, 8, 12), D(2026, 8, 13)]
    # cap at max_days_per_run
    days = forward_fill_plan(D(2026, 6, 1), D(2026, 8, 13), floor_days=90, max_days_per_run=5)
    assert len(days) == 5 and days[0] == D(2026, 6, 1)
    # floor: cold start backfills floor_days
    days = forward_fill_plan(None, D(2026, 8, 13), floor_days=60, max_days_per_run=100)
    assert days[0] == D(2026, 8, 13) - dt.timedelta(days=60)


def test_catch_up_plan_anti_join(spark):
    cal = spark.createDataFrame([(D(2026, 8, d),) for d in range(1, 11)], ["d"])
    done = spark.createDataFrame([(D(2026, 8, d),) for d in (1, 2, 3, 5, 7, 9, 10)], ["d"])
    missing = catch_up_plan(cal, done, max_catch_up=2, today=D(2026, 8, 13))
    assert missing == [D(2026, 8, 4), D(2026, 8, 6)]  # oldest first, capped


def test_partition_overwrite_and_prune(spark, tmp_path):
    path = str(tmp_path / "snap")
    df1 = spark.createDataFrame([("2026-08-01", 1), ("2026-08-02", 2)], ["d", "v"])
    write_partition_overwrite(df1, path, "d")
    # overwrite only the partition present in the new frame
    df2 = spark.createDataFrame([("2026-08-02", 99)], ["d", "v"])
    write_partition_overwrite(df2, path, "d")
    # partition values are type-inferred on read (string -> date)
    got = {(str(r["d"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2026-08-01", 1), ("2026-08-02", 99)}
    removed = prune_retention(spark, path, "d", keep_from="2026-08-02")
    assert removed == ["2026-08-01"]
    assert {str(r["d"]) for r in spark.read.parquet(path).collect()} == {"2026-08-02"}


def test_freshness_guard(spark):
    df = spark.createDataFrame([(D(2026, 8, 1),)], ["d"])
    assert_fresh(df, "d", as_of=D(2026, 8, 4), max_staleness_days=5)
    with pytest.raises(FreshnessError):
        assert_fresh(df, "d", as_of=D(2026, 8, 20), max_staleness_days=5)
    # the boundary: data exactly the budget old is served, a day more is not
    assert_fresh(df, "d", as_of=D(2026, 8, 6), max_staleness_days=5)
    with pytest.raises(FreshnessError, match="is 6d old"):
        check_fresh(D(2026, 8, 1), as_of=D(2026, 8, 7), max_staleness_days=5, what="d")
    # no rows, no date: never served
    with pytest.raises(FreshnessError, match="no data in d"):
        check_fresh(None, as_of=D(2026, 8, 4), max_staleness_days=5, what="d")


def test_run_manifest_idempotency(tmp_path):
    m = RunManifest(str(tmp_path / "runs.jsonl"))
    r1 = m.start("sync_bars", "2026-08-12")
    m.finish(r1, "success", rows=100)
    r2 = m.start("sync_bars", "2026-08-13")
    m.finish(r2, "failed", error="boom")
    assert m.completed_dates("sync_bars") == {"2026-08-12"}


def test_run_manifest_appends_from_concurrent_threads(tmp_path):
    """Steps on concurrent threads share one manifest: every record
    lands whole, on its own line, including failures whose error text
    is longer than a write buffer."""
    import json
    import sys
    import threading

    m = RunManifest(str(tmp_path / "runs.jsonl"))
    error = "x" * 100_000

    def steps(worker):
        for i in range(25):
            run_id = m.start(f"job{worker}", f"2026-08-{i % 28 + 1:02d}")
            m.finish(run_id, "failed", error=error)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=steps, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    recs = [json.loads(line) for line in open(m.path)]
    assert len(recs) == 8 * 25 * 2
    started = {r["run_id"] for r in recs if r["status"] == "running"}
    assert len(started) == 8 * 25
    assert all(r["error"] == error for r in recs if r["status"] == "failed")
    assert {r["run_id"] for r in recs if r["status"] == "failed"} == started


def test_run_manifest_failure_notification(tmp_path):
    """ST7 + the reference's failure-email hook (cron-a.ts:340-353):
    a failed run notifies exactly once; an idempotent re-run of the
    same failed (job, date) does NOT re-notify; a different date
    does; success never notifies; a raising notifier is recorded but
    never propagates."""
    calls: list[tuple] = []
    path = str(tmp_path / "runs.jsonl")
    m = RunManifest(path, on_failure=lambda job, d, det: calls.append((job, d, det)))

    r1 = m.start("sync_bars", "2026-08-12")
    m.finish(r1, "failed", error="boom")
    assert calls == [("sync_bars", "2026-08-12", {"error": "boom"})]

    # idempotent re-run of the SAME failed day: no second notification
    r2 = m.start("sync_bars", "2026-08-12")
    m.finish(r2, "failed", error="boom again")
    assert len(calls) == 1

    # a NEW failed day notifies (the dedup key is (job, date, status))
    r3 = m.start("sync_bars", "2026-08-13")
    m.finish(r3, "failed", error="other")
    assert len(calls) == 2

    # success never notifies, and completed_dates still works
    r4 = m.start("sync_bars", "2026-08-14")
    m.finish(r4, "success", rows=10)
    assert len(calls) == 2
    assert m.completed_dates("sync_bars") == {"2026-08-14"}

    # a raising notifier is swallowed and recorded, never propagated
    def explode(job, d, det):
        raise RuntimeError("smtp down")

    m2 = RunManifest(str(tmp_path / "runs2.jsonl"), on_failure=explode)
    r5 = m2.start("sync_bars", "2026-08-12")
    m2.finish(r5, "failed", error="boom")  # must not raise
    recs = [
        __import__("json").loads(line)
        for line in open(str(tmp_path / "runs2.jsonl"))
    ]
    assert any(r.get("status") == "notify_error" for r in recs)

    # ...and a manifest WITHOUT a hook behaves exactly as before
    m3 = RunManifest(str(tmp_path / "runs3.jsonl"))
    r6 = m3.start("sync_bars", "2026-08-12")
    m3.finish(r6, "failed", error="boom")

    # an UNKNOWN run_id must not notify with (None, None) keys (which
    # would poison the dedup set across all jobs) — it records an
    # anomaly and skips, and a later real failure still notifies
    calls4: list[tuple] = []
    m4 = RunManifest(
        str(tmp_path / "runs4.jsonl"),
        on_failure=lambda job, d, det: calls4.append((job, d)),
    )
    m4.finish("no-such-run-id", "failed", error="orphan")
    assert calls4 == []
    recs4 = [
        __import__("json").loads(line)
        for line in open(str(tmp_path / "runs4.jsonl"))
    ]
    assert any(r.get("status") == "notify_skipped_unknown_run" for r in recs4)
    r7 = m4.start("sync_bars", "2026-08-15")
    m4.finish(r7, "failed", error="real")
    assert calls4 == [("sync_bars", "2026-08-15")]


def test_streaming_windowed_counts_and_dedup(spark, sf_dir, tmp_path):
    # stage a micro-batch drop dir from the batch events table
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "stream_src")
    ev.limit(400).write.parquet(src)
    # duplicate a slice to exercise dedup
    spark.read.parquet(src).limit(50).write.mode("append").parquet(src)

    stream = events_stream(spark, src)
    deduped = dedup_stream(stream)
    out1 = str(tmp_path / "dedup_out")
    run_to_parquet(deduped, out1, str(tmp_path / "cp1"))
    got = spark.read.parquet(out1)
    assert got.count() == got.select("event_id").distinct().count() == 400

    agg = windowed_event_counts(events_stream(spark, src))
    out2 = str(tmp_path / "agg_out")
    run_to_parquet(agg, out2, str(tmp_path / "cp2"), mode="append")
    # append mode emits only closed windows; the final (open) window is
    # held in state, so compare against the batch aggregate minus the
    # last day
    res = spark.read.parquet(out2)
    assert res.columns == ["window_start", "event_type", "n_events", "value_sum"]
    batch = (
        ev.limit(400)
        .withColumn("day", F.expr("ts_us DIV 86400000000"))
        .groupBy("day", "event_type")
        .count()
    )
    last_day = batch.agg(F.max("day")).first()[0]
    expected = batch.filter(F.col("day") < last_day).count()
    assert res.count() == expected


def test_session_window_counts(spark, sf_dir, tmp_path):
    from japanstockdatapipeline_spark.streaming.jobs import session_window_counts

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "sess_src")
    ev.write.parquet(src)
    out = session_window_counts(events_stream(spark, src))
    dst = str(tmp_path / "sess_out")
    run_to_parquet(out, dst, str(tmp_path / "sess_cp"))
    got = spark.read.parquet(dst)
    # closed sessions only (watermark holds the open tail); compare
    # against the batch lag+cumsum sessionization on the same slice
    from japanstockdatapipeline_spark.plans.events import user_sessions

    batch = user_sessions(spark, sf_dir)
    assert got.count() > 0
    assert got.count() <= batch.count()
    # every streamed session's event count must match a batch session
    b = {(r["user_id"], r["session_start_us"] // 1000000): r["n_events"] for r in batch.collect()}
    for r in got.collect():
        key = (r["user_id"], int(r["session_start"].timestamp()))
        assert b.get(key) == r["n_events"], f"session mismatch at {key}"


def test_foreach_batch_upsert_is_idempotent_with_audit(spark, sf_dir, tmp_path):
    from japanstockdatapipeline_spark.streaming.jobs import run_foreach_batch_upsert

    src = tmp_path / "src"
    (
        spark.createDataFrame(
            [("2024-01-01", 1, None), ("2024-01-01", 2, 5.0), ("2024-01-02", 3, 1.0)],
            "d string, k int, v double",
        ).write.parquet(str(src))
    )
    stream = spark.readStream.schema("d string, k int, v double").parquet(str(src))
    audits = run_foreach_batch_upsert(
        stream, str(tmp_path / "gold"), str(tmp_path / "ckpt"), "d", count_nulls=("v",)
    )
    assert sum(a["rows"] for a in audits) == 3
    assert sum(a["nulls_v"] for a in audits) == 1
    # replay the same input with a FRESH checkpoint: partitions are
    # overwritten, not appended — the idempotent-upsert contract
    stream2 = spark.readStream.schema("d string, k int, v double").parquet(str(src))
    run_foreach_batch_upsert(
        stream2, str(tmp_path / "gold"), str(tmp_path / "ckpt2"), "d"
    )
    assert spark.read.parquet(str(tmp_path / "gold")).count() == 3


def test_stream_enrichment_current_and_pit(spark, tmp_path):
    """Stream-static joins against an SCD2 master: the current-row
    join picks up master changes between micro-batches; the PIT join
    attributes each event to the master row valid at EVENT time."""
    from japanstockdatapipeline_spark.operators.scd2 import scd2_apply
    from japanstockdatapipeline_spark.streaming.jobs import (
        EVENT_SCHEMA,
        enrich_with_master_current,
        enrich_with_master_pit,
        run_to_parquet,
    )

    src = str(tmp_path / "src")
    # master history: user 1 was 'x' in [t10, t20), 'y' from t20 on
    empty = spark.createDataFrame(
        [], "user_id long, name string, valid_from long, valid_to long, is_current boolean"
    )
    m1 = scd2_apply(empty, spark.createDataFrame([(1, "x")], ["user_id", "name"]),
                    ["user_id"], ["name"], F.lit(10).cast("long"))
    m2 = scd2_apply(m1, spark.createDataFrame([(1, "y")], ["user_id", "name"]),
                    ["user_id"], ["name"], F.lit(20).cast("long"))

    rows = [(100, 15, 1, "click", 1.0), (101, 25, 1, "click", 2.0), (102, 25, 2, "click", 3.0)]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)

    cur_out = str(tmp_path / "cur")
    run_to_parquet(
        enrich_with_master_current(stream, m2, ["user_id"], ["name"]),
        cur_out, str(tmp_path / "ck1"),
    )
    got = {r["event_id"]: r["name"] for r in spark.read.parquet(cur_out).collect()}
    # current join: BOTH user-1 events get the current attr 'y'; user 2 unknown
    assert got == {100: "y", 101: "y", 102: None}

    pit_out = str(tmp_path / "pit")
    run_to_parquet(
        enrich_with_master_pit(stream, m2, ["user_id"], "ts_us", ["name"]),
        pit_out, str(tmp_path / "ck2"),
    )
    got_pit = {r["event_id"]: r["name"] for r in spark.read.parquet(pit_out).collect()}
    # PIT join: the t=15 event attributes to 'x' (valid [10,20)), t=25 to 'y'
    assert got_pit == {100: "x", 101: "y", 102: None}


def test_stream_stream_attribution_join(spark, sf_dir, tmp_path):
    """Stream-stream inner join with event-time bounds must produce
    exactly the batch join's matches (clicks within 1h before each
    purchase, per user)."""
    from japanstockdatapipeline_spark.streaming.jobs import attribution_join_streams

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    c_src, p_src = str(tmp_path / "clicks"), str(tmp_path / "purch")
    ev.filter(F.col("event_type") == "click").limit(300).write.parquet(c_src)
    ev.filter(F.col("event_type") == "purchase").limit(150).write.parquet(p_src)

    joined = attribution_join_streams(
        events_stream(spark, c_src), events_stream(spark, p_src)
    )
    out = str(tmp_path / "attr_out")
    run_to_parquet(joined, out, str(tmp_path / "cp_attr"), mode="append")
    got = spark.read.parquet(out)

    cb = spark.read.parquet(c_src).withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    pb = spark.read.parquet(p_src).withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    expected = (
        pb.alias("p")
        .join(
            cb.alias("c"),
            F.expr(
                "c.user_id = p.user_id AND c.ts >= p.ts - INTERVAL 1 hour AND c.ts <= p.ts"
            ),
        )
        .select(
            F.col("p.event_id").alias("purchase_id"), F.col("c.event_id").alias("click_id")
        )
    )
    got_pairs = {(r["purchase_id"], r["click_id"]) for r in got.collect()}
    exp_pairs = {(r["purchase_id"], r["click_id"]) for r in expected.collect()}
    assert got_pairs == exp_pairs
    assert len(exp_pairs) > 0  # fixture yields real matches


def test_drift_gated_ingest_quarantines_shifted_batch(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from japanstockdatapipeline_spark.streaming.jobs import (
        drift_gated_ingest,
        score_histogram,
    )

    # reference corpus: uniform scores
    ref = spark.createDataFrame(
        pd.DataFrame({"d": "2024-01-01", "score": np.arange(1000) % 100 / 100.0})
    )
    hist = score_histogram(ref, "score")
    assert sum(hist) == 1000 and max(hist) == 100

    src = tmp_path / "src"
    src.mkdir()
    # batch A: same uniform shape; batch B: collapsed into bucket 9
    pd.DataFrame(
        {"d": ["2024-01-02"] * 500, "score": (np.arange(500) % 100) / 100.0}
    ).to_parquet(src / "a.parquet")
    pd.DataFrame({"d": ["2024-01-03"] * 500, "score": [0.95] * 500}).to_parquet(
        src / "b.parquet"
    )

    stream = (
        spark.readStream.schema("d string, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    target, quarantine = str(tmp_path / "gold"), str(tmp_path / "quarantine")
    verdicts = drift_gated_ingest(
        stream,
        target,
        str(tmp_path / "cp"),
        "d",
        "score",
        hist,
        threshold=0.25,
        quarantine_dir=quarantine,
    )

    assert len(verdicts) == 2
    assert sorted(v["ingested"] for v in verdicts) == [False, True]
    good = spark.read.parquet(target)
    bad = spark.read.parquet(quarantine)
    assert good.count() == 500 and bad.count() == 500
    # partition-value inference reads d back as a DATE
    assert [str(r["d"]) for r in good.select("d").distinct().collect()] == ["2024-01-02"]
    assert [str(r["d"]) for r in bad.select("d").distinct().collect()] == ["2024-01-03"]
    # the passing batch's PSI is small, the shifted one large
    by_ok = {v["ingested"]: v["psi"] for v in verdicts}
    assert by_ok[True] < 0.05 < 0.25 < by_ok[False]


def test_score_histogram_null_and_out_of_range(spark):
    """Review fix: NULL scores were silently counted in bucket 9 (and
    negatives wrote hist[-1]); NULLs are excluded, out-of-range clamps
    to the edge buckets."""
    from japanstockdatapipeline_spark.streaming.jobs import score_histogram

    df = spark.createDataFrame(
        [(0.55,), (None,), (-0.05,), (1.7,), (0.0,)], ["score"]
    )
    hist = score_histogram(df, "score")
    assert hist == [2, 0, 0, 0, 0, 1, 0, 0, 0, 1]  # -0.05->0, 1.7->9, NULL dropped
    assert sum(hist) == 4


def test_catch_up_plan_window_always_applies(spark):
    """Review fix: omitting `today` used to disable the lookback
    window entirely, scheduling arbitrarily old or future days."""
    import datetime as dt

    from japanstockdatapipeline_spark.streaming.incremental import catch_up_plan

    today = dt.date.today()
    cal = spark.createDataFrame(
        [(today - dt.timedelta(days=400),), (today - dt.timedelta(days=3),),
         (today + dt.timedelta(days=30),)],
        ["d"],
    )
    done = spark.createDataFrame([(today - dt.timedelta(days=9999),)], ["d"])
    got = catch_up_plan(cal, done, lookback_days=30, max_catch_up=5)
    assert got == [today - dt.timedelta(days=3)]  # old + future both excluded


def test_snapshot_diff_tolerates_column_reorder(spark):
    """Review fix: the schema check is order-insensitive (a select/
    join between versions reorders columns) and raises ValueError —
    not a strippable assert — on a real mismatch."""
    import pytest

    from japanstockdatapipeline_spark.streaming.incremental import snapshot_diff

    b = spark.createDataFrame([(1, "x", 10)], ["id", "a", "b"])
    a = spark.createDataFrame([(1, 10, "x")], ["id", "b", "a"])
    out = {r["id"]: r["diff_status"] for r in snapshot_diff(b, a, ["id"]).collect()}
    assert out == {1: "unchanged"}
    with pytest.raises(ValueError, match="after-only"):
        snapshot_diff(b, a.withColumnRenamed("a", "c"), ["id"])


def test_quality_gated_ingest_matches_batch_classifier(spark, tmp_path):
    """The streaming row-level quality gate splits each micro-batch
    exactly as the batch classifier member would: target = clf_prob >=
    min_prob, rejects = the rest INCLUDING no-token docs (NULL prob);
    per-batch stats account for every row."""
    import hashlib

    import pandas as pd

    from japanstockdatapipeline_spark.plans.llm import (
        _CLF_D,
        _CLF_W,
        CLF_STAGE_NAMES,
        clf_output_cols,
        clf_stage_cols,
    )
    from japanstockdatapipeline_spark.streaming.jobs import quality_gated_ingest

    # pick words with strongly positive / negative bucket weights so
    # both verdicts are guaranteed present (mirror of _hash_bucket)
    def w_of(tok):
        b = int(hashlib.md5(f"qb:{tok}".encode()).hexdigest()[:15], 16) % _CLF_D
        return _CLF_W[b]

    words = [f"w{i}" for i in range(200)]
    pos = [w for w in words if w_of(w) > 0.3][:3]
    neg = [w for w in words if w_of(w) < -0.3][:3]
    assert len(pos) == 3 and len(neg) == 3

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [" ".join(pos), " ".join(neg), "   "],
            "d": ["2024-01-02"] * 3,
        }
    ).to_parquet(src / "a.parquet")
    # batch 2 SHARES partition d=2024-01-02 with batch 1: the gate
    # must not clobber batch 1's accepted rows when the same logical
    # partition spans micro-batches (regression: flat per-batch
    # dynamic overwrite lost them; now batch-scoped subpartitions)
    pd.DataFrame(
        {
            "doc_id": [4, 5],
            "text": [" ".join(pos + neg[:1]), " ".join(neg + pos[:1])],
            "d": ["2024-01-02", "2024-01-03"],
        }
    ).to_parquet(src / "b.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, d string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    target, rejects = str(tmp_path / "gold"), str(tmp_path / "rejects")
    stats = quality_gated_ingest(
        stream, target, str(tmp_path / "cp"), "d", rejects_dir=rejects
    )

    batch = spark.read.parquet(str(src))
    scored = (
        batch.select("*", *clf_stage_cols())
        .select("*", *clf_output_cols())
        .drop(*CLF_STAGE_NAMES)
    )
    expected_keep = {
        r["doc_id"] for r in scored.collect() if r["clf_prob"] is not None and r["clf_prob"] >= 0.5
    }
    got_keep = {r["doc_id"] for r in spark.read.parquet(target).collect()}
    got_rej = {r["doc_id"] for r in spark.read.parquet(rejects).collect()}
    assert got_keep == expected_keep
    assert got_keep | got_rej == {1, 2, 3, 4, 5}
    assert not (got_keep & got_rej)
    assert 3 in got_rej  # whitespace-only doc: NULL prob -> rejected
    assert len(stats) == 2
    assert sum(s["kept"] + s["rejected"] for s in stats) == 5


def test_corpus_prep_stream_dedups_gates_and_redacts(spark, tmp_path):
    """The streaming corpus-prep twin of corpus_prep_fused: exact
    re-submissions within the watermark are dropped (across
    micro-batches), the keep/reject split matches the batch
    classifier on the deduped set, and written text is PII-redacted."""
    import datetime as dt
    import hashlib

    import pandas as pd

    from japanstockdatapipeline_spark.plans.llm import _CLF_D, _CLF_W
    from japanstockdatapipeline_spark.streaming.jobs import corpus_prep_stream

    def w_of(tok):
        b = int(hashlib.md5(f"qb:{tok}".encode()).hexdigest()[:15], 16) % _CLF_D
        return _CLF_W[b]

    words = [f"w{i}" for i in range(200)]
    pos = " ".join([w for w in words if w_of(w) > 0.3][:3])
    neg = " ".join([w for w in words if w_of(w) < -0.3][:3])

    t0 = dt.datetime(2024, 1, 2, 9, 0, 0)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [pos, pos, neg, f"mail me {pos} at bob@example.com"],
            "ts": [t0] * 4,  # doc 2 is an exact dup of doc 1 (same batch)
        }
    ).astype({"ts": "datetime64[us]"}).to_parquet(src / "a.parquet")
    pd.DataFrame(
        {
            "doc_id": [5, 6],
            "text": [pos, "   "],  # doc 5 re-submits doc 1 across batches
            "ts": [t0 + dt.timedelta(minutes=5)] * 2,
        }
    ).astype({"ts": "datetime64[us]"}).to_parquet(src / "b.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    target, rejects = str(tmp_path / "gold"), str(tmp_path / "rejects")
    stats = corpus_prep_stream(
        stream, target, str(tmp_path / "cp"), rejects_dir=rejects
    )

    kept = spark.read.parquet(target).collect()
    rej = spark.read.parquet(rejects).collect()
    kept_fp = [r["fp"] for r in kept]
    all_fp = kept_fp + [r["fp"] for r in rej]
    # one survivor per distinct fingerprint, within AND across batches
    assert len(all_fp) == len(set(all_fp)) == 4
    # quality split: the pos doc kept, the neg + whitespace docs rejected,
    # and the email doc (pos words + extra tokens) scored on its own text
    assert any(r["doc_id"] in (1, 2, 5) for r in kept)
    assert {r["doc_id"] for r in rej} >= {3, 6}
    # PII redaction applied to the WRITTEN text only where it matched
    email_rows = [r for r in kept + rej if r["doc_id"] == 4]
    if email_rows:
        assert "<EMAIL>" in email_rows[0]["text"]
        assert "bob@example.com" not in email_rows[0]["text"]
    # per-batch stats are keyed by batch and account for every survivor
    assert sum(s["written"] + s["rejected"] for s in stats) == 4


def test_clear_batch_partitions_flat_and_nested(spark, tmp_path):
    """Dynamic partition overwrite only replaces partitions PRESENT in
    the new data, so a replayed micro-batch that now yields zero rows
    must clear its own ingest_batch=N slice explicitly (r8 ADVICE).
    clear_batch_partitions removes exactly that batch's dirs — flat
    (ingest_batch=N) and nested (pcol=*/ingest_batch=N) — and no-ops
    when nothing exists."""
    from japanstockdatapipeline_spark.streaming.incremental import (
        clear_batch_partitions,
        write_partition_overwrite,
    )

    flat = str(tmp_path / "flat")
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], ["x", "ingest_batch"]
    )
    write_partition_overwrite(df, flat, ["ingest_batch"])
    clear_batch_partitions(spark, flat, 0)
    left = spark.read.parquet(flat)
    assert left.count() == 1 and left.collect()[0]["ingest_batch"] == 1

    nested = str(tmp_path / "nested")
    df2 = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "a", 1)], ["x", "p", "ingest_batch"]
    )
    write_partition_overwrite(df2, nested, ["p", "ingest_batch"])
    clear_batch_partitions(spark, nested, 0, nested=True)
    left2 = spark.read.parquet(nested)
    assert left2.count() == 1 and left2.collect()[0]["ingest_batch"] == 1

    # no-op on a missing batch and on a missing root
    clear_batch_partitions(spark, flat, 99)
    clear_batch_partitions(spark, str(tmp_path / "nowhere"), 0)


def test_corpus_prep_near_dup_stream_parity_with_batch(spark, tmp_path):
    """The streaming near-dup stage must reproduce the batch two-stage
    pipeline's kept set on a replay of the same data: survivors
    (target + rejects) == all docs minus the lsh_verified_pairs ->
    dup_clusters -> keep-min-id drops, within AND across micro-batches
    (arrival order == id order here, matching the batch min-id rule)."""
    import datetime as dt

    import pandas as pd

    from japanstockdatapipeline_spark.operators.dedup import (
        dup_clusters,
        lsh_verified_pairs,
    )
    from japanstockdatapipeline_spark.streaming.jobs import (
        corpus_prep_near_dup_stream,
    )

    # J(d1,d2)=0.5 (near-dup, not exact); d4 arrives in batch 2 with
    # J(d1,d4)=0.75 — must drop against the STATE, not the batch
    rows = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta zeta",
        3: "one two three four five six",
        4: "alpha beta gamma delta epsilon zeta",
        5: "seven eight nine ten eleven",
    }
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [rows[1], rows[2], rows[3]], "ts": [t0] * 3}
    ).astype({"ts": "datetime64[us]"}).to_parquet(src / "a.parquet")
    pd.DataFrame(
        {
            "doc_id": [4, 5],
            "text": [rows[4], rows[5]],
            "ts": [t0 + dt.timedelta(minutes=10)] * 2,
        }
    ).astype({"ts": "datetime64[us]"}).to_parquet(src / "b.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    target, rejects = str(tmp_path / "gold"), str(tmp_path / "rej")
    stats = corpus_prep_near_dup_stream(
        stream,
        target,
        str(tmp_path / "cp"),
        str(tmp_path / "state"),
        rejects_dir=rejects,
    )

    kept_ids = {r["doc_id"] for r in spark.read.parquet(target).collect()}
    rej_ids = {r["doc_id"] for r in spark.read.parquet(rejects).collect()}
    survivors = kept_ids | rej_ids

    # batch comparator: identical operators, identical dials
    docs_df = spark.createDataFrame(
        [(i, t) for i, t in rows.items()], "doc_id long, text string"
    )
    pairs = lsh_verified_pairs(docs_df, 0.5).select("id_a", "id_b")
    dropped = {
        r["id"]
        for r in dup_clusters(pairs).collect()
        if r["id"] != r["cluster"]
    }
    expected = set(rows) - dropped
    assert survivors == expected
    # the cross-batch drop really happened against state (doc 4)
    assert 4 in dropped and 4 not in survivors
    assert sum(s["near_dups"] for s in stats) == len(dropped)
    # no unredacted working column leaks into the published outputs
    assert "__orig_text" not in spark.read.parquet(target).columns

    # the state table is horizon-bounded and holds only survivors
    state = spark.read.parquet(str(tmp_path / "state"))
    assert {r["doc_id"] for r in state.collect()} <= expected


def test_near_dup_stream_track_dropped_follows_chains(spark, tmp_path):
    """A 3-link chain split across 3 micro-batches where each link is
    a near-dup ONLY of the previous one: with the default kept-only
    state, link 3 is re-kept (its anchor was dropped — the documented
    trade); with track_dropped=True the dropped link stays in state
    flagged, so the chain is followed and the stream reproduces the
    batch kept-set exactly."""
    import datetime as dt

    import pandas as pd

    from japanstockdatapipeline_spark.operators.dedup import (
        dup_clusters,
        lsh_verified_pairs,
    )
    from japanstockdatapipeline_spark.streaming.jobs import (
        corpus_prep_near_dup_stream,
    )

    # sliding-window chain: J(adjacent)=14/26~0.54 >= 0.5,
    # J(skip-one)=8/32=0.25 < 0.5 (k=3 shingles, L=22, step 6)
    def chain_text(m):
        return " ".join(f"t{j}" for j in range(m * 6, m * 6 + 22))

    rows = {1: chain_text(0), 2: chain_text(1), 3: chain_text(2)}
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    src = tmp_path / "src"
    src.mkdir()
    for b, did in enumerate(sorted(rows)):
        pd.DataFrame(
            {
                "doc_id": [did],
                "text": [rows[did]],
                "ts": [t0 + dt.timedelta(minutes=b)],
            }
        ).astype({"ts": "datetime64[us]"}).to_parquet(src / f"b{b}.parquet")

    # batch comparator: the chain collapses to one cluster, head kept
    docs_df = spark.createDataFrame(
        [(i, t) for i, t in rows.items()], "doc_id long, text string"
    )
    pairs = lsh_verified_pairs(docs_df, 0.5).select("id_a", "id_b")
    dropped = {
        r["id"] for r in dup_clusters(pairs).collect() if r["id"] != r["cluster"]
    }
    assert dropped == {2, 3}  # the chain really chains transitively

    def read_ids(path):
        # a sink dir that only ever saw empty batch writes holds just
        # _SUCCESS markers (no schema) — treat it as the empty set
        import glob as _glob

        if not _glob.glob(f"{path}/**/*.parquet", recursive=True):
            return set()
        return {r["doc_id"] for r in spark.read.parquet(path).collect()}

    def run(tag, track):
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        root = tmp_path / tag
        corpus_prep_near_dup_stream(
            stream,
            str(root / "gold"),
            str(root / "cp"),
            str(root / "state"),
            rejects_dir=str(root / "rej"),
            track_dropped=track,
        )
        kept = read_ids(str(root / "gold")) | read_ids(str(root / "rej"))
        return kept, spark.read.parquet(str(root / "state"))

    kept_plain, _ = run("plain", False)
    # the documented trade: doc 3's only anchor (doc 2) was dropped,
    # so kept-only state re-keeps it
    assert kept_plain == {1, 3}

    kept_tracked, state = run("tracked", True)
    assert kept_tracked == {1}  # == batch kept-set: chain followed
    srows = {r["doc_id"]: r["__kept"] for r in state.collect()}
    assert srows.get(1) is True and srows.get(2) is False and srows.get(3) is False
