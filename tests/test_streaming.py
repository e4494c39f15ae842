"""Streaming operators driven end-to-end: parquet file source → streaming
transform → memory sink, compared against the batch twin on the same data
(the Structured Streaming unification property)."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.session import load_table
from epic_pandas_spark.streaming.windows import (
    tumbling_agg,
    sessionize,
    streaming_dedup,
    run_stream_to_memory,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_stream(spark):
    batch = load_table(spark, SF_DIR, "events")
    raw_schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema  # ts as long nanos
    # the file stream source needs a directory; glob-filter to the one table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    return stream, batch


def _normalize_events(df):
    # mirror load_table's ts normalization for the streaming source: long
    # nanos (nanosAsLong generations) -> µs timestamp; TIMESTAMP_NTZ
    # (tz-naive µs generations) -> timestamp, which watermarks require
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise); session tz is UTC
    # so the cast is lossless
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def test_tumbling_agg_stream_matches_batch(spark, event_stream):
    stream, batch = event_stream
    out = tumbling_agg(_normalize_events(stream), watermark="10 hours")
    q = run_stream_to_memory(out, "tumbling_out", output_mode="complete")
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
            for r in tumbling_agg(batch).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_sessionize_stream_runs(spark, event_stream):
    stream, batch = event_stream
    out = sessionize(_normalize_events(stream))
    q = run_stream_to_memory(out, "sessions_out", output_mode="complete")
    try:
        got = spark.sql("SELECT * FROM sessions_out").collect()
        assert len(got) > 0
        # one session per (user, start); event counts sum to the input size
        assert sum(r["n_events"] for r in got) == batch.count()
    finally:
        q.stop()


def test_streaming_dedup(spark, event_stream, tmp_path):
    # feed the events TWICE (two files) so there are real duplicates to drop
    _, batch = event_stream
    src = str(tmp_path / "dup_src")
    batch.write.parquet(src)
    batch.write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_dedup(_normalize_events(stream), ["event_id"])
    q = run_stream_to_memory(out, "dedup_out")
    try:
        total = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").first()["n"]
        distinct = spark.sql("SELECT COUNT(DISTINCT event_id) AS n FROM dedup_out").first()["n"]
        assert total == distinct == batch.count()
    finally:
        q.stop()


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """State must persist across micro-batches: feed the events table as 3
    files with maxFilesPerTrigger=1 and check the final per-user totals
    equal the batch aggregate."""
    from epic_pandas_spark.streaming.stateful import running_totals, batch_running_totals

    batch = load_table(spark, SF_DIR, "events").select("user_id", "value")
    src_dir = str(tmp_path / "ev")
    batch.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = running_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    try:
        # "update" emits one row per key per batch; the LAST emission per
        # key is the cumulative total
        rows = spark.sql(
            """SELECT user_id, n_events, sum_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM state_out) WHERE rn = 1"""
        ).collect()
        got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in rows}
        want = {
            r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
            for r in batch_running_totals(batch).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_foreach_batch_parquet_sink(spark, tmp_path):
    from epic_pandas_spark.streaming.windows import stream_to_parquet_exactly_once

    batch = load_table(spark, SF_DIR, "events").select("event_id", "value")
    src = str(tmp_path / "src")
    batch.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = stream_to_parquet_exactly_once(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(str(tmp_path / "out"))
    assert written.select("event_id").distinct().count() == batch.count()


def test_stream_static_enrichment_join(spark, event_stream):
    """Stream-static join: enrich the event stream with a static dimension
    (user tier derived from user_id) — Spark broadcasts the static side
    per micro-batch; totals must match the batch twin."""
    stream, batch = event_stream
    tiers = spark.createDataFrame(
        [(i, "gold" if i % 2 == 0 else "basic") for i in range(50)], "user_id long, tier string"
    )
    enriched = (
        _normalize_events(stream)
        .join(tiers, on="user_id", how="left")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = run_stream_to_memory(enriched, "tier_out", output_mode="complete")
    try:
        got = {r["tier"]: r["n"] for r in spark.sql("SELECT * FROM tier_out").collect()}
        want = {
            r["tier"]: r["n"]
            for r in batch.join(tiers, on="user_id", how="left")
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_interval_join_stream_matches_batch(spark, event_stream):
    """Stream-stream interval join (time bound in the join condition →
    evictable state) must produce exactly the batch join's pairs."""
    from epic_pandas_spark.streaming.windows import interval_join

    stream, batch = event_stream
    types = sorted(r["event_type"] for r in batch.select("event_type").distinct().collect())
    ta, tb = types[0], types[1]

    def split(df):
        return (
            df.filter(F.col("event_type") == ta),
            df.filter(F.col("event_type") == tb),
        )

    bl, br = split(batch)
    want = {
        (r["event_id"], r["r_event_id"])
        for r in interval_join(bl, br, on=["user_id"], max_delay="10 minutes").collect()
    }
    assert want, "fixture should produce at least one joined pair"

    sl, sr = split(_normalize_events(stream))
    out = interval_join(
        sl, sr, on=["user_id"], max_delay="10 minutes", watermark="10 hours"
    )
    q = run_stream_to_memory(out, "ij_out")
    try:
        got = {
            (r["event_id"], r["r_event_id"])
            for r in spark.sql("SELECT event_id, r_event_id FROM ij_out").collect()
        }
        assert got == want
    finally:
        q.stop()


def test_streaming_decontamination_matches_batch(spark):
    """Decontamination over a document STREAM: the eval n-gram hash set is
    static (benchmarks don't change mid-run), so the overlap probe is a
    stream-static broadcast join + per-doc streaming agg — the exact
    batch plan, re-run per micro-batch. Flags must match the batch twin."""
    from epic_pandas_spark.extensions.curation import ngram_hash_stream

    batch = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    eval_df = batch.filter(F.col("doc_id") % 25 == 0)
    eval_hashes = (
        ngram_hash_stream(eval_df, "text", "doc_id", n=8, distinct=False)
        .select("gh")
        .distinct()
    )

    stream = (
        spark.readStream.schema(spark.read.parquet(f"{SF_DIR}/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_DIR)
        .select("doc_id", "text")
    )
    # distinct aggs are unsupported on streams: dedup the matched pairs
    # with stateful dropDuplicates, then a plain count — the standard
    # rewrite of count_distinct for streaming
    hits = (
        ngram_hash_stream(stream, "text", "doc_id", n=8, distinct=False)
        .join(F.broadcast(eval_hashes), on="gh", how="inner")
        .dropDuplicates(["doc_id", "gh"])
        .groupBy("doc_id")
        .agg(F.count("gh").alias("n_eval_hits"))
    )
    q = run_stream_to_memory(hits, "decon_out", output_mode="complete")
    try:
        got = {
            r["doc_id"]: r["n_eval_hits"]
            for r in spark.sql("SELECT * FROM decon_out").collect()
        }
        from epic_pandas_spark.extensions.curation import decontaminate

        want = {
            r["doc_id"]: r["n_eval_hits"]
            for r in decontaminate(batch, eval_df, "text", "doc_id", n=8, min_hits=1)
            .filter(F.col("contaminated"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_windowed_distinct_approx_stream_matches_batch(spark, event_stream):
    """Streaming HLL distinct-per-window: micro-batch sketch merges must
    land on the SAME estimates as one batch pass (sketches are
    associative), and both within 5% of exact distincts."""
    from epic_pandas_spark.streaming.windows import windowed_distinct_approx

    stream, batch = event_stream
    out = windowed_distinct_approx(_normalize_events(stream), watermark="10 hours")
    q = run_stream_to_memory(out, "wda_out", output_mode="complete")
    try:
        got = {
            r["window_start"]: r["approx_distinct"]
            for r in spark.sql("SELECT * FROM wda_out").collect()
        }
    finally:
        q.stop()
    want = {
        r["window_start"]: r["approx_distinct"]
        for r in windowed_distinct_approx(_normalize_events(batch)).collect()
    }
    assert got == want
    exact = {
        r["ws"]: r["d"]
        for r in _normalize_events(batch)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count_distinct("user_id").alias("d"))
        .select(F.col("win.start").alias("ws"), "d")
        .collect()
    }
    assert set(got) == set(exact)
    for ws, est in got.items():
        assert abs(est - exact[ws]) <= max(1, 0.05 * exact[ws])


def test_streaming_end_to_end_restart_resume_exactly_once(spark, tmp_path):
    """The composed production pipeline, end to end (VERDICT r2 item 9):
    file source → watermarked windowed HLL approx-distinct →
    exactly-once parquet sink — run, STOPPED, and RESUMED from the same
    checkpoint with new input files. Asserts (a) no window is emitted
    twice across the restart (append-mode finalization + checkpoint =
    exactly-once), and (b) the union of emissions equals the batch twin
    over all real events once a watermark-flushing sentinel closes the
    last windows."""
    from epic_pandas_spark.streaming.windows import (
        stream_to_parquet_exactly_once,
        windowed_distinct_approx,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id"
    )
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    # three deterministic input chunks, split by TIME RANGE (files land in
    # event-time order like a real ingest — an id-interleaved split would
    # make every later file almost entirely late vs the watermark and the
    # rows would be correctly-but-unhelpfully dropped)
    lo_hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = lo_hi[1] - lo_hi[0]
    t1, t2 = lo_hi[0] + span / 3, lo_hi[0] + 2 * span / 3
    bounds = [(None, t1), (t1, t2), (t2, None)]
    for chunk, (lo, hi) in enumerate(bounds):
        part = events
        if lo is not None:
            part = part.filter(F.col("ts") >= F.lit(lo))
        if hi is not None:
            part = part.filter(F.col("ts") < F.lit(hi))
        part.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/chunk={chunk}")

    schema = spark.read.parquet(f"{in_dir}/chunk=0").schema

    def run_pipeline(glob: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
            .parquet(glob)
        )
        q = stream_to_parquet_exactly_once(
            windowed_distinct_approx(stream, watermark="2 hours"),
            out_dir,
            ckpt,
        )
        q.awaitTermination()

    staged = tmp_path / "staged"
    staged.mkdir()
    import glob as globmod
    import shutil

    def land(src_dir: str, name: str) -> None:
        # the file stream source lists one flat directory — land each
        # chunk's data file under a unique name, like an ingest job would
        (src,) = globmod.glob(f"{src_dir}/part-*.parquet")
        shutil.copy(src, staged / f"{name}.parquet")

    # phase 1: two chunks, then a clean stop (availableNow terminates)
    for chunk in range(2):
        land(f"{in_dir}/chunk={chunk}", f"c{chunk}")
    run_pipeline(str(staged))

    # phase 2: third chunk lands + a far-future sentinel row that pushes
    # the watermark past every real window; resume from the checkpoint
    land(f"{in_dir}/chunk=2", "c2")
    max_ts = events.agg(F.max("ts")).first()[0]
    import datetime

    sentinel_ts = max_ts + datetime.timedelta(hours=6)
    sentinel_dir = str(tmp_path / "sentinel")
    spark.createDataFrame(
        [(10**12, sentinel_ts, 10**12)], schema
    ).coalesce(1).write.parquet(sentinel_dir)
    land(sentinel_dir, "zz_sentinel")  # sorts last -> processed last
    run_pipeline(str(staged))

    emitted = spark.read.parquet(out_dir).select("window_start", "approx_distinct")
    rows = emitted.collect()
    starts = [r["window_start"] for r in rows]
    # (a) exactly-once: no window finalized twice across the restart
    assert len(starts) == len(set(starts)), "duplicate window emission after resume"
    # (b) completeness+values: sentinel closed every real window; its own
    # window stays open (end > watermark), so emissions == batch twin
    want = {
        (r["window_start"], r["approx_distinct"])
        for r in windowed_distinct_approx(events).collect()
    }
    assert {(r["window_start"], r["approx_distinct"]) for r in rows} == want


def test_tumbling_agg_update_mode_resumes_from_checkpoint(spark, tmp_path):
    """Stop and restart an update-mode windowed aggregation on the same
    checkpoint: the state-store deltas and the offset and commit logs the
    first run wrote are read back by the second. The last emission per
    (window, event type) across both runs equals the batch twin over all
    input, and the offset and commit logs hold the same contiguous batch
    ids."""
    events = load_table(spark, SF_DIR, "events").select("ts", "event_type", "value")
    staged, ckpt = tmp_path / "staged", str(tmp_path / "ckpt")
    staged.mkdir()
    # four shards split by time range, landed in event-time order (the
    # file source reads by modification time), so no row is late
    cuts = [r[0] for r in events.select(
        F.explode(F.percentile_approx(F.unix_micros("ts"), [0.25, 0.5, 0.75]))
    ).collect()]
    bounds = list(zip([None, *cuts], [*cuts, None]))
    mtime = 1_700_000_000

    def land(shard: int) -> None:
        lo, hi = bounds[shard]
        part = events
        if lo is not None:
            part = part.filter(F.unix_micros("ts") >= lo)
        if hi is not None:
            part = part.filter(F.unix_micros("ts") < hi)
        out = str(tmp_path / f"shard={shard}")
        part.coalesce(1).write.parquet(out)
        (src,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        dst = staged / f"s{shard}.parquet"
        os.rename(os.path.join(out, src), dst)
        os.utime(dst, (mtime + shard, mtime + shard))

    emitted = []  # (batch id, row); the memory sink cannot resume in update mode

    def run() -> None:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(staged))
        )
        q = (
            tumbling_agg(stream, watermark="2 hours")
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, batch_id: emitted.extend((batch_id, r) for r in df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    land(0)
    land(1)
    run()
    land(2)
    land(3)
    run()

    last = {}
    for _, r in sorted(emitted, key=lambda e: e[0]):
        last[(r["window_start"], r["event_type"])] = (r["n_events"], round(r["sum_value"], 6))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in tumbling_agg(events).collect()
    }
    assert last == want

    def batch_ids(log: str) -> list[int]:
        return sorted(int(f) for f in os.listdir(os.path.join(ckpt, log)) if f.isdigit())

    assert batch_ids("offsets") == batch_ids("commits") == list(range(len(batch_ids("commits"))))
    assert len(batch_ids("commits")) >= 4  # one batch per shard at least


_TWS_SCENARIO = r"""
import json, os, sys, tempfile

from epic_pandas_spark.session import get_spark, load_table
from epic_pandas_spark.streaming.stateful import (
    batch_running_totals,
    running_totals_tws,
)

spark = get_spark(
    app_name="tws_parity_check", master="local[4]", shuffle_partitions=4
)
# transformWithState needs multiple state-store column families, which
# only the RocksDB provider supports (HDFSBacked raises
# STATE_STORE_MULTIPLE_COLUMN_FAMILIES)
spark.conf.set(
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
)
batch = load_table(spark, sys.argv[1], "events").select("user_id", "value")
src = os.path.join(tempfile.mkdtemp(), "ev")
batch.repartition(3).write.parquet(src)
stream = (
    spark.readStream.schema(batch.schema)
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
)
q = (
    running_totals_tws(stream)
    .writeStream.outputMode("update")
    .format("memory")
    .queryName("tws_out")
    .trigger(availableNow=True)
    .start()
)
q.processAllAvailable()
q.stop()
rows = spark.sql(
    '''SELECT user_id, n_events, sum_value FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
         FROM tws_out) WHERE rn = 1'''
).collect()
got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in rows}
want = {
    r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
    for r in batch_running_totals(batch).collect()
}
print(json.dumps({"match": got == want, "n_keys": len(got), "n_want": len(want)}))
"""

# test-only protobuf source for the TWS wire protocol where pip installs
# are unavailable: the google-cloud-sdk's vendored pure-python protobuf,
# exposed through .pbshim/sitecustomize.py (which also relaxes the
# runtime>=gencode validation for the one-minor-version gap)
_PBSHIM = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".pbshim")
_VENDORED_PB = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def test_stateful_running_totals_tws_matches_batch(spark, tmp_path):
    """The transformWithStateInPandas twin must produce the same final
    per-key totals as both the batch aggregate and (by transitivity) the
    applyInPandasWithState implementation. google.protobuf (the TWS wire
    protocol) isn't installed in this sandbox, so the scenario runs in a
    SUBPROCESS whose PYTHONPATH exposes the cloud-sdk's vendored
    pure-python protobuf via .pbshim (closing the round-1..10 skip); the
    product-code ImportError gate is asserted here regardless. Skips
    only when no protobuf source exists at all."""
    import subprocess
    import sys as _sys

    from epic_pandas_spark.streaming.stateful import running_totals_tws

    try:
        import google.protobuf  # noqa: F401

        have_pb = True
    except ImportError:
        have_pb = False
        # the gate normal environments rely on
        batch = load_table(spark, SF_DIR, "events").select("user_id", "value")
        with pytest.raises(ImportError, match="protobuf"):
            running_totals_tws(batch)

    env = dict(os.environ)
    if not have_pb:
        if not (os.path.isdir(_PBSHIM) and os.path.isdir(_VENDORED_PB)):
            pytest.skip("no google.protobuf and no vendored shim; TWS gated")
        env["PYTHONPATH"] = _PBSHIM + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [_sys.executable, "-c", _TWS_SCENARIO, SF_DIR],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["match"] is True and res["n_keys"] == res["n_want"] > 0, res


def test_streaming_dsir_scores_match_batch(spark, tmp_path):
    """DSIR over a document STREAM against a PERSISTED model: the ratio
    table is fitted in batch, round-tripped through parquet (the
    model-persistence path), and a parquet-source stream scores against
    it via dsir_score_stream. Integer-quantized per-gram ratios make the
    streaming sum exactly associative across micro-batches, so every
    document's logw_scaled must equal the batch twin's BIT FOR BIT."""
    from epic_pandas_spark.extensions.curation import (
        dsir_importance_weights,
        dsir_log_ratio_table,
        dsir_score_stream,
        md5_bucket_expr,
    )

    batch = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    target = batch.filter(F.col("doc_id") % 7 == 0)
    n_buckets = 1 << 12
    bexpr = md5_bucket_expr(n_buckets)
    model_path = str(tmp_path / "dsir_model")
    dsir_log_ratio_table(
        batch, target, "text", n_buckets=n_buckets, bucket_expr=bexpr
    ).write.parquet(model_path)
    model = spark.read.parquet(model_path)  # the persisted-model path

    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
        )
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(SF_DIR)
        .select("doc_id", "text")
    )
    scored = dsir_score_stream(
        stream, "text", "doc_id", model, n_buckets=n_buckets, bucket_expr=bexpr
    )
    q = run_stream_to_memory(scored, "dsir_stream_out", output_mode="complete")
    try:
        got = {
            r["doc_id"]: r["logw_scaled"]
            for r in spark.sql("SELECT * FROM dsir_stream_out").collect()
        }
        want = {
            r["doc_id"]: r["logw_scaled"]
            for r in dsir_importance_weights(
                batch, "text", "doc_id", model,
                n_buckets=n_buckets, bucket_expr=bexpr,
            ).collect()
        }
        assert got == want
        assert got, "stream produced no scores"
    finally:
        q.stop()


def test_streaming_ngram_perplexity_matches_batch(spark, tmp_path):
    """LM perplexity over a document STREAM against a PERSISTED model
    (ngram_lm_save/load round-trip). Docs are sharded into two files
    with the SAME doc_ids (append-style row shards), so with
    maxFilesPerTrigger=1 every document accumulates across two
    micro-batches — integer micro-nat quantization makes the streaming
    sum exactly associative, so (n_tokens, logp_scaled) must equal the
    batch twin's BIT FOR BIT."""
    from epic_pandas_spark.functions.ngram_lm import (
        ngram_lm_load,
        ngram_lm_save,
        ngram_lm_score,
        ngram_lm_score_stream,
        ngram_lm_train,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    model_path = str(tmp_path / "lm_model")
    ngram_lm_save(ngram_lm_train(docs.filter(F.col("doc_id") % 10 == 0), "text"), model_path)
    model = ngram_lm_load(spark, model_path)  # the persisted-model path

    src = str(tmp_path / "stream_src")
    shard0 = docs
    shard1 = docs.select(
        "doc_id", F.concat(F.lit("appended shard text "), F.col("text")).alias("text")
    )
    shard0.coalesce(1).write.parquet(src)
    shard1.coalesce(1).write.mode("append").parquet(src)
    both = shard0.unionByName(shard1)

    stream = (
        spark.readStream.schema(both.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    scored = ngram_lm_score_stream(stream, "text", "doc_id", model).select(
        "doc_id", "n_tokens", "logp_scaled"
    )
    q = run_stream_to_memory(scored, "ngram_stream_out", output_mode="complete")
    try:
        got = {
            r["doc_id"]: (r["n_tokens"], r["logp_scaled"])
            for r in spark.sql("SELECT * FROM ngram_stream_out").collect()
        }
        want = {
            r["doc_id"]: (r["n_tokens"], r["logp_scaled"])
            for r in ngram_lm_score(
                both, "text", "doc_id", model, quantize_scale=1_000_000
            ).collect()
        }
        assert got == want
        assert got, "stream produced no scores"
    finally:
        q.stop()


def test_streaming_classifier_scores_match_batch(spark, tmp_path):
    """Quality classification over a document STREAM against a
    parquet-persisted weight table trained in batch: per-doc scores
    from the stream-static broadcast plan must equal
    hashed_feature_scores' batch scores (complete docs per file, so the
    mean pooling sees the full token set in state)."""
    from epic_pandas_spark.extensions.curation import (
        hashed_feature_scores,
        score_stream_with_classifier,
        train_quality_classifier,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text", (F.col("lang") == "en").cast("int").alias("label"))
        .filter(F.col("doc_id") < 80)
    )
    w_df, bias, _ = train_quality_classifier(
        docs, "text", "label", "doc_id", n_buckets=1 << 10, iters=5
    )
    model_path = str(tmp_path / "clf_model")
    w_df.write.parquet(model_path)
    model = spark.read.parquet(model_path)  # the persisted-model path

    src = str(tmp_path / "stream_src")
    docs.select("doc_id", "text").repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.select("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    scored = score_stream_with_classifier(
        stream, "text", "doc_id", model, n_buckets=1 << 10, bias=bias
    )
    q = run_stream_to_memory(scored, "clf_stream_out", output_mode="complete")
    try:
        got = {
            r["doc_id"]: round(r["score"], 9)
            for r in spark.sql("SELECT * FROM clf_stream_out").collect()
        }
        want = {
            r["doc_id"]: round(r["score"], 9)
            for r in hashed_feature_scores(
                docs, "text", "doc_id", model, n_buckets=1 << 10, bias=bias
            ).collect()
        }
        assert got == want
        assert got, "stream produced no scores"
    finally:
        q.stop()


def test_streaming_minhash_neardup_matches_sequential_batches(spark, tmp_path):
    """Near-dedup over a document STREAM against a persisted, GROWING
    LSH index: two parquet shards arrive as separate micro-batches; each
    epoch's verified pairs must equal applying the batch
    `minhash_lsh_pairs_incremental` to the same shards in sequence, BIT
    FOR BIT (same signatures, same candidate joins, same exact-Jaccard
    verification) — including a shard-2 doc pairing with a shard-1 doc
    purely through the index rows epoch 0 appended."""
    import time

    from epic_pandas_spark.extensions.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
        minhash_neardup_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "z y x w v u t s r q")],
        "doc_id long, text string",
    )
    shard0 = spark.createDataFrame(
        [(10, "a b c d e f g h i j"),      # dup of corpus doc 1
         (11, "m n o p q r s t u v")],     # new
        "doc_id long, text string",
    )
    shard1 = spark.createDataFrame(
        [(20, "m n o p q r s t u v"),      # dup of shard0's 11 (index growth)
         (21, "k l k2 l2 k3 l3 k4 l4 k5 l5")],  # new
        "doc_id long, text string",
    )

    index_dir = str(tmp_path / "lsh_index")
    cb, cw = minhash_index(corpus, "text", "doc_id")
    cb.write.parquet(f"{index_dir}/bands/epoch=-1")   # seed the corpus index
    cw.write.parquet(f"{index_dir}/words/epoch=-1")

    src = str(tmp_path / "stream_src")
    shard0.coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes pin the file-source epoch order
    shard1.coalesce(1).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "pairs_out")
    stream = (
        spark.readStream.schema(shard0.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = minhash_neardup_stream(
        stream, "text", "doc_id",
        index_dir=index_dir, out_dir=out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.8,
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in spark.read.parquet(out_dir).drop("epoch").collect()
    }
    idx0 = minhash_index(corpus, "text", "doc_id")
    want1, idx1 = minhash_lsh_pairs_incremental(
        shard0, "text", "doc_id", threshold=0.8, index=idx0
    )
    want2, _ = minhash_lsh_pairs_incremental(
        shard1, "text", "doc_id", threshold=0.8, index=idx1
    )
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in want1.unionByName(want2).collect()
    }
    assert got == want
    # the planted duplications actually happened through the right hops
    assert (10, 1) in got and (20, 11) in got
    assert not any(21 in p for p in got)
    # the index grew: both stream epochs appended band partitions
    epochs = {
        r["epoch"]
        for r in spark.read.option("basePath", f"{index_dir}/bands")
        .parquet(f"{index_dir}/bands").select("epoch").distinct().collect()
    }
    assert epochs == {-1, 0, 1}


def test_streaming_minhash_neardup_fresh_pipeline_no_double_count(spark, tmp_path):
    """FRESH pipeline — no seeded ``epoch=-1`` corpus index. The store
    does not exist at epoch 0, so the in-plan snapshot is lazily adopted
    at a LATER epoch from parquet that already contains epoch 0's appends;
    those docs must be excluded from the snapshot (they are also held in
    the in-memory epoch cache) or every pair touching them is emitted as
    DUPLICATE ROWS — `_lsh_pairs_vs_store` dedups candidate ids but not
    store-word rows (the round-10 regression this test pins). Output must
    be bit-equal to the sequential batch operator started from index=None,
    with zero duplicated (id_a, id_b) rows in any epoch."""
    import time

    from epic_pandas_spark.extensions.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_neardup_stream,
    )

    shards = [
        spark.createDataFrame(
            [(10, "a b c d e f g h i j"), (11, "m n o p q r s t u v")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(20, "a b c d e f g h i j")],  # dup of epoch-0 doc 10
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(30, "a b c d e f g h i j")],  # dup of 10 AND 20
            "doc_id long, text string",
        ),
    ]
    src = str(tmp_path / "stream_src")
    for i, sh in enumerate(shards):
        sh.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
        time.sleep(1.1)  # distinct mtimes pin the file-source epoch order

    out_dir = str(tmp_path / "pairs_out")
    stream = (
        spark.readStream.schema(shards[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = minhash_neardup_stream(
        stream, "text", "doc_id",
        index_dir=str(tmp_path / "lsh_index"), out_dir=out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.8,
    )
    q.processAllAvailable()
    q.stop()

    rows = spark.read.parquet(out_dir).drop("epoch").collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert len(rows) == len(got), (
        f"duplicate pair rows emitted: {len(rows)} rows, {len(got)} distinct"
    )
    index = None
    want = {}
    for sh in shards:
        p, index = minhash_lsh_pairs_incremental(
            sh, "text", "doc_id", threshold=0.8, index=index
        )
        want.update({(r["id_a"], r["id_b"]): r["jaccard"] for r in p.collect()})
    assert got == want
    # the cross-epoch hops actually happened: 20-vs-10 through the lazily
    # adopted snapshot, 30-vs-{10,20} through snapshot + in-memory cache
    assert (20, 10) in got and (30, 10) in got and (30, 20) in got


def test_windowed_calibration_bins_stream_matches_batch(spark, tmp_path):
    """The calibration-drift monitor over a scored event stream equals
    its batch twin on the same data (Structured Streaming unification):
    per (event-time window, bin) counts and means, bit-comparable at
    9dp. A drifting second hour (scores warped) must surface as a
    larger |gap| in that hour's bins."""
    import datetime as dt

    from epic_pandas_spark.streaming.windows import (
        run_stream_to_memory,
        windowed_calibration_bins,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for i in range(2000):
        hour = i % 2
        p = ((i * 37) % 101) / 100.0
        score = p if hour == 0 else min(p * p, 1.0)   # hour 1: stale model
        label = 1 if (i * 7) % 100 < p * 100 else 0
        rows.append((base + dt.timedelta(hours=hour, seconds=i % 3600), score, label))
    batch = spark.createDataFrame(rows, "ts timestamp, score double, label int")

    src = str(tmp_path / "scored_src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_stream_to_memory(
        windowed_calibration_bins(stream), "cal_drift_out", output_mode="complete"
    )
    try:
        got = {
            (r["window_start"], r["bin"]): (r["n"], round(r["conf"], 9),
                                            round(r["acc"], 9), round(r["gap"], 9))
            for r in spark.sql("SELECT * FROM cal_drift_out").collect()
        }
        want = {
            (r["window_start"], r["bin"]): (r["n"], round(r["conf"], 9),
                                            round(r["acc"], 9), round(r["gap"], 9))
            for r in windowed_calibration_bins(batch).collect()
        }
        assert got == want
        assert got, "monitor produced no bins"
    finally:
        q.stop()
    # drift detection: hour-1 weighted |gap| (its ECE) exceeds hour-0's
    hours = sorted({w for w, _ in want})
    assert len(hours) == 2
    def ece(h):
        rows_ = [v for (w, _), v in want.items() if w == h]
        n_tot = sum(n for n, _, _, _ in rows_)
        return sum(abs(g) * n for n, _, _, g in rows_) / n_tot
    assert ece(hours[1]) > ece(hours[0]) * 2, (ece(hours[0]), ece(hours[1]))


def test_windowed_calibration_bins_grouped_stream_matches_batch(spark, tmp_path):
    """Per-group drift monitoring (by=...): the stream equals the batch
    twin per (window, group, bin), and a model drifting on ONE group
    only ('de' scores warped, 'en' calibrated) shows a larger weighted
    |gap| for that group while staying invisible-in-aggregate small for
    the other — the reason the group dimension exists."""
    import datetime as dt

    from epic_pandas_spark.streaming.windows import (
        run_stream_to_memory,
        windowed_calibration_bins,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for i in range(3000):
        lang = "en" if i % 2 == 0 else "de"
        p = ((i * 37) % 101) / 100.0
        score = p if lang == "en" else min(p * p, 1.0)   # de: stale model
        label = 1 if (i * 7) % 100 < p * 100 else 0
        rows.append((base + dt.timedelta(seconds=i), lang, score, label))
    batch = spark.createDataFrame(
        rows, "ts timestamp, lang string, score double, label int"
    )

    src = str(tmp_path / "scored_grouped_src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_stream_to_memory(
        windowed_calibration_bins(stream, by="lang"),
        "cal_drift_grouped_out", output_mode="complete",
    )

    def key(r):
        return (r["window_start"], r["lang"], r["bin"])

    def val(r):
        return (r["n"], round(r["conf"], 9), round(r["acc"], 9), round(r["gap"], 9))

    try:
        got = {
            key(r): val(r)
            for r in spark.sql("SELECT * FROM cal_drift_grouped_out").collect()
        }
        want = {
            key(r): val(r)
            for r in windowed_calibration_bins(batch, by="lang").collect()
        }
        assert got == want
        assert {g for _, g, _ in want} == {"en", "de"}
    finally:
        q.stop()

    def group_ece(lang):
        rows_ = [v for (_, g, _), v in want.items() if g == lang]
        n_tot = sum(n for n, _, _, _ in rows_)
        return sum(abs(g) * n for n, _, _, g in rows_) / n_tot

    assert group_ece("de") > group_ece("en") * 2, (
        group_ece("en"), group_ece("de"),
    )


def test_windowed_topk_stream_matches_batch(spark, tmp_path):
    """Below saturation (distinct values per window <= m) Space-Saving
    is exact: the stream's final per-window emission equals the exact
    batch twin — across micro-batches, so counter state must merge
    correctly between files."""
    import datetime as dt

    from epic_pandas_spark.streaming.stateful import (
        batch_windowed_topk,
        windowed_topk,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for i in range(3000):
        hour = i % 2
        v = f"type{(i * 13) % 12}"  # 12 distinct values << m=64
        rows.append((base + dt.timedelta(hours=hour, seconds=i % 3600), v))
    batch = spark.createDataFrame(rows, "ts timestamp, event_type string")

    src = str(tmp_path / "topk_src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_topk(stream, k=5, m=64)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("topk_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    try:
        # update mode emits per window per batch; the final emission per
        # window carries the largest n_seen
        got = {
            (r["window_start"], r["rank"]): (r["value"], r["count_est"], r["err"])
            for r in spark.sql(
                """SELECT * FROM (
                     SELECT *, MAX(n_seen) OVER (PARTITION BY window_start) mx
                     FROM topk_out) WHERE n_seen = mx"""
            ).collect()
        }
        want = {
            (r["window_start"], r["rank"]): (r["value"], r["count_est"], 0)
            for r in batch_windowed_topk(batch, k=5).collect()
        }
        assert got == want
        assert len({w for w, _ in want}) == 2
    finally:
        q.stop()


def test_windowed_topk_state_evicted_past_watermark(spark, tmp_path):
    """Bounded state OVER TIME, not just per window: once the watermark
    passes a window's close, its Space-Saving counters are removed via
    the event-time timeout. Witness: re-arriving events for the evicted
    window must NOT continue the old n_seen — they either get dropped as
    late or start a fresh counter set. Under the pre-round-9 NoTimeout
    behavior the state survived forever and n_seen would accumulate."""
    import datetime as dt

    from epic_pandas_spark.streaming.stateful import windowed_topk

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    far = base + dt.timedelta(hours=10)

    def write_file(name, rows):
        spark.createDataFrame(rows, "ts timestamp, event_type string").coalesce(
            1
        ).write.mode("append").parquet(str(tmp_path / "evict_src"))

    n_a, n_d = 40, 7
    write_file("a", [(base + dt.timedelta(seconds=i), f"t{i % 3}") for i in range(n_a)])
    src = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "evict_src"))
    )
    out = windowed_topk(src, k=3, m=8, watermark="2 hours")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("evict_out")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: window A, n_seen = n_a
        # batch 2: hour 10 — after it, watermark = 8h > window A close (1h)
        write_file("b", [(far + dt.timedelta(seconds=i), "z") for i in range(5)])
        q.processAllAvailable()
        # batch 3: any data; window A's timeout fires during this batch
        write_file("c", [(far + dt.timedelta(seconds=60 + i), "z") for i in range(5)])
        q.processAllAvailable()
        # batch 4: window A events re-arrive late
        write_file(
            "d", [(base + dt.timedelta(seconds=i), f"t{i % 3}") for i in range(n_d)]
        )
        q.processAllAvailable()
        seen = {
            int(r["n_seen"])
            for r in spark.sql(
                "SELECT DISTINCT n_seen FROM evict_out WHERE window_start = ?",
                args=[base],
            ).collect()
        }
        # fresh state (n_d) or late-dropped (nothing new) — never n_a + n_d
        assert n_a in seen
        assert n_a + n_d not in seen, "evicted window's counters were resumed"
        assert seen <= {n_a, n_d}
    finally:
        q.stop()


def test_windowed_quantiles_state_evicted_past_watermark(spark, tmp_path):
    """Same eviction witness as the top-k test for the quantile monitor:
    anchors for a watermark-passed window are removed, so re-arriving
    values never continue the old n_seen."""
    import datetime as dt

    from epic_pandas_spark.streaming.stateful import windowed_quantiles

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    far = base + dt.timedelta(hours=10)
    path = str(tmp_path / "wq_evict_src")

    def write_file(rows):
        spark.createDataFrame(rows, "ts timestamp, value double").coalesce(
            1
        ).write.mode("append").parquet(path)

    n_a, n_d = 30, 9
    write_file([(base + dt.timedelta(seconds=i), float(i)) for i in range(n_a)])
    src = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    out = windowed_quantiles(src, probs=(0.5,), q=16, watermark="2 hours")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("wq_evict_out")
        .start()
    )
    try:
        q.processAllAvailable()
        write_file([(far + dt.timedelta(seconds=i), 1.0) for i in range(5)])
        q.processAllAvailable()
        write_file([(far + dt.timedelta(seconds=60 + i), 1.0) for i in range(5)])
        q.processAllAvailable()
        write_file([(base + dt.timedelta(seconds=i), float(i)) for i in range(n_d)])
        q.processAllAvailable()
        seen = {
            int(r["n_seen"])
            for r in spark.sql(
                "SELECT DISTINCT n_seen FROM wq_evict_out WHERE window_start = ?",
                args=[base],
            ).collect()
        }
        assert n_a in seen
        assert n_a + n_d not in seen, "evicted window's anchors were resumed"
        assert seen <= {n_a, n_d}
    finally:
        q.stop()


def test_batch_windowed_quantiles_epsilon_guard(spark):
    """p=0.07, n=100: the double product is 7.000000000000001, so an
    unguarded CEIL picks rank 8; the epsilon guard (mirroring the
    streaming twin's `cum >= p*total - 1e-9`) must pick the exact
    type-1 rank 7."""
    import datetime as dt

    from epic_pandas_spark.streaming.stateful import batch_windowed_quantiles

    assert 0.07 * 100 > 7  # the representation hazard this test pins

    base = dt.datetime(2026, 1, 1, 0, 30, 0)
    rows = [(base, float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    [r] = batch_windowed_quantiles(df, probs=(0.07,)).collect()
    assert r["quantile_est"] == 7.0
    assert r["n_seen"] == 100


def test_duration_ms_parses_spark_intervals():
    from epic_pandas_spark.streaming.stateful import _duration_ms

    assert _duration_ms("1 hour") == 3_600_000
    assert _duration_ms("30 minutes") == 1_800_000
    assert _duration_ms("2 days") == 172_800_000
    assert _duration_ms("500 milliseconds") == 500
    with pytest.raises(ValueError):
        _duration_ms("fortnight")
    with pytest.raises(ValueError):
        _duration_ms("3 parsecs")


def test_spacesaving_merge_guarantees():
    """The Metwally et al. invariants on the pure merge kernel, past
    saturation: (a) every value with true count > N/m is present,
    (b) count - err <= true <= count for every counter, (c) never more
    than m counters."""
    from collections import Counter

    from epic_pandas_spark.streaming.stateful import _spacesaving_merge

    # zipf-ish: value j appears ~ 600/j times, 200 distinct >> m=32
    stream = [f"v{j:03d}" for j in range(1, 201) for _ in range(600 // j)]
    # deterministic interleave so heavy items arrive spread out —
    # md5, not hash(): Python string hashing is salted per process
    stream.sort(key=lambda v: int(hashlib.md5(v.encode()).hexdigest(), 16) % 7919)
    true = Counter(stream)
    n = len(stream)
    m = 32
    ctr: dict = {}
    # feed in 10 chunks to mimic micro-batches, each pre-counted like
    # the operator does
    chunk = (n + 9) // 10
    for i in range(0, n, chunk):
        vc = Counter(stream[i : i + chunk])
        _spacesaving_merge(ctr, sorted(vc.items(), key=lambda t: (-t[1], t[0])), m)
    assert len(ctr) <= m
    for v, (c, e) in ctr.items():
        assert c - e <= true[v] <= c, (v, c, e, true[v])
    for v, t in true.items():
        if t > n / m:
            assert v in ctr, f"guaranteed heavy hitter {v} (count {t} > N/m) missing"


def test_windowed_topk_rejects_bad_k(spark):
    from epic_pandas_spark.streaming.stateful import windowed_topk

    df = spark.createDataFrame([], "ts timestamp, event_type string")
    with pytest.raises(ValueError, match="need 1 <= k <= m"):
        windowed_topk(df, k=0)
    with pytest.raises(ValueError, match="need 1 <= k <= m"):
        windowed_topk(df, k=10, m=5)


def test_windowed_quantiles_stream_matches_batch(spark, tmp_path):
    """Below q values per window the anchor set is the window's exact
    value multiset, so the stream's final per-window emission equals
    the exact batch twin — across micro-batches."""
    import datetime as dt

    from epic_pandas_spark.streaming.stateful import (
        batch_windowed_quantiles,
        windowed_quantiles,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for i in range(100):  # 50 values per hour window << q=64
        hour = i % 2
        rows.append((base + dt.timedelta(hours=hour, seconds=i), float((i * 37) % 101)))
    batch = spark.createDataFrame(rows, "ts timestamp, value double")

    src = str(tmp_path / "wq_src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_quantiles(stream, probs=(0.5, 0.9, 0.99), q=64)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("wq_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    try:
        got = {
            (r["window_start"], r["prob"]): (round(r["quantile_est"], 9), r["n_seen"])
            for r in spark.sql(
                """SELECT * FROM (
                     SELECT *, MAX(n_seen) OVER (PARTITION BY window_start) mx
                     FROM wq_out) WHERE n_seen = mx"""
            ).collect()
        }
        want = {
            (r["window_start"], r["prob"]): (round(r["quantile_est"], 9), r["n_seen"])
            for r in batch_windowed_quantiles(batch, probs=(0.5, 0.9, 0.99)).collect()
        }
        assert got == want
        assert len({w for w, _ in want}) == 2
    finally:
        q.stop()


def test_windowed_quantiles_compression_error_bound(spark, tmp_path):
    """Past saturation (many more values than q anchors) the streamed
    estimate must stay within the accumulated anchor-compression rank
    error of the exact quantile."""
    import datetime as dt

    import numpy as np

    from epic_pandas_spark.streaming.stateful import windowed_quantiles

    rng = np.random.RandomState(11)
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    vals = rng.lognormal(2.0, 1.0, 4000)
    rows = [
        (base + dt.timedelta(seconds=int(i % 3000)), float(v))
        for i, v in enumerate(vals)
    ]
    batch = spark.createDataFrame(rows, "ts timestamp, value double")
    src = str(tmp_path / "wq_sat_src")
    batch.repartition(4).write.parquet(src)  # 4 micro-batches
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q_anchors = 128
    out = windowed_quantiles(stream, probs=(0.5, 0.9), q=q_anchors)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("wq_sat_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    try:
        got = {
            r["prob"]: r["quantile_est"]
            for r in spark.sql(
                "SELECT prob, quantile_est FROM wq_sat_out "
                "WHERE n_seen = (SELECT MAX(n_seen) FROM wq_sat_out)"
            ).collect()
        }
    finally:
        q.stop()
    s = np.sort(vals)
    n = len(vals)
    n_batches = 4
    for p in (0.5, 0.9):
        est_rank = np.searchsorted(s, got[p], side="right")
        target = int(np.ceil(p * n))
        assert abs(est_rank - target) <= n_batches * n / q_anchors + 1, (
            p, est_rank, target,
        )


def test_windowed_quantiles_rejects_bad_args(spark):
    from epic_pandas_spark.streaming.stateful import (
        batch_windowed_quantiles,
        windowed_quantiles,
    )

    df = spark.createDataFrame([], "ts timestamp, value double")
    with pytest.raises(ValueError, match="q must be >= 1"):
        windowed_quantiles(df, q=0)
    with pytest.raises(ValueError, match="probs must be in"):
        windowed_quantiles(df, probs=(0.0,))
    with pytest.raises(ValueError, match="probs must be non-empty"):
        batch_windowed_quantiles(df, probs=())
