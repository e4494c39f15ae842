"""Streaming-throughput bench: rows/s through every streaming surface.

The streaming twins carry stream==batch CORRECTNESS witnesses in pytest;
this measures their THROUGHPUT the way bench.py measures the batch
registry: each surface processes a multi-shard parquet source end to end
(availableNow trigger, maxFilesPerTrigger=1, so every run crosses
micro-batch boundaries) and reports input rows / wall seconds. Model/
index builds are PREP (untimed) — they are batch operators benched
elsewhere; the timed region is exactly the streaming query lifecycle
(start -> processAllAvailable -> stop), i.e. what a production ingest
loop pays per increment.

Usage: python scripts/stream_bench.py > STREAM_BENCH.json
(reads $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure
from epic_pandas_spark.session import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_SHARDS = 4


def _shard(spark, df, path: str) -> int:
    """Write df as N_SHARDS parquet files; return the row count."""
    df.repartition(N_SHARDS).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def _stream_from(spark, path: str):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def _timed_run(q) -> float:
    t0 = time.monotonic()
    q.processAllAvailable()
    q.stop()
    return time.monotonic() - t0


def _to_memory(stream_df, name: str, mode: str) -> float:
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    return _timed_run(q)


def main() -> None:
    evidence_lock.acquire("stream_bench")
    spark = measure.session("epic_pandas_spark_stream_bench", SF_DIR)
    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    out: dict[str, dict] = {}
    try:
        # ---- sources (prep, untimed) -------------------------------------
        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        docs_src = os.path.join(tmp, "docs_src")
        n_docs = _shard(spark, docs, docs_src)

        events = load_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        events_src = os.path.join(tmp, "events_src")
        n_events = _shard(spark, events, events_src)

        def record(name: str, rows: int, sec: float) -> None:
            out[name] = {
                "rows": rows,
                "sec": round(sec, 3),
                "rows_per_s": round(rows / sec, 1) if sec > 0 else None,
            }
            print(f"{name}: {rows} rows in {sec:.2f}s", file=sys.stderr)

        # ---- windowed aggregation + dedup over the event stream ----------
        from epic_pandas_spark.streaming.windows import (
            streaming_dedup,
            tumbling_agg,
        )

        sec = _to_memory(
            tumbling_agg(_stream_from(spark, events_src)), "sb_tumbling", "update"
        )
        record("tumbling_agg", n_events, sec)

        sec = _to_memory(
            streaming_dedup(_stream_from(spark, events_src), ["event_id"]),
            "sb_dedup", "append",
        )
        record("streaming_dedup", n_events, sec)

        # ---- calibration-drift monitor over a scored event stream ---------
        from epic_pandas_spark.streaming.windows import windowed_calibration_bins

        scored_src = os.path.join(tmp, "scored_src")
        scored = events.select(
            "ts",
            (F.pmod(F.xxhash64("event_id"), F.lit(1000)) / 1000.0).alias("score"),
            F.pmod(F.xxhash64("user_id"), F.lit(2)).cast("int").alias("label"),
        )
        n_scored = _shard(spark, scored, scored_src)
        sec = _to_memory(
            windowed_calibration_bins(_stream_from(spark, scored_src)),
            "sb_caldrift", "update",
        )
        record("windowed_calibration_bins", n_scored, sec)

        # ---- per-group drift monitor (by=...) over the same stream --------
        grouped_src = os.path.join(tmp, "scored_grouped_src")
        grouped = events.select(
            "ts",
            F.col("event_type").alias("segment"),
            (F.pmod(F.xxhash64("event_id"), F.lit(1000)) / 1000.0).alias("score"),
            F.pmod(F.xxhash64("user_id"), F.lit(2)).cast("int").alias("label"),
        )
        n_grouped = _shard(spark, grouped, grouped_src)
        sec = _to_memory(
            windowed_calibration_bins(_stream_from(spark, grouped_src), by="segment"),
            "sb_caldrift_grouped", "update",
        )
        record("windowed_calibration_bins_grouped", n_grouped, sec)

        # ---- Space-Saving windowed top-k over the event stream -------------
        from epic_pandas_spark.streaming.stateful import windowed_topk

        sec = _to_memory(
            windowed_topk(_stream_from(spark, events_src), k=5, m=64),
            "sb_topk", "update",
        )
        record("windowed_topk", n_events, sec)

        # ---- windowed quantile (numeric drift) monitor --------------------
        from epic_pandas_spark.streaming.stateful import windowed_quantiles

        sec = _to_memory(
            windowed_quantiles(_stream_from(spark, events_src), q=64),
            "sb_wquant", "update",
        )
        record("windowed_quantiles", n_events, sec)

        # ---- LM perplexity scoring vs a persisted model -------------------
        from epic_pandas_spark.functions.ngram_lm import (
            ngram_lm_load,
            ngram_lm_save,
            ngram_lm_score_stream,
            ngram_lm_train,
        )

        lm_path = os.path.join(tmp, "lm_model")
        ngram_lm_save(
            ngram_lm_train(docs.filter(F.col("doc_id") % 10 == 0), "text"),
            lm_path,
        )
        model = ngram_lm_load(spark, lm_path)
        sec = _to_memory(
            ngram_lm_score_stream(_stream_from(spark, docs_src), "text", "doc_id", model),
            "sb_lm", "complete",
        )
        record("ngram_lm_score_stream", n_docs, sec)

        # ---- classifier scoring vs a persisted weight table ---------------
        from epic_pandas_spark.extensions.curation import (
            score_stream_with_classifier,
            train_quality_classifier,
        )

        labeled = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text", (F.col("lang") == "en").cast("int").alias("label")
        )
        w_df, bias, _ = train_quality_classifier(
            labeled, "text", "label", "doc_id", n_buckets=1 << 10, iters=3, lr=5.0
        )
        w_path = os.path.join(tmp, "clf_model")
        w_df.write.parquet(w_path)
        weights = spark.read.parquet(w_path)
        sec = _to_memory(
            score_stream_with_classifier(
                _stream_from(spark, docs_src), "text", "doc_id", weights,
                n_buckets=1 << 10, bias=bias,
            ),
            "sb_clf", "complete",
        )
        record("score_stream_with_classifier", n_docs, sec)

        # ---- DSIR weighting vs a persisted ratio table ---------------------
        from epic_pandas_spark.extensions.curation import (
            dsir_log_ratio_table,
            dsir_score_stream,
            md5_bucket_expr,
        )

        n_buckets = 1 << 12
        bexpr = md5_bucket_expr(n_buckets)
        ratio_path = os.path.join(tmp, "dsir_model")
        dsir_log_ratio_table(
            docs, docs.filter(F.col("doc_id") % 7 == 0), "text",
            n_buckets=n_buckets, bucket_expr=bexpr,
        ).write.parquet(ratio_path)
        ratio = spark.read.parquet(ratio_path)
        sec = _to_memory(
            dsir_score_stream(
                _stream_from(spark, docs_src), "text", "doc_id", ratio,
                n_buckets=n_buckets, bucket_expr=bexpr,
            ),
            "sb_dsir", "complete",
        )
        record("dsir_score_stream", n_docs, sec)

        # ---- near-dedup vs a growing LSH index (foreachBatch) --------------
        from epic_pandas_spark.extensions.dedup import (
            minhash_index,
            minhash_neardup_stream,
        )

        index_dir = os.path.join(tmp, "lsh_index")
        seed_docs = docs.filter(F.col("doc_id") % 3 == 0)
        cb, cw = minhash_index(seed_docs, "text", "doc_id")
        cb.write.parquet(f"{index_dir}/bands/epoch=-1")
        cw.write.parquet(f"{index_dir}/words/epoch=-1")
        q = minhash_neardup_stream(
            _stream_from(spark, docs_src), "text", "doc_id",
            index_dir=index_dir,
            out_dir=os.path.join(tmp, "pairs_out"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            threshold=0.8,
        )
        sec = _timed_run(q)
        record("minhash_neardup_stream", n_docs, sec)

        # same surface, ONE availableNow batch (no maxFilesPerTrigger):
        # separates per-document cost from per-micro-batch job-launch
        # latency, which dominates the 4-epoch row at this corpus size
        # (profiled round 10: ~1.9s/epoch of fixed JVM job+stage latency
        # vs ~0.5s of compute). A production ingest tick of any real
        # size runs in this regime.
        index_dir2 = os.path.join(tmp, "lsh_index_bulk")
        cb.write.parquet(f"{index_dir2}/bands/epoch=-1")
        cw.write.parquet(f"{index_dir2}/words/epoch=-1")
        schema = spark.read.parquet(docs_src).schema
        bulk_src = (
            spark.readStream.schema(schema).parquet(docs_src)
        )
        q = minhash_neardup_stream(
            bulk_src, "text", "doc_id",
            index_dir=index_dir2,
            out_dir=os.path.join(tmp, "pairs_out_bulk"),
            checkpoint_dir=os.path.join(tmp, "ckpt_bulk"),
            threshold=0.8,
        )
        sec = _timed_run(q)
        record("minhash_neardup_stream_bulk", n_docs, sec)

        # ---- per-epoch FLOOR control (round 11, VERDICT r10 item 6) ----
        # the same foreachBatch job STRUCTURE as the near-dup probe —
        # one fused read job, then two concurrent tiny parquet writes —
        # with near-zero compute. What this measures is the fixed
        # per-micro-batch cost of the host (micro-batch planning, file
        # listing, job/stage launch, checkpoint WAL+commit, parquet
        # committer): the irreducible floor a real cluster hides by
        # running many concurrent triggers. neardup_residual_per_epoch
        # below = how much of the 4-epoch near-dup row is actual
        # near-dup compute above that floor.
        from concurrent.futures import ThreadPoolExecutor

        floor_out = os.path.join(tmp, "floor_out")

        def floor_probe(batch_df, epoch_id: int) -> None:
            tiny = batch_df.limit(1).select("doc_id").localCheckpoint(
                eager=False
            )
            n = tiny.count()  # the fused "probe" job
            assert n >= 0
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(
                        lambda p: tiny.write.mode("overwrite").parquet(p),
                        f"{floor_out}/{sub}/epoch={epoch_id}",
                    )
                    for sub in ("a", "b")
                ]
                for f in futs:
                    f.result()

        q = (
            _stream_from(spark, docs_src)
            .writeStream.foreachBatch(floor_probe)
            .option("checkpointLocation", os.path.join(tmp, "ckpt_floor"))
            .trigger(availableNow=True)
            .start()
        )
        sec = _timed_run(q)
        record("foreachbatch_epoch_floor", n_docs, sec)
        nd, fl = out["minhash_neardup_stream"], out["foreachbatch_epoch_floor"]
        out["neardup_epoch_attribution"] = {
            "epochs": N_SHARDS,
            "floor_sec_per_epoch": round(fl["sec"] / N_SHARDS, 3),
            "neardup_sec_per_epoch": round(nd["sec"] / N_SHARDS, 3),
            "residual_compute_sec_per_epoch": round(
                (nd["sec"] - fl["sec"]) / N_SHARDS, 3
            ),
            "floor_fraction": round(fl["sec"] / nd["sec"], 3),
        }

        print(json.dumps({
            "sf_dir": SF_DIR,
            "n_shards": N_SHARDS,
            "protocol": (
                "availableNow + maxFilesPerTrigger=1 (every surface crosses "
                f"{N_SHARDS} micro-batch boundaries); model/index builds are "
                "untimed prep; timed region = start -> processAllAvailable "
                "-> stop"
            ),
            "surfaces": out,
        }, indent=1))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
