"""``stream`` workload: ``streaming.pipeline.events_stream`` ->
``windowed_counts`` in update mode with the default trigger, fed by an
open-loop generator process (``streamgen.py``) at a short ladder of
fixed rates.

Not in BENCHMARK.json: with the ``dag`` and ``suite`` runs it would
exceed the benchmark's per-round time budget. Run it by hand:

    python3 perfbench/run.py --workload stream --seed 1 --seconds 10 --trace 0

Each rung lasts ``--seconds``. A file's latency is the end of the
micro-batch that read it (batch start + ``triggerExecution``, from a
``StreamingQueryListener``) minus the file's due time; files map to
batches through the checkpoint's ``sources/0/<batchId>`` log. A rung is
sustained when the generator kept its schedule (every file written
less than one interval late) and the backlog did not grow across it:
the median latency of its last third of files exceeds that of its
first third by less than one median batch. Files still unread after
the drain count as failed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

LADDER = (2_000, 20_000, 200_000, 1_000_000)   # events/s; the first gives the latency
INTERVAL = 0.1                      # seconds between files
PRIME_ROWS = 100


def _batch_of_file(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. Every tenth
    log file is compacted (``<id>.compact``) and carries the entries of
    all earlier batches too, each with its own ``batchId``."""
    out = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src):
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _batch_end(updates: list[dict]) -> dict[int, float]:
    """Batch id -> end time (epoch seconds) of the stream's batches."""
    out = {}
    for u in updates:
        start = dt.datetime.fromisoformat(u["timestamp"].replace("Z", "+00:00")).timestamp()
        out[u["batch_id"]] = start + u["duration_ms"].get("triggerExecution", 0) / 1000.0
    return out


def _counts_problems(spark, sink: str, events_dir: str) -> list[str]:
    """The stream's final per-(window, event_type) counts against
    ``windowed_counts`` on a batch read of every file written."""
    from pyspark.sql import functions as F

    from dbt_economic_indicators_eu_spark.streaming.pipeline import windowed_counts

    keys = ["window_start", "event_type"]
    # update mode emits a row per key per batch; the latest has the
    # largest count (counts only grow)
    final = (spark.table(sink).groupBy(keys)
             .agg(F.max_by("total_value", "n_events").alias("total_value"),
                  F.max("n_events").alias("n_events")))
    events = spark.read.parquet(events_dir).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    expected = windowed_counts(events).select(*keys, "n_events", "total_value")
    got = {tuple(r[:2]): (r["n_events"], r["total_value"]) for r in final.collect()}
    want = {tuple(r[:2]): (r["n_events"], r["total_value"]) for r in expected.collect()}
    return [] if got == want else [f"stream counts {got} differ from batch counts {want}"]


def _await_progress(listener, qid: str, checkpoint: str, timeout: float = 30.0) -> None:
    """Wait until the listener has seen every committed batch: progress
    events reach Python asynchronously, after the batch commits."""
    commits = os.path.join(checkpoint, "commits")
    committed = {int(n) for n in os.listdir(commits) if n.isdigit()}
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if committed <= {u["batch_id"] for u in listener.updates if u["id"] == qid}:
            return
        time.sleep(0.1)


def _drive(ctx, spark, listener, events_dir: str, checkpoint: str, sink: str, ladder,
           first_id: int, log_path: str):
    """Start the query, run the generator over ``ladder`` and drain;
    returns (query id, generator log records, seconds from the start
    call to the end of the first batch)."""
    from dbt_economic_indicators_eu_spark.streaming.pipeline import events_stream, windowed_counts

    t0 = time.perf_counter()
    query = (windowed_counts(events_stream(spark, os.path.dirname(events_dir)))
             .writeStream.format("memory").queryName(sink).outputMode("update")
             .option("checkpointLocation", checkpoint).start())
    try:
        query.processAllAvailable()
        first_batch_s = time.perf_counter() - t0
        gen = subprocess.Popen([
            sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "streamgen.py"),
            "--dir", events_dir, "--seed", str(ctx.seed), "--start", str(time.time() + 1.0),
            "--interval", str(INTERVAL), "--first-id", str(first_id), "--log", log_path,
            "--ladder", ",".join(f"{r}:{ctx.seconds}" for r in ladder),
        ])
        try:
            gen.wait(timeout=len(ladder) * ctx.seconds + 120)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        query.processAllAvailable()
    finally:
        query.stop()
    _await_progress(listener, str(query.id), checkpoint)
    with open(log_path) as f:
        records = [json.loads(line) for line in f]
    return str(query.id), records, first_batch_s


def run(ctx) -> dict:
    import numpy as np

    from dbt_economic_indicators_eu_spark.streaming.pipeline import state_partitions
    from harness import median, p90, progress_listener, streaming_counters
    from streamgen import write_file

    events_dir = os.path.join(ctx.work, "stream", "events.parquet")
    os.makedirs(events_dir)
    # the source sniffs the timestamp encoding from an existing file
    write_file(events_dir, "part-prime.parquet", np.random.default_rng(ctx.seed), 0, PRIME_ROWS)
    first_id = PRIME_ROWS

    spark = ctx.session.start()
    listener = progress_listener()
    spark.streams.addListener(listener)
    ckpt = os.path.join(ctx.work, "ckpt")
    qid, records, first_batch_s = _drive(ctx, spark, listener, events_dir, ckpt, "wc", LADDER,
                                         first_id, os.path.join(ctx.work, "gen.log"))
    updates = [u for u in listener.updates if u["id"] == qid]
    batch_of = _batch_of_file(ckpt)
    ends = _batch_end(updates)

    problems = []
    lat: dict[int, list[float]] = {r: [] for r in LADDER}
    for rec in records:
        b = batch_of.get(rec["file"])
        if b is None or b not in ends:
            problems.append(f"{rec['file']} not processed after the drain")
            continue
        lat[rec["rate"]].append(ends[b] - rec["due"])
    problems += _counts_problems(spark, "wc", events_dir)

    batch_ms = streaming_counters(updates)["batch_p50_ms"] / 1000.0
    gen_lag = {r: max((x["created"] - x["due"] for x in records if x["rate"] == r), default=0.0)
               for r in LADDER}
    sustained = 0
    for rate in LADDER:
        v = lat[rate]
        third = max(len(v) // 3, 1)
        if (v and gen_lag[rate] < INTERVAL
                and median(v[-third:]) - median(v[:third]) < batch_ms):
            sustained = rate
    low = lat[LADDER[0]] or [0.0]
    makespan = max(ends.values()) - records[0]["due"] if records and ends else 0.0
    retained = ctx.session.retained_mb()
    values = {
        # set-up ends when the first (priming) batch has been emitted
        "setup_s": ctx.session.start_s + first_batch_s,
        "retained_mb": sum(retained.values()),
        "work_s": makespan,
    }
    detail = {
        "stream_lat_p50_s": median(low),
        "stream_lat_p90_s": p90(low),
        "latency_samples": len(low),
        "stream_sustained_eps": sustained,
        "ladder_eps": list(LADDER),
        "rung_s": ctx.seconds,
        "rung_lat_p50_s": {r: median(v) for r, v in lat.items() if v},
        "rung_lat_p90_s": {r: p90(v) for r, v in lat.items() if v},
        "gen_lag_max_s": gen_lag,
        "peak_rss_mb": ctx.session.peak_rss_mb(),
        "retained": retained,
    }
    layers = {}
    if ctx.trace:
        layers["session.start_s"] = ctx.session.start_s
        for k, v in streaming_counters(updates).items():
            layers[f"streaming.{k}"] = v
        detail["backlog_files_max"] = _backlog_max(records, batch_of, ends)
        # single-partition state store baseline at the lowest rate
        base_dir = os.path.join(ctx.work, "stream1", "events.parquet")
        os.makedirs(base_dir)
        write_file(base_dir, "part-prime.parquet", np.random.default_rng(ctx.seed), 0, PRIME_ROWS)
        with state_partitions(spark, 1):
            qid1, _, _ = _drive(ctx, spark, listener, base_dir, os.path.join(ctx.work, "ckpt1"), "wc1",
                                LADDER[:1], first_id, os.path.join(ctx.work, "gen1.log"))
        detail["single_partition_batch_p50_ms"] = streaming_counters(
            [u for u in listener.updates if u["id"] == qid1])["batch_p50_ms"]
    attempted = len(records) + 1
    return {"values": values, "layers": layers, "detail": detail,
            "attempted": attempted, "failed": len(problems), "problems": problems}


def _backlog_max(records: list[dict], batch_of: dict, ends: dict) -> int:
    """Most files due but not yet emitted at any batch end."""
    worst = 0
    for end in ends.values():
        waiting = sum(1 for r in records
                      if r["due"] <= end and ends.get(batch_of.get(r["file"]), float("inf")) > end)
        worst = max(worst, waiting)
    return worst
