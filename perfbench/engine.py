"""The engine under test, run as its own process and assembled only from the
package's public functions.

    python3 -m perfbench.engine --workload NAME --work DIR [--upstream URL] [--trace]

It reports to the benchmark with one ``@@ {json}`` line per event on stdout
and takes one command per line on stdin (``go``, ``pass K``, ``stop``).
On exit it writes ``engine.json`` (streaming progress, analytics timings)
and, when tracing, ``spans-engine.json`` into ``DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import select
import sys
import time

from perfbench.trace import Tracer

#: catalog queries timed by feed_analytics; every one has a DuckDB oracle
MIX = (
    "reference_pipeline_example",
    "x4_json_extract",
    "session_window_agg",
    "dedup_exact_groups",
    "search_bm25_topk",
    "agg_countmin_heavy_hitters",
    "ts_rolling_features",
)

#: feed columns the relay rebuilds from each upstream frame's ``data``
RELAY_DATA_SCHEMA = (
    "author string, subreddit string, domain string, over_18 boolean, "
    "is_self boolean, created_utc long"
)

BACKFILL_BATCH_IDS = 10_000
BACKFILL_MAX_COLLECT = 20_000
#: the relay triggers on a fixed cadence, as ``serve --poll-ms`` does; a
#: micro-batch's own work takes ~150 ms, so every trigger fires on time and
#: latency is the wait for the next trigger plus that work
RELAY_TRIGGER = "250 milliseconds"


def emit(**msg) -> None:
    sys.stdout.write("@@ " + json.dumps(msg) + "\n")
    sys.stdout.flush()


def next_command(query=None) -> list[str]:
    """Block for the next stdin command; while waiting, fail fast if the
    streaming ``query`` died."""
    while True:
        ready, _, _ = select.select([sys.stdin], [], [], 0.5)
        if ready:
            line = sys.stdin.readline()
            if not line:
                raise SystemExit("benchmark closed the command pipe")
            return line.split()
        if query is not None and not query.isActive:
            raise SystemExit(f"streaming query stopped: {query.exception()}")


def expect(word: str, query=None) -> list[str]:
    cmd = next_command(query)
    if not cmd or cmd[0] != word:
        raise SystemExit(f"expected {word!r}, got {cmd!r}")
    return cmd


def start_query(df, sink, checkpoint: str, trigger: str | None):
    writer = df.writeStream.foreachBatch(sink.foreach_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger is not None:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def backfill_feed(spark, path: str, n: int):
    from reddit_sse_stream_spark.operators.merge import interleave
    from reddit_sse_stream_spark.streaming.source import read_feed_stream

    def one(stream):
        return read_feed_stream(
            spark, path, stream, backfill=n, max_ids_per_batch=BACKFILL_BATCH_IDS
        )

    return interleave(one("rc"), one("rs"))


def relay_feed(spark, url: str, trace_dir: str | None):
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.streaming.client_source import read_sse_stream

    if trace_dir is None:
        raw = read_sse_stream(spark, url)
    else:
        from perfbench.layers import TracedSSEClientDataSource

        spark.dataSource.register(TracedSSEClientDataSource)
        raw = (
            spark.readStream.format("sse_client_traced")
            .option("url", url)
            .option("trace_dir", trace_dir)
            .load()
        )
    d = F.from_json("data", RELAY_DATA_SCHEMA)
    return raw.where(F.col("event").isin("rc", "rs")).select(
        "id",
        "event",
        d["author"].alias("author"),
        d["subreddit"].alias("subreddit"),
        d["domain"].alias("domain"),
        d["over_18"].alias("over_18"),
        d["is_self"].alias("is_self"),
        d["created_utc"].alias("created_utc"),
        F.col("data").alias("json"),
    )


def serve(spark, args, tracer: Tracer, stats: dict) -> None:
    from reddit_sse_stream_spark.streaming.server import SSEServer
    from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster

    kwargs = (
        {"max_collect_rows": BACKFILL_MAX_COLLECT}
        if args.workload == "backfill_fanout"
        else {}
    )
    if args.trace:
        from perfbench.layers import TracedBroadcaster

        sink = TracedBroadcaster(tracer, **kwargs)
    else:
        sink = SSEBroadcaster(**kwargs)
    server = SSEServer(sink).start()
    emit(msg="ready", port=server.port, session_start_s=stats["session_start_s"])
    expect("go")
    if args.workload == "backfill_fanout":
        df, trigger = backfill_feed(spark, args.events, args.n), None
    else:
        trace_dir = args.work if args.trace else None
        df, trigger = relay_feed(spark, args.upstream, trace_dir), RELAY_TRIGGER
    started = time.time()
    query = start_query(df, sink, os.path.join(args.work, "checkpoint"), trigger)
    emit(msg="started", t=started)
    try:
        expect("stop", query)
    finally:
        stats["progress"] = [
            {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "t": p.timestamp,
                "ms": dict(p.durationMs),
            }
            for p in query.recentProgress
        ]
        query.stop()
        server.stop()


def job_counts(sc, group: str) -> tuple[int, int]:
    """(stages, tasks) run under one job group, from the status tracker."""
    tracker = sc.statusTracker()
    stages = tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return stages, tasks


def analytics(spark, args, tracer: Tracer, stats: dict) -> None:
    from reddit_sse_stream_spark.plans.catalog import QUERIES
    from reddit_sse_stream_spark.session import release_local_checkpoints

    sc = spark.sparkContext
    emit(msg="ready", session_start_s=stats["session_start_s"])
    stats["passes"] = []
    while True:
        cmd = next_command()
        if cmd == ["stop"]:
            return
        k = int(cmd[1])
        times, counts, results = {}, {}, {}
        for name in MIX:
            group = f"{name}/{k}"
            sc.setJobGroup(group, name)
            with tracer.span("query", query=name, k=k):
                t = time.perf_counter()
                df = QUERIES[name].spark(spark, args.data)
                rows = df.collect()
                times[name] = time.perf_counter() - t
            sc.setJobGroup("", "")
            results[name] = (df.columns, [tuple(r) for r in rows])
            if args.trace:
                counts[name] = job_counts(sc, group)
            release_local_checkpoints(spark, full_gc=False)
        release_local_checkpoints(spark)
        with open(os.path.join(args.work, f"pass-{k}.pkl"), "wb") as f:
            pickle.dump(results, f)
        stats["passes"].append({"k": k, "times": times, "counts": counts})
        emit(msg="pass", k=k, times=times)


def main(argv=None) -> int:
    t0 = time.time()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--events")
    p.add_argument("--n", type=int)
    p.add_argument("--upstream")
    p.add_argument("--data")
    args = p.parse_args(argv)

    from reddit_sse_stream_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    stats = {"session_start_s": time.time() - t0}
    tracer = Tracer(args.trace)
    try:
        if args.workload == "feed_analytics":
            analytics(spark, args, tracer, stats)
        else:
            serve(spark, args, tracer, stats)
    finally:
        tracer.dump(os.path.join(args.work, "spans-engine.json"))
        with open(os.path.join(args.work, "engine.json"), "w") as f:
            json.dump(stats, f)
        # the benchmark ends the process group once it reads this
        emit(msg="stopped")
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
