"""Benchmark of the reddit_sse_stream_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 \
        [--cpus N] [--driver-memory 3g]

Launches the engine (``perfbench/engine.py``) as a separate process and
drives it from this single-threaded process with one ``selectors`` loop and
at most four sockets.  Every output is checked against a DuckDB oracle.
Metric lines go to stdout; the last line is one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).
Workloads and metrics are defined in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import pickle
import random
import selectors
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.stats import (  # noqa: E402
    ProcTree,
    backlog_growth,
    bursts,
    group_pids,
    groups_beyond,
    lateness_ms,
    percentile,
    schedule,
    supported_percentile,
)
from perfbench.trace import load_spans  # noqa: E402
from perfbench.wire import UPSTREAM_HEAD, SSEResponseParser, chunk, frame_bytes, request  # noqa: E402

#: whole-run budget; the benchmark must exit within 180 s
DEADLINE_S = 170.0

BACKFILL_IDS = 100_000  # the reference's backfill ceiling
#: micro-batches of the backfill that are warm-up, not measurement
BACKFILL_WARM_BATCHES = 3
BACKFILL_CLIENTS = (
    "/",
    "/",
    "/?type=comments&filter=k",
    "/?author=u3&author=u17&author=u42&subreddit=signup",
)

RELAY_RATE = {"rc": 125, "rs": 50}
RELAY_WARMUP_S = 13.0
RELAY_CLIENTS = (
    "/",
    "/?type=comments&filter=k",
    "/?author=u3&author=u17&author=u42&subreddit=signup&domain=dom2.example.com",
)
#: generator lateness p99 above this makes the run invalid
LATE_P99_BOUND_MS = 20.0
#: backlog growth over the window above this many seconds of input is invalid
BACKLOG_GROWTH_BOUND_S = 1.0
#: a new client-side burst after this much silence (server polls every 50 ms)
BURST_GAP_S = 0.025

ANALYTICS_EVENTS = 10_000
ANALYTICS_DOCS = 500
ANALYTICS_MIN_PASSES = 2

E2E = {
    "setup_s": "s",
    "throughput_eps": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cpu_s": "s",
    "rss_peak_mb": "MB",
}


class RunInvalid(Exception):
    """The run cannot give a number: a validity gate failed."""


# --------------------------------------------------------------------------
# engine process and event loop
# --------------------------------------------------------------------------


class Engine:
    """The engine process: launch, line protocol, CPU/RSS sampling, stop."""

    def __init__(self, work: Path, engine_args: list[str], args):
        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=str(ROOT),
            SPARK_GRAFT_CPUS=str(args.cpus),
            SPARK_GRAFT_DRIVER_MEM=args.driver_memory,
            SPARK_LOCAL_DIRS=str(tmp),
            TMPDIR=str(tmp),
            # JVM temp files in the work dir; no hsperfdata file under /tmp
            PYSPARK_SUBMIT_ARGS=(
                "--conf 'spark.driver.extraJavaOptions="
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
            ),
        )
        cmd = [sys.executable, "-m", "perfbench.engine", "--work", str(work), *engine_args]
        if args.trace:
            cmd.append("--trace")
        self.log_path = work / "engine.log"
        self.t_launch = time.time()
        with open(self.log_path, "wb") as log:
            self.proc = subprocess.Popen(
                cmd,
                cwd=ROOT,
                env=env,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=log,
                start_new_session=True,
            )
        os.set_blocking(self.proc.stdout.fileno(), False)
        self.tree = ProcTree(self.proc.pid)
        self._buf = b""
        self.msgs: dict[str, dict] = {}
        self.stopping = False

    def __enter__(self) -> "Engine":
        return self

    def __exit__(self, *exc) -> None:
        self.kill()

    def on_readable(self, _mask) -> None:
        data = os.read(self.proc.stdout.fileno(), 1 << 16)
        self._buf += data
        *lines, self._buf = self._buf.split(b"\n")
        for line in lines:
            if line.startswith(b"@@ "):
                msg = json.loads(line[3:])
                msg["recv"] = time.time()
                self.msgs[msg["msg"] if msg["msg"] != "pass" else f"pass{msg['k']}"] = msg

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd.encode() + b"\n")
        self.proc.stdin.flush()

    def check_alive(self) -> None:
        if not self.stopping and self.proc.poll() is not None:
            raise RunInvalid(f"engine exited with code {self.proc.returncode}")

    def stop(self, loop: "Loop") -> None:
        """Ask for a clean stop (which writes engine.json), then make sure
        every process of the engine has ended."""
        self.stopping = True
        try:
            self.send("stop")
        except OSError:
            pass  # already gone: the wait below reports it
        loop.run_until(lambda: "stopped" in self.msgs or self.proc.poll() is not None, 30, "engine stop")
        if "stopped" not in self.msgs:
            raise RunInvalid(f"engine exited with code {self.proc.returncode} while stopping")
        self.kill()

    def kill(self) -> None:
        """SIGKILL the engine's process group and wait until every member
        (Python driver, JVM, Python workers) has ended."""
        pgid = self.proc.pid
        end = time.time() + 15
        while group_pids(pgid) and time.time() < end:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.proc.wait()


class Loop:
    """The one ``selectors`` loop: engine pipe, sockets, timers, sampling."""

    SAMPLE_EVERY = 0.2

    def __init__(self, engine: Engine, deadline: float):
        self.sel = selectors.DefaultSelector()
        self.engine = engine
        self.deadline = deadline
        self.sel.register(engine.proc.stdout, selectors.EVENT_READ, engine.on_readable)
        self.next_sample = 0.0
        self.timer = None  # () -> next due wall time or None; called each turn
        self.on_tick = None

    def add(self, fileobj, events, callback) -> None:
        self.sel.register(fileobj, events, callback)

    def remove(self, fileobj) -> None:
        try:
            self.sel.unregister(fileobj)
        except (KeyError, ValueError):
            pass

    def run_until(self, cond, timeout: float, what: str) -> None:
        end = min(time.time() + timeout, self.deadline)
        while not cond():
            now = time.time()
            if now > end:
                raise RunInvalid(f"timed out waiting for {what}")
            self.engine.check_alive()
            wake = min(end, self.next_sample)
            if self.timer is not None:
                due = self.timer()
                if due is not None:
                    wake = min(wake, due)
            for key, mask in self.sel.select(timeout=max(wake - now, 0.0)):
                key.data(mask)
            if self.on_tick is not None:
                self.on_tick()
            if time.time() >= self.next_sample:
                self.engine.tree.sample()
                self.next_sample = time.time() + self.SAMPLE_EVERY


class Client:
    """One SSE consumer connection to the engine's server."""

    def __init__(self, loop: Loop, port: int, path: str):
        self.path = path
        self.loop = loop
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        self.sock.sendall(request(path, port))
        self.sock.setblocking(False)
        self.parser = SSEResponseParser()
        #: (id, event, data, receipt time)
        self.frames: list[tuple[int, str, str, float]] = []
        loop.add(self.sock, selectors.EVENT_READ, self.on_readable)

    def on_readable(self, _mask) -> None:
        try:
            data = self.sock.recv(1 << 18)
        except BlockingIOError:
            return
        if not data:
            self.loop.remove(self.sock)
            return
        t = time.time()
        for f in self.parser.feed(data):
            self.frames.append((*f, t))

    @property
    def registered(self) -> bool:
        if self.parser.status not in (None, 200):
            raise RunInvalid(f"client {self.path} got HTTP {self.parser.status}")
        return self.parser.status == 200

def connect_clients(loop: Loop, engine: Engine, paths) -> list[Client]:
    loop.run_until(lambda: "ready" in engine.msgs, 120, "engine ready")
    port = engine.msgs["ready"]["port"]
    clients = [Client(loop, port, p) for p in paths]
    try:
        loop.run_until(lambda: all(c.registered for c in clients), 20, "client registration")
    except RunInvalid as exc:
        raise RunInvalid(f"a client never registered ({exc})") from None
    return clients


# --------------------------------------------------------------------------
# helpers shared by the workloads
# --------------------------------------------------------------------------


def pct(values, q: float) -> float:
    return percentile(values, q) if values else 0.0


def engine_layer(stats: dict, since: float = 0.0) -> dict:
    """engine.* metrics from the streaming query's progress reports of the
    batches that ran, optionally only those triggered at or after ``since``."""
    from datetime import datetime

    def ts(p):
        return datetime.fromisoformat(p["t"].replace("Z", "+00:00")).timestamp()

    ran = [p for p in stats.get("progress", []) if "addBatch" in p["ms"] and ts(p) >= since]

    def p50(key):
        return pct([p["ms"].get(key, 0) for p in ran], 50)

    return {
        "engine.batches": len(ran),
        "engine.trigger_ms_p50": p50("triggerExecution"),
        "engine.trigger_ms_p90": pct([p["ms"]["triggerExecution"] for p in ran], 90),
        "engine.planning_ms_p50": p50("queryPlanning"),
        "engine.latest_offset_ms_p50": p50("latestOffset"),
        "engine.wal_ms_p50": pct(
            [p["ms"].get("walCommit", 0) + p["ms"].get("commitOffsets", 0) for p in ran], 50
        ),
        "engine.add_batch_ms_p50": p50("addBatch"),
        "engine.rows_per_batch_p50": pct([p["rows"] for p in ran], 50),
    }


def serving_layers(work: Path, started: float, clients: list[Client]) -> dict:
    """sink.*, server.* and client_source.* metrics from the span files."""
    spans = load_spans(sorted(work.glob("spans-*.json")) + sorted(work.glob("reader-*.json")))
    main = [s for s in spans if s["start"] >= started and s["end"] is not None]
    fb = {s["id"]: s for s in main if s["name"] == "sink.foreach_batch"}
    renders = [s for s in main if s["name"] == "sink.render"]
    polls = [s for s in main if s["name"] == "server.frames_since"]
    reads = [s for s in main if s["name"] == "client_source.read"]
    render_s = sum(s["end"] - s["start"] for s in renders)
    fb_s = sum(s["end"] - s["start"] for s in fb.values())
    rows_by_batch = {}
    ranges = []  # (lo, hi, end of the producing foreach_batch)
    for s in renders:
        rows_by_batch[s["parent"]] = s["attrs"]["rows"]
        if "lo" in s["attrs"] and s["parent"] in fb:
            ranges.append((s["attrs"]["lo"], s["attrs"]["hi"], fb[s["parent"]]["end"]))
    rendered_rows = sum(s["attrs"]["rows"] for s in renders)
    hits = [s["attrs"]["frames"] for s in polls if s["attrs"]["frames"]]
    ranges.sort()
    delivery = []
    los = [r[0] for r in ranges]
    for c in clients:
        for f in c.frames:
            i = bisect.bisect_right(los, f[0]) - 1
            if i >= 0 and f[0] <= ranges[i][1] and f[3] >= started:
                delivery.append((f[3] - ranges[i][2]) * 1000)
    last_recv = max((f[3] for c in clients for f in c.frames), default=0.0)
    last_fb = max((s["end"] for s in fb.values()), default=0.0)
    return {
        "client_source.read_ms_p50": pct([(s["end"] - s["start"]) * 1000 for s in reads], 50),
        "client_source.rows_per_read_p50": pct([s["attrs"]["rows"] for s in reads], 50),
        "client_source.empty_read_ratio": (
            sum(1 for s in reads if not s["attrs"]["rows"]) / len(reads) if reads else 0.0
        ),
        "sink.collect_ms_sum": (fb_s - render_s) * 1000,
        "sink.render_ms_sum": render_s * 1000,
        "sink.render_us_per_row": render_s * 1e6 / rendered_rows if rendered_rows else 0.0,
        "sink.rows_in": sum(rows_by_batch.values()),
        "sink.frames_out": sum(s["attrs"]["frames"] for s in renders),
        "sink.render_calls": len(renders),
        "server.polls": len(polls),
        "server.poll_hit_ratio": len(hits) / len(polls) if polls else 0.0,
        "server.frames_per_poll_p50": pct(hits, 50),
        "server.delivery_ms_p50": pct(delivery, 50),
        "server.drain_tail_s": max(last_recv - last_fb, 0.0) if fb else 0.0,
    }


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


def run_backfill(args, work: Path, deadline: float) -> dict:
    from perfbench.engine import BACKFILL_BATCH_IDS
    from perfbench.oracle import backfill_expected, compare_frames

    events = datagen.write_table(
        datagen.events_table(BACKFILL_IDS, args.seed), str(work / "data" / "events.parquet")
    )
    engine = Engine(
        work,
        ["--workload", "backfill_fanout", "--events", events, "--n", str(BACKFILL_IDS)],
        args,
    )
    with engine:
        expected = backfill_expected([events], BACKFILL_CLIENTS)  # while the engine boots
        # the first micro-batches (ids below warm_end) are the warm-up
        warm_end = BACKFILL_WARM_BATCHES * BACKFILL_BATCH_IDS
        n_warm = {p: sum(1 for i in expected[p] if i < warm_end) for p in BACKFILL_CLIENTS}
        loop = Loop(engine, deadline)
        clients = connect_clients(loop, engine, BACKFILL_CLIENTS)
        engine.send("go")
        loop.run_until(lambda: "started" in engine.msgs, 60, "query start")
        started = engine.msgs["started"]["t"]
        loop.run_until(
            lambda: all(len(c.frames) >= n_warm[c.path] for c in clients), 60, "warm-up batch"
        )
        t_warm = max(c.frames[n_warm[c.path] - 1][3] for c in clients)
        engine.tree.sample()
        cpu0 = engine.tree.cpu_s()
        try:
            loop.run_until(
                lambda: all(len(c.frames) >= len(expected[c.path]) for c in clients),
                90,
                "backfill delivery",
            )
        except RunInvalid:
            pass  # counted below as missing frames
        engine.tree.sample()
        cpu1 = engine.tree.cpu_s()
        t_last = max(c.frames[-1][3] for c in clients)
        grace = time.time() + 0.3  # late duplicates would arrive here
        loop.run_until(lambda: time.time() >= grace, 1, "grace")
        engine.stop(loop)

    counts = {"missing": 0, "duplicated": 0, "wrong": 0}
    for c in clients:
        for k, v in compare_frames(expected[c.path], c.frames).items():
            counts[k] += v
    attempted = sum(len(expected[c.path]) for c in clients)
    measured = [f for c in clients for f in c.frames if f[0] >= warm_end]
    # catch-up latency: from the end of the warm-up until each measured
    # frame reaches its client.  Seven measured batches put p50 and p90
    # inside a batch's burst of frames rather than on the step between two.
    lat = [(f[3] - t_warm) * 1000 for f in measured]
    e2e = {
        "setup_s": t_warm - engine.t_launch,
        "throughput_eps": len(measured) / (t_last - t_warm),
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "cpu_s": cpu1 - cpu0,
        "rss_peak_mb": engine.tree.rss_peak_bytes / 2**20,
    }
    stats = json.loads((work / "engine.json").read_text())
    layers = {"session.start_s": stats["session_start_s"], **engine_layer(stats)}
    if args.trace:
        layers.update(serving_layers(work, started, clients))
    info = {
        "frames_per_client": [len(c.frames) for c in clients],
        "timeline_s": {
            k: round(v - engine.t_launch, 3)
            for k, v in [
                *((m, engine.msgs[m]["recv"]) for m in ("ready", "started")),
                ("warm", t_warm),
                ("last", t_last),
            ]
        },
    }
    return dict(e2e=e2e, layers=layers, attempted=attempted, counts=counts, info=info)


def relay_events(seed: int, n: int) -> list[dict]:
    """The relayed events: feed-shaped rows whose ``json`` is the upstream
    frame's ``data`` and carries the other feed columns."""
    rng = random.Random(seed)
    rate = sum(RELAY_RATE.values())
    out = []
    for i, (_, stream) in enumerate(schedule(n, RELAY_RATE["rc"], RELAY_RATE["rs"], 0.0)):
        rs = stream == "rs"
        row = {
            "author": f"u{rng.randrange(50)}",
            "subreddit": rng.choice(datagen.EVENT_TYPES),
            "domain": f"dom{rng.randrange(7)}.example.com" if rs else None,
            "over_18": rng.random() < 0.3 if rs else None,
            "is_self": rng.random() < 0.5 if rs else None,
            "created_utc": 1_704_067_200 + i // rate,
        }
        data = json.dumps({**row, "k": rng.randrange(100)})
        out.append({"id": i + 1, "event": stream, **row, "json": data})
    return out


class Upstream:
    """The load generator's upstream SSE endpoint: one connection from the
    engine's reader, fed on a fixed schedule that never waits for it."""

    def __init__(self, events: list[dict]):
        self.listener = socket.socket()
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(1)
        self.listener.setblocking(False)
        self.url = f"http://127.0.0.1:{self.listener.getsockname()[1]}/"
        self.payloads = [chunk(frame_bytes(e["id"], e["event"], e["json"])) for e in events]
        self.loop = None
        self.conn = None
        self._head = b""
        self.t0 = None
        self.due: list[float] = []
        self.sent_at: list[float] = []
        self._pending = b""

    def attach(self, loop: Loop) -> None:
        self.loop = loop
        loop.add(self.listener, selectors.EVENT_READ, self._accept)
        loop.timer = self.next_due

    def _accept(self, _mask) -> None:
        conn, _ = self.listener.accept()
        self.loop.remove(self.listener)
        self.listener.close()
        conn.setblocking(False)
        self.conn = conn
        self.loop.add(conn, selectors.EVENT_READ, self._read)

    def _read(self, _mask) -> None:
        try:
            data = self.conn.recv(4096)
        except BlockingIOError:
            return
        except ConnectionResetError:
            data = b""
        if not data:  # the reader hung up; a send still due fails in tick()
            self.loop.remove(self.conn)
            return
        if self.t0 is not None:
            return
        self._head += data
        if b"\r\n\r\n" in self._head:
            self.conn.sendall(UPSTREAM_HEAD)
            self.t0 = time.time() + 0.05
            rates = RELAY_RATE["rc"], RELAY_RATE["rs"]
            self.due = [t for t, _ in schedule(len(self.payloads), *rates, self.t0)]

    def next_due(self) -> float | None:
        if self.t0 is None or len(self.sent_at) >= len(self.due):
            return None
        return self.due[len(self.sent_at)]

    def tick(self) -> None:
        """Send every event that is due (open loop: never skips, never waits)."""
        if self.t0 is None:
            return
        now = time.time()
        out = []
        while len(self.sent_at) < len(self.due) and self.due[len(self.sent_at)] <= now:
            out.append(self.payloads[len(self.sent_at)])
            self.sent_at.append(now)
        if out or self._pending:
            self._pending += b"".join(out)
            try:
                n = self.conn.send(self._pending)
            except BlockingIOError:
                n = 0
            except OSError as exc:
                raise RunInvalid(f"upstream connection failed: {exc}") from None
            self._pending = self._pending[n:]

    @property
    def done(self) -> bool:
        return self.t0 is not None and len(self.sent_at) == len(self.due) and not self._pending

    def __enter__(self) -> "Upstream":
        return self

    def __exit__(self, *exc) -> None:
        for sock in (self.listener, self.conn):
            if sock is not None:
                sock.close()


def run_relay(args, work: Path, deadline: float) -> dict:
    from perfbench.oracle import compare_frames, relay_expected

    rate = sum(RELAY_RATE.values())
    n = int(rate * (RELAY_WARMUP_S + args.seconds))
    events = relay_events(args.seed, n)
    upstream = Upstream(events)
    backlog: list[tuple[float, int]] = []
    with upstream, Engine(
        work, ["--workload", "live_relay", "--upstream", upstream.url], args
    ) as engine:
        expected = relay_expected(events, RELAY_CLIENTS)  # while the engine boots
        loop = Loop(engine, deadline)
        upstream.attach(loop)
        clients = connect_clients(loop, engine, RELAY_CLIENTS)
        everything = clients[0]  # the "/" client gets every event
        engine.send("go")
        loop.run_until(lambda: upstream.t0 is not None, 60, "engine reader connection")
        started = engine.msgs["started"]["t"]
        w0 = upstream.t0 + RELAY_WARMUP_S
        w1 = w0 + args.seconds
        next_backlog = [w0]

        def tick():
            upstream.tick()
            now = time.time()
            if w0 <= now <= w1 and now >= next_backlog[0]:
                backlog.append((now, len(upstream.sent_at) - len(everything.frames)))
                next_backlog[0] = now + 0.25

        loop.on_tick = tick
        loop.run_until(lambda: time.time() >= w0, RELAY_WARMUP_S + 1, "warm-up")
        if not all(c.frames for c in clients):
            raise RunInvalid("a client received nothing during the warm-up")
        t_setup = max([w0] + [c.frames[0][3] for c in clients])
        engine.tree.sample()
        cpu0 = engine.tree.cpu_s()
        loop.run_until(lambda: upstream.done and time.time() >= w1, args.seconds + 5, "schedule")
        engine.tree.sample()
        cpu1 = engine.tree.cpu_s()
        try:
            loop.run_until(
                lambda: all(len(c.frames) >= len(expected[c.path]) for c in clients),
                15,
                "relay drain",
            )
        except RunInvalid:
            pass  # counted below as missing frames
        grace = time.time() + 0.3
        loop.run_until(lambda: time.time() >= grace, 1, "grace")
        engine.stop(loop)

    late = lateness_ms(upstream.due, upstream.sent_at)
    late_p99 = percentile(late, 99)
    if late_p99 > LATE_P99_BOUND_MS:
        raise RunInvalid(f"generator lateness p99 {late_p99:.1f} ms > {LATE_P99_BOUND_MS} ms")
    growth = backlog_growth(backlog)
    if growth > rate * BACKLOG_GROWTH_BOUND_S:
        raise RunInvalid(f"backlog grew by {growth:.0f} events across the window")

    counts = {"missing": 0, "duplicated": 0, "wrong": 0}
    for c in clients:
        for k, v in compare_frames(expected[c.path], c.frames).items():
            counts[k] += v
    attempted = sum(len(expected[c.path]) for c in clients)
    # client-side stand-in for the micro-batch that carried each event
    burst_of = dict(
        zip(
            (f[0] for f in everything.frames),
            bursts([f[3] for f in everything.frames], BURST_GAP_S),
        )
    )
    lat, groups, warm_lat = [], [], []
    for c in clients:
        for f in c.frames:
            if not 1 <= f[0] <= len(upstream.due):
                continue  # not a sent id: counted above as wrong
            due = upstream.due[f[0] - 1]
            if w0 <= due < w1:
                lat.append((f[3] - due) * 1000)
                groups.append(burst_of.get(f[0]))
            elif due < w0:
                warm_lat.append((f[3] - due) * 1000)
    try:
        p90 = supported_percentile(lat, groups, 90)
    except ValueError as exc:
        raise RunInvalid(str(exc)) from None
    in_window = sum(1 for c in clients for f in c.frames if w0 <= f[3] < w1)
    e2e = {
        "setup_s": t_setup - engine.t_launch,
        "throughput_eps": in_window / args.seconds,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": p90,
        "cpu_s": cpu1 - cpu0,
        "rss_peak_mb": engine.tree.rss_peak_bytes / 2**20,
    }
    stats = json.loads((work / "engine.json").read_text())
    layers = {
        "session.start_s": stats["session_start_s"],
        **engine_layer(stats, since=w0),
        "load.generator_late_ms_p99": late_p99,
        "load.backlog_end": backlog[-1][1] if backlog else 0,
        "load.warmup_latency_p90_ms": pct(warm_lat, 90),
    }
    if args.trace:
        layers.update(serving_layers(work, started, clients))
    info = {
        "frames_per_client": [len(c.frames) for c in clients],
        "p90_batches_beyond": groups_beyond(lat, groups, 90),
        "timeline_s": {
            "ready": round(engine.msgs["ready"]["recv"] - engine.t_launch, 3),
            "started": round(started - engine.t_launch, 3),
            "t0": round(upstream.t0 - engine.t_launch, 3),
            "window": round(w0 - engine.t_launch, 3),
        },
    }
    return dict(e2e=e2e, layers=layers, attempted=attempted, counts=counts, info=info)


def run_analytics(args, work: Path, deadline: float) -> dict:
    from perfbench.engine import MIX
    from perfbench.oracle import QueryOracle

    data = work / "data"
    datagen.write_table(
        datagen.events_table(ANALYTICS_EVENTS, args.seed), str(data / "events.parquet")
    )
    datagen.write_table(
        datagen.documents_table(ANALYTICS_DOCS, args.seed), str(data / "documents.parquet")
    )
    with Engine(work, ["--workload", "feed_analytics", "--data", str(data)], args) as engine:
        oracle = QueryOracle(str(ROOT), str(data), MIX)  # while the engine boots
        loop = Loop(engine, deadline)

        def run_pass(k: int) -> dict:
            engine.send(f"pass {k}")
            loop.run_until(lambda: f"pass{k}" in engine.msgs, 120, f"query pass {k}")
            return engine.msgs[f"pass{k}"]["times"]

        def wrong_results(k: int) -> int:
            with open(work / f"pass-{k}.pkl", "rb") as f:
                results = pickle.load(f)  # written by the engine of this run
            return sum(not oracle.matches(name, *results[name]) for name in MIX)

        loop.run_until(lambda: "ready" in engine.msgs, 120, "engine ready")
        run_pass(0)  # the warm pass, checked before timing starts
        failed = wrong_results(0)
        t_setup = time.time()
        engine.tree.sample()
        cpu0 = engine.tree.cpu_s()
        passes = []
        while len(passes) < ANALYTICS_MIN_PASSES or time.time() - t_setup < args.seconds:
            passes.append(run_pass(len(passes) + 1))
        engine.tree.sample()
        cpu1 = engine.tree.cpu_s()
        engine.stop(loop)
    failed += sum(wrong_results(k) for k in range(1, len(passes) + 1))
    # one pass is what a user refreshing the whole mix waits for
    lat = [sum(times.values()) * 1000 for times in passes]
    e2e = {
        "setup_s": t_setup - engine.t_launch,
        "throughput_eps": len(MIX) * len(lat) / (sum(lat) / 1000),
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "cpu_s": (cpu1 - cpu0) / len(passes),
        "rss_peak_mb": engine.tree.rss_peak_bytes / 2**20,
    }
    stats = json.loads((work / "engine.json").read_text())
    layers = {"session.start_s": stats["session_start_s"]}
    for name in MIX:
        layers[f"query.{name}_ms"] = statistics.median(t[name] * 1000 for t in passes)
    if args.trace:
        counts = stats["passes"][-1]["counts"]
        for name in MIX:
            layers[f"query.{name}_stages"], layers[f"query.{name}_tasks"] = counts[name]
    info = {"passes": len(passes), "mix_s": statistics.median(lat) / 1000}
    return dict(
        e2e=e2e,
        layers=layers,
        attempted=len(MIX) * (len(passes) + 1),
        counts={"wrong": failed},
        info=info,
    )


WORKLOADS = {
    "backfill_fanout": run_backfill,
    "live_relay": run_relay,
    "feed_analytics": run_analytics,
}


#: per-layer metrics where a larger value is the better one
HIGHER_IS_BETTER = frozenset({
    "engine.batches",
    "client_source.rows_per_read_p50",
    "sink.rows_in",
    "sink.frames_out",
    "server.poll_hit_ratio",
    "server.frames_per_poll_p50",
    "trace.throughput_eps",
})


def layer_names() -> list[str]:
    """Every per-layer metric; a workload that bypasses a layer reports 0."""
    from perfbench.engine import MIX

    names = [
        "session.start_s",
        "engine.batches",
        "engine.trigger_ms_p50",
        "engine.trigger_ms_p90",
        "engine.planning_ms_p50",
        "engine.latest_offset_ms_p50",
        "engine.wal_ms_p50",
        "engine.add_batch_ms_p50",
        "engine.rows_per_batch_p50",
        "client_source.read_ms_p50",
        "client_source.rows_per_read_p50",
        "client_source.empty_read_ratio",
        "sink.collect_ms_sum",
        "sink.render_ms_sum",
        "sink.render_us_per_row",
        "sink.rows_in",
        "sink.frames_out",
        "sink.render_calls",
        "server.polls",
        "server.poll_hit_ratio",
        "server.frames_per_poll_p50",
        "server.delivery_ms_p50",
        "server.drain_tail_s",
        "load.generator_late_ms_p99",
        "load.backlog_end",
        "load.warmup_latency_p90_ms",
    ]
    for q in MIX:
        names += [f"query.{q}_ms", f"query.{q}_stages", f"query.{q}_tasks"]
    return names + [f"trace.{e}" for e in E2E]


def unit_of(name: str) -> str:
    if name.startswith("trace."):
        return E2E[name[len("trace.") :]]
    for suffix, unit in (("_us_per_row", "us"), ("_ms", "ms"), ("_s", "s"), ("_ratio", "ratio")):
        if name.endswith(suffix) or f"{suffix}_" in name:
            return unit
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=os.cpu_count(), help="engine's local[N]")
    p.add_argument("--driver-memory", default="3g", help="engine's spark.driver.memory")
    args = p.parse_args(argv)
    t_start = time.time()
    if not (ROOT / "reddit_sse_stream_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)  # inputs too: they are cheap to make
    work.mkdir(parents=True)
    try:
        res = WORKLOADS[args.workload](args, work, t_start + DEADLINE_S)
    except RunInvalid as exc:
        print(f"invalid run: {exc}", file=sys.stderr)
        log = work / "engine.log"
        if log.exists():
            print("\n".join(log.read_text(errors="replace").splitlines()[-20:]), file=sys.stderr)
        return 1
    counts = res["counts"]
    failed = sum(counts.values())
    e2e = res["e2e"]
    untraced = base / f"{args.workload}-{args.seed}.e2e.json"
    for name, value in e2e.items():
        print(f"{name} = {value:.4f} {E2E[name]}")
    if args.trace:
        layers = dict.fromkeys(layer_names(), 0)
        layers.update(res["layers"])
        layers.update({f"trace.{k}": v for k, v in e2e.items()})
        for name, value in layers.items():
            print(f"{name} = {value:.4f} {unit_of(name)}")
        if untraced.exists():
            before = json.loads(untraced.read_text())
            for name, value in e2e.items():
                print(f"trace_overhead.{name} = {value - before[name]:+.4f} {E2E[name]}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        untraced.write_text(json.dumps(e2e))
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    print(f"error_rate = {failed / res['attempted']:.6f} ratio ({counts}, attempted {res['attempted']})")
    print(f"info = {json.dumps(res['info'])}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
