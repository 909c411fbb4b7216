"""Traced stand-ins for the engine's layers, built by subclassing the public
classes.  They add spans around the layer entry points and change nothing
else; untraced runs use the engine's own classes."""

from __future__ import annotations

import atexit
import os
import time

from reddit_sse_stream_spark.streaming.client_source import (
    SSEClientDataSource,
    SSEClientSimpleReader,
)
from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster

from perfbench.trace import Tracer


class TracedBroadcaster(SSEBroadcaster):
    """Spans: ``sink.foreach_batch`` (attrs: epoch, rows, lo/hi id) with a
    ``sink.render`` child per distinct spec, and ``server.frames_since``
    for every poll a connection handler makes."""

    def __init__(self, tracer: Tracer, **kwargs):
        super().__init__(**kwargs)
        self.tracer = tracer

    def foreach_batch(self, batch_df, epoch_id: int) -> None:
        with self.tracer.span("sink.foreach_batch", epoch=epoch_id):
            super().foreach_batch(batch_df, epoch_id)

    def _render_for_spec(self, spec, rows_sorted):
        with self.tracer.span("sink.render", rows=len(rows_sorted)) as attrs:
            out = super()._render_for_spec(spec, rows_sorted)
            attrs["frames"] = len(out[0])
        if rows_sorted:
            ids = [r["id"] for r in rows_sorted]
            attrs["lo"], attrs["hi"] = min(ids), max(ids)
        return out

    def frames_since(self, client_id: str, offset: int):
        with self.tracer.span("server.frames_since") as attrs:
            nxt, frames = super().frames_since(client_id, offset)
            attrs["frames"] = len(frames)
        return nxt, frames


class TracedSSEReader(SSEClientSimpleReader):
    """Span ``client_source.read`` (attr: rows) around every poll.  The
    reader lives in a Python process Spark spawns, so its spans go to their
    own file, rewritten at most once a second and at exit."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._trace_dir = options["trace_dir"]
        self._tracer = None  # made in the process that reads
        self._flushed = 0.0

    def __getstate__(self):
        # Spark pickles the reader into its worker; the tracer stays behind
        return {**self.__dict__, "_tracer": None}

    def read(self, start: dict):
        if self._tracer is None:
            self._tracer = Tracer(True)
            self._path = os.path.join(self._trace_dir, f"reader-{os.getpid()}.json")
            self._flushed = time.time()
            atexit.register(self._tracer.dump, self._path)
        with self._tracer.span("client_source.read") as attrs:
            rows, end = super().read(start)
            attrs["rows"] = end["n"] - start["n"]
        if time.time() - self._flushed > 1.0:
            self._tracer.dump(self._path)
            self._flushed = time.time()
        return rows, end


class TracedSSEClientDataSource(SSEClientDataSource):
    @classmethod
    def name(cls) -> str:
        return "sse_client_traced"

    def simpleStreamReader(self, schema) -> TracedSSEReader:
        return TracedSSEReader(self.options)
