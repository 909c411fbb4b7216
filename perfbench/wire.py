"""Client and upstream sides of the SSE wire format, written independently of
the engine so the benchmark checks the engine's bytes rather than reusing
its parser.

A response is an HTTP/1.1 head followed by a chunked body whose payload is a
sequence of ``id: ...\\nevent: ...\\ndata: ...\\n\\n`` frames.
"""

from __future__ import annotations


class SSEResponseParser:
    """Incremental parser for one chunked ``text/event-stream`` response.

    ``feed(raw)`` returns the frames completed by ``raw`` as
    ``(id, event, data)`` tuples, with ``id`` as the integer in the frame.
    ``status`` is the HTTP status once the head has arrived, else ``None``.
    Chunk boundaries need not line up with frame boundaries, and ``raw`` may
    end anywhere, even inside a chunk-size line."""

    def __init__(self):
        self.status: int | None = None
        self._raw = b""  # undecoded bytes (head, then chunk framing)
        self._body = b""  # decoded body not yet split into frames
        self._chunk_left = 0  # payload bytes still due in the current chunk
        self._need_crlf = False  # a chunk's trailing CRLF is still due
        self.done = False

    def feed(self, raw: bytes) -> list[tuple[int, str, str]]:
        self._raw += raw
        if self.status is None:
            end = self._raw.find(b"\r\n\r\n")
            if end < 0:
                return []
            head, self._raw = self._raw[:end], self._raw[end + 4 :]
            self.status = int(head.split(b"\r\n", 1)[0].split()[1])
        self._dechunk()
        return self._frames()

    def _dechunk(self) -> None:
        raw = self._raw
        pos = 0
        parts = []
        while not self.done:
            if self._chunk_left:
                take = min(self._chunk_left, len(raw) - pos)
                if take == 0:
                    break
                parts.append(raw[pos : pos + take])
                pos += take
                self._chunk_left -= take
                if self._chunk_left == 0:
                    self._need_crlf = True
                continue
            if self._need_crlf:
                if len(raw) - pos < 2:
                    break
                pos += 2
                self._need_crlf = False
                continue
            eol = raw.find(b"\r\n", pos)
            if eol < 0:
                break
            size = int(raw[pos:eol].split(b";", 1)[0], 16)
            pos = eol + 2
            if size == 0:
                self.done = True
            self._chunk_left = size
        self._raw = raw[pos:]
        self._body += b"".join(parts)

    def _frames(self) -> list[tuple[int, str, str]]:
        body = self._body
        cut = body.rfind(b"\n\n")
        if cut < 0:
            return []
        self._body = body[cut + 2 :]
        out = []
        for block in body[:cut].split(b"\n\n"):
            fields = {}
            for line in block.decode("utf-8").split("\n"):
                key, sep, value = line.partition(": ")
                if sep:
                    fields[key] = value
            if "data" in fields:
                out.append((int(fields["id"]), fields.get("event", ""), fields["data"]))
        return out


def frame_bytes(event_id: int, event: str, data: str) -> bytes:
    """One SSE frame, byte-identical to what the engine's sink writes."""
    return f"id: {event_id}\nevent: {event}\ndata: {data}\n\n".encode()


def chunk(payload: bytes) -> bytes:
    """Wrap ``payload`` as one HTTP/1.1 chunk."""
    return b"%x\r\n%s\r\n" % (len(payload), payload)


def request(path: str, port: int) -> bytes:
    return (
        f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\n"
        "Accept: text/event-stream\r\n\r\n"
    ).encode()


UPSTREAM_HEAD = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n"
    b"Cache-Control: no-cache\r\nTransfer-Encoding: chunked\r\n\r\n"
)
