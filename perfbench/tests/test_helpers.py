"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.wire import SSEResponseParser, chunk, frame_bytes  # noqa: E402

# --------------------------------------------------------------------------
# percentiles and the ten-groups-beyond rule
# --------------------------------------------------------------------------


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5
    assert stats.percentile(list(range(101)), 90) == 90


def test_percentile_refuses_empty_sample():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_supported_percentile_needs_ten_groups_beyond():
    # 100 samples from 20 batches of 5: the top 10% come from 2 batches
    values = list(range(100))
    groups = [v // 5 for v in values]
    assert stats.groups_beyond(values, groups, 90) == 2
    with pytest.raises(ValueError, match="only 2 groups"):
        stats.supported_percentile(values, groups, 90)
    # interleaved batches: the top 10% span ten distinct batches
    groups = [v % 20 for v in values]
    assert stats.groups_beyond(values, groups, 90) == 10
    assert stats.supported_percentile(values, groups, 90) == pytest.approx(89.1)


def test_bursts_split_on_silence():
    times = [0.0, 0.001, 0.002, 0.2, 0.201, 0.5]
    assert stats.bursts(times, 0.025) == [0, 0, 0, 1, 1, 2]


# --------------------------------------------------------------------------
# chunked SSE parsing
# --------------------------------------------------------------------------

HEAD = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n"
    b"Transfer-Encoding: chunked\r\n\r\n"
)


def _stream(frames, per_chunk=1):
    body = b"".join(frame_bytes(*f) for f in frames)
    size = max(1, len(body) // per_chunk)
    return HEAD + b"".join(chunk(body[i : i + size]) for i in range(0, len(body), size))


FRAMES = [
    (1, "rc", '{"k": 1}'),
    (2, "rs", '{"author": "u1", "note": "a: b"}'),
    (10, "rc", "{}"),
]


@pytest.mark.parametrize("per_chunk", [1, 2, 7])
def test_parser_handles_every_split_point(per_chunk):
    raw = _stream(FRAMES, per_chunk)
    for cut in range(len(raw) + 1):
        p = SSEResponseParser()
        got = p.feed(raw[:cut]) + p.feed(raw[cut:])
        assert got == FRAMES, cut
        assert p.status == 200


def test_parser_byte_at_a_time_and_terminal_chunk():
    p = SSEResponseParser()
    got = []
    for b in _stream(FRAMES, 3) + b"0\r\n\r\n":
        got += p.feed(bytes([b]))
    assert got == FRAMES
    assert p.done


def test_parser_reports_error_status():
    p = SSEResponseParser()
    assert p.feed(b"HTTP/1.1 400 Bad Request\r\nContent-Length: 3\r\n\r\nbad") == []
    assert p.status == 400


# --------------------------------------------------------------------------
# oracle expected frames
# --------------------------------------------------------------------------


def test_backfill_oracle_builds_expected_frames(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.oracle import backfill_expected, compare_frames

    table = pa.table(
        {
            "event_id": pa.array([0, 1, 2, 3], pa.int64()),
            "ts": pa.array([0, 1_000_000, 2_000_000, 3_000_000], pa.timestamp("us")),
            "user_id": pa.array([3, 4, 53, 5], pa.int64()),
            "event_type": ["view", "signup", "click", "purchase"],
            "value": [1.0, 200.0, 3.0, 4.0],
            "props": ['{"k": 1, "x": 2}', '{"k": 2}', '{"k": 3}', '{"k": 4, "y": 5}'],
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    paths = ["/", "/?type=comments&filter=k", "/?author=u3&subreddit=signup"]
    exp = backfill_expected([path], paths)
    assert exp["/"] == {
        0: ("rc", '{"k": 1, "x": 2}'),
        1: ("rs", '{"k": 2}'),
        2: ("rc", '{"k": 3}'),
        3: ("rs", '{"k": 4, "y": 5}'),
    }
    # comments only, payload projected to the filter key
    assert exp["/?type=comments&filter=k"] == {0: ("rc", '{"k": 1}'), 2: ("rc", '{"k": 3}')}
    # author u3 matches user ids 3 and 53; subreddit signup matches id 1
    assert sorted(exp["/?author=u3&subreddit=signup"]) == [0, 1, 2]

    got = [(0, "rc", '{"k": 1}', 0.0), (0, "rc", '{"k": 1}', 0.1), (2, "rc", '{"k": 9}', 0.2)]
    assert compare_frames(exp["/?type=comments&filter=k"], got) == {
        "missing": 0,
        "duplicated": 1,
        "wrong": 1,
    }
    assert compare_frames(exp["/"], [])["missing"] == 4


def test_relay_oracle_applies_spec_to_feed_rows():
    from perfbench.oracle import relay_expected

    def row(i, event, author, domain=None):
        data = json.dumps({"author": author, "k": i})
        return {
            "id": i, "event": event, "author": author, "subreddit": "view",
            "domain": domain, "over_18": None if event == "rc" else False,
            "is_self": None if event == "rc" else True, "created_utc": 0, "json": data,
        }

    rows = [row(1, "rc", "u1"), row(2, "rs", "u2", "dom2.example.com"), row(3, "rs", "u9", "x")]
    exp = relay_expected(rows, ["/?author=u1&domain=dom2.example.com", "/?filter=k"])
    assert sorted(exp["/?author=u1&domain=dom2.example.com"]) == [1, 2]
    assert exp["/?filter=k"][3] == ("rs", '{"k": 3}')


# --------------------------------------------------------------------------
# generator accounting
# --------------------------------------------------------------------------


def test_schedule_is_fixed_rate_with_exact_mix():
    sched = stats.schedule(175 * 3, 125, 50, 100.0)
    assert sched[0][0] == 100.0
    assert sched[175][0] == pytest.approx(101.0)
    for second in range(3):
        window = sched[175 * second : 175 * (second + 1)]
        assert sum(1 for _, s in window if s == "rs") == 50


def test_lateness_and_backlog_growth():
    assert stats.lateness_ms([1.0, 2.0], [1.001, 2.0]) == pytest.approx([1.0, 0.0])
    # a backlog that oscillates with each micro-batch but does not grow
    flat = [(t * 0.25, 40 if t % 2 else 0) for t in range(40)]
    assert abs(stats.backlog_growth(flat)) < 5
    # a backlog that grows by 175 events a second over a 10 s window
    growing = [(t * 0.25, int(175 * t * 0.25)) for t in range(41)]
    assert stats.backlog_growth(growing) == pytest.approx(1750, rel=0.01)
    assert stats.backlog_growth([(0.0, 5)]) == 0.0


# --------------------------------------------------------------------------
# /proc process tree
# --------------------------------------------------------------------------


def _proc(root, pid, ppid, utime, stime, rss_pages, comm="python3", pgrp=None):
    d = root / str(pid)
    d.mkdir(exist_ok=True)
    fields = ["S", str(ppid), str(pgrp or ppid)] + ["0"] * 8 + [str(utime), str(stime)]
    fields += ["0"] * 10
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
    (d / "statm").write_text(f"1000 {rss_pages} 0 0 0 0 0\n")


def test_parse_stat_survives_odd_command_names():
    tick = os.sysconf("SC_CLK_TCK")
    text = f"42 (a) b (c) S 7 42 " + " ".join(["0"] * 8) + f" {tick} {2 * tick} 0 0\n"
    assert stats.parse_stat(text) == (42, 7, 3.0)


def test_proc_tree_sums_descendants_and_keeps_exited_cpu(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    _proc(tmp_path, 10, 1, tick, 0, 100)  # root
    _proc(tmp_path, 11, 10, 2 * tick, tick, 200, comm="java (jvm)")  # child
    _proc(tmp_path, 12, 11, tick, 0, 50)  # grandchild
    _proc(tmp_path, 13, 1, 9 * tick, 0, 999)  # not in the tree
    (tmp_path / "self").mkdir()
    tree = stats.ProcTree(10, proc=str(tmp_path))
    tree.sample()
    assert tree.cpu_s() == pytest.approx(5.0)
    assert tree.rss_peak_bytes == 350 * page
    # the grandchild exits: its CPU stays counted, the peak RSS stays
    for f in (tmp_path / "12").iterdir():
        f.unlink()
    (tmp_path / "12").rmdir()
    _proc(tmp_path, 10, 1, 2 * tick, 0, 100)
    tree.sample()
    assert tree.cpu_s() == pytest.approx(6.0)
    assert tree.rss_peak_bytes == 350 * page


def test_group_pids_lists_live_group_members(tmp_path):
    _proc(tmp_path, 20, 1, 0, 0, 1, pgrp=20)
    _proc(tmp_path, 21, 20, 0, 0, 1, pgrp=20)
    _proc(tmp_path, 22, 1, 0, 0, 1, pgrp=99)
    assert sorted(stats.group_pids(20, proc=str(tmp_path))) == [20, 21]
