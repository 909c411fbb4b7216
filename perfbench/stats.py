"""Pure helpers: percentiles with a sample-support rule, open-loop generator
accounting, and a ``/proc`` reader for a process tree's CPU time and RSS."""

from __future__ import annotations

import math
import os
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def groups_beyond(values: Sequence[float], groups: Sequence, q: float) -> int:
    """How many distinct ``groups`` (e.g. micro-batches) hold a sample above
    the ``q`` percentile.  A percentile is only reported when at least ten
    groups lie beyond it: samples of one micro-batch share its fate, so ten
    samples of one batch are one observation, not ten."""
    cut = percentile(values, q)
    return len({g for v, g in zip(values, groups) if v > cut})


def supported_percentile(
    values: Sequence[float], groups: Sequence, q: float, min_groups: int = 10
) -> float:
    """``percentile(values, q)``, refused (``ValueError``) when fewer than
    ``min_groups`` distinct groups lie beyond it."""
    n = groups_beyond(values, groups, q)
    if n < min_groups:
        raise ValueError(
            f"p{q:g} has only {n} groups beyond it (need {min_groups}): run longer"
        )
    return percentile(values, q)


def bursts(times: Sequence[float], gap: float) -> list[int]:
    """Label each of the (sorted) arrival ``times`` with a burst number: a new
    burst starts after a silence longer than ``gap`` seconds.  Frames of one
    micro-batch reach a client in one burst, so bursts stand in for
    micro-batches on the client side."""
    labels = []
    burst = -1
    prev = None
    for t in times:
        if prev is None or t - prev > gap:
            burst += 1
        labels.append(burst)
        prev = t
    return labels


def schedule(n: int, rate_rc: int, rate_rs: int, t0: float) -> list[tuple[float, str]]:
    """Fixed open-loop schedule: ``n`` events as (due time, stream), with
    ``rate_rc`` comments and ``rate_rs`` submissions per second spread evenly
    over each second, independent of how the system under test keeps up."""
    rate = rate_rc + rate_rs
    out = []
    for i in range(n):
        # Bresenham split keeps the rc:rs ratio exact over every second
        is_rs = (i + 1) * rate_rs // rate > i * rate_rs // rate
        out.append((t0 + i / rate, "rs" if is_rs else "rc"))
    return out


def lateness_ms(due: Sequence[float], sent: Sequence[float]) -> list[float]:
    """Per event, how late (ms) the generator actually sent it."""
    return [(s - d) * 1000.0 for d, s in zip(due, sent)]


def backlog_growth(samples: Sequence[tuple[float, int]]) -> float:
    """Least-squares growth of the backlog (sent minus delivered) across the
    window, in events: slope times window length.  Near zero when the
    engine keeps up with the offered rate; large and positive when it does
    not, even if the last sample happens to land on a drained moment."""
    if len(samples) < 2:
        return 0.0
    ts = [t for t, _ in samples]
    ys = [b for _, b in samples]
    mt = sum(ts) / len(ts)
    my = sum(ys) / len(ys)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return 0.0
    slope = sum((t - mt) * (y - my) for t, y in zip(ts, ys)) / var
    return slope * (ts[-1] - ts[0])


# --------------------------------------------------------------------------
# /proc process tree
# --------------------------------------------------------------------------

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, int, float]:
    """(pid, ppid, user+sys CPU seconds) from one ``/proc/<pid>/stat`` line.
    The command name may hold spaces and parentheses, so fields are counted
    from the last ``)``."""
    pid = int(text[: text.index(" ")])
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime/stime are fields 14/15
    return pid, int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICKS


def tree_pids(root: int, parents: dict[int, int]) -> set[int]:
    """``root`` and every descendant, from a pid -> ppid map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcTree:
    """Samples CPU time and RSS of a process and all its descendants.

    CPU is accumulated per pid from the last sample that saw it, so a
    worker that exits between samples keeps the CPU it had used."""

    def __init__(self, root: int, proc: str = "/proc"):
        self.root = root
        self.proc = proc
        self._cpu: dict[int, float] = {}
        self.rss_peak_bytes = 0

    def _read(self, path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            return None

    def sample(self) -> None:
        stats: dict[int, tuple[int, float]] = {}
        for name in os.listdir(self.proc):
            if not name.isdigit():
                continue
            text = self._read(f"{self.proc}/{name}/stat")
            if text:
                pid, ppid, cpu = parse_stat(text)
                stats[pid] = (ppid, cpu)
        pids = tree_pids(self.root, {p: s[0] for p, s in stats.items()})
        rss = 0
        for pid in pids & stats.keys():
            self._cpu[pid] = stats[pid][1]
            statm = self._read(f"{self.proc}/{pid}/statm")
            if statm:
                rss += int(statm.split()[1]) * _PAGE
        self.rss_peak_bytes = max(self.rss_peak_bytes, rss)

    def cpu_s(self) -> float:
        """CPU seconds used by the tree up to the last sample."""
        return sum(self._cpu.values())


def group_pids(pgid: int, proc: str = "/proc") -> list[int]:
    """Live processes whose process group is ``pgid``."""
    out = []
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                text = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        fields = text[text.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out
