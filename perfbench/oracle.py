"""Expected outputs, computed by DuckDB from the same inputs the engine gets,
and the comparison that counts every missing, duplicated or wrong output."""

from __future__ import annotations

import importlib.util
import json
import os
from collections import Counter
from urllib.parse import parse_qs, urlparse

import duckdb

from reddit_sse_stream_spark.sources.feed import FEED_CTE
from reddit_sse_stream_spark.spec import QuerySpec


def spec_of(path: str) -> QuerySpec:
    """The spec the server builds for a request path."""
    return QuerySpec.from_params(parse_qs(urlparse(path).query, keep_blank_values=True))


def project(data: str, keys) -> str:
    """The filter-key projection of one JSON payload."""
    if not keys:
        return data
    return json.dumps({k: v for k, v in json.loads(data).items() if k in keys})


def _connect():
    """One DuckDB thread, so the oracle barely competes with the engine."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    return con


def _expected(con, table: str, spec: QuerySpec) -> dict[int, tuple[str, str]]:
    rows = con.execute(
        f"SELECT id, event, json FROM {table} WHERE {spec.predicate_sql()}"
    ).fetchall()
    return {i: (e, project(j, spec.filter_keys)) for i, e, j in rows}


def backfill_expected(events_paths, paths) -> dict[str, dict[int, tuple[str, str]]]:
    """Per request path, id -> (event, data) of every frame it must get when
    the engine backfills all of ``events_paths``."""
    con = _connect()
    files = ", ".join(f"'{p}'" for p in events_paths)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    con.execute(f"CREATE TABLE f AS WITH {FEED_CTE} SELECT * FROM feed")
    return {p: _expected(con, "f", spec_of(p)) for p in set(paths)}


def relay_expected(feed_rows: list[dict], paths) -> dict[str, dict[int, tuple[str, str]]]:
    """Per request path, id -> (event, data) for the relayed events, given
    as feed-shaped dicts (id, event, author, ..., json)."""
    import pyarrow as pa

    con = _connect()
    relay = pa.Table.from_pylist(feed_rows)  # noqa: F841 (read by DuckDB)
    con.execute("CREATE TABLE f AS SELECT * FROM relay")
    return {p: _expected(con, "f", spec_of(p)) for p in set(paths)}


def compare_frames(expected: dict[int, tuple[str, str]], frames) -> dict[str, int]:
    """Count missing, duplicated and wrong frames; ``frames`` is an iterable
    of (id, event, data, ...) as received.  A frame for an id that was not
    expected, or with another event or payload, is wrong."""
    seen = Counter()
    wrong = 0
    for f in frames:
        seen[f[0]] += 1
        if seen[f[0]] == 1 and expected.get(f[0]) != (f[1], f[2]):
            wrong += 1
    return {
        "missing": sum(1 for i in expected if i not in seen),
        "duplicated": sum(c - 1 for c in seen.values()),
        "wrong": wrong,
    }


def _verify_local(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_verify_local", os.path.join(root, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """Canonical oracle results for catalog queries over one data directory,
    canonicalised the way ``tools/verify_local.py`` does."""

    def __init__(self, root: str, data_dir: str, names):
        from reddit_sse_stream_spark.plans.catalog import QUERIES

        self._canon = _verify_local(root)._canon
        con = _connect()
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.expected = {}
        for name in names:
            res = con.execute(QUERIES[name].oracle)
            cols = [d[0] for d in res.description]
            self.expected[name] = (sorted(cols), self._canon(res.fetchall(), cols))

    def matches(self, name: str, cols, rows) -> bool:
        want_cols, want = self.expected[name]
        return sorted(cols) == want_cols and self._canon(rows, cols) == want
