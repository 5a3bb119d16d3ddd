"""Executor-side synthetic page store — the fetch UDF's "network".

In production the fetch ``mapInPandas`` issues conditional HTTP GETs
with per-URL retry/backoff and errors-as-data (crawler.py:971-1001
semantics; SURVEY.md §4 "fetch UDF failure semantics"). In this
sandbox there is no network, so the same UDF resolves URLs against a
deterministic page store instead. The store is loaded once per
executor process and memoized by path — the moral equivalent of the
per-executor HTTP session/connection pool.

The store is *lazy*: the table stays columnar (Arrow) with only a
url→row index built eagerly; full Python row dicts materialize on
demand per fetched URL. Eagerly `to_pylist()`-ing an 80k-page web cost
~10 s and ~300 MB **per Python worker**, which dominated crawl rounds;
the lazy form loads in well under a second and touches only the rows a
worker actually fetches.
"""

from __future__ import annotations


class LazyPageStore:
    """Reads the mmap-ed uncompressed Arrow IPC twin of a page-store
    parquet (``pages.feather`` beside ``pages.parquet``, written by
    ``fixtures.webgen.write_parquet`` and ``bench_fixture``): IPC is the
    Arrow memory layout, so the mmap-ed buffers ARE the arrays — zero
    per-worker materialization, and every worker process shares one
    OS-page-cache copy. Decoding the parquet instead gives every worker
    a private copy; at 32 workers x a 100MB+ store those copies
    saturate memory bandwidth and dominate the fetch stage. A store
    without its twin raises ``FileNotFoundError``."""

    def __init__(self, path: str):
        import os

        import pyarrow as pa

        feather = os.path.splitext(path)[0] + ".feather"
        if not os.path.exists(feather):
            raise FileNotFoundError(
                f"page store {path!r} has no Arrow IPC twin {feather!r}")
        self._table = pa.ipc.open_file(pa.memory_map(feather, "r")).read_all()
        self._cols = {name: self._table.column(name)
                      for name in self._table.column_names}
        self._idx = {}
        pos = 0
        for chunk in self._cols["url"].chunks:
            for u in chunk.to_pylist():
                self._idx[u] = pos
                pos += 1

    def get(self, url: str) -> dict | None:
        i = self._idx.get(url)
        if i is None:
            return None
        return {name: col[i].as_py() for name, col in self._cols.items()}


_CACHE: dict[str, LazyPageStore] = {}


def load_store(path: str) -> LazyPageStore:
    store = _CACHE.get(path)
    if store is None:
        store = LazyPageStore(path)
        _CACHE[path] = store
    return store
