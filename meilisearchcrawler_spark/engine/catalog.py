"""Checkpointed table catalog — Iceberg-snapshot-shaped commits over
parquet.

This sandbox has no Iceberg runtime jars, so the engine checkpoints
through this catalog instead: every crawl round stages its table deltas
as parquet directories, then commits them *atomically* by replacing a
single ``manifest.json`` (write-temp + ``os.replace``). A killed job
leaves only orphan directories that the next manifest read ignores —
exactly the snapshot-commit semantics the production engine gets from
one Iceberg transaction per round (``MERGE INTO url_seen`` +
``writeTo(...).append()``; reference equivalents: SQLite cache upsert
cache_db.py:67-81 and resume-state save crawler.py:1221-1224).

Table reads union all committed deltas; ``compact()`` folds a table's
deltas into one snapshot directory (Iceberg's rewrite_data_files).
Scalar state (counters, round number) rides in the manifest itself, so
state and data commit in the same atomic step — the property that makes
kill-resume bit-identical.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _compacted(rels) -> list:
    """The compacted-snapshot dirs among a table's rel paths."""
    return [r for r in rels if os.path.basename(r).startswith("compact_")]


class CheckpointCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "manifest.json")
        self.manifest = self._load()
        self._bytes_cache: dict = {}
        # lazy-DataFrame handle cache keyed by the exact rel-path set.
        # Staged dirs are immutable once written, so a given path tuple
        # always denotes identical content — reusing the handle skips
        # the per-call spark.read.parquet cost (driver-side file
        # listing + footer schema inference), which the engine
        # otherwise pays ~10× per round over a dir set that grows
        # every round. Pure metadata caching: every action over the
        # handle still scans the parquet files. Grouped per table: a
        # commit that adds deltas to a table evicts that table's
        # handles except the one over its compacted snapshot (whose
        # path set the commit did not change), so the cache stays
        # O(tables) even when nothing ever compacts.
        self._df_cache: dict[str, dict[tuple[str, ...], DataFrame]] = {}

    def _read_paths(self, table: str, rels) -> DataFrame:
        cache = self._df_cache.setdefault(table, {})
        key = tuple(rels)
        df = cache.get(key)
        if df is None:
            df = self.spark.read.parquet(
                *[os.path.join(self.root, r) for r in rels])
            cache[key] = df
        return df

    # -- manifest ---------------------------------------------------------

    def _load(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"tables": {}, "state": {}, "committed_round": -1}

    def _commit_manifest(self) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    # -- staged writes ----------------------------------------------------

    def stage(self, table: str, df: DataFrame, round_no: int,
              max_files: int = 8) -> str:
        """Write a delta directory for ``table``; not visible until
        :meth:`commit_round` lands. Deltas are coalesced to a few files
        — rounds at test scale are tiny and the union-read fan-in is
        the cost that matters (Iceberg's write.target-file-size
        equivalent); pass ``max_files=0`` to keep the natural
        partitioning for genuinely large rounds."""
        rel = os.path.join(table, f"r{round_no:06d}_{uuid.uuid4().hex[:8]}")
        path = os.path.join(self.root, rel)
        if max_files:
            df = df.coalesce(max_files)
        df.write.mode("overwrite").parquet(path)
        return rel

    def stage_rows(self, table: str, rows: list[dict], schema,
                   round_no: int) -> str:
        """Stage DRIVER-resident rows as one parquet file via a direct
        pyarrow write — no Spark job. The round barrier already holds
        the metrics rollup as a Python list; a distributed write job
        for ~40 rows costs more scheduling than the data (round-5
        action profile: ~0.5-1 s apiece at the frontier10m harness).
        ``schema`` is a
        ``pyarrow.Schema`` matching what ``spark.read.parquet`` must
        union with the table's Spark-written deltas."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = os.path.join(table, f"r{round_no:06d}_{uuid.uuid4().hex[:8]}")
        path = os.path.join(self.root, rel)
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, "part-00000.parquet"))
        return rel

    def commit_round(self, round_no: int, staged: dict[str, list[str]],
                     state: dict) -> None:
        """Atomically publish all staged deltas + scalar state for one
        round. This is the round barrier (SURVEY.md §3.1 lifecycle)."""
        for table, rels in staged.items():
            current = self.manifest["tables"].setdefault(table, [])
            current.extend(rels)
            if rels and table in self._df_cache:
                snap = tuple(_compacted(current))
                self._df_cache[table] = {
                    k: df for k, df in self._df_cache[table].items()
                    if k == snap}
        self.manifest["state"] = state
        self.manifest["committed_round"] = round_no
        self._commit_manifest()

    # -- reads ------------------------------------------------------------

    def exists(self, table: str) -> bool:
        return bool(self.manifest["tables"].get(table))

    def read(self, table: str) -> DataFrame | None:
        rels = self.manifest["tables"].get(table)
        if not rels:
            return None
        return self._read_paths(table, rels)

    def read_split(self, table: str) -> tuple[DataFrame | None, DataFrame | None]:
        """``(compacted snapshot, post-compaction deltas)`` — readers
        that apply stats-pruned predicates to the clustered snapshot
        (frontier depth-band / bucket layouts) read the two tiers
        separately; deltas since the last compaction are bounded by
        ``compact_every`` rounds and scanned as-is."""
        rels = self.manifest["tables"].get(table) or []
        comp = _compacted(rels)
        rest = [r for r in rels if r not in comp]

        def _read(rs):
            if not rs:
                return None
            return self._read_paths(table, rs)

        return _read(comp), _read(rest)

    def read_since(self, table: str, floor_round: int,
                   include_compacted: bool = True) -> DataFrame | None:
        """Read only the delta dirs of ``table`` staged for rounds
        AFTER ``floor_round``. The round number rides in every delta
        dir name (``r{round:06d}_…``), so the pruning happens on the
        manifest's file list, driver-side, before any parquet footer
        is opened — the Iceberg snapshot-range (incremental-read)
        analog. Compacted snapshots carry no round tag; by default they
        are included (callers reading monotonic never-compacted logs
        get a safe superset even if one appears), pass
        ``include_compacted=False`` when a compacted snapshot is NOT a
        valid delta source (e.g. latest-wins folds that drop history
        rows)."""
        rels = self.manifest["tables"].get(table)
        if not rels:
            return None
        keep = []
        for r in rels:
            base = os.path.basename(r)
            if base.startswith("compact_"):
                if not include_compacted:
                    continue
            elif base.startswith("r"):
                try:
                    if int(base[1:base.index("_")]) <= floor_round:
                        continue
                except ValueError:
                    pass
            keep.append(r)
        if not keep:
            return None
        return self._read_paths(table, keep)

    @property
    def meta(self) -> dict:
        """Small catalog-level metadata committed atomically with table
        snapshots (the Iceberg table-properties / puffin-stats analog) —
        e.g. the compacted frontier's per-(site, depth) histogram."""
        return self.manifest.setdefault("meta", {})

    def table_bytes(self, table: str) -> int:
        """Total on-disk bytes of a table's committed files (manifest
        dir walk, no Spark job; cached per delta-list). Drives the
        engine's adaptive bucket pruning — the Iceberg-manifest
        file-stats analog. Keyed on the table's rel list, not the
        committed round: a table that gained no files between commits
        reuses its cached size instead of re-walking O(total files)
        every round."""
        rels = tuple(self.manifest["tables"].get(table) or ())
        cached = self._bytes_cache.get(table)
        if cached is not None and cached[0] == rels:
            return cached[1]
        total = 0
        for rel in rels:
            root = os.path.join(self.root, rel)
            for dirpath, _, files in os.walk(root):
                total += sum(os.path.getsize(os.path.join(dirpath, f))
                             for f in files if f.endswith(".parquet"))
        self._bytes_cache[table] = (rels, total)
        return total

    @property
    def state(self) -> dict:
        return self.manifest["state"]

    @property
    def committed_round(self) -> int:
        return self.manifest["committed_round"]

    # -- maintenance ------------------------------------------------------

    def compact(self, table: str, df: DataFrame | None = None,
                meta: dict | None = None, state: dict | None = None) -> None:
        """Fold all deltas of ``table`` into one snapshot dir (bounds the
        union fan-in for hot tables like the frontier). If ``df`` is
        given it becomes the new content (post-anti-join compaction).
        ``meta`` entries and/or a ``state`` replacement land in the SAME
        atomic manifest commit, so snapshot-derived statistics (the
        frontier histogram) can never drift from the snapshot they
        describe."""
        if df is None:
            df = self.read(table)
        if df is None:
            return
        self.commit_compact(table, self.prepare_compact(table, df),
                            meta=meta, state=state)

    def prepare_compact(self, table: str, df: DataFrame) -> str:
        """WRITE a snapshot dir for ``table`` without publishing it —
        the dir is an orphan (invisible to every reader, removable by
        any crash) until :meth:`commit_compact` lands. Splitting the
        write from the commit lets the maintenance job run the
        independent table rewrites CONCURRENTLY (the expensive part)
        while keeping the COMMITS strictly ordered — the
        crash-ordering invariants (frontier_index before the frontier
        snapshot; view floors before their source deltas are
        destroyed) constrain commit order only, never write order,
        because writes read the pre-compaction manifest and destroy
        nothing."""
        rel = os.path.join(table, f"compact_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    def commit_compact(self, table: str, rel: str,
                       meta: dict | None = None,
                       state: dict | None = None) -> None:
        """Atomically publish a prepared snapshot as ``table``'s sole
        content (+ optional ``meta``/``state`` in the same manifest
        write), then drop the superseded delta dirs."""
        old = self.manifest["tables"].get(table, [])
        self.manifest["tables"][table] = [rel]
        if meta:
            self.manifest.setdefault("meta", {}).update(meta)
        if state is not None:
            self.manifest["state"] = state
        self._commit_manifest()
        for r in old:
            shutil.rmtree(os.path.join(self.root, r), ignore_errors=True)
        # the superseded dirs are gone: so must be their read handles
        self._df_cache.pop(table, None)

    def drop(self, table: str) -> None:
        """Atomically unpublish ``table``, then delete its dirs (a
        crash in between leaves only orphans)."""
        old = self.manifest["tables"].pop(table, [])
        self._commit_manifest()
        for r in old:
            shutil.rmtree(os.path.join(self.root, r), ignore_errors=True)
        self._df_cache.pop(table, None)

    def blob_dir(self, name: str) -> str:
        path = os.path.join(self.root, "blobs", name)
        os.makedirs(path, exist_ok=True)
        return path
