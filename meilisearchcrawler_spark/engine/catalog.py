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

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema


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
        # read handles since the last manifest commit, keyed by the
        # exact rel-path set (staged dirs are immutable, so a path set
        # always denotes the same content). A round repeats ~3-14 of
        # its reads, and once a read spans more than 32 dirs Spark
        # lists them with a parallel job (a crawl without compaction
        # gets there); the handle is a lazy plan, every action over it
        # still scans the files.
        self._handles: dict[tuple[str, tuple[str, ...]], DataFrame] = {}

    def _read_paths(self, table: str, rels) -> DataFrame | None:
        """A lazy read over ``rels`` (None when there are none). The
        schema comes from the footer of the file Spark's own inference
        would open (the first path in sorted order; ``mergeSchema`` is
        off) read driver-side with pyarrow, so no inference job runs.
        Every dir the catalog writes holds at least one part file,
        even for an empty frame."""
        if not rels:
            return None
        key = (table, tuple(rels))
        df = self._handles.get(key)
        if df is None:
            first = os.path.join(self.root, min(rels))
            part = min(f for f in os.listdir(first) if f.endswith(".parquet"))
            schema = from_arrow_schema(
                pq.read_schema(os.path.join(first, part)))
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, r) for r in rels])
            self._handles[key] = df
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
        self._handles.clear()

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
        ``schema`` is a ``pyarrow.Schema`` with the columns and types
        of the table's Spark-written deltas: when this dir sorts first
        in a read, its footer is the schema of the whole read. An
        empty ``rows`` still writes the file."""
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
        self.manifest["state"] = state
        self.manifest["committed_round"] = round_no
        self._commit_manifest()

    # -- reads ------------------------------------------------------------

    def exists(self, table: str) -> bool:
        return bool(self.manifest["tables"].get(table))

    def read(self, table: str) -> DataFrame | None:
        return self._read_paths(table, self.manifest["tables"].get(table))

    def read_split(self, table: str) -> tuple[DataFrame | None, DataFrame | None]:
        """``(compacted snapshot, post-compaction deltas)`` — readers
        that apply stats-pruned predicates to the clustered snapshot
        (frontier depth-band / bucket layouts) read the two tiers
        separately; deltas since the last compaction are bounded by
        ``compact_every`` rounds and scanned as-is."""
        rels = self.manifest["tables"].get(table) or []
        comp = _compacted(rels)
        rest = [r for r in rels if r not in comp]
        return self._read_paths(table, comp), self._read_paths(table, rest)

    def read_since(self, table: str, floor_round: int) -> DataFrame | None:
        """Read only the delta dirs of ``table`` staged for rounds
        AFTER ``floor_round``. The round number rides in every delta
        dir name (``r{round:06d}_…``), so the pruning happens on the
        manifest's file list, driver-side, before any parquet footer
        is opened — the Iceberg snapshot-range (incremental-read)
        analog. A compacted snapshot is never a delta source (a
        latest-wins fold drops history rows), so it is never read."""
        rels = self.manifest["tables"].get(table) or []
        comp = _compacted(rels)
        return self._read_paths(table, [
            r for r in rels if r not in comp
            and int(os.path.basename(r)[1:].split("_")[0]) > floor_round])

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

    def drop(self, table: str) -> None:
        """Atomically unpublish ``table``, then delete its dirs (a
        crash in between leaves only orphans)."""
        old = self.manifest["tables"].pop(table, [])
        self._commit_manifest()
        for r in old:
            shutil.rmtree(os.path.join(self.root, r), ignore_errors=True)
