"""Round-5 write-merge: frontier_pops / visited / content_hashes are
no longer dedicated per-round staged tables — they are views DERIVED
from crawl_log / url_seen_log delta dirs, floor-pruned at the manifest
file list (``CheckpointCatalog.read_since``). These tests pin the
pruning and floor semantics directly; the equivalence suite pins the
end-to-end crawl behavior (every multi-round test exercises the views
through admission, F10 dedup, link dedup, and compaction).
"""

from __future__ import annotations

import pyarrow as pa

from meilisearchcrawler_spark.engine.catalog import CheckpointCatalog

_LOG_SCHEMA = pa.schema([("site", pa.string()), ("counter", pa.int64()),
                         ("round", pa.int32())])


def _catalog_with_rounds(spark, tmp_path, rounds: list[int]) -> CheckpointCatalog:
    cat = CheckpointCatalog(spark, str(tmp_path / "cat"))
    staged: dict[str, list[str]] = {}
    for r in rounds:
        rel = cat.stage_rows(
            "crawl_log",
            [{"site": "s", "counter": 10 * r, "round": r}], _LOG_SCHEMA, r)
        staged.setdefault("crawl_log", []).append(rel)
    cat.commit_round(max(rounds), staged, {})
    return cat


class TestReadSince:
    def test_floor_prunes_delta_dirs_driver_side(self, spark, tmp_path):
        cat = _catalog_with_rounds(spark, tmp_path, [0, 1, 2, 3])
        df = cat.read_since("crawl_log", 1)
        rows = {r["round"] for r in df.collect()}
        assert rows == {2, 3}
        # the pruning happens on the manifest list, not in the scan:
        # only the post-floor dirs appear in the plan's file sources
        files = df.inputFiles()
        assert all("r000002" in f or "r000003" in f for f in files)

    def test_floor_below_all_reads_everything(self, spark, tmp_path):
        cat = _catalog_with_rounds(spark, tmp_path, [0, 1])
        assert cat.read_since("crawl_log", -1).count() == 2

    def test_floor_above_all_returns_none(self, spark, tmp_path):
        cat = _catalog_with_rounds(spark, tmp_path, [0, 1])
        assert cat.read_since("crawl_log", 5) is None

    def test_compacted_snapshot_inclusion_flag(self, spark, tmp_path):
        cat = _catalog_with_rounds(spark, tmp_path, [0, 1, 2])
        cat.compact("crawl_log")
        # the fold replaced every r*-dir with one compact_ dir, which is
        # never a delta source (a latest-wins snapshot drops history
        # rows): no floor reads it
        assert cat.read_since("crawl_log", -1) is None
        rel = cat.stage_rows("crawl_log", [{"site": "s", "counter": 30,
                                            "round": 3}], _LOG_SCHEMA, 3)
        cat.commit_round(3, {"crawl_log": [rel]}, {})
        assert [r["round"] for r in
                cat.read_since("crawl_log", -1).collect()] == [3]


class TestDerivedViews:
    """Engine-level floor semantics over a seeded catalog, no crawl."""

    def _engine(self, spark, tmp_path):
        from meilisearchcrawler_spark.engine.crawler import (CrawlConfig,
                                                             CrawlEngine)

        seeds = [{"site": "s", "seed_url": "http://s.example.com",
                  "selector": None, "lang": "fr", "max_depth": 2,
                  "no_index": [], "exclude": [], "max_pages": 0}]
        return CrawlEngine(
            spark, str(tmp_path / "cat"), str(tmp_path / "pages"),
            seeds, [], config=CrawlConfig(shuffle_partitions=2),
            initial_url_seen=[
                {"url": "http://s.example.com/old", "content_hash": "h-old",
                 "doc_id": "prev", "last_crawl": 1.0, "etag": None,
                 "last_modified": None, "site": "s"}])

    def test_seeded_cache_rows_are_not_content_history(self, spark, tmp_path):
        # the round=-1 initial-cache import must NOT enter the
        # duplicate-content window: it is prior cache state, not
        # content indexed by this crawl (the reference's in-crawl
        # window starts empty) — regression test for the round-5
        # write-merge's first failure mode
        eng = self._engine(spark, tmp_path)
        assert eng.catalog.read("url_seen_log") is not None
        view = eng._content_hashes_view()
        assert view is None or view.count() == 0

    def test_visited_view_filters_crawl_log_actions(self, spark, tmp_path):
        import pyarrow as pa

        eng = self._engine(spark, tmp_path)
        schema = pa.schema([
            ("site", pa.string()), ("url", pa.string()),
            ("depth", pa.int32()), ("counter", pa.int64()),
            ("pos_in_round", pa.int32()), ("action", pa.string()),
            ("round", pa.int32())])
        rows = [
            {"site": "s", "url": "http://s.example.com/a", "depth": 1,
             "counter": 1, "pos_in_round": 0, "action": "admitted",
             "round": 0},
            {"site": "s", "url": "http://s.example.com/b.zip", "depth": 1,
             "counter": 2, "pos_in_round": 1, "action": "ext_skipped",
             "round": 0},
            {"site": "s", "url": "http://s.example.com/c", "depth": 1,
             "counter": 3, "pos_in_round": 2, "action": "robots_denied",
             "round": 0},
            {"site": "s", "url": "http://s.example.com/d", "depth": 1,
             "counter": 4, "pos_in_round": 3, "action": "excluded",
             "round": 0},
        ]
        rel = eng.catalog.stage_rows("crawl_log", rows, schema, 0)
        eng.catalog.commit_round(0, {"crawl_log": [rel]}, eng.catalog.state)
        got = {r["url"] for r in eng._visited_view().collect()}
        # admitted + ext_skipped mark visited; robots_denied/excluded
        # never do (reference pop-time precedence crawler.py:1163-1173)
        assert got == {"http://s.example.com/a", "http://s.example.com/b.zip"}
        pops = {(r["site"], r["counter"])
                for r in eng._pops_view().collect()}
        assert pops == {("s", 1), ("s", 2), ("s", 3), ("s", 4)}


class TestPreparedCompaction:
    """Round-5 parallel compaction: ``prepare_compact`` only WRITES a
    snapshot dir (an orphan — invisible to every reader, removable by
    any crash); ``commit_compact`` atomically publishes it as the
    table's sole content and drops the superseded delta dirs. The
    split is what lets the maintenance pass run the independent table
    rewrites concurrently while keeping commits strictly ordered."""

    def test_prepared_dir_invisible_until_commit(self, spark, tmp_path):
        import os

        cat = _catalog_with_rounds(spark, tmp_path, [0, 1])
        folded = cat.read("crawl_log").groupBy("site").count()
        rel = cat.prepare_compact("crawl_log", folded)
        # written on disk, but reads and the manifest still see only
        # the original deltas
        assert os.path.isdir(os.path.join(cat.root, rel))
        assert rel not in cat.manifest["tables"]["crawl_log"]
        assert {r["round"] for r in cat.read("crawl_log").collect()} == {0, 1}
        # a fresh catalog over the same root (crash-restart shape)
        # ignores the orphan entirely
        cat2 = CheckpointCatalog(spark, cat.root)
        assert rel not in cat2.manifest["tables"]["crawl_log"]

        old_rels = list(cat.manifest["tables"]["crawl_log"])
        cat.commit_compact("crawl_log", rel, meta={"my_floor": 1})
        # published as the sole content, old delta dirs gone, meta in
        # the same manifest write
        assert cat.manifest["tables"]["crawl_log"] == [rel]
        assert cat.meta["my_floor"] == 1
        assert [r["count"] for r in cat.read("crawl_log").collect()] == [2]
        for old in old_rels:
            assert not os.path.exists(os.path.join(cat.root, old))


class TestReadHandleCache:
    def test_cache_bounded_by_tables_without_compaction(self, spark,
                                                        tmp_path):
        """Read handles live from one manifest commit to the next: a
        repeated read between commits reuses its handle, and every
        commit empties the cache, so it never outgrows one round's
        reads even when nothing ever compacts."""
        cat = CheckpointCatalog(spark, str(tmp_path / "cat"))
        schema = pa.schema([("site", pa.string()), ("round", pa.int32())])
        tables = ("crawl_log", "url_seen_log")
        for r in range(12):
            staged = {t: [cat.stage_rows(t, [{"site": "s", "round": r}],
                                         schema, r)]
                      for t in tables}
            cat.commit_round(r, staged, {})
            assert not cat._handles
            handles = [cat.read(t) for t in tables]
            assert all(cat.read(t) is h for t, h in zip(tables, handles))
            assert len(cat._handles) == len(tables)
        cat.commit_round(12, {"crawl_log": []}, {})
        assert not cat._handles
        assert handles[0].count() == 12


class TestFooterSchema:
    def test_reads_run_no_job_and_match_inferred_schema(self, spark,
                                                       tmp_path):
        """``read``, ``read_split`` and ``read_since`` take the schema
        from a parquet footer on the driver: building the handle runs no
        Spark job, and the schema equals what Spark infers from the same
        dirs, for a nested Spark-written delta, a pyarrow ``stage_rows``
        delta, an empty Spark-written delta and a compacted snapshot."""
        cat = CheckpointCatalog(spark, str(tmp_path / "cat"))
        nested = spark.range(3).selectExpr(
            "cast(id as string) as url", "cast(id as int) as round",
            "array(named_struct('src', cast(id as string), 'w', id)) "
            "as images")
        staged = {
            "documents": [cat.stage("documents", nested, 0)],
            "crawl_log": [cat.stage_rows(
                "crawl_log", [{"site": "s", "counter": 1, "round": 0}],
                _LOG_SCHEMA, 0)],
            "frontier_adds": [cat.stage(
                "frontier_adds", nested.filter("round < 0"), 0)],
            "visited": [cat.stage("visited", nested.select("url", "round"),
                                  0)],
        }
        cat.commit_round(0, staged, {})
        cat.compact("visited")
        cat.commit_round(1, {"visited": [cat.stage(
            "visited", nested.select("url", "round"), 1)]}, {})

        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        frames = []
        for table in staged:
            frames += [cat.read(table), *cat.read_split(table),
                       cat.read_since(table, -1)]
        assert set(tracker.getJobIdsForGroup(None)) == before
        assert cat.read_split("visited")[0] is not None

        for df in filter(None, frames):
            inferred = spark.read.parquet(*df.inputFiles())
            assert ([(f.name, f.dataType) for f in df.schema]
                    == [(f.name, f.dataType) for f in inferred.schema])
