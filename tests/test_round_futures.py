"""The advisory pre-selection noop futures (``CrawlEngine._presel_futs``)
are settled on every way out of a round: queued ones are cancelled,
running ones are waited for, and their failures are logged, never
raised. Selection is stubbed, so no crawl runs."""

from __future__ import annotations

import logging
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.crawler import CrawlEngine

_LOGGER = "meilisearchcrawler_spark.engine.crawler"


def _engine(spark, tmp_path) -> CrawlEngine:
    return CrawlEngine(spark, str(tmp_path / "cat"), str(tmp_path / "pages"),
                       [{"site": "s", "seed_url": "http://s.example/"}], [],
                       CrawlConfig(round_budget=4, shuffle_partitions=2))


def _logged_failures(caplog) -> list[str]:
    return [str(r.exc_info[1]) for r in caplog.records
            if r.name == _LOGGER and r.exc_info]


def test_aborted_round_cancels_queued_and_drains_running(spark, tmp_path,
                                                         caplog):
    eng = _engine(spark, tmp_path)
    pool = ThreadPoolExecutor(max_workers=1)
    started, release = threading.Event(), threading.Event()
    ran: list[int] = []
    futs = []

    def failing_noop():
        started.set()
        release.wait(10)
        raise ValueError("noop failed")

    def select(budgets):
        futs.append(pool.submit(failing_noop))
        futs.append(pool.submit(ran.append, 1))  # queued behind it
        eng._presel_futs += futs
        started.wait(10)
        threading.Timer(0.2, release.set).start()
        raise RuntimeError("selection failed")

    eng._select_pops = select
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        with pytest.raises(RuntimeError, match="selection failed"):
            eng.run_round()
    running, queued = futs
    assert running.done() and queued.cancelled()
    assert ran == []
    assert eng._presel_futs == []
    assert _logged_failures(caplog) == ["noop failed"]
    pool.shutdown()


def test_failed_noop_is_logged_not_raised_at_round_end(spark, tmp_path,
                                                       caplog):
    eng = _engine(spark, tmp_path)
    pool = ThreadPoolExecutor(max_workers=1)

    def boom():
        raise ValueError("noop failed")

    def select(budgets):
        eng._presel_futs.append(pool.submit(boom))
        return None  # empty selection: the round ends normally

    eng._select_pops = select
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        assert eng.run_round() is False
    assert eng._presel_futs == []
    assert _logged_failures(caplog) == ["noop failed"]
    pool.shutdown()
