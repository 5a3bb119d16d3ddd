"""``corpus-queries``: the dedup, similarity and text-statistics
queries of ``__spark_entry__.queries()`` over the ``sf0.1`` corpus — a
read-only analytics load that runs no crawl-engine code.

The inputs are the ``documents`` and ``embeddings`` tables of the
``sf0.1`` test data (5000 documents, 2000 64-d embeddings), committed
under ``perfbench/data/`` so the run reads nothing outside its
checkout; the seed is unused. Every query's rows must equal its DuckDB
``oracle_sql()`` rows; the oracle runs in a spawned process during
set-up and is cached by input digest and oracle SQL.

Set-up (``setup_s``) is the session start and one untimed pass over
all queries, whose collected rows are the ones checked. The timed part
repeats the query set, each query written to Spark's ``noop`` sink (the
whole plan runs, nothing is collected), until ``--seconds`` have passed
and at least two passes are done; each query's time is its median over
passes.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import multiprocessing
import os
import time
from concurrent.futures import ProcessPoolExecutor

import common
import tracing as tr

DEDUP = ("q16_dedup_exact", "q17_minhash_signatures", "q18_lsh_pairs",
         "q19_jaccard_pairs", "q20_simhash")
QUERIES = DEDUP + ("q21_cosine_topk", "q22_ann_lsh", "q34_ann_ivf",
                   "q23_text_quality", "q24_language_id", "q25_fingerprint")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "embeddings")
# a pass takes about as long as the default --seconds, and a second pass
# runs faster than the first; with a floor of one pass, runs split into
# one-pass and two-pass runs whose medians differ by some 15%
MIN_PASSES = 2


def _norm(v) -> str:
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return json.dumps([_norm(x) for x in v])
    return str(v)


def canonical(columns: list[str], rows) -> dict:
    """Order-insensitive form of a result: columns sorted by name,
    values as strings (floats at 6 decimals), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return {"columns": [columns[i] for i in order],
            "rows": sorted([_norm(r[i]) for i in order] for r in rows)}


def oracle_results() -> dict:
    """DuckDB rows of every query's ``oracle_sql()``. Runs in a spawned
    worker."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(DATA, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in QUERIES:
            cur = con.execute(sql[q])
            cols = [d[0] for d in cur.description]
            out[q] = canonical(cols, cur.fetchall())
        return out
    finally:
        con.close()


def oracle_path(work: str) -> str:
    """Cache file of the oracle rows; the key covers the input tables
    and the oracle SQL, so changed inputs or a changed query get a fresh
    oracle."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    h = hashlib.sha256(json.dumps([sql[q] for q in QUERIES]).encode())
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return os.path.join(work, "oracle", f"corpus_{h.hexdigest()[:16]}.json")


def run(ops: common.Ops, seed: int, seconds: float, trace: bool,
        eventlog_dir: str | None, work: str, t_start: float) -> dict:
    import __spark_entry__ as entry

    pool = fut = None
    try:
        cache = oracle_path(work)
        if not os.path.exists(cache):
            pool = ProcessPoolExecutor(
                max_workers=1, mp_context=multiprocessing.get_context("spawn"),
                initializer=os.nice, initargs=(10,))
            fut = pool.submit(oracle_results)
        spark, session_s = common.start_session("perfbench-corpus-queries")
        qs = entry.queries()

        # untimed warm-up pass; its collected rows are the checked output
        got = {}
        for q in QUERIES:
            ops.attempted += 1
            df = qs[q](spark, DATA)
            got[q] = canonical(df.columns, df.collect())
        setup_s = time.perf_counter() - t_start

        if fut is not None:
            oracle = fut.result()
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache + ".tmp", "w") as f:
                json.dump(oracle, f)
            os.replace(cache + ".tmp", cache)
        else:
            with open(cache) as f:
                oracle = json.load(f)
        for q in QUERIES:
            ops.attempted += 1
            if got[q] != oracle[q]:
                ops.fail(f"oracle mismatch: {q} ({len(got[q]['rows'])} vs "
                         f"{len(oracle[q]['rows'])} rows)")

        if trace:
            jobs = tr.JobCounter(spark.sparkContext)
            ev_cpu0 = tr.eventlog_cpu_s(spark.sparkContext)
        times = {q: [] for q in QUERIES}
        execs = []
        t0 = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t0 < seconds:
            for q in QUERIES:
                ops.attempted += 1
                q0 = time.perf_counter()
                qs[q](spark, DATA).write.format("noop") \
                    .mode("overwrite").save()
                times[q].append(time.perf_counter() - q0)
                if trace:
                    execs.append({"query": q, "spark": jobs.take()})
            passes += 1
        timed_s = time.perf_counter() - t0

        med = {q: common.median(ts) for q, ts in times.items()}
        queries_s = sum(med.values())
        e2e = {
            "setup_s": setup_s,
            "op_s": queries_s,
            "driver_rss_mb": common.driver_peak_rss_mb(),
        }
        report = [
            f"setup_s {setup_s:.3f} s (session {session_s:.3f} s, one "
            "warm-up pass)",
            f"queries_s {queries_s:.4f} s (sum of per-query medians, "
            f"{passes} passes)",
            f"dedup_s {sum(med[q] for q in DEDUP):.4f} s (q16-q20)",
        ] + [f"{q} {common.summary(times[q])} s" for q in QUERIES]
        layers = {}
        if trace:
            ev_cpu = tr.eventlog_cpu_s(spark.sparkContext) - ev_cpu0
            jvm_mb = common.jvm_rss_mb()
        spark.stop()
        if trace:
            layers = _layers(execs, med, jvm_mb,
                             100 * ev_cpu / timed_s)
        return {"end_to_end": e2e, "per_layer": layers, "report": report,
                "detail": {"times": times, "passes": passes}}
    finally:
        if pool is not None:
            pool.shutdown(wait=True, cancel_futures=True)


def _layers(execs, med, jvm_mb, cost_pct) -> dict:
    import frontier

    out = frontier.zero_layers()
    for q in QUERIES:
        mine = [x for x in execs if x["query"] == q]
        out[f"query.{q}_s"] = med[q]
        out[f"query.{q}.jobs"] = common.mean(x["spark"]["jobs"] for x in mine)
        out[f"query.{q}.stages"] = common.mean(x["spark"]["stages"]
                                               for x in mine)
    out["session.jvm_rss_mb"] = jvm_mb
    out["trace.cost_pct"] = cost_pct
    return out


def zero_layers() -> dict:
    """This workload's per-layer metrics as measured on a run that
    executes no query."""
    out = {}
    for q in QUERIES:
        out.update({f"query.{q}_s": 0, f"query.{q}.jobs": 0,
                    f"query.{q}.stages": 0})
    return out
