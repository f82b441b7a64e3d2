"""``engine_ops`` workload: the Spark query engine and pipeline ops.

Set-up: generate the corpus and the pipeline tables, build the index
with Spark, open ``SearchEngine`` and run one warm-up query.
Timed: single-query ``SearchEngine.search`` calls, each followed by its
final action (``collect``), closed loop with one client for
``--seconds`` (at least five), interleaved with one pass over five
registry ops, each collected to the driver; then one batched ``search``
call over a fixed query set. Checks:
engine ranks against ``LocalSearchEngine`` on the same index, and each
op's rows against its DuckDB oracle (``ORACLES``).
"""

from __future__ import annotations

import math
import time
from pathlib import Path

import gen
from build_step import build_fresh, build_layer_metrics
from common import (
    engine_config, median, ranking, same_ranking, spark_session, stop_spark,
    to_query,
)
from tracing import SparkJobs, Tracer

SIZES = {
    # conversations, reference_queries rows behind the engine queries,
    # single queries (at most, at least; one costs 2.5-5 s on 4 cores
    # and the cost varies with the query, so the p50 needs several),
    # batch size, pipeline table rows
    "full": dict(convs=150, reference=120, singles=12, min_singles=5, batch=24,
                 docs=500, events=10_000, vecs=500),
    "toy": dict(convs=40, reference=60, singles=4, min_singles=3, batch=4,
                docs=120, events=1_000, vecs=120),
}
# single-query kinds, cycled: shapes whose cost depends little on the
# drawn words, so every seed times comparable work
ENGINE_KINDS = ["exact", "filter", "case"]
# batch kinds, cycled. A batch costs about the same per relaxation round
# whatever its size (on 4 cores: 8 queries 5-12 s with one or two
# rounds, 32 queries 9 s), and without typos a 24-query batch ran one
# round for some seeds and two for others; the typo queries make every
# batch relax to a second round
BATCH_KINDS = ENGINE_KINDS + ["typo"]

# registry op → module that implements it (the per-layer metric prefix):
# one op per module, each a target of open optimisation work (exact
# Jaccard verification, bulk BM25 retrieval, the k-means cell join, the
# quality_buckets persist, the stateful fold); the run-time budget of
# the whole benchmark leaves no room for more.
OPS = {
    "dedup_jaccard": "pipelines.dedup",
    "retrieval_topk": "pipelines.retrieval",
    "semdedup_pairs": "pipelines.ann",
    "quality_buckets": "pipelines.textstats",
    "stateful_sessions": "streaming.stateful",
}


def _queries(seed: int, docs, sz: dict, cfg) -> tuple[list, list]:
    """Warm-up and single queries (the most popular ``ENGINE_KINDS``
    queries of the serving pool, interleaved), and the batch (the next
    most popular of the ``BATCH_KINDS``)."""
    pool = gen.query_pool(seed, docs, sz["reference"])
    n = 1 + sz["singles"]
    first = -(-n // len(ENGINE_KINDS))  # ranks the single queries use
    picks = [pool[ENGINE_KINDS[i % len(ENGINE_KINDS)]][i // len(ENGINE_KINDS)]
             for i in range(n)]
    picks += [pool[BATCH_KINDS[i % len(BATCH_KINDS)]][first + i // len(BATCH_KINDS)]
              for i in range(sz["batch"])]
    queries = [to_query(params, cfg, f"q{i:04d}") for i, params in enumerate(picks)]
    return queries[:n], queries[n:]


def run(seed: int, seconds: float, trace: bool, work: Path, size: str) -> dict:
    from addok_spark.entry_queries import QUERIES
    from addok_spark.query.engine import SearchEngine

    sz = SIZES[size]
    cfg = engine_config()
    tracer = Tracer(trace)
    fails: list[str] = []
    tables = work / "tables"

    # ---- set-up ------------------------------------------------------------
    t_setup = time.perf_counter()
    marks = {}
    docs = gen.corpus(seed, sz["convs"])
    gen.ops_tables(seed, tables, sz["docs"], sz["events"], sz["vecs"])
    spark = spark_session(work, event_log=trace)
    marks["session"] = time.perf_counter() - t_setup
    try:
        jobs = SparkJobs(spark, tracer)
        index_dir = work / "index"
        build = build_fresh(spark, jobs, docs, cfg, index_dir)
        marks["build"] = time.perf_counter() - t_setup
        (warm, *singles), batch = _queries(seed, docs, sz, cfg)
        engine = SearchEngine(spark, str(index_dir), cfg)
        engine.search([warm]).collect()
        setup_s = time.perf_counter() - t_setup
        marks["warm"] = setup_s

        # ---- timed: single queries and the pipeline ops, interleaved so
        # that each metric's samples spread over the whole timed window
        # (the host's speed drifts over tens of seconds); then the batch -
        single = []  # (query, rows, search_s, final_s, engine trace, traced?)
        untraced = []  # (start, end) of untraced single queries
        op_s, op_out = {}, {}
        ops = list(OPS)

        def run_single(n, q):
            # traced runs alternate traced/untraced calls for the overhead
            tracer.enabled = trace and n % 2 == 0
            t0 = time.perf_counter()
            with jobs.call("query.engine.search"):
                df = engine.search([q])
            t1 = time.perf_counter()
            with jobs.call("query.engine.final_action"):
                rows = df.collect()
            t2 = time.perf_counter()
            single.append((q, rows, t1 - t0, t2 - t1, _engine_trace(engine),
                           tracer.enabled))
            if not tracer.enabled:
                untraced.append((t0, t2))
            tracer.enabled = trace

        def run_op(op):
            t0 = time.perf_counter()
            try:
                with jobs.call(f"{OPS[op]}.{op}"):
                    op_out[op] = QUERIES[op](spark, str(tables)).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                fails.append(f"{op}: {type(e).__name__}: {str(e)[:200]}")
            op_s[op] = time.perf_counter() - t0

        t_timed = time.perf_counter()
        stop = t_timed + seconds
        for n, q in enumerate(singles):
            if n >= sz["min_singles"] and not ops and time.perf_counter() >= stop:
                break
            run_single(n, q)
            if ops:
                run_op(ops.pop(0))
        for op in ops:
            run_op(op)
        # the whole batch as one search() call, last: one 7-11 s call is
        # steadier in a warm JVM than between the first single queries
        t_batch = time.perf_counter()
        with jobs.call("query.engine.batch"):
            batch_rows = engine.search(batch).collect()
        batch_s = time.perf_counter() - t_batch
        batch_rounds = _engine_trace(engine)["rounds"]
        t_end = time.perf_counter()
        marks["timed"] = t_end - t_setup
    finally:
        stop_spark(spark)
    marks["stopped"] = time.perf_counter() - t_setup

    # ---- checks (untimed) --------------------------------------------------
    fails += _check_engine(index_dir, cfg, single, batch, batch_rows)
    fails += _check_ops(tables, op_out)
    marks["checked"] = time.perf_counter() - t_setup

    lat = [s[2] + s[3] for s in single]
    ops_total = sum(op_s.values())
    e2e = {
        "setup_s": setup_s,
        "build_turns_per_s": build["turns_per_s"],
        "index_space_amp": build["space_amp"],
        "query_p50_ms": median(lat) * 1e3,
        "query_qps": len(batch) / batch_s,
        "batch_s": ops_total,
    }
    detail = {
        "engine_query_p50_s": median(lat),
        "engine_queries": len(single),
        "engine_single_s": lat,
        "engine_batch_qps": len(batch) / batch_s,
        "engine_batch_queries": len(batch),
        "engine_batch_s": batch_s,
        "engine_batch_rounds": batch_rounds,
        "engine_rounds": [s[4]["rounds"] for s in single],
        "ops_total_s": ops_total,
        "ops_s": op_s,
        "marks_s": marks,
        "build_turns_per_s": build["turns_per_s"],
        "index_space_amp": build["space_amp"],
        "inputs": {
            "corpus_turns": len(docs),
            "engine_kinds": ENGINE_KINDS,
            "batch_kinds": BATCH_KINDS,
            "tables": {"documents": sz["docs"], "events": sz["events"],
                       "embeddings": sz["vecs"]},
        },
    }
    layers = None
    if trace:
        jobs.add_bytes(work / "eventlog")
        layers = _layers(tracer, jobs, build, single, op_s)
        layers["trace.uncovered_share"] = tracer.uncovered_share(t_timed, t_end, untraced)
    return {"attempted": len(single) + len(batch) + len(OPS), "failed": len(fails),
            "fails": fails, "e2e": e2e, "layers": layers, "detail": detail,
            "tracer": tracer, "trace_extra": {}}


def _engine_trace(engine) -> dict:
    trace = getattr(engine, "last_trace", []) or [{}]
    plan = trace[0]
    metrics = getattr(engine, "last_metrics", {}) or {}
    return {
        "plan_s": plan.get("seconds", 0.0) + plan.get("phrase_round_seconds", 0.0),
        "rounds": metrics.get("rounds", 0),
        "buckets_skipped": metrics.get("buckets_skipped", 0),
    }


def _check_engine(index_dir, cfg, single, batch, batch_rows) -> list[str]:
    """Spark engine ranks must equal the serving tier's on the same index."""
    from addok_spark.serving.local import LocalSearchEngine

    import pandas as pd

    local = LocalSearchEngine(str(index_dir), cfg)
    batch_df = pd.DataFrame([r.asDict() for r in batch_rows],
                            columns=["qid", "rank", "conv_id", "turn_idx", "score"])
    got = [(q, pd.DataFrame([r.asDict() for r in rows], columns=batch_df.columns), "single")
           for q, rows, *_ in single]
    got += [(q, batch_df[batch_df["qid"] == q.qid], "batch") for q in batch]
    return [
        f"engine {how} {q.qid} {q.q!r} differs from LocalSearchEngine"
        for q, frame, how in got
        if not same_ranking(ranking(frame), ranking(local.search([q])))
    ]


def _canon(df):
    """Columns by name, floats rounded to 6 places, rows sorted — the
    same canonical form the registry's oracle contract uses."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _equal(got, want) -> bool:
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if pd.isna(a) and pd.isna(b):
                continue
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def _check_ops(tables: Path, op_out: dict) -> list[str]:
    import duckdb

    from addok_spark.entry_queries import ORACLES

    con = duckdb.connect()
    try:
        for t in ("documents", "events", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / t}.parquet')")
        fails = []
        for op, got in op_out.items():
            want = con.sql(ORACLES[op]).df()
            if not _equal(got, want):
                fails.append(f"{op}: rows differ from the DuckDB oracle")
        return fails
    finally:
        con.close()


def _layers(tracer, jobs, build, single, op_s) -> dict:
    traced = [s for s in single if s[5]]
    untraced = [s for s in single if not s[5]]
    search = jobs.of("query.engine.search")
    final = jobs.of("query.engine.final_action")
    per_q = [
        {k: a[k] + b[k] for k in ("jobs", "stages", "tasks")}
        | {"shuffle": a["shuffle_read"] + a["shuffle_write"]
           + b["shuffle_read"] + b["shuffle_write"]}
        for a, b in zip(search, final)
    ]
    lat_on = median(s[2] + s[3] for s in traced)
    lat_off = median(s[2] + s[3] for s in untraced)
    out = {
        "query.engine.plan_s": median(s[4]["plan_s"] for s in single),
        "query.engine.rounds": median(s[4]["rounds"] for s in single),
        "query.engine.buckets_skipped": sum(s[4]["buckets_skipped"] for s in single),
        "query.engine.search_s": median(s[2] for s in single),
        "query.engine.final_action_s": median(s[3] for s in single),
        "query.engine.jobs_per_query": median(p["jobs"] for p in per_q),
        "query.engine.stages_per_query": median(p["stages"] for p in per_q),
        "query.engine.tasks_per_query": median(p["tasks"] for p in per_q),
        "query.engine.shuffle_bytes_per_query": median(p["shuffle"] for p in per_q),
        "trace.overhead_pct": (lat_on - lat_off) / lat_off * 100.0 if lat_off else 0.0,
    }
    for op, module in OPS.items():
        rec = jobs.of(f"{module}.{op}")
        out[f"{module}.{op}_s"] = op_s.get(op, 0.0)
        out[f"{module}.{op}_jobs"] = median(r["jobs"] for r in rec)
    out.update(build_layer_metrics(build, jobs))
    return out
