"""``serve_cdc`` workload: HTTP serving beside a CDC write.

Set-up: generate the corpus, build the index with Spark, start the
serving process (``server.py``) and warm it with a seeded draw.
Timed: a closed loop over HTTP ``/search`` with one connection for
latency, alternating in slices with a closed loop with ``nproc // 2``
connections for capacity, each slice a fixed number of requests; a
short open loop at half that capacity for the
tail and the generator's lag; then one CDC batch, applied with
``apply_actions``, picked up by the server's ``refresh()`` and probed
over HTTP. Checks: a seeded sample of served responses against the
spec oracle (``LocalSearchEngine(mode="spec")``); the CDC probes must
find every upserted turn and no deleted one.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import gen
from build_step import build_fresh, build_layer_metrics
from common import (
    engine_config, host_cores, median, pct, ranking, same_ranking,
    spark_session, stop_spark, tail_pct, to_query, tree_bytes,
)
from loadgen import Client, Phase, closed_loop, open_loop
from tracing import SparkJobs, Tracer

SIZES = {
    # conversations, reference_queries rows behind the query pool (full:
    # more than 4096 distinct queries), warm-up requests, CDC batch
    # (appended conversations, edits, deletes), responses checked
    # against the spec
    "full": dict(convs=150, reference=4800, warm=300, new_convs=2, edits=3,
                 deletes=3, sample=30),
    "toy": dict(convs=40, reference=300, warm=100, new_convs=1, edits=2,
                deletes=2, sample=10),
}
# shares of --seconds: the one-connection latency loop, the capacity
# loop, the open loop; the two closed loops alternate in SLICES slices
LATENCY_SHARE, CAPACITY_SHARE, OPEN_SHARE = 0.5, 0.35, 0.15
SLICES = 8
# requests per second of their share for the closed loops: about the
# rates they reach on a 4-core host. Each slice sends a fixed number of
# requests, not requests for a fixed time, so the query memos hold the
# same entries at each request whatever the host's speed; with a fixed
# time a faster host served more requests and met more memo hits.
LATENCY_RATE, CAPACITY_RATE = 150, 180
# the open loop offers half the measured capacity: utilisation 0.5,
# where an M/M/1 queue's mean wait equals its service time
REF_LOAD = 0.5


class Server:
    """The serving process and its stdin/stdout control channel."""

    def __init__(self, index_dir: Path, trace: bool, log: Path):
        self._log = open(log, "w")
        self.proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name("server.py")),
             "--index", str(index_dir), "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"server exited on start; see {log}")
        self.port = json.loads(line)["port"]

    def cmd(self, **kw) -> dict:
        self.proc.stdin.write(json.dumps(kw) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("server exited")
        return json.loads(line)

    def rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=15)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait(timeout=15)
        self._log.close()


def run(seed: int, seconds: float, trace: bool, work: Path, size: str) -> dict:
    sz = SIZES[size]
    cfg = engine_config()
    # the server is one Python process: two requests in flight keep it
    # busy (four give the same throughput on 4 cores), more only add
    # scheduling between the server and the load generator
    conns = max(1, host_cores() // 2)
    tracer = Tracer(trace)
    fails: list[str] = []

    # ---- set-up ------------------------------------------------------------
    t_setup = time.perf_counter()
    marks = {}
    docs = gen.corpus(seed, sz["convs"])
    spark = spark_session(work, event_log=trace)
    marks["session"] = time.perf_counter() - t_setup
    server = None
    try:
        jobs = SparkJobs(spark, tracer)
        index_dir = work / "index"
        build = build_fresh(spark, jobs, docs, cfg, index_dir)
        marks["build"] = time.perf_counter() - t_setup
        pool = gen.query_pool(seed, docs, sz["reference"])
        server = Server(index_dir, trace, work / "server.log")
        client = Client(server.port)
        marks["server"] = time.perf_counter() - t_setup
        warm = gen.params(pool, gen.query_stream(seed, pool, sz["warm"], stream=5))
        wphase = closed_loop(client, warm, None, conns, Phase("warm"))
        setup_s = time.perf_counter() - t_setup
        marks["warm"] = setup_s

        # ---- timed: serving --------------------------------------------------
        draw = gen.query_stream(seed, pool, int(seconds * LATENCY_SHARE * LATENCY_RATE),
                                stream=4)
        lat_reqs = gen.params(pool, draw)
        sample = _sample_indexes(draw, sz["sample"])
        cap_reqs = gen.params(pool, gen.query_stream(
            seed, pool, int(seconds * CAPACITY_SHARE * CAPACITY_RATE), stream=6))
        lat, cap = _interleaved(client, lat_reqs, cap_reqs, seconds, conns,
                                sample, server if trace else None)
        cap_qps = median(p.summary()["qps"] for p in cap)
        ref_rate = REF_LOAD * cap_qps
        n_open = max(20, int(ref_rate * seconds * OPEN_SHARE))
        open_draw = gen.query_stream(seed, pool, n_open, stream=7)
        ref = open_loop(client, gen.params(pool, open_draw), ref_rate, conns,
                        Phase("open"))
        rss_mb = server.rss_mb()
        marks["serve"] = time.perf_counter() - t_setup
        phases = [wphase, *lat, *cap, ref]

        # ---- check: spec oracle on the sampled responses (untimed) ----------
        fails += _check_spec(index_dir, cfg, lat, lat_reqs)
        marks["spec_check"] = time.perf_counter() - t_setup

        # ---- timed: CDC ------------------------------------------------------
        cdc = _cdc(seed, sz, spark, jobs, server, client, docs, cfg, index_dir)
        fails += cdc["fails"]
        marks["cdc"] = time.perf_counter() - t_setup

        if trace:
            server.cmd(cmd="dump", path=str(work / "server_trace.json"))
    finally:
        if server is not None:
            server.close()
        stop_spark(spark)
    marks["stopped"] = time.perf_counter() - t_setup

    lat_all = [x for p in lat for x in p.lat]
    p50_ms = pct(lat_all, 50) * 1e3
    tail_q = tail_pct(len(ref.lat))
    detail = {
        "serve_p50_ms": p50_ms,
        f"serve_open_p{tail_q:.0f}_ms": pct(ref.lat, tail_q) * 1e3,
        "serve_capacity_qps": cap_qps,
        "serve_reference_qps": ref_rate,
        "serve_rss_mb": rss_mb,
        "build_turns_per_s": build["turns_per_s"],
        "cdc_apply_p50_s": cdc["apply_s"],
        "cdc_visible_p50_s": cdc["visible_s"],
        "index_space_amp": build["space_amp"],
        "marks_s": marks,
        "phases": {p.name: p.summary() for p in phases},
        "inputs": {
            "corpus_turns": len(docs),
            "pool": {k: len(v) for k, v in pool.items()},
            "skew": gen.SKEW,
            "stream": gen.stream_properties(draw),
            "cdc": cdc["inputs"],
        },
    }
    e2e = {
        "setup_s": setup_s,
        "build_turns_per_s": build["turns_per_s"],
        "index_space_amp": build["space_amp"],
        "query_p50_ms": p50_ms,
        "query_qps": cap_qps,
        "batch_s": cdc["visible_s"],
    }
    layers, extra = None, {}
    if trace:
        jobs.add_bytes(work / "eventlog")
        extra = json.loads((work / "server_trace.json").read_text())
        layers = _serve_layers(extra, jobs, lat, ref, build, cdc)
    # failed: every failed request plus every failed check
    failed = sum(p.failed for p in phases) + len(fails)
    fails += [f"{p.name}: {p.failed} failed requests" for p in phases if p.failed]
    return {"attempted": sum(p.attempted for p in phases) + 1, "failed": failed,
            "fails": fails,
            "e2e": e2e, "layers": layers, "detail": detail, "tracer": tracer,
            "trace_extra": {"server": extra}}


def _sample_indexes(draw, n: int) -> set:
    """First occurrences of up to ``n`` distinct pool entries, spread
    over the stream."""
    firsts: dict[tuple, int] = {}
    for pos, i in enumerate(draw):
        firsts.setdefault(i, pos)
    positions = sorted(firsts.values())
    return set(positions[::max(1, len(positions) // max(1, n))][:n])


def _interleaved(client, lat_reqs, cap_reqs, seconds, conns, keep,
                 server=None) -> tuple[list[Phase], list[Phase]]:
    """``SLICES`` rounds of a latency slice (one connection) and a
    capacity slice (``conns`` connections), so both loops' samples
    spread over the whole window (the host's speed drifts over tens of
    seconds). Each loop goes on in its own stream where its last slice
    stopped. With ``server`` (traced runs) tracing is on in odd latency
    slices only, so the run measures its own tracing overhead."""
    n_lat = max(1, int(seconds * LATENCY_SHARE * LATENCY_RATE / SLICES))
    n_cap = max(1, int(seconds * CAPACITY_SHARE * CAPACITY_RATE / SLICES))
    lat, cap = [], []
    for k in range(SLICES):
        phase = Phase(f"lat{k}")
        phase.traced = server is not None and k % 2 == 1
        if server is not None:
            server.cmd(cmd="trace", on=phase.traced)
        lo = k * n_lat
        closed_loop(client, lat_reqs[lo:lo + n_lat], None, 1, phase,
                    keep={i - lo for i in keep if lo <= i < lo + n_lat})
        phase.kept = {i + lo: body for i, body in phase.kept.items()}
        lat.append(phase)
        if server is not None:
            server.cmd(cmd="trace", on=False)
        phase = Phase(f"cap{k}")
        closed_loop(client, cap_reqs[k * n_cap:(k + 1) * n_cap], None, conns, phase)
        cap.append(phase)
    return lat, cap


def _hits(body) -> list[tuple]:
    return [(h["conv_id"], int(h["turn_idx"]), float(h["score"]))
            for h in body["hits"]]


def _check_spec(index_dir, cfg, phases, reqs) -> list[str]:
    from addok_spark.serving.local import LocalSearchEngine

    spec = LocalSearchEngine(str(index_dir), cfg, mode="spec")
    kept = {i: body for p in phases for i, body in p.kept.items()}
    fails = []
    for i, body in sorted(kept.items()):
        want = ranking(spec.search([to_query(reqs[i], cfg, "check")]))
        if not same_ranking(_hits(body), want):
            fails.append(f"spec mismatch for {reqs[i]}")
    if not kept:
        fails.append("no sampled responses to check")
    return fails


def _cdc(seed, sz, spark, jobs, server, client, docs, cfg, index_dir) -> dict:
    from pyspark.sql import types as T

    from addok_spark.index.incremental import apply_actions

    from addok_spark.data.transcripts import SCHEMA

    schema = T.StructType(SCHEMA.fields + [T.StructField("_action", T.StringType(), False)])
    changes, expect = gen.cdc_batch(seed, docs, sz["new_convs"], sz["edits"],
                                    sz["deletes"])
    frame = spark.createDataFrame(changes, schema)
    probe, key = next(iter(expect["upserts"].items()))
    seen_inodes: set = set()
    tree_bytes(index_dir, seen_inodes)
    t0 = time.perf_counter()
    with jobs.call("index.incremental.apply_actions"):
        m = apply_actions(spark, str(index_dir), frame, cfg)
    t1 = time.perf_counter()
    refresh_s = server.cmd(cmd="refresh")["refresh_s"]
    ok, first_s, _, body = client.get({"q": probe, "limit": "10"}, keep=True)
    t2 = time.perf_counter()
    fails = []
    if not (ok and key in [h[:2] for h in _hits(body)]):
        fails.append(f"CDC: probe {probe} not visible after refresh")
    fails += _probe_all(client, expect)
    if m.get("upserts") != len(expect["upserts"]) or m.get("deletes") != len(expect["deletes"]):
        fails.append(f"CDC: apply_actions reported {m}")
    return {
        "apply_s": t1 - t0,
        "visible_s": t2 - t0,
        "refresh_s": refresh_s,
        "first_ms": first_s * 1e3,
        "touched": len(m.get("touched_pbuckets", [])),
        "write_amp": tree_bytes(index_dir, seen_inodes) / max(1, expect["input_bytes"]),
        "fails": fails,
        "inputs": {
            "upserts": int(m.get("upserts", 0)), "deletes": int(m.get("deletes", 0)),
            "appended_turns": expect["appended_turns"], "edits": expect["edits"],
            "input_bytes": expect["input_bytes"]},
    }


def _probe_all(client, expect) -> list[str]:
    """Every upsert is found by its marker; no deleted turn is found by
    its own words."""
    fails = []
    for marker, key in expect["upserts"].items():
        ok, _, _, body = client.get({"q": marker, "limit": "10"}, keep=True)
        if not ok or key not in [h[:2] for h in _hits(body)]:
            fails.append(f"CDC: upsert {key} not found by {marker}")
    for conv_id, turn, text in expect["deletes"]:
        q = " ".join(text.split()[:8])
        ok, _, _, body = client.get({"q": q, "limit": "100"}, keep=True)
        if not ok or (conv_id, turn) in [h[:2] for h in _hits(body)]:
            fails.append(f"CDC: deleted {(conv_id, turn)} still served")
    return fails


def _serve_layers(srv, jobs, lat, ref, build, cdc) -> dict:
    spans = srv["spans"]

    def ms(name):
        return [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]

    def by_rid(name):
        out: dict = {}
        for s in spans:
            if s["name"] == name and s["rid"]:
                out[s["rid"]] = out.get(s["rid"], 0.0) + s["end"] - s["start"]
        return out

    on = [p for p in lat if p.traced]
    off = [p for p in lat if not p.traced]
    p_on = median(pct(p.lat, 50) for p in on)
    p_off = median(pct(p.lat, 50) for p in off)
    service = [x for p in on for x in p.service]
    handle, search_t = by_rid("http_api.handle"), by_rid("serving.local.search")
    client_total = sum(lat for rid, lat in service if rid in handle)
    handled = sum(handle[rid] for rid, _ in service if rid in handle)
    search = ms("serving.local.fast_search")
    out = {
        "functions.text.analyze_ms_p50": pct(ms("functions.text.analyze"), 50),
        "serving.local.prefetch_ms_p50": pct(ms("serving.local.prefetch"), 50),
        "serving.local.search_ms_p50": pct(search, 50),
        "serving.local.search_ms_p99": pct(search, tail_pct(len(search))),
        "serving.local.tokens_faulted": srv["tokens_faulted"],
        "serving.local.block_hit_ratio": max(
            0.0, 1.0 - srv["block_reads"] / max(1, srv["prefetch_tokens"])),
        "serving.local.refresh_s": cdc["refresh_s"],
        "serving.local.first_query_after_refresh_ms": cdc["first_ms"],
        "http_api.overhead_ms_p50": pct(
            [(lat - search_t[rid]) * 1e3 for rid, lat in service if rid in search_t], 50),
        "serve.generator_lag_ms_p99": pct(ref.lag, 99) * 1e3,
        "serve.backlog_max": ref.backlog_max,
        "index.incremental.apply_s_p50": cdc["apply_s"],
        "index.incremental.jobs_per_batch": median(
            r["jobs"] for r in jobs.of("index.incremental.apply_actions")),
        "index.incremental.touched_pbuckets": cdc["touched"],
        "index.incremental.write_amp": cdc["write_amp"],
        "trace.overhead_pct": (p_on - p_off) / p_off * 100.0 if p_off else 0.0,
        "trace.uncovered_share": 1.0 - handled / client_total if client_total else 0.0,
    }
    out.update(build_layer_metrics(build, jobs))
    return out
