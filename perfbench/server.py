"""Serving process for the ``serve_cdc`` workload.

Runs the program's HTTP API (``http_api.make_server``) over a warm
``LocalSearchEngine`` in its own process, as a deployment would.
Prints ``{"port": N}`` when it accepts requests, then takes one JSON
command per stdin line and answers with one JSON line on stdout:

- ``{"cmd": "refresh"}``: ``LocalSearchEngine.refresh()``; answers its seconds.
- ``{"cmd": "trace", "on": bool}``: start or stop recording spans.
- ``{"cmd": "dump", "path": P}``: write spans and layer counters to P.
- ``{"cmd": "quit"}`` or end of input: shut down.

With ``--trace 1`` the layer entry points are wrapped in spans from
outside: ``http_api._handle_search`` (which also takes the request id
from the ``rid`` parameter), ``LocalSearchEngine.search``,
``FastSearch.search``, ``ParquetIndex.prefetch_tokens`` and the
analyzer ``analyze_str``.

Usage: python3 perfbench/server.py --index DIR [--trace 0|1]
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import engine_config, require_program  # noqa: E402
from tracing import Tracer  # noqa: E402


def instrument(tracer: Tracer, counters: dict) -> None:
    from addok_spark import http_api
    from addok_spark.functions import text
    from addok_spark.oracle import bm25_oracle
    from addok_spark.serving import local

    handle = http_api._handle_search

    def traced_handle(engine, params, qlogs=None):
        tracer.rid = (params.get("rid") or [None])[0]
        try:
            with tracer.span("http_api.handle"):
                return handle(engine, params, qlogs)
        finally:
            tracer.rid = None

    http_api._handle_search = traced_handle

    analyze = tracer.wrap("functions.text.analyze", text.analyze_str)
    text.analyze_str = analyze
    bm25_oracle.analyze_str = analyze

    lse = local.LocalSearchEngine
    search = lse.search

    def traced_search(self, queries):
        with tracer.span("serving.local.search"):
            out = search(self, queries)
        if tracer.enabled:
            with counters["lock"]:
                for e in getattr(self, "last_trace", []):
                    counters["tokens_faulted"] += e.get("tokens_faulted", 0)
                    counters["queries"] += 1
        return out

    lse.search = traced_search
    local.FastSearch.search = tracer.wrap(
        "serving.local.fast_search", local.FastSearch.search)

    pi = local.ParquetIndex
    prefetch = pi.prefetch_tokens
    read = pi._read_token_blocks

    def traced_prefetch(self, tokens):
        tokens = list(tokens)
        if tracer.enabled:
            with counters["lock"]:
                counters["prefetch_tokens"] += len({t for t in tokens if t})
        with tracer.span("serving.local.prefetch"):
            return prefetch(self, tokens)

    def counted_read(self, token):
        if tracer.enabled:
            with counters["lock"]:
                counters["block_reads"] += 1
        return read(self, token)

    pi.prefetch_tokens = traced_prefetch
    pi._read_token_blocks = counted_read


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    require_program()
    from addok_spark.http_api import make_server
    from addok_spark.serving.local import LocalSearchEngine

    tracer = Tracer(False)
    counters = {"lock": threading.Lock(), "tokens_faulted": 0, "queries": 0,
                "prefetch_tokens": 0, "block_reads": 0}
    if args.trace:
        instrument(tracer, counters)
    engine = LocalSearchEngine(args.index, engine_config())
    srv = make_server(engine)
    srv.daemon_threads = True
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    print(json.dumps({"port": srv.server_address[1]}), flush=True)
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            reply: dict = {}
            if cmd["cmd"] == "refresh":
                t0 = time.perf_counter()
                engine.refresh()
                reply["refresh_s"] = time.perf_counter() - t0
            elif cmd["cmd"] == "trace":
                tracer.enabled = bool(cmd["on"])
            elif cmd["cmd"] == "dump":
                tracer.dump(Path(cmd["path"]), {
                    **{k: v for k, v in counters.items() if k != "lock"},
                    "self_s": tracer.self_times()})
            elif cmd["cmd"] == "quit":
                break
            print(json.dumps(reply), flush=True)
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=10)
    return 0


if __name__ == "__main__":
    sys.exit(main())
