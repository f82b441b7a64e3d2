"""Fresh index build shared by both workloads' set-up."""

from __future__ import annotations

import json
import time
from pathlib import Path

from common import index_bytes, median, tree_bytes

STAGES = ("analyzed", "docs", "blocks", "dict_partials", "dictionary",
          "prefixes", "pairs")


def build_fresh(spark, jobs, docs, cfg, index_dir: Path) -> dict:
    """``build_index`` of ``docs`` into an empty ``index_dir``; returns
    its rate, space amplification and the program's stage metrics."""
    import pyarrow.dataset as pads

    from addok_spark.data.transcripts import SCHEMA
    from addok_spark.index.build import build_index

    frame = spark.createDataFrame(docs, SCHEMA)
    t0 = time.perf_counter()
    with jobs.call("index.build.build_index"):
        paths = build_index(spark, frame, cfg, str(index_dir), resume=False)
    seconds = time.perf_counter() - t0
    meta = json.loads(Path(paths.meta).read_text())
    text_bytes = int(docs["text"].str.encode("utf-8").str.len().sum())
    postings = int(pads.dataset(str(paths.dictionary)).to_table(
        columns=["df"]).column("df").to_numpy().sum())
    return {
        "seconds": seconds,
        "turns": int(meta["n_docs"]),
        "turns_per_s": int(meta["n_docs"]) / seconds,
        "space_amp": index_bytes(index_dir) / text_bytes,
        "bytes_per_posting": tree_bytes(Path(paths.blocks)) / max(1, postings),
        "stages": meta.get("build_metrics", {}),
    }


def build_layer_metrics(build: dict, jobs) -> dict:
    stages = build["stages"]
    out = {f"index.build.{s}_s": float(stages.get(s, {}).get("seconds", 0.0))
           for s in STAGES}
    rec = jobs.of("index.build.build_index")
    out["index.build.untraced_s"] = build["seconds"] - sum(
        float(v.get("seconds", 0.0)) for v in stages.values())
    out["index.build.jobs"] = median(r["jobs"] for r in rec)
    out["index.build.shuffle_write_bytes"] = median(r["shuffle_write"] for r in rec)
    out["index.build.spill_bytes"] = median(r["spill"] for r in rec)
    out["index.compress.bytes_per_posting"] = build["bytes_per_posting"]
    return out
