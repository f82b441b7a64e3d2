"""Seeded input generators. The same seed gives the same inputs.

- ``corpus``: the program's own transcripts generator
  (``addok_spark.data.transcripts.transcripts_pdf``; every conversation
  is a pure function of ``(seed, conversation index)``).
- ``query_pool`` / ``query_stream``: the HTTP query mix. The kinds are
  those of ``reference_queries`` (exact, case, typo, prefix, common,
  not-found) plus phrase and ``role``/``tool`` filter; request ``i``
  has kind ``KINDS[i % 8]``, the same even cycle ``reference_queries``
  uses for its six, and draws its query Zipf-skewed from that kind's
  distinct queries.
- ``cdc_batch``: a change batch for ``apply_actions``: appended
  conversations plus edits and deletes of existing turns.
- ``ops_tables``: ``documents`` / ``events`` / ``embeddings`` parquet
  tables in the shape the pipeline registry reads.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd

KINDS = ("exact", "case", "typo", "prefix", "common", "notfound", "phrase",
         "filter")
# popularity skew of the query stream: the word-frequency exponent of
# the corpus generator (``zipf_a`` in addok_spark/data/transcripts.py)
SKEW = 1.3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def corpus(seed: int, n_conversations: int) -> pd.DataFrame:
    from addok_spark.data.transcripts import transcripts_pdf

    return transcripts_pdf(n_conversations, seed)


# -- queries -----------------------------------------------------------------

def query_pool(seed: int, docs: pd.DataFrame, n_reference: int) -> dict[str, list[dict]]:
    """Distinct ``/search`` parameter sets by kind. The six
    ``reference_queries`` kinds come from ``n_reference`` of its rows;
    phrase and filter are its exact queries with ``phrase=1`` or a
    seeded ``role``/``tool`` filter. Order within a kind is the
    popularity rank."""
    from addok_spark.data.transcripts import ROLES, TOOLS, reference_queries

    rng = _rng(seed, 3)
    ref = reference_queries(docs, n_reference, seed)
    pool: dict[str, list[dict]] = {k: [] for k in KINDS}
    seen: set[tuple] = set()

    def add(kind: str, params: dict) -> None:
        key = tuple(sorted(params.items()))
        if key not in seen:
            seen.add(key)
            pool[kind].append(params)

    for kind, q in zip(ref["kind"], ref["q"]):
        add(kind, {"q": q, "autocomplete": "1"} if kind == "prefix" else {"q": q})
        if kind == "exact":
            add("phrase", {"q": q, "phrase": "1"})
            if rng.random() < 0.5:
                add("filter", {"q": q, "role": str(ROLES[rng.integers(0, len(ROLES))])})
            else:
                add("filter", {"q": q, "tool": str(TOOLS[rng.integers(0, len(TOOLS))])})
    return pool


def query_stream(seed: int, pool: dict[str, list[dict]], n: int,
                 stream: int) -> list[tuple[str, int]]:
    """``n`` requests as (kind, index into ``pool[kind]``): request ``i``
    has kind ``KINDS[i % 8]``; the index is a Zipf(``SKEW``) draw over
    the kind's popularity ranks."""
    rng = _rng(seed, stream)
    kinds = [KINDS[i % len(KINDS)] for i in range(n)]
    picks: dict[str, list[int]] = {}
    for kind, count in Counter(kinds).items():
        w = 1.0 / np.arange(1, len(pool[kind]) + 1) ** SKEW
        picks[kind] = rng.choice(len(pool[kind]), size=count, p=w / w.sum()).tolist()
    return [(kind, picks[kind].pop()) for kind in kinds]


def params(pool: dict[str, list[dict]], draw: list[tuple[str, int]]) -> list[dict]:
    return [pool[kind][i] for kind, i in draw]


def stream_properties(draw: list[tuple[str, int]]) -> dict:
    """Repeat share and kind shares of a drawn stream."""
    n = max(1, len(draw))
    kinds = Counter(kind for kind, _ in draw)
    return {
        "requests": len(draw),
        "distinct": len(set(draw)),
        "repeat_share": round(1 - len(set(draw)) / n, 4),
        "kind_share": {k: round(v / n, 4) for k, v in sorted(kinds.items())},
    }


# -- CDC ---------------------------------------------------------------------

def _marker(seed: int, i: int) -> str:
    """A token no other document contains (letters only, so the
    analyzer keeps it whole)."""
    n = seed * 100_000 + i
    s = ""
    while True:
        n, r = divmod(n, 26)
        s = chr(97 + r) + s
        if n == 0:
            break
    return "cdcmk" + s


def cdc_batch(seed: int, base: pd.DataFrame, n_new_convs: int, n_edits: int,
              n_deletes: int) -> tuple[pd.DataFrame, dict]:
    """One change batch: ``n_new_convs`` appended conversations (the
    recent-keys pattern: the conversation indexes after the corpus's
    last one) plus ``n_edits`` edits and ``n_deletes`` deletes of
    existing turns.

    Every upserted turn carries a unique marker token. Returns the
    change frame (transcripts columns + ``_action``) and the
    expectation: marker → (conv_id, turn_idx) for upserts, and the
    deleted keys with their old text."""
    from addok_spark.data.transcripts import _gen_conversations, build_vocab

    rng = _rng(seed, 100)
    first = int(base["conv_id"].str[5:].astype(int).max()) + 1
    new = _gen_conversations(np.arange(first, first + n_new_convs), seed, build_vocab())
    edits_deletes = base.loc[
        rng.choice(len(base), size=n_edits + n_deletes, replace=False)].copy()
    edits = edits_deletes[:n_edits].copy()
    deletes = edits_deletes[n_edits:].copy()
    upserts: dict[str, tuple[str, int]] = {}
    for frame, suffix in ((new, ""), (edits, " edited")):
        texts = []
        for r in frame.itertuples():
            m = _marker(seed, len(upserts))
            upserts[m] = (r.conv_id, int(r.turn_idx))
            texts.append(f"{r.text}{suffix} {m}")
        frame["text"] = texts
    new["_action"] = "index"
    edits["_action"] = "index"
    deletes["_action"] = "delete"
    changes = pd.concat([new, edits, deletes], ignore_index=True)
    expect = {
        "upserts": upserts,
        "deletes": [
            (r.conv_id, int(r.turn_idx), r.text) for r in deletes.itertuples()
        ],
        "input_bytes": int(changes["text"].str.len().sum()),
        "appended_turns": int(len(new)),
        "edits": int(n_edits),
    }
    return changes, expect


# -- pipeline-registry tables ------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def ops_tables(seed: int, out: Path, n_docs: int = 500, n_events: int = 10_000,
               n_vecs: int = 500, dim: int = 64) -> None:
    """Write documents / events / embeddings parquet under ``out``."""
    rng = _rng(seed, 200)
    words = np.array(DOC_WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            src[j] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "zh", "es", "fr", "de"])
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)

    gaps = rng.exponential(26.0, n_events)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(2, n_events // 70), n_events).astype(np.int64),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
    })

    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    })
    out.mkdir(parents=True, exist_ok=True)
    for name, frame in (("documents", docs), ("events", events), ("embeddings", emb)):
        frame.to_parquet(out / f"{name}.parquet", index=False)
