"""Seeded input generator for the benchmark workloads.

The program under test only ever sees the parquet files written here.
Everything is a pure function of ``(workload, seed, sizes)``: the same
seed gives byte-identical tables and therefore the same content digest.

The tables mirror the schema and value distributions of the engine's
``events`` / ``documents`` / ``embeddings`` inputs:

* ``events`` — one base period of uniformly spread event times, users,
  five event types, exponential values (cents) and a small JSON
  ``props``; the period is laid out ``periods`` times back to back in
  time, each copy under its own random bijection of user ids, and the
  row order inside each drop file is a random permutation.
* ``documents`` — bag-of-words texts over a 30-word vocabulary, 5 % of
  them near-duplicates of an earlier document (``" dup"`` appended, a
  fifth of those exact copies), language and source labels; row order
  permuted.
* ``embeddings`` — unit-norm 64-d float32 vectors with a weak per-label
  offset; row order permuted.

``events`` is written as a directory of time-ordered parquet drops, one
file per live micro-batch, with increasing modification times: the batch
reader sees the whole table, the file-stream reader one drop per batch.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: input sizes per workload; ``TINY`` is the self-test's scale
SIZES = {
    "events_per_period": 5_000, "periods": 2, "users": 150,
    "days_per_period": 30, "drops": 2, "documents": 500,
    "embeddings": 500,
}
TINY = {
    "events_per_period": 500, "periods": 2, "users": 15,
    "days_per_period": 30, "drops": 2, "documents": 200,
    "embeddings": 200,
}

#: which tables each workload reads
TABLES = {
    "cep_replay": ("events",),
    "corpus_curation": ("documents", "embeddings"),
}

_TABLE_IDS = {"events": 0, "documents": 1, "embeddings": 2}
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def events(rng: np.random.Generator, n: int, users: int, periods: int,
           days: int) -> pa.Table:
    ts = np.sort(rng.integers(0, days * _DAY_US, n)) + _T0_US
    user = rng.integers(0, users, n)
    etype = _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n)
                                    .astype(str)), "}")
    cols = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
            "value": [], "props": []}
    for p in range(periods):
        cols["event_id"].append(np.arange(n, dtype=np.int64) + p * n)
        cols["ts"].append(ts + p * days * _DAY_US)
        cols["user_id"].append(rng.permutation(users)[user].astype(np.int64))
        cols["event_type"].append(etype)
        cols["value"].append(value)
        cols["props"].append(props)
    order = rng.permutation(n * periods)
    merged = {k: np.concatenate(v)[order] for k, v in cols.items()}
    return pa.table({
        "event_id": pa.array(merged["event_id"], pa.int64()),
        "ts": pa.array(merged["ts"], pa.timestamp("us")),
        "user_id": pa.array(merged["user_id"], pa.int64()),
        "event_type": pa.array(merged["event_type"], pa.string()),
        "value": pa.array(merged["value"], pa.float64()),
        "props": pa.array(merged["props"], pa.string()),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.2 else src + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in
                                  rng.integers(0, len(_VOCAB), k)))
    lang = _LANGS[rng.choice(len(_LANGS), n, p=[.44, .14, .14, .14, .14])]
    source = np.char.add("src", rng.integers(0, 20, n).astype(str))
    order = rng.permutation(n)
    return pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array(lang[order], pa.string()),
        "source": pa.array(source[order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    x = rng.normal(scale=dim ** -0.5, size=(n, dim)) + 0.07 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    order = rng.permutation(n)
    return pa.table({
        "vec_id": pa.array(order, pa.int64()),
        "embedding": pa.array(list(x[order]), pa.list_(pa.float32())),
        "label": pa.array(label[order], pa.int32()),
    })


def build(workload: str, seed: int, sizes: dict | None = None
          ) -> dict[str, pa.Table]:
    """The workload's tables, in memory."""
    s = {**SIZES, **(sizes or {})}
    out = {}
    for name in TABLES[workload]:
        # one random stream per table
        rng = np.random.default_rng([seed, _TABLE_IDS[name]])
        if name == "events":
            out[name] = events(rng, s["events_per_period"], s["users"],
                               s["periods"], s["days_per_period"])
        elif name == "documents":
            out[name] = documents(rng, s["documents"])
        else:
            out[name] = embeddings(rng, s["embeddings"])
    return out


def digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the tables' Arrow IPC encoding, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write(workload: str, seed: int, out_dir: str,
          sizes: dict | None = None) -> dict:
    """Write the workload's inputs under ``out_dir`` in the layout
    ``sources.batch`` reads: ``<table>.parquet`` per table, where
    ``events.parquet`` is a directory of ``drop-NNN.parquet`` files.
    Returns the row counts and the content digest."""
    s = {**SIZES, **(sizes or {})}
    tables = build(workload, seed, s)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name != "events":
            pq.write_table(tbl, path)
            continue
        os.makedirs(path)
        ts = tbl.column("ts").cast(pa.int64()).to_numpy()
        cuts = np.quantile(ts, np.linspace(0, 1, s["drops"] + 1)[1:-1])
        drop = np.searchsorted(cuts, ts, side="right")
        for i in range(s["drops"]):
            f = os.path.join(path, f"drop-{i:03d}.parquet")
            pq.write_table(tbl.filter(pa.array(drop == i)), f)
            # the file source picks drops in modification-time order
            os.utime(f, (1_700_000_000 + i,) * 2)
    return {"rows": {k: v.num_rows for k, v in tables.items()},
            "digest": digest(tables)}
