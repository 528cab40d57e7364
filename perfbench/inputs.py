"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the seed (a numpy ``Generator``) and
is written with pyarrow, so making inputs runs no Spark job: it never
shows up in the engine's counters, and the program under test only
ever sees the generated files.

The WAL follows the shape of ``sources/generator.py``: inserts first,
then zipf-skewed updates and deletes, a share of out-of-order event
times, exact duplicate deliveries and dirty text (NUL bytes, NFD and
NFC spellings of the same word).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2025-01-01T00:00:00Z, the first event time of every base WAL
BASE_TS = 1_735_689_600

WAL_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("op", pa.string()),
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

WORDS = [
    "the", "model", "agent", "tool", "call", "search", "result", "用户",
    "query", "spark", "merge", "turn", "context", "answer", "code",
    "naïve", "data", "plan", "token", "stream", "épée", "check", "state",
    "reply", "index", "table", "lake", "epoch", "commit", "shuffle",
    "bucket", "window", "rollup", "daily", "weekly", "band", "hash",
    "vector", "scan", "probe",
]
_ROLES = np.array(["user", "assistant", "user", "assistant", "user",
                   "assistant", "tool", "assistant", "system", "user"],
                  dtype=object)
_TOOLS = np.array(["search", "python", "browser", "editor"], dtype=object)

DELETE_FRAC = 0.15
OUT_OF_ORDER_FRAC = 0.20
DUPLICATE_FRAC = 0.03


def _sentences(rng: np.random.Generator, n: int) -> np.ndarray:
    """A pool of ``n`` random sentences. Turns draw their text from the
    pool, so conversations share sentences and the near-duplicate
    index has real candidates."""
    lens = rng.integers(5, 26, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[at:at + k]))
        at += k
    return np.array(out, dtype=object)


@dataclass
class Corpus:
    """The conversations of one WAL: ids ``0..n-1`` and their turn
    counts, fixed by the seed."""

    seed: int
    n_convs: int
    n_turns: np.ndarray
    pool: np.ndarray

    @classmethod
    def make(cls, seed: int, n_convs: int) -> "Corpus":
        rng = np.random.default_rng([seed, 1])
        n_turns = 2 + rng.integers(0, 6, n_convs)
        tail = rng.random(n_convs) < 0.08
        n_turns[tail] += rng.integers(0, 60, int(tail.sum()))
        n_turns[: max(1, n_convs // 1000)] += 200  # hot conversations
        return cls(seed, n_convs, n_turns, _sentences(rng, 4096))


def _events(rng: np.random.Generator, corpus: Corpus, conv: np.ndarray,
            turn: np.ndarray, ops: np.ndarray, seq0: int,
            ts0: int) -> pa.Table:
    """Stamp events with ``seq = seq0..``, event time ``ts0 + (seq -
    seq0)`` seconds with a share of updates pulled earlier (never
    before ``ts0``), payload and duplicate deliveries."""
    n = len(conv)
    seq = seq0 + np.arange(n, dtype=np.int64)
    ts = ts0 + (seq - seq0)
    late = (ops != "I") & (rng.random(n) < OUT_OF_ORDER_FRAC)
    shift = rng.integers(0, 500_000, n)
    ts = np.where(late, np.maximum(ts0, ts - shift), ts)
    role = _ROLES[rng.integers(0, len(_ROLES), n)]
    tool = np.where(role == "tool", _TOOLS[rng.integers(0, 4, n)], None)
    text = corpus.pool[rng.integers(0, len(corpus.pool), n)]
    dirt = rng.random(n)
    text = np.where(dirt < 0.04, text + "\x00tail", text)
    text = np.where((dirt >= 0.04) & (dirt < 0.08), text + " cafe\u0301",
                    text)
    text = np.where((dirt >= 0.08) & (dirt < 0.12), text + " caf\u00e9",
                    text)
    dup = np.flatnonzero(rng.random(n) < DUPLICATE_FRAC)
    idx = np.sort(np.concatenate([np.arange(n), dup]), kind="stable")
    return pa.table({
        "seq": pa.array(seq[idx]),
        "op": pa.array(ops[idx].tolist(), pa.string()),
        "conv_id": pa.array([f"conv_{c:08d}" for c in conv[idx]]),
        "turn_idx": pa.array(turn[idx].astype(np.int32)),
        "role": pa.array(role[idx].tolist(), pa.string()),
        "text": pa.array(text[idx].tolist(), pa.string()),
        "tool": pa.array(tool[idx].tolist(), pa.string()),
        "ts": pa.array(ts[idx] * 1_000_000, pa.timestamp("us", tz="UTC")),
    }, schema=WAL_SCHEMA)


def _mutation_ops(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.where(rng.random(n) < DELETE_FRAC, "D", "U").astype(object)


def base_wal(corpus: Corpus, mutations_per_conv: float) -> pa.Table:
    """Inserts for every turn of every conversation, then
    ``mutations_per_conv`` zipf-skewed updates/deletes per conversation
    on average (``u**2.5`` concentrates them on low conv ids)."""
    rng = np.random.default_rng([corpus.seed, 2])
    ins_conv = np.repeat(np.arange(corpus.n_convs), corpus.n_turns)
    starts = np.cumsum(corpus.n_turns) - corpus.n_turns
    ins_turn = np.arange(len(ins_conv)) - np.repeat(starts, corpus.n_turns)
    m = int(corpus.n_convs * mutations_per_conv)
    mut_conv = np.minimum(
        (corpus.n_convs * rng.random(m) ** 2.5).astype(np.int64),
        corpus.n_convs - 1)
    mut_turn = (rng.random(m) * corpus.n_turns[mut_conv]).astype(np.int64)
    conv = np.concatenate([ins_conv, mut_conv])
    turn = np.concatenate([ins_turn, mut_turn])
    ops = np.concatenate([np.full(len(ins_conv), "I", dtype=object),
                          _mutation_ops(rng, m)])
    return _events(rng, corpus, conv, turn, ops, 0, BASE_TS)


def landing_wal(corpus: Corpus, i: int, dirty_frac: float,
                mutations_per_conv: int, seq0: int, ts0: int) -> pa.Table:
    """Landing ``i`` of the tail: ``mutations_per_conv`` updates/deletes
    on each of ``dirty_frac`` of the conversations, picked uniformly
    over the whole corpus. ``seq0``/``ts0`` must lie past everything
    landed before, so every event of the landing wins LWW against the
    rows already in the table."""
    rng = np.random.default_rng([corpus.seed, 3, i])
    k = max(1, round(corpus.n_convs * dirty_frac))
    dirty = rng.choice(corpus.n_convs, k, replace=False)
    conv = np.repeat(dirty, mutations_per_conv)
    turn = (rng.random(len(conv)) * corpus.n_turns[conv]).astype(np.int64)
    return _events(rng, corpus, conv, turn,
                   _mutation_ops(rng, len(conv)), seq0, ts0)


def split_by_seq(table: pa.Table, n_files: int) -> list[pa.Table]:
    """Seq-ranged chunks, the way the engine's generator lays a WAL
    out, so a file source consumes them as ordered microbatches."""
    table = table.sort_by("seq")
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def publish(table: pa.Table, staging: str, log_dir: str, name: str,
            mtime: float | None = None) -> str:
    """Write ``table`` beside the log dir, then rename it in atomically:
    a file source never sees a half-written file."""
    os.makedirs(staging, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    dst = os.path.join(log_dir, name)
    os.replace(tmp, dst)
    return dst


# ------------------------------------------------------------ catalog

#: rows per catalog table; ``documents`` and ``embeddings`` follow the
#: shapes of the catalog's fixture tables
CATALOG_ROWS = {"events": 100_000, "orders": 150_000, "customer": 15_000,
                "documents": 5_000, "embeddings": 2_000}


def catalog_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The source tables the headline catalog queries read besides the
    transcript changelog: events, orders, customer, nation, documents
    and embeddings, with the column names and types of the catalog's
    fixture tables."""
    rng = np.random.default_rng([seed, 4])
    n = {k: max(50, int(v * scale)) for k, v in CATALOG_ROWS.items()}
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000

    ne = n["events"]
    ev_ts = t0 + np.sort(rng.integers(0, month_us, ne)).astype(
        "timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne).astype(np.int64)),
        "event_type": pa.array(np.array(
            ["view", "click", "purchase", "signup", "error"],
            dtype=object)[rng.integers(0, 5, ne)].tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)]),
    })

    nc, no = n["customer"], n["orders"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], dtype=object)[rng.integers(0, 5, nc)].tolist()),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[
            rng.integers(0, 3, no)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, no), 2)),
        "o_orderdate": pa.array(
            np.datetime64("1992-01-01", "us")
            + (rng.integers(0, 2400, no) * 86_400_000_000).astype(
                "timedelta64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            dtype=object)[rng.integers(0, 5, no)].tolist()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    nd = n["documents"]
    pool = _sentences(rng, nd)
    text = pool[rng.integers(0, nd, nd)]  # repeats: exact duplicates
    dirt = rng.random(nd)
    text = np.where(dirt < 0.05, text + " cafe\u0301", text)
    text = np.where((dirt >= 0.05) & (dirt < 0.10), text + " caf\u00e9",
                    text)
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(text.tolist(), pa.string()),
        "lang": pa.array(np.array(["en", "en", "zh", "es", "fr", "de"],
                                  dtype=object)[
            rng.integers(0, 6, nd)].tolist()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in text],
                                     dtype=np.int64)),
    })

    nv = n["embeddings"]
    centers = rng.normal(size=(8, 64))
    label = rng.integers(0, 8, nv)
    vec = centers[label] + rng.normal(scale=2.0, size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return {"events": events, "orders": orders, "customer": customer,
            "nation": nation, "documents": documents,
            "embeddings": embeddings}
