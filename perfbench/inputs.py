"""Seeded inputs for the benchmark workloads.

Every input the program reads is written here, from the base tables in
``perfbench/data`` and a seed: the same seed writes the same bytes. The
base tables are copies of the repository's synthetic star schema (ten
tables, see ``pitlapetl_spark.sources.SCHEMAS``).

Snapshots change only non-key columns, never keys or the columns the job
queries filter or group on, so every key present in one snapshot is
present in the next. A keyed MERGE then updates rows in place and the
warehouse must equal the job query on the last snapshot.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def base_dir(scale: str) -> str:
    return os.path.join(DATA_DIR, scale)


def _read(d: str, t: str) -> pa.Table:
    return pq.read_table(os.path.join(d, f"{t}.parquet"))


def _write(tbl: pa.Table, d: str, t: str) -> None:
    pq.write_table(tbl, os.path.join(d, f"{t}.parquet"))


def _set(tbl: pa.Table, name: str, values: np.ndarray) -> pa.Table:
    i = tbl.schema.get_field_index(name)
    return tbl.set_column(i, tbl.schema.field(i), pa.array(values, tbl.schema.field(i).type))


def _rescaled(values: np.ndarray, mask: np.ndarray, rng, spread: float) -> np.ndarray:
    out = values.copy()
    out[mask] = np.round(values[mask] * rng.uniform(1 - spread, 1 + spread, mask.sum()), 2)
    return out


def changed_snapshot(src: str, dst: str, rng: np.random.Generator, share: float) -> None:
    """Copy the snapshot at ``src`` to ``dst`` with ``share`` of the rows
    of every fact table changed: prices, the part a line item points
    at, event values, one word of a document, a small nudge to an
    embedding."""
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))

    orders = _read(src, "orders")
    price = orders.column("o_totalprice").to_numpy()
    _write(_set(orders, "o_totalprice", _rescaled(price, rng.random(len(price)) < share, rng, 0.1)),
           dst, "orders")

    li = _read(src, "lineitem")
    price = li.column("l_extendedprice").to_numpy()
    li = _set(li, "l_extendedprice", _rescaled(price, rng.random(len(price)) < share, rng, 0.1))
    # a line re-pointed at another part moves the co-purchase graph, so
    # a frame memoized on one snapshot differs from the next snapshot's
    part = li.column("l_partkey").to_numpy().copy()
    moved = rng.random(len(part)) < share
    part[moved] = rng.choice(_read(src, "part").column("p_partkey").to_numpy(), moved.sum())
    _write(_set(li, "l_partkey", part), dst, "lineitem")

    ev = _read(src, "events")
    value = ev.column("value").to_numpy()
    new = _rescaled(value, rng.random(len(value)) < share, rng, 0.05)
    # job_practice_laps keeps laps under 300 s: a value may not cross it,
    # or a driver could lose every lap and its warehouse key
    new = np.where((new < 300) == (value < 300), new, value)
    _write(_set(ev, "value", new), dst, "events")

    docs = _read(src, "documents")
    texts = docs.column("text").to_pylist()
    vocab = sorted({w for t in texts for w in t.split()})
    for i in np.flatnonzero(rng.random(len(texts)) < share):
        words = texts[i].split()
        words[rng.integers(len(words))] = vocab[rng.integers(len(vocab))]
        texts[i] = " ".join(words)
    docs = _set(docs, "text", np.array(texts, dtype=object))
    _write(_set(docs, "n_chars", np.array([len(t) for t in texts])), dst, "documents")

    emb = _read(src, "embeddings")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    mask = rng.random(len(vecs)) < share
    vecs[mask] += rng.normal(0.0, 0.01, (mask.sum(), vecs.shape[1])).astype(np.float32)
    col = pa.array(list(vecs), emb.schema.field("embedding").type)
    _write(emb.set_column(emb.schema.get_field_index("embedding"), "embedding", col),
           dst, "embeddings")


def snapshot_chain(scale: str, root: str, seed: int, count: int, share: float) -> list[str]:
    """``count`` snapshots, each ``share`` changed from the one before;
    the first is changed from the base tables."""
    dirs, src = [], base_dir(scale)
    for k in range(count):
        dst = os.path.join(root, f"snap{k}")
        changed_snapshot(src, dst, np.random.default_rng([seed, k]), share)
        dirs.append(dst)
        src = dst
    return dirs


def crawl_backlog(
    scale: str, incoming: str, seed: int, n_files: int, docs_per_file: int, dup_share: float
) -> dict:
    """Land ``n_files`` document files of ``docs_per_file`` rows each.

    Fresh texts draw their words and lengths from the base documents.
    In every file after the first, ``dup_share`` of the rows re-emit an
    earlier fresh document under a new ``doc_id``: half verbatim (exact
    duplicates) and half with two words prepended (near duplicates).
    File modification times follow file order, so with
    ``maxFilesPerTrigger=1`` micro-batch ``i`` reads file ``i``.
    Returns the landed doc count, landed bytes, the ids of the exact
    duplicates and the doc ids of each file."""
    rng = np.random.default_rng([seed, 1_000_003])
    base_tbl = _read(base_dir(scale), "documents")
    base = base_tbl.to_pylist()
    vocab = sorted({w for r in base for w in r["text"].split()})
    lengths = [len(r["text"].split()) for r in base]
    os.makedirs(incoming, exist_ok=True)
    fresh: list[str] = []
    exact: set[int] = set()
    file_ids: list[list[int]] = []
    landed_bytes, next_id = 0, 0
    for f in range(n_files):
        rows = []
        n_dup = int(round(dup_share * docs_per_file)) if f else 0
        kinds = ["fresh"] * (docs_per_file - n_dup) + ["exact", "near"] * (n_dup // 2)
        kinds += ["exact"] * (n_dup % 2)
        for kind in (kinds[i] for i in rng.permutation(len(kinds))):
            meta = base[rng.integers(len(base))]
            if kind == "fresh":
                text = " ".join(vocab[i] for i in rng.integers(len(vocab), size=lengths[rng.integers(len(lengths))]))
                fresh.append(text)
            else:
                text = fresh[rng.integers(len(fresh))]
                if kind == "exact":
                    exact.add(next_id)
                else:
                    text = f"{vocab[rng.integers(len(vocab))]} {vocab[rng.integers(len(vocab))]} {text}"
            rows.append({"doc_id": next_id, "text": text, "lang": meta["lang"],
                         "source": meta["source"], "n_chars": len(text)})
            next_id += 1
        path = os.path.join(incoming, f"part-{f:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=base_tbl.schema), path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        landed_bytes += os.path.getsize(path)
        file_ids.append([r["doc_id"] for r in rows])
    return {"docs": next_id, "bytes": landed_bytes, "exact_dups": exact, "file_ids": file_ids}
