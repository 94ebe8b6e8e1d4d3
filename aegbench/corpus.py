"""Seeded input corpora for the benchmark workloads.

Every corpus is a pure function of (workload, seed, generator source): the
same triple gives the same bytes, and corpora are cached in the
benchmark's work directory keyed by all three, so a rerun never
regenerates and a changed generator never reuses a stale corpus.

- ``snapshot``: a multi-generation, replicated Cassandra 2.x (``jb``)
  SSTable corpus written with ``aegisthus_spark.sstable.writer``, plus
  the generator's own cell list (``cells.parquet``) that the oracle reads.
- ``churn``: a cell-parquet base snapshot plus balanced churn batches for
  the incremental merge.
- ``tables``: the ``tools/make_sf1.py`` parquet tables, seeded.

Timestamps of distinct writes are unique across the whole corpus, so
last-write-wins never meets a tie and the oracle needs no tie rule.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
from dataclasses import dataclass

import numpy as np

from aegisthus_spark.sstable.writer import serialize_atom, serialize_row

LONG_MIN = -(1 << 63)
BASE_TS = 1_600_000_000_000_000
KINDS = np.array(["c", "d", "e", "x"])
KIND_P = [0.70, 0.10, 0.12, 0.08]


@dataclass(frozen=True)
class SnapshotShape:
    """Size knobs of the SSTable corpus. Generation 0 is the big, older
    table every partition is in; later generations are smaller flushes
    of updates, as size-tiered compaction leaves them."""

    keys: int = 8_000
    names: int = 24  # column-name universe per partition
    base_writes: int = 8  # names per partition in generation 0
    writes: int = 4  # names per touched partition in later generations
    generations: int = 4
    replicas: int = 3
    key_share: float = 0.25  # partitions a later generation touches
    replica_keep: float = 0.9  # share of writes each replica received
    row_delete_share: float = 0.02
    range_delete_share: float = 0.03


def generator_hash() -> str:
    """Hash of this module's source: part of every cache key."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def cache_dir(root: str, workload: str, seed: int, extra: str = "") -> str:
    tag = hashlib.sha256(f"{workload}|{seed}|{extra}|{generator_hash()}".encode()).hexdigest()[:16]
    return os.path.join(root, f"{workload}-{seed}-{tag}")


def cached(path: str, build) -> dict:
    """Build into a temp dir and rename on success, so a crash never
    leaves a half-written corpus that later runs would trust."""
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return info


def _unique_ts(rng: np.random.Generator, gen_of: np.ndarray) -> np.ndarray:
    """One distinct timestamp per event, newer generations mostly later
    but overlapping (late writes), as replicas and hints produce."""
    raw = gen_of + rng.uniform(0.0, 1.6, len(gen_of))
    rank = np.empty(len(raw), dtype=np.int64)
    rank[np.argsort(raw, kind="stable")] = np.arange(len(raw), dtype=np.int64)
    return BASE_TS + rank * 7


def _key(i: int) -> bytes:
    return b"k%07d" % i


def _name(j: int) -> bytes:
    return b"col%03d" % j


_NAMES = [_name(j) for j in range(1000)]


def logical_events(seed: int, shape: SnapshotShape) -> dict:
    """All logical writes of the corpus (before replication), as arrays."""
    rng = np.random.default_rng(seed)
    cg, ck, cn, rg, rk, tg, tk, tlo, thi = ([] for _ in range(9))
    for g in range(shape.generations):
        share, writes = (1.0, shape.base_writes) if g == 0 else (shape.key_share, shape.writes)
        keys = np.flatnonzero(rng.random(shape.keys) < share)
        order = rng.random((len(keys), shape.names)).argsort(axis=1)[:, :writes]
        cg.append(np.full(order.size, g))
        ck.append(np.repeat(keys, writes))
        cn.append(order.ravel())
        rdel = np.flatnonzero(rng.random(shape.keys) < shape.row_delete_share)
        rg.append(np.full(len(rdel), g))
        rk.append(rdel)
        rts = np.flatnonzero(rng.random(shape.keys) < shape.range_delete_share)
        lo = rng.integers(0, shape.names, len(rts))
        hi = np.minimum(lo + rng.integers(0, 6, len(rts)), shape.names - 1)
        tg.append(np.full(len(rts), g))
        tk.append(rts)
        tlo.append(lo)
        thi.append(hi)
    cell_gen, row_gen, rt_gen = (np.concatenate(x) for x in (cg, rg, tg))
    n_c, n_r = len(cell_gen), len(row_gen)
    ts = _unique_ts(rng, np.concatenate([cell_gen, row_gen, rt_gen]).astype(np.float64))
    kind = KINDS[rng.choice(4, n_c, p=KIND_P)]
    return {
        "cell_gen": cell_gen, "cell_key": np.concatenate(ck), "cell_name": np.concatenate(cn),
        "cell_kind": kind, "cell_ts": ts[:n_c],
        "cell_vlen": rng.integers(8, 40, n_c), "cell_voff": rng.integers(0, 1 << 16, n_c),
        "cell_ttl": rng.integers(60, 86_400, n_c),
        "row_gen": row_gen, "row_key": np.concatenate(rk), "row_ts": ts[n_c : n_c + n_r],
        "rt_gen": rt_gen, "rt_key": np.concatenate(tk), "rt_lo": np.concatenate(tlo),
        "rt_hi": np.concatenate(thi), "rt_ts": ts[n_c + n_r :],
        "pool": rng.bytes((1 << 16) + 64),
        "keep_c": rng.random((shape.replicas, n_c)) < shape.replica_keep,
        "keep_r": rng.random((shape.replicas, n_r)) < shape.replica_keep,
        "keep_t": rng.random((shape.replicas, len(rt_gen))) < shape.replica_keep,
    }


def _atoms(ev: dict) -> tuple[list[bytes], list[bytes]]:
    """On-disk atom bytes of every logical cell and range tombstone,
    serialized once by the repo's writer and shared by all replicas."""
    pool = ev["pool"]
    cells = []
    for name, kind, ts, off, vlen, ttl in zip(
        ev["cell_name"].tolist(), ev["cell_kind"].tolist(), ev["cell_ts"].tolist(),
        ev["cell_voff"].tolist(), ev["cell_vlen"].tolist(), ev["cell_ttl"].tolist(),
    ):
        rec = {"name": _NAMES[name], "value": pool[off : off + vlen], "ts": ts, "kind": kind,
               "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}
        if kind == "d":
            rec["value"] = struct.pack(">i", ts // 1_000_000)
        elif kind == "e":
            rec["ttl"] = ttl
            rec["local_deletion_time"] = ts // 1_000_000 + ttl
        elif kind == "x":
            rec["ts_of_last_delete"] = LONG_MIN
        cells.append(serialize_atom(rec))
    rts = [
        serialize_atom({"name": _NAMES[lo], "cell_name_max": _NAMES[hi], "value": None,
                        "ts": ts, "kind": "t", "local_deletion_time": ts // 1_000_000})
        for lo, hi, ts in zip(ev["rt_lo"].tolist(), ev["rt_hi"].tolist(), ev["rt_ts"].tolist())
    ]
    return cells, rts


def _cell_values(ev: dict) -> list[bytes]:
    pool = ev["pool"]
    return [
        struct.pack(">i", ts // 1_000_000) if kind == "d" else pool[off : off + vlen]
        for kind, ts, off, vlen in zip(
            ev["cell_kind"].tolist(), ev["cell_ts"].tolist(),
            ev["cell_voff"].tolist(), ev["cell_vlen"].tolist(),
        )
    ]


def write_snapshot_corpus(out: str, seed: int, shape: SnapshotShape) -> dict:
    """Write one ``jb`` Data.db + Index.db per (replica, generation) and
    the generator's cell list the oracle reads; returns the manifest.

    ``cells.parquet`` holds every logical write once with the number of
    replicas that received it; ``rows.parquet`` and ``ranges.parquet``
    hold the row and range tombstones the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = logical_events(seed, shape)
    cell_atoms, rt_atoms = _atoms(ev)
    files, sizes, n_records = [], [], 0
    for r in range(shape.replicas):
        for g in range(shape.generations):
            ci = np.flatnonzero((ev["cell_gen"] == g) & ev["keep_c"][r])
            ti = np.flatnonzero((ev["rt_gen"] == g) & ev["keep_t"][r])
            ri = np.flatnonzero((ev["row_gen"] == g) & ev["keep_r"][r])
            # one entry per atom: (key, name, RT-before-cell, atom index)
            ent_key = np.concatenate([ev["rt_key"][ti], ev["cell_key"][ci]])
            ent_name = np.concatenate([ev["rt_lo"][ti], ev["cell_name"][ci]])
            ent_ord = np.concatenate([np.zeros(len(ti), int), np.ones(len(ci), int)])
            ent_idx = np.concatenate([ti, ci])
            order = np.lexsort((ent_ord, ent_name, ent_key))
            deleted = dict(zip(ev["row_key"][ri].tolist(), ev["row_ts"][ri].tolist()))
            by_key: dict[int, list[bytes]] = {k: [] for k in deleted}
            for k, is_cell, i in zip(ent_key[order].tolist(), ent_ord[order].tolist(),
                                     ent_idx[order].tolist()):
                by_key.setdefault(k, []).append(cell_atoms[i] if is_cell else rt_atoms[i])
            gen_no = r * shape.generations + g + 1
            d = os.path.join(out, "sstables", f"replica{r}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"ks-cf-jb-{gen_no}-Data.db")
            index, pos = [], 0
            with open(path, "wb") as f:
                for k in sorted(by_key):
                    key, atoms = _key(k), by_key[k]
                    # an atom-less row carries the header and END_OF_ROW
                    # marker the writer frames; the atoms go in between
                    frame = serialize_row(key, deleted.get(k, LONG_MIN), [], version="jb")
                    blob = frame[:-2] + b"".join(atoms) + frame[-2:]
                    index.append(struct.pack(">H", len(key)) + key + struct.pack(">qi", pos, 0))
                    f.write(blob)
                    pos += len(blob)
                    n_records += max(1, len(atoms))
            with open(path.replace("-Data.db", "-Index.db"), "wb") as f:
                f.write(b"".join(index))
            files.append(os.path.relpath(path, out))
            sizes.append(pos)

    def keys(a):
        return pa.array([_key(k) for k in a.tolist()], pa.binary())

    def names(a):
        return pa.array([_NAMES[j] for j in a.tolist()], pa.binary())

    kind = ev["cell_kind"]
    ldt = (ev["cell_ts"] // 1_000_000).astype(np.int64)
    pq.write_table(pa.table({
        "key": keys(ev["cell_key"]), "name": names(ev["cell_name"]),
        "value": pa.array(_cell_values(ev), pa.binary()),
        "kind": pa.array(kind), "ts": pa.array(ev["cell_ts"]),
        "ttl": pa.array(np.where(kind == "e", ev["cell_ttl"], 0), mask=kind != "e", type=pa.int32()),
        "ldt": pa.array(ldt + ev["cell_ttl"], mask=kind != "e", type=pa.int64()),
        "tsld": pa.array(np.full(len(kind), LONG_MIN), mask=kind != "x"),
        "replicas": pa.array(ev["keep_c"].sum(axis=0).astype(np.int32)),
    }), os.path.join(out, "cells.parquet"))
    pq.write_table(pa.table({
        "key": keys(ev["row_key"]), "ts": pa.array(ev["row_ts"]),
        "replicas": pa.array(ev["keep_r"].sum(axis=0).astype(np.int32)),
    }), os.path.join(out, "rows.parquet"))
    pq.write_table(pa.table({
        "key": keys(ev["rt_key"]), "lo": names(ev["rt_lo"]), "hi": names(ev["rt_hi"]),
        "ts": pa.array(ev["rt_ts"]),
        "replicas": pa.array(ev["keep_t"].sum(axis=0).astype(np.int32)),
    }), os.path.join(out, "ranges.parquet"))
    return {
        "kind": "snapshot", "seed": seed, "shape": shape.__dict__, "files": files,
        "file_bytes": sizes, "input_cells": n_records, "data_bytes": sum(sizes),
        "logical_writes": int(len(ev["cell_gen"])),
    }


@dataclass(frozen=True)
class ChurnShape:
    """Size knobs of the incremental-merge corpus."""

    keys: int = 10_000
    names: int = 16
    base_writes: int = 10  # names per key in the base snapshot
    batches: int = 8  # one per pass of the longest run, traced runs included
    batch_keys: float = 0.03  # share of keys a batch touches
    batch_writes: int = 4
    row_delete_share: float = 0.002
    range_delete_share: float = 0.002


def _cells_table(key, kind, name, name_max, value, ts, ttl, row_deleted_at, source: str):
    """Arrow table in the engine's canonical cell layout (CELLS_DDL)."""
    import pyarrow as pa

    n = len(key)
    is_e = kind == "e"
    return pa.table({
        "source_path": pa.array([source] * n, pa.string()),
        "generation": pa.array(np.zeros(n, np.int32)),
        "partition_key": pa.array([_key(k) for k in key.tolist()], pa.binary()),
        "row_deleted_at": pa.array(row_deleted_at, type=pa.int64()),
        "kind": pa.array(kind.tolist(), pa.string()),
        "cell_name": pa.array([None if j < 0 else _NAMES[j] for j in name.tolist()], pa.binary()),
        "cell_name_max": pa.array([None if j < 0 else _NAMES[j] for j in name_max.tolist()],
                                  pa.binary()),
        "value": pa.array(value, pa.binary()),
        "ts": pa.array(ts, type=pa.int64()),
        "ttl": pa.array(np.where(is_e, ttl, 0).astype(np.int32), mask=~is_e),
        "local_deletion_time": pa.array((ts // 1_000_000 + ttl).astype(np.int32), mask=~is_e),
        "ts_of_last_delete": pa.array(np.full(n, LONG_MIN), mask=kind != "x"),
    })


def write_churn_corpus(out: str, seed: int, shape: ChurnShape) -> dict:
    """A base snapshot's cells plus ``batches`` churn batches, each a cell
    parquet file. Batches overwrite names the base already holds (cells,
    cell tombstones, TTL and counter cells), delete a few rows and name
    ranges, so the snapshot neither grows nor shrinks across merges."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    parts = []  # (batch, key, name, kind, name_max, is_row)
    base_keys = np.repeat(np.arange(shape.keys), shape.base_writes)
    base_names = rng.random((shape.keys, shape.names)).argsort(axis=1)[:, : shape.base_writes]
    parts.append((0, base_keys, base_names.ravel()))
    for b in range(1, shape.batches + 1):
        keys = np.flatnonzero(rng.random(shape.keys) < shape.batch_keys)
        names = rng.random((len(keys), shape.names)).argsort(axis=1)[:, : shape.batch_writes]
        parts.append((b, np.repeat(keys, shape.batch_writes), names.ravel()))
    batch_of = np.concatenate([np.full(len(k), b) for b, k, _ in parts])
    n_cells = len(batch_of)
    row_keys = [np.flatnonzero(rng.random(shape.keys) < shape.row_delete_share)
                for _ in range(shape.batches)]
    rt_keys = [np.flatnonzero(rng.random(shape.keys) < shape.range_delete_share)
               for _ in range(shape.batches)]
    row_b = np.concatenate([np.full(len(k), b + 1) for b, k in enumerate(row_keys)])
    rt_b = np.concatenate([np.full(len(k), b + 1) for b, k in enumerate(rt_keys)])
    ts = _unique_ts(rng, np.concatenate([batch_of, row_b, rt_b]).astype(np.float64))
    kind = KINDS[rng.choice(4, n_cells, p=KIND_P)]
    ttl = rng.integers(60, 86_400, n_cells)
    vlen = rng.integers(8, 40, n_cells)
    voff = rng.integers(0, 1 << 16, n_cells)
    pool = rng.bytes((1 << 16) + 64)
    cell_ts = ts[:n_cells]
    value = [struct.pack(">i", t // 1_000_000) if k == "d" else pool[o : o + v]
             for k, t, o, v in zip(kind.tolist(), cell_ts.tolist(), voff.tolist(), vlen.tolist())]
    keys_all = np.concatenate([k for _, k, _ in parts])
    names_all = np.concatenate([n for _, _, n in parts])
    row_ts = ts[n_cells : n_cells + len(row_b)]
    rt_ts = ts[n_cells + len(row_b) :]
    rt_all = np.concatenate(rt_keys)
    rt_lo = rng.integers(0, shape.names, len(rt_all))
    rt_hi = np.minimum(rt_lo + rng.integers(0, 4, len(rt_all)), shape.names - 1)
    row_all = np.concatenate(row_keys)
    os.makedirs(os.path.join(out, "batches"))
    sizes, counts = [], []
    for b in range(shape.batches + 1):
        c = np.flatnonzero(batch_of == b)
        r = np.flatnonzero(row_b == b)
        t = np.flatnonzero(rt_b == b)
        none = np.full(len(r) + len(t), -1)
        table = _cells_table(
            key=np.concatenate([keys_all[c], row_all[r], rt_all[t]]),
            kind=np.concatenate([kind[c], np.full(len(r), "r"), np.full(len(t), "t")]),
            name=np.concatenate([names_all[c], np.full(len(r), -1), rt_lo[t]]),
            name_max=np.concatenate([np.full(len(c) + len(r), -1), rt_hi[t]]),
            value=[value[i] for i in c.tolist()] + [None] * len(none),
            ts=np.concatenate([cell_ts[c], np.full(len(r), LONG_MIN), rt_ts[t]]),
            ttl=np.concatenate([ttl[c], np.zeros(len(none), int)]),
            row_deleted_at=_nullable_int64(np.concatenate([np.zeros(len(c), np.int64), row_ts[r],
                                                       np.zeros(len(t), np.int64)]),
                                       np.concatenate([np.ones(len(c), bool), np.zeros(len(r), bool),
                                                       np.ones(len(t), bool)])),
            source="base" if b == 0 else f"batch{b}",
        )
        name = "base.parquet" if b == 0 else os.path.join("batches", f"b{b:05d}.parquet")
        pq.write_table(table, os.path.join(out, name))
        sizes.append(os.path.getsize(os.path.join(out, name)))
        counts.append(table.num_rows)
    return {
        "kind": "churn", "seed": seed, "shape": shape.__dict__,
        "base_cells": counts[0], "batch_cells": counts[1:],
        "base_bytes": sizes[0], "batch_bytes": sizes[1:],
    }


def _nullable_int64(values: np.ndarray, null: np.ndarray):
    import pyarrow as pa

    return pa.array(values, mask=null, type=pa.int64())


def write_tables(out: str, seed: int, scale: float) -> dict:
    """The ``tools/make_sf1.py`` tables at ``scale``, drawn from ``seed``
    instead of the tool's fixed seed (the tool itself is unchanged)."""
    import contextlib
    import sys
    from unittest import mock

    import pyarrow.parquet as pq

    from tools import make_sf1

    real = np.random.default_rng
    with mock.patch.object(make_sf1.np.random, "default_rng", lambda _fixed: real(seed)), \
            contextlib.redirect_stdout(sys.stderr):
        make_sf1.main(out, scale=scale)
    rows = {}
    cells = 0
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(out, f)).metadata
            rows[f[: -len(".parquet")]] = md.num_rows
            cells += md.num_rows * md.num_columns
    return {"kind": "tables", "seed": seed, "scale": scale, "rows": rows, "table_cells": cells}
