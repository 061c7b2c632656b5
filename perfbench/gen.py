"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from ``--seed`` with NumPy and
written as parquet; the engine receives only the files.  Each input set
lands in its own directory keyed by generator version, seed and size,
and is reused when its ``_done`` marker exists (the marker is written
last, so an interrupted build is rebuilt, never half-read).

* ``ledger_tables`` — the ten star-schema tables the registry queries
  read (region … lineitem, events, documents, embeddings), with the
  schemas and value domains of the sf testdata (TESTDATA.md, FIXTURES.md),
  sized by a scale factor.
* ``catalog`` — a sky catalog uniform in (ra, sin dec) over a patch.
* ``mor_inputs`` — a per-sample result table plus the commit batches
  (updates, inserts, tombstones) applied to it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator below changes its output, so an input set
#: built by an older generator is never reused
VERSION = "v1"

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def cached(root: str, name: str, seed: int, size: str, build) -> str:
    """Directory holding the input set ``name`` for (seed, size);
    ``build(tmp_dir)`` fills it on a miss."""
    out = os.path.join(root, f"{name}-{VERSION}-seed{seed}-{size}")
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, out)
    with open(done, "w") as f:
        f.write("ok")
    return out


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def ledger_tables(out_dir: str, seed: int, sf: float) -> None:
    """The registry's star schema at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_vec = int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _EPOCH_1995
        + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _EPOCH_1995
        + rng.integers(1, 2499, n_line) * np.timedelta64(1, "D"),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec))


def _documents(rng, n: int) -> dict:
    """Bag-of-vocab texts of 10–99 words; about 1% are exact copies and
    2% one-word edits of an earlier document, so the dedup queries have
    work to find."""
    words = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.03:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
            continue
        texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    """Unit-norm float32 vectors; 1% are small perturbations of an
    earlier vector (near-duplicates for the similarity queries)."""
    v = rng.standard_normal((n, dim))
    near = np.flatnonzero(rng.random(n) < 0.01)
    near = near[near > 0]
    src = (rng.random(len(near)) * near).astype(np.int64)
    v[near] = v[src] + 0.05 * rng.standard_normal((len(near), dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def catalog(out_dir: str, seed: int, n: int, patch: dict, n_files: int) -> None:
    """``n`` objects uniform in (ra, sin dec) over ``patch``
    (``ra``/``dec`` bounds in degrees), split over ``n_files`` files so
    the scan has parallel splits."""
    rng = np.random.default_rng([seed, 2])
    ra_lo, ra_hi = patch["ra"]
    s_lo, s_hi = np.sin(np.radians(patch["dec"]))
    ra = rng.uniform(ra_lo, ra_hi, n)
    dec = np.degrees(np.arcsin(rng.uniform(s_lo, s_hi, n)))
    cols = {
        "object_id": np.arange(n, dtype=np.int64),
        "ra": ra,
        "dec": dec,
        "mag_r": np.round(rng.uniform(18.0, 25.0, n), 3),
        "z": np.round(rng.uniform(0.0, 1.5, n), 4),
    }
    table = pa.table(cols)
    os.makedirs(os.path.join(out_dir, "catalog"))
    step = -(-n // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(out_dir, "catalog", f"part-{i:03d}.parquet"),
        )


MOR_COLUMNS = ("sample_id", "n_objects", "total_arcsec", "chunk")


def mor_inputs(out_dir: str, seed: int, n_base: int, n_batches: int,
               updates: int, inserts: int, deletes: int) -> None:
    """A per-sample result table of ``n_base`` rows keyed by
    ``sample_id`` plus ``n_batches`` commit batches.  Each batch updates
    ``updates`` live keys, inserts ``inserts`` new keys and tombstones
    ``deletes`` live keys; keys are unique within a batch."""
    rng = np.random.default_rng([seed, 3])

    def rows(keys: np.ndarray, chunk: int) -> dict:
        k = len(keys)
        return {
            "sample_id": keys.astype(np.int64),
            "n_objects": rng.integers(0, 2000, k).astype(np.int64),
            "total_arcsec": np.round(rng.uniform(0.0, 1e6, k), 4),
            "chunk": np.full(k, chunk, dtype=np.int32),
        }

    live = np.arange(n_base, dtype=np.int64)
    _write(out_dir, "base", rows(live, 0))
    next_key = n_base
    os.makedirs(os.path.join(out_dir, "batches"))
    for b in range(n_batches):
        picked = rng.choice(len(live), updates + deletes, replace=False)
        upd, dele = live[picked[:updates]], live[picked[updates:]]
        ins = np.arange(next_key, next_key + inserts, dtype=np.int64)
        next_key += inserts
        data = rows(np.concatenate([upd, ins]), b + 1)
        data["__deleted"] = np.zeros(updates + inserts, dtype=bool)
        tomb = rows(dele, b + 1)
        tomb["__deleted"] = np.ones(deletes, dtype=bool)
        table = pa.concat_tables([pa.table(data), pa.table(tomb)])
        pq.write_table(
            table, os.path.join(out_dir, "batches", f"{b:04d}.parquet")
        )
        live = np.concatenate([np.delete(live, picked[updates:]), ins])
