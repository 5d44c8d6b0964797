"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` and the size arguments: the
same seed writes byte-for-byte the same tables and volumes. The relational
tables follow the column layout of the engine's star schema (see
``catalog.TABLES``), so the registry queries and their DuckDB oracle SQL run
on them unchanged; the value ranges mirror the fixture tables the test suite
uses. Only numpy, pyarrow and the engine's own NIfTI encoder are used, so
generation never starts a Spark job.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
ALPHA = "abcdefghijklmnopqrstuvwxyz"
EMB_DIM = 64

# cine geometry: 25 frames per subject as in the reference demo
# (bench_cache.py), on 128x128 planes instead of its 256x256 so that a run
# fits the benchmark's time budget
HEIGHT, WIDTH, N_FRAMES = 128, 128, 25


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng: np.random.Generator, n: int, id_offset: int = 0) -> dict:
    """Word-salad documents over a 31-word vocabulary. About 5% are near
    copies of an earlier document (the text plus ``" dup"``) and about 0.2%
    exact copies, so exact, MinHash and SimHash dedup all have work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64) + id_offset
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng: np.random.Generator, n: int, id_offset: int = 0) -> dict:
    """Unit 64-d float32 vectors around ten label centres."""
    centres = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = 0.6 * centres[label] + rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64) + id_offset),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """The ten catalog tables at scale ``sf`` (sf=0.01 gives 15k orders and
    about 60k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * 86400.0),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n_lines = rng.integers(1, 8, n_ord)
    n_li = int(n_lines.sum())
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(
            (np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1).astype(np.int32)
        ),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * 86400.0),
    })
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400.0, n_ev))),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", documents(rng, n_docs))
    _write(out_dir, "embeddings", embeddings(rng, n_vecs))


def rotate(text: str, k: int) -> str:
    """Alphabet rotation by ``k``: copies keep their internal near-dup
    structure but stay mutually dissimilar (the bench_ext.py recipe)."""
    return text.translate(str.maketrans(ALPHA, ALPHA[k:] + ALPHA[:k]))


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, copies: int,
                 stride: int = 1_000_000) -> None:
    """``copies`` alphabet-rotated copies of one seeded document table and
    ``copies`` id-offset copies of one seeded embedding table; copy k's ids
    live in ``[k*stride, k*stride + n)``. Also writes ``documents.jsonl`` for
    the spec pipeline's path source."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base_d = documents(rng, n_docs)
    base_e = embeddings(rng, n_vecs)
    d_cols: dict[str, list] = {c: [] for c in base_d}
    e_cols: dict[str, list] = {c: [] for c in base_e}
    texts = base_d["text"].to_pylist()
    for k in range(copies):
        d_cols["doc_id"].append(pa.array(base_d["doc_id"].to_numpy() + k * stride))
        d_cols["text"].append(pa.array([rotate(t, k) for t in texts]))
        for c in ("lang", "source", "n_chars"):
            d_cols[c].append(base_d[c])
        e_cols["vec_id"].append(pa.array(base_e["vec_id"].to_numpy() + k * stride))
        e_cols["embedding"].append(base_e["embedding"])
        e_cols["label"].append(base_e["label"])
    docs = pa.table({c: pa.concat_arrays(v) for c, v in d_cols.items()})
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(
        pa.table({c: pa.concat_arrays(v) for c, v in e_cols.items()}),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    docs.to_pandas().to_json(os.path.join(out_dir, "documents.jsonl"), orient="records", lines=True)


def cine_volume(phase0: float, radius: float) -> np.ndarray:
    """Smooth synthetic cine (compressible like anatomy, not noise: gzip
    ratio drives decode time): a ring whose radius and centre beat over
    the frames."""
    s = WIDTH / 256  # lengths below are for 256-pixel planes
    y, x = np.mgrid[0:HEIGHT, 0:WIDTH].astype(np.float32)
    vol = np.empty((HEIGHT, WIDTH, N_FRAMES), dtype=np.float32)
    for t in range(N_FRAMES):
        phase = 2 * np.pi * t / N_FRAMES
        r = np.hypot(x - WIDTH / 2 - 10 * s * np.sin(phase + phase0), y - HEIGHT / 2)
        ring = r - s * (radius + 5 * np.cos(phase + phase0))
        vol[:, :, t] = np.exp(-(ring ** 2) / (200.0 * s * s))
    return vol


def write_subjects(out_dir: str, seed: int, n: int) -> dict[str, np.ndarray]:
    """``n`` cine subjects as ``.nii.gz`` files; returns the volumes by
    subject name so outputs can be checked against a numpy recomputation."""
    from qcardia_data_spark.sources.nifti import encode_nifti1

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vols = {}
    for i in range(n):
        name = f"subj{i:03d}"
        vol = cine_volume(float(rng.uniform(0, 2 * np.pi)), float(rng.uniform(30, 50)))
        with open(os.path.join(out_dir, f"{name}.nii.gz"), "wb") as f:
            f.write(encode_nifti1(vol, np.eye(4), compress=True))
        vols[name] = vol
    return vols


def expected_ed_es(vol: np.ndarray, threshold: float = 0.6) -> tuple[int, int]:
    """ED = annotated frame with the largest mask volume, ES = the smallest,
    lower frame number on ties (np.argmax/argmin semantics)."""
    v = (vol > threshold).sum(axis=(0, 1))
    frames = np.flatnonzero(v > 0)
    return int(frames[np.argmax(v[frames])]), int(frames[np.argmin(v[frames])])
