"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program is made here from ``--seed``;
the same seed gives the same bytes (``digest`` hashes a directory so a
run can check that).  Three families of inputs:

- ``write_tables``: the suite's parquet tables (region ... events,
  documents, embeddings) in the schema and value domains of the repository's
  synthetic test data (TESTDATA.md) (TPC-H-ish star schema, an events stream, a text
  corpus over a 31-word vocabulary, 64-dim float32 embeddings).
- planted duplicates inside ``documents`` and ``embeddings``: exact-copy
  groups that are far from every other row (so each forms exactly one
  cluster) and near-copy groups (a couple of words or a little noise
  changed).  ``planted`` returns the exact groups for the cluster checks.
- ``write_videos``: a video library encoded with the program's own
  encoders (SVF, raw-sample mp4, H.264 avc1 with CAVLC, CABAC and
  B-frames) from closed-form frames, plus the sparse frame request per
  video.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.15, 0.14, 0.13]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass(frozen=True)
class Size:
    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    docs: int
    vecs: int
    text_groups: int  # planted exact-duplicate document groups
    text_near: int  # planted near-duplicate document groups
    vec_groups: int  # planted exact-duplicate vector groups
    vec_near: int  # planted near-duplicate vector groups
    videos: int  # lossless videos (SVF + raw mp4); avc1 clips are fixed


SIZES = {
    "full": Size(1500, 100, 2000, 15000, 10000, 500, 500, 8, 8, 6, 4, 4),
    "tiny": Size(150, 10, 200, 1500, 1000, 120, 120, 3, 2, 2, 2, 3),
}


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per table, so one table's size never
    shifts another table's values."""
    return np.random.default_rng([seed, stream])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy")


def _words(rng, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _shingles(words: list[str], n: int = 3) -> set:
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a and b else 0.0


def _documents(seed: int, size: Size) -> tuple[pa.Table, list[list[int]]]:
    rng = _rng(seed, 9)
    n = size.docs
    texts = [_words(rng, int(k)) for k in rng.integers(10, 100, n)]
    slots = rng.permutation(n)
    pos = 0
    # group sizes are fixed (2, 3, 4, ...) so every seed plants the same
    # amount of duplication; the seed picks the rows and the content
    # near-duplicate groups: a base text and copies with one word changed
    for k in range(size.text_near):
        members = slots[pos : pos + 2 + k % 2]
        pos += len(members)
        base = _words(rng, int(rng.integers(40, 90)))
        for j, m in enumerate(members):
            t = list(base)
            t[-1 - j] = VOCAB[(VOCAB.index(t[-1 - j]) + 1) % len(VOCAB)]  # one word changed
            texts[m] = t
    # exact-duplicate groups: a base text far (3-shingle Jaccard < 0.1)
    # from every other document, copied verbatim into 2-4 slots
    groups = []
    for k in range(size.text_groups):
        members = sorted(int(m) for m in slots[pos : pos + 2 + k % 3])
        pos += len(members)
        others = [_shingles(t) for i, t in enumerate(texts) if i not in members]
        while True:
            base = _words(rng, int(rng.integers(40, 90)))
            sh = _shingles(base)
            if all(_jaccard(sh, o) < 0.1 for o in others):
                break
        for m in members:
            texts[m] = list(base)
        groups.append(members)
    text = [" ".join(t) for t in texts]
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    return tbl, groups


def _embeddings(seed: int, size: Size) -> tuple[pa.Table, list[list[int]]]:
    rng = _rng(seed, 10)
    n = size.vecs
    vecs = rng.normal(0.0, 0.125, (n, EMB_DIM)).astype(np.float32)
    labels = rng.integers(0, 10, n).astype(np.int32)
    # background vectors: redraw any vector within cosine 0.25 of another
    # of its label, so only the planted groups are near duplicates and
    # every seed yields the same cluster structure (query threshold 0.3)
    for _ in range(100):
        unit = vecs.astype(np.float64) / np.linalg.norm(vecs, axis=1, keepdims=True)
        cos = unit @ unit.T
        np.fill_diagonal(cos, 0.0)
        close = np.flatnonzero(np.triu((cos >= 0.25) & (labels[:, None] == labels[None, :])).any(axis=0))
        if len(close) == 0:
            break
        vecs[close] = rng.normal(0.0, 0.125, (len(close), EMB_DIM)).astype(np.float32)
    slots = rng.permutation(n)
    pos = 0
    for k in range(size.vec_near):
        members = slots[pos : pos + 2 + k % 2]
        pos += len(members)
        base = rng.normal(0.0, 0.125, EMB_DIM)
        for m in members:
            vecs[m] = (base + rng.normal(0.0, 0.002, EMB_DIM)).astype(np.float32)
            labels[m] = labels[members[0]]
    # exact-duplicate groups: identical vectors whose cosine to every
    # other vector of the label is below 0.2 (the query threshold is 0.3)
    groups = []
    for k in range(size.vec_groups):
        members = sorted(int(m) for m in slots[pos : pos + 2 + k % 3])
        pos += len(members)
        label = labels[members[0]]
        labels[members] = label
        others = np.array([i for i in np.flatnonzero(labels == label) if i not in members])
        unit = vecs[others].astype(np.float64)
        unit /= np.linalg.norm(unit, axis=1, keepdims=True)
        while True:
            base = rng.normal(0.0, 0.125, EMB_DIM).astype(np.float32)
            b = base.astype(np.float64) / np.linalg.norm(base)
            if len(others) == 0 or float(np.max(unit @ b)) < 0.2:
                break
        vecs[members] = base
        groups.append(members)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return tbl, groups


def write_tables(out_dir: str, seed: int, size: Size, tables=TABLES) -> dict:
    """Write the named tables as ``<out_dir>/<name>.parquet``.  Returns the
    planted exact-duplicate groups: {"documents": [[doc_id, ...], ...],
    "embeddings": [[vec_id, ...], ...]} (only for tables written)."""
    os.makedirs(out_dir, exist_ok=True)
    planted: dict = {}
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    if "region" in tables:
        _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": pa.array(REGIONS, pa.string())}), path("region"))
    if "nation" in tables:
        _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
               path("nation"))
    if "customer" in tables:
        rng, n = _rng(seed, 3), size.customers
        _write(pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n).tolist(), pa.string()),
        }), path("customer"))
    if "supplier" in tables:
        rng, n = _rng(seed, 4), size.suppliers
        _write(pa.table({
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
        }), path("supplier"))
    if "part" in tables:
        rng, n = _rng(seed, 5), size.parts
        _write(pa.table({
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n), rng.integers(0, 8, n))], pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2), pa.float64()),
        }), path("part"))
    if "orders" in tables or "lineitem" in tables:
        rng, n = _rng(seed, 6), size.orders
        odate = EPOCH_1995 + rng.integers(0, 2403, n) * US_PER_DAY  # to 2001-08-01
        _write(pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, size.customers, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n), pa.float64()),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist(), pa.string()),
        }), path("orders"))
        rng = _rng(seed, 7)
        per = rng.integers(1, 8, n)
        m = int(per.sum())
        okey = np.repeat(np.arange(n), per)
        lineno = np.concatenate([np.arange(1, k + 1) for k in per])
        qty = rng.integers(1, 51, m).astype(np.float64)
        ship = odate[okey] + rng.integers(1, 95, m) * US_PER_DAY
        _write(pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, size.parts, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, size.suppliers, m), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, m), 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], m).tolist(), pa.string()),
            "l_shipdate": _ts(ship),
        }), path("lineitem"))
    if "events" in tables:
        rng, n = _rng(seed, 8), size.events
        ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n))
        _write(pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(_money(rng, 0.01, 490.02, n), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }), path("events"))
    if "documents" in tables:
        tbl, planted["documents"] = _documents(seed, size)
        _write(tbl, path("documents"))
    if "embeddings" in tables:
        tbl, planted["embeddings"] = _embeddings(seed, size)
        _write(tbl, path("embeddings"))
    return planted


# ---------------------------------------------------------------------------
# video library
# ---------------------------------------------------------------------------

# The lossy clips: small, because the H.264 encoder is pure Python.  Their
# stream term s stays below 4 so no pixel wraps past 255: a wrapping
# pattern's sharp edges cost 4:2:0 chroma ~20 dB, as close to the
# neighbouring frame's PSNR as to the right frame's.
AVC1_CLIPS = [
    dict(h=16, w=16, n=8, kw=dict(qp=10, gop=4, b_frames=1)),  # CAVLC, B-frames
    dict(h=16, w=16, n=8, kw=dict(qp=10, gop=4, b_frames=1, entropy="cabac")),
]


def frame(s: int, f: int, h: int, w: int, c: int = 3) -> np.ndarray:
    """Closed-form frame: pixel = (7s + 13f + 3x + 5y + 11c) mod 256."""
    y = np.arange(h)[:, None, None]
    x = np.arange(w)[None, :, None]
    ch = np.arange(c)[None, None, :]
    return ((7 * s + 13 * f + 3 * x + 5 * y + 11 * ch) % 256).astype(np.uint8)


# lossless video geometries (h, w), one per library slot, so every seed
# decodes and filters the same number of pixels
GEOMETRIES = [(24, 32), (32, 48), (48, 64), (32, 48)]


def video_specs(seed: int, size: Size) -> list[dict]:
    """The library's make-up: per video its codec, geometry, stream number
    ``s`` (the frame formula's stream term), frame count and GOP, and the
    sparse frame request: 5 frames per lossless video, as a Stride or a
    Gather chosen by the seed, and a 3-frame Gather per avc1 clip."""
    rng = _rng(seed, 20)
    specs = []
    for k in range(size.videos):
        codec = "raw" if k % 4 == 2 else "svf"
        h, w = GEOMETRIES[k % len(GEOMETRIES)]
        n = int(rng.integers(32, 49))
        specs.append(dict(codec=codec, h=h, w=w, n=n,
                          kw=dict(gop=int(rng.choice([4, 8, 12]))) if codec == "svf" else {}))
    for clip in AVC1_CLIPS:
        specs.append(dict(codec="avc1", **clip))
    for k, sp in enumerate(specs):
        sp["s"] = int(rng.integers(0, 4 if sp["codec"] == "avc1" else 256))
        sp["name"] = f"v{k:02d}.{'svf' if sp['codec'] == 'svf' else 'mp4'}"
        n, k = sp["n"], 3 if sp["codec"] == "avc1" else 5
        if sp["codec"] != "avc1" and rng.integers(0, 2):
            step = int(rng.integers(5, 8))
            start = int(rng.integers(0, n - (k - 1) * step))
            sp["want"] = list(range(start, start + k * step, step))  # Stride
        else:
            sp["want"] = sorted(int(f) for f in rng.choice(n, k, replace=False))  # Gather
    return specs


def encode_video(sp: dict) -> bytes:
    from scanner_spark.sources import mp4, svf

    frames = [frame(sp["s"], f, sp["h"], sp["w"]) for f in range(sp["n"])]
    if sp["codec"] == "svf":
        return svf.encode_svf(frames, **sp["kw"])
    if sp["codec"] == "raw":
        return mp4.encode_mp4_raw(frames)
    return mp4.encode_mp4_avc1(frames, **sp["kw"])


def write_videos(out_dir: str, specs: list[dict], timer=None) -> list[dict]:
    """Encode every video into ``out_dir``; sets ``path`` on each spec.
    ``timer(name)`` (optional) returns a context manager that times each
    encoder call."""
    os.makedirs(out_dir, exist_ok=True)
    for sp in specs:
        if timer is None:
            data = encode_video(sp)
        else:
            with timer("sources.encode"):
                data = encode_video(sp)
        sp["path"] = os.path.join(out_dir, sp["name"])
        with open(sp["path"], "wb") as f:
            f.write(data)
    return specs


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for dp, dns, fns in os.walk(path):
        dns.sort()
        for fn in sorted(fns):
            full = os.path.join(dp, fn)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
