"""Seeded benchmark inputs, written without the engine.

Two generators, both pure numpy/pyarrow so that a fault in the engine's
own readers or writers cannot cancel itself out:

- ``write_tables``: the star-schema tables the registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the column names, types and value
  domains of the engine's test tables, one Parquet file each.
- ``write_acquisition``: an imaging acquisition of one uncompressed
  float32 TIFF per (image, channel), with the acquisition group in the
  path. Frames follow the engine's synthetic blob model (noisy
  background plus one to three Gaussian cells, three gain-scaled
  channels), so image id ``i`` here is bit-identical to image ``i`` of
  the engine's 1000-image checksum corpus.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os
import struct
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table; the directory name carries the matching scale tag
TABLE_SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
SCALE_TAG = "sf0.01"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05

_US_PER_DAY = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: tuple, end: tuple, n: int) -> np.ndarray:
    a, b = _epoch_us(*start), _epoch_us(*end)
    return a + rng.integers(0, (b - a) // _US_PER_DAY + 1, n) * _US_PER_DAY


def _ts(values) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = TABLE_SIZES
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(_days(rng, (1995, 1, 1), (2001, 8, 1), o)),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, li)],
        "l_shipdate": _ts(_days(rng, (1995, 1, 2), (2001, 11, 4), li)),
    })
    e = n["events"]
    start = _epoch_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * _US_PER_DAY, e))),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k))
        for k in rng.integers(10, 101, d)
    ]
    # near-duplicates: a copy of another document plus one marker token
    for k in np.flatnonzero(rng.random(d) < NEAR_DUP_FRAC):
        texts[k] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    v = n["embeddings"]
    vecs = rng.normal(size=(v, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    })
    return t


def write_tables(out_dir: str, seed: int) -> str:
    """Write every table, rows shuffled by the seed, into
    ``out_dir/<SCALE_TAG>``; returns that directory."""
    rng = np.random.default_rng([seed, 1])
    root = os.path.join(out_dir, SCALE_TAG)
    os.makedirs(root, exist_ok=True)
    for name, table in _tables(rng).items():
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root


# ---------------------------------------------------------------------------
# imaging acquisition
# ---------------------------------------------------------------------------

SIDE = 32
NGROUPS = 4
#: TIFF path layout; the named groups are the metadata scan's columns
PATH_REGEX = r".*/(?P<group>g\d+)/img(?P<image>\d+)_c(?P<channel>\d)\.tif$"
CHANNELS = ["0", "1", "2"]


def frames(image_id: int) -> list[np.ndarray]:
    """The three channel frames of one image (the engine's blob model)."""
    yy, xx = np.mgrid[0:SIDE, 0:SIDE]
    rng = np.random.default_rng(int(image_id))
    img = rng.normal(10.0, 2.0, size=(SIDE, SIDE)).astype(np.float32)
    for _ in range(int(rng.integers(1, 4))):
        cy, cx = rng.uniform(6, SIDE - 6, size=2)
        sigma = rng.uniform(2.0, 3.5)
        amp = rng.uniform(80.0, 150.0)
        blob = amp * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * sigma**2))
        img += blob.astype(np.float32)
    np.clip(img, 0.0, None, out=img)
    return [img, img * 0.8 + 1.0, img * 1.2]


def write_tiff(path: str, frame: np.ndarray) -> None:
    """Minimal little-endian baseline TIFF: one uncompressed strip of
    float32 samples (SampleFormat 3)."""
    a = np.ascontiguousarray(frame, dtype="<f4")
    h, w = a.shape
    data = a.tobytes()
    # (tag, type, value): type 3 = SHORT, 4 = LONG; one value each
    tags = [
        (256, 3, w), (257, 3, h), (258, 3, 32), (259, 3, 1), (262, 3, 1),
        (273, 4, 8), (277, 3, 1), (278, 3, h), (279, 4, len(data)), (339, 3, 3),
    ]
    entries = b"".join(
        struct.pack("<HHII", tag, typ, 1, v) if typ == 4
        else struct.pack("<HHIHH", tag, typ, 1, v, 0)
        for tag, typ, v in tags
    )
    ifd = struct.pack("<H", len(tags)) + entries + struct.pack("<I", 0)
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<HI", 42, 8 + len(data)) + data + ifd)


def image_ids(seed: int, n: int) -> list[int]:
    """Image ids of a seed's acquisition: seed 0 is the engine's
    checksum corpus (ids 0..n-1); other seeds take disjoint id blocks."""
    return list(range(seed * 1_000_000, seed * 1_000_000 + n))


def write_acquisition(out_dir: str, ids: list[int]) -> str:
    root = os.path.join(out_dir, "acquisition")
    for i in ids:
        d = os.path.join(root, f"g{i % NGROUPS}")
        os.makedirs(d, exist_ok=True)
        for c, frame in zip(CHANNELS, frames(i)):
            write_tiff(os.path.join(d, f"img{i:09d}_c{c}.tif"), frame)
    return root
