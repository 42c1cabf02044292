"""Seeded input generator and reference models for the workloads.

Everything the program receives is a file written here; everything the
correctness checks compare against is computed here, in plain
numpy/pandas, never by the engine under test. The same ``(workload,
seed, size)`` always yields the same bytes, and each generated set is
cached under ``<work>/inputs/<digest>/``.

The TPC-H-shaped tables are synthesised rather than read from a
testdata directory, so the benchmark runs from a bare checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload sizes. "full" is what the benchmark measures; "tiny" is
# the self-test size. At "full" an op takes 2-5 s on a 4-core host,
# nearly all of it per-job fixed cost, so a 20-second run times 4-9 ops.
SIZES = {
    "full": {
        "sync_rows": 40_000,
        "doc_state": 10_000,
        "gate_docs": 300,
        "gate_batches": 40,
        "media_pool": 150,
    },
    "tiny": {
        "sync_rows": 2_000,
        "doc_state": 500,
        "gate_docs": 40,
        "gate_batches": 60,
        "media_pool": 30,
    },
}

# sf0.1 lineitem has 455,177 distinct (l_orderkey, l_linenumber) ids in
# 600,000 rows: the same distinct share makes K1 last-wins dedup do work.
SYNC_DISTINCT_SHARE = 455_177 / 600_000
SYNC_UNVERSIONED = 0.10
SYNC_CHURN = {"update": 0.02, "remove": 0.005, "add": 0.005}
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
# engine mapping: renames plus one Eel expression (integer arithmetic, so
# the reference model reproduces it bit for bit)
SYNC_MAPPING = {
    "order_key": "l_orderkey",
    "line": "l_linenumber",
    "qty": "l_quantity",
    "mode": "l_shipmode",
    "comment": "l_comment",
    "net_cents": "${record.l_extendedprice_cents * (100 - record.l_discount)}",
}
DOC_MAPPING = {
    "doc_id": "doc_id",
    "body": "text",
    "key_x2": "${record.doc_id * 2}",
}
WORDS = np.array(
    [
        "".join(chr(97 + (i * 7 + j * 13) % 26) for j in range(3 + i % 6)) + str(i)
        for i in range(6000)
    ]
)
# the gate's documents follow the sf0.1 ``documents`` table: 10-100 words
# drawn uniformly from its 30-word vocabulary; a near twin is an earlier
# document with one word appended, as sf0.1's are (" dup")
DOC_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
DOC_LEN = (10, 101)
NEAR_SUFFIX = " dup"


def input_digest(workload: str, seed: int, size: str) -> str:
    """Identity of a generated input set: this module's source (the
    generator and the cache layout) plus the parameters. Two results with
    different digests measured different inputs and must not be
    compared."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    h = hashlib.sha256(src)
    h.update(json.dumps([workload, seed, size, SIZES[size]]).encode())
    return h.hexdigest()[:16]


def _rng(seed: int, *salt: int) -> np.random.Generator:
    # the mask maps any integer seed to a valid (non-negative) entropy word
    return np.random.default_rng([seed & (2**64 - 1), *salt])


def load_inputs(workload: str, seed: int, size: str, cache_dir: str) -> tuple[dict, str]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``; cached
    per seed under ``cache_dir``. Returns the inputs and their digest."""
    digest = input_digest(workload, seed, size)
    out = os.path.join(cache_dir, f"{workload}-{digest}")
    marker = os.path.join(out, "inputs.pkl")
    if os.path.exists(marker):
        with open(marker, "rb") as fh:  # written by this function, below
            return pickle.load(fh), digest
    os.makedirs(out, exist_ok=True)
    sz = SIZES[size]
    if workload == "sync_churn":
        inputs = {"source": SyncSource(seed, sz["sync_rows"])}
    else:
        inputs = {"seed_target": doc_seed_target(seed, sz, out), "batches": gate_inputs(seed, sz, out)}
    with open(marker + ".tmp", "wb") as fh:
        pickle.dump(inputs, fh)
    os.replace(marker + ".tmp", marker)
    return inputs, digest


def write_parquet(df: pd.DataFrame, path: str, row_groups: int = 1) -> int:
    """Write atomically (temp name + rename); return the file size."""
    tmp = path + ".tmp"
    table = pa.Table.from_pandas(df, preserve_index=False)
    rg = max(1, -(-len(df) // row_groups))
    pq.write_table(table, tmp, row_group_size=rg)
    os.replace(tmp, path)
    return os.path.getsize(path)


def _words(rng: np.random.Generator, n_rows: int, lo: int, hi: int, vocab=WORDS) -> list[str]:
    lens = rng.integers(lo, hi, n_rows)
    flat = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for n in lens:
        out.append(" ".join(flat[pos : pos + n]))
        pos += n
    return out


def frame_digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent content hash of a table: sort by ``id``, hash
    every column's values. Nulls in integer columns hash as -1."""
    d = df[cols].sort_values("id", kind="stable").reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        s = d[c]
        if pd.api.types.is_numeric_dtype(s):
            s = s.fillna(-1).astype("int64")
        h.update(pd.util.hash_pandas_object(s, index=False).values.tobytes())
    return h.hexdigest()


# --------------------------------------------------------------------------- #
# sync_churn: a lineitem-shaped source, churned per cycle
# --------------------------------------------------------------------------- #
SYNC_TARGET_COLS = ["id", "version", *SYNC_MAPPING]


class SyncSource:
    """The raw source rows (duplicates included) and their seeded churn.

    ``rows`` is the file content; ``expected_state()`` is the K1
    last-wins view the target must hold after a sync."""

    def __init__(self, seed: int, n_rows: int) -> None:
        self.seed = seed
        rng = _rng(seed, 1)
        n_ids = int(round(n_rows * SYNC_DISTINCT_SHARE))
        # 1..7 lines per order, like TPC-H
        lines = rng.integers(1, 8, n_ids)
        order = np.repeat(np.arange(1, n_ids + 1), lines)[:n_ids]
        line = np.concatenate([np.arange(1, k + 1) for k in lines])[:n_ids]
        dup = rng.integers(0, n_ids, n_rows - n_ids)
        idx = np.concatenate([np.arange(n_ids), dup])
        rng.shuffle(idx)
        self.rows = self._rows(rng, order[idx], line[idx])
        self.next_order = int(order.max()) + 1
        self.next_seq = len(self.rows)

    def _rows(self, rng, order, line) -> pd.DataFrame:
        n = len(order)
        version = rng.integers(1, 1_000_000, n).astype("float64")
        version[rng.random(n) < SYNC_UNVERSIONED] = np.nan
        return pd.DataFrame(
            {
                "id": [f"{o}-{ln}" for o, ln in zip(order, line)],
                "l_orderkey": order.astype("int64"),
                "l_linenumber": line.astype("int64"),
                "l_quantity": rng.integers(1, 51, n).astype("int64"),
                "l_extendedprice_cents": rng.integers(90_000, 10_500_000, n).astype("int64"),
                "l_discount": rng.integers(0, 11, n).astype("int64"),
                "l_shipmode": SHIPMODES[rng.integers(0, len(SHIPMODES), n)],
                "l_comment": _words(rng, n, 2, 6),
                "version": pd.array(version, dtype="Int64"),
                "seq": np.arange(n, dtype="int64"),
            }
        )

    def churn(self, cycle: int) -> None:
        """Apply cycle ``cycle``'s seeded churn to ``rows``: about 2% of
        ids updated (the winning row gets a later seq, a higher version
        and new attributes), 0.5% removed, 0.5% added."""
        rng = _rng(self.seed, 2, cycle)
        rows = self.rows
        ids = rows["id"].unique()
        n_ids = len(ids)
        picks = rng.permutation(n_ids)
        n_up = int(n_ids * SYNC_CHURN["update"])
        n_rm = int(n_ids * SYNC_CHURN["remove"])
        n_add = int(n_ids * SYNC_CHURN["add"])
        up_ids = set(ids[picks[:n_up]])
        rm_ids = set(ids[picks[n_up : n_up + n_rm]])
        rows = rows[~rows["id"].isin(rm_ids)]
        winners = rows.loc[rows.groupby("id")["seq"].idxmax()]
        win = winners[winners["id"].isin(up_ids)].index
        rows = rows.copy()
        k = len(win)
        rows.loc[win, "seq"] = np.arange(self.next_seq, self.next_seq + k)
        self.next_seq += k
        bump = rng.integers(1, 1000, k)
        rows.loc[win, "version"] = rows.loc[win, "version"] + bump
        rows.loc[win, "l_quantity"] = rng.integers(1, 51, k)
        order = np.arange(self.next_order, self.next_order + n_add)
        self.next_order += n_add
        added = self._rows(rng, order, np.ones(n_add, dtype="int64"))
        added["seq"] = np.arange(self.next_seq, self.next_seq + n_add)
        self.next_seq += n_add
        self.rows = pd.concat([rows, added], ignore_index=True)

    def expected_state(self) -> pd.DataFrame:
        """K1 last-wins (greatest seq) per id, projected through the
        mapping, in the target's column layout."""
        r = self.rows.sort_values("seq").drop_duplicates("id", keep="last")
        return pd.DataFrame(
            {
                "id": r["id"].values,
                "version": r["version"].values,
                "order_key": r["l_orderkey"].values,
                "line": r["l_linenumber"].values,
                "qty": r["l_quantity"].values,
                "mode": r["l_shipmode"].values,
                "comment": r["l_comment"].values,
                "net_cents": (r["l_extendedprice_cents"] * (100 - r["l_discount"])).values,
            }
        )


def expected_diff(state: pd.DataFrame, target: pd.DataFrame | None) -> dict[str, int]:
    """The reference's change set counts: adds, removes, and the
    four-branch update rule (unversioned on either side, or a newer
    source version, updates)."""
    if target is None:
        return {"added": len(state), "updated": 0, "removed": 0}
    m = state[["id", "version"]].merge(
        target[["id", "version"]], on="id", how="outer", suffixes=("_s", "_t"), indicator=True
    )
    both = m[m["_merge"] == "both"]
    vs, vt = both["version_s"], both["version_t"]
    upd = vs.isna() | vt.isna() | (vs > vt)
    return {
        "added": int((m["_merge"] == "left_only").sum()),
        "updated": int(upd.sum()),
        "removed": int((m["_merge"] == "right_only").sum()),
    }


# --------------------------------------------------------------------------- #
# stream_gate: a document store's target state, fed by gated crawl batches
# --------------------------------------------------------------------------- #
DOC_TARGET_COLS = ["id", *DOC_MAPPING]
DOC_SOURCE_SCHEMA = "doc_id long, text string, blob binary"
# the seed target's ids lie above every crawled document's id
DOC_SEED_ID0 = 1_000_000_000


def doc_map(df: pd.DataFrame) -> pd.DataFrame:
    """The stream's mapping of crawled documents, applied by the
    reference model."""
    return pd.DataFrame(
        {
            "id": [str(i) for i in df["doc_id"]],
            "doc_id": df["doc_id"].values.astype("int64"),
            "body": df["text"].values,
            "key_x2": (df["doc_id"] * 2).values.astype("int64"),
        }
    )


def doc_seed_target(seed: int, size: dict, out: str) -> str:
    """Write the document store's seed state, already in the target's
    mapped layout: ``doc_state`` documents shaped like the crawled ones,
    with ids no crawled document has."""
    rng = _rng(seed, 10)
    n = size["doc_state"]
    docs = pd.DataFrame(
        {"doc_id": np.arange(DOC_SEED_ID0, DOC_SEED_ID0 + n), "text": _words(rng, n, *DOC_LEN, vocab=DOC_WORDS)}
    )
    path = os.path.join(out, "seed_target.parquet")
    write_parquet(doc_map(docs), path, row_groups=4)
    return path


# --------------------------------------------------------------------------- #
# stream_gate: crawled document batches with planted exact and near twins
# --------------------------------------------------------------------------- #
@dataclass
class GateBatch:
    path: str
    rows: int
    nbytes: int
    ids: list[int]
    exact_twins: dict[int, int]  # twin id -> id of the earlier document it copies
    truth: dict[int, tuple]


def gate_inputs(seed: int, size: dict, out: str) -> list[GateBatch]:
    """Batch i holds ``gate_docs`` crawled documents: fresh texts shaped
    like sf0.1's documents (``DOC_WORDS``, ``DOC_LEN``), plus (from batch
    1 on) ~8% exact twins and ~5% near twins (``NEAR_SUFFIX`` appended)
    of fresh documents from earlier batches. As in sf0.1, a few fresh
    texts share an LSH bucket by chance, so the gate also drops some
    documents that are not planted twins.

    Each document also carries a media attachment: a blob drawn from a
    pool of ``media_pool`` encodings (every container equally often,
    encoded once per seed), with its ground truth in ``truth``."""
    pr = _rng(seed, 30)
    pool = [_media_blob(i % len(MEDIA_KINDS), pr) for i in range(size["media_pool"])]
    batches, fresh_texts, fresh_ids, next_id = [], [], [], 1
    n = size["gate_docs"]
    for i in range(size["gate_batches"]):
        r = _rng(seed, 20, i)
        n_exact = n_near = 0
        if fresh_texts:
            n_exact, n_near = n * 8 // 100, n * 5 // 100
        n_fresh = n - n_exact - n_near
        fresh = _words(r, n_fresh, *DOC_LEN, vocab=DOC_WORDS)
        exact_src = r.integers(0, len(fresh_texts), n_exact)
        exact = [fresh_texts[j] for j in exact_src]
        near = [fresh_texts[j] + NEAR_SUFFIX for j in r.integers(0, len(fresh_texts), n_near)]
        texts = fresh + exact + near
        ids = list(range(next_id, next_id + n))
        next_id += n
        media = [pool[j] for j in r.integers(0, len(pool), n)]
        df = pd.DataFrame(
            {"doc_id": np.array(ids, dtype="int64"), "text": texts, "blob": [m[0] for m in media]}
        )
        df = df.iloc[r.permutation(n)].reset_index(drop=True)
        path = os.path.join(out, f"docs_{i:05d}.parquet")
        nbytes = write_parquet(df, path)
        truth = {d: m[1:] for d, m in zip(ids, media)}
        twins = dict(zip(ids[n_fresh : n_fresh + n_exact], (fresh_ids[j] for j in exact_src)))
        batches.append(GateBatch(path, n, nbytes, ids, twins, truth))
        fresh_texts.extend(fresh)
        fresh_ids.extend(ids[:n_fresh])
    return batches


# --------------------------------------------------------------------------- #
# media attachments: mixed-container blobs with ground truth
# --------------------------------------------------------------------------- #
#: the fifteen containers ``x4_media_metadata`` covers, with the
#: (kind, format) the metadata pass must report for each
MEDIA_KINDS = [
    ("png", "image", "png"),
    ("jpeg", "image", "jpeg"),
    ("wav", "audio", "wav"),
    ("flac", "audio", "flac"),
    ("jpeg_progressive", "image", "jpeg"),
    ("mp4", "video", "mp4"),
    ("webm", "video", "webm"),
    ("mp3", "audio", "mp3"),
    ("aac", "audio", "aac"),
    ("ogg", "audio", "ogg"),
    ("heif", "image", None),  # format depends on the codec: avif/heic
    ("webp", "image", "webp"),
    ("tiff", "image", "tiff"),
    ("avi", "video", "avi"),
    ("flv", "video", "flv"),
]


def _media_blob(k: int, r: np.random.Generator):
    """Encode one blob of container ``k``; return (blob, kind, format,
    width, height) where width/height are None for audio."""
    from wwwision_importservice_spark.operators import (
        audiocodec,
        avicodec,
        flaccodec,
        flvcodec,
        imagecodec,
        jpegcodec,
        mp3codec,
        oggcodec,
        tiffcodec,
        videocodec,
        webpcodec,
    )

    name, kind, fmt = MEDIA_KINDS[k]
    b = int(r.integers(0, 1 << 40))
    pay = r.bytes(64)
    w, h = 16 + b % 200, 16 + (b // 7) % 200
    if name == "png":
        w, h = 4 + b % 12, 3 + b % 9
        blob = imagecodec.encode_png(r.integers(0, 256, (h, w, 3), dtype=np.uint8))
    elif name.startswith("jpeg"):
        w, h = 8 * (2 + b % 3), 8 * (2 + (b // 3) % 3)
        arr = r.integers(0, 256, (h, w, 3), dtype=np.uint8)
        blob = jpegcodec.encode_jpeg(
            arr, quality=50, subsampling="444", progressive=name.endswith("progressive")
        )
    elif name in ("wav", "flac"):
        w = h = None
        samples = r.integers(-2000, 2000, 40 + b % 100).astype("<i2")
        if name == "wav":
            blob = audiocodec.encode_wav(samples, 8000)
        else:
            blob = flaccodec.encode_flac(samples.astype(np.int64), 8000, block_size=32)
    elif name == "mp4":
        blob = videocodec.encode_mp4(w, h, 500 + b % 10000, payload=pay[:48], n_frames=1 + b % 30)
    elif name == "webm":
        blob = videocodec.encode_webm(w, h, 500 + b % 10000, payload=pay[:48], n_frames=1 + b % 9)
    elif name == "mp3":
        w = h = None
        sr, kbps = 44100, 128
        size = 144 * kbps * 1000 // sr
        blob = mp3codec.encode_mp3(
            sr, kbps, n_frames=2 + b % 10, payload=(pay * 8)[: size - 4], xing="Xing"
        )
    elif name == "aac":
        w = h = None
        blob = mp3codec.encode_adts(48000, n_frames=1 + b % 9, channels=1 + b % 6, payload=pay[:30])
    elif name == "ogg":
        w = h = None
        pkts = [pay[i * 10 : i * 10 + 10] for i in range(1 + b % 6)]
        blob = oggcodec.encode_ogg("opus", 48000, 1 + b % 2, pkts, granule_end=48 * (500 + b % 9000))
    elif name == "heif":
        codec = "av01" if b % 2 == 0 else "hvc1"
        fmt = "avif" if codec == "av01" else "heic"
        blob = videocodec.encode_heif(w, h, codec=codec, payload=pay[:40], extra_items=b % 4)
    elif name == "webp":
        blob = webpcodec.encode_webp(w, h, codec="vp8" if b % 2 == 0 else "vp8l", payload=pay[:40])
    elif name == "tiff":
        blob = tiffcodec.encode_tiff(w, h, payload=pay[:40], pages=1, strips=1 + b % 3)
    elif name == "avi":
        blob = avicodec.encode_avi(
            w, h, 1 + b % 24, 40_000, video_payload=pay[:50], audio_payload=pay[50:]
        )
    else:  # flv
        frames = [pay[i * 8 : i * 8 + 8] for i in range(1 + b % 6)]
        blob = flvcodec.encode_flv(w, h, 500 + b % 20000, frames, audio_chunks=[pay[:12]])
    return bytes(blob), kind, fmt, w, h
