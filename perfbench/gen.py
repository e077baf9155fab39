"""Seeded input generators for the four workloads.

Everything here is numpy/pyarrow plus the benchmark's own encoder for the
engine's image container, so no change to the program under test can
change what is measured. The same ``(workload, seed)`` always produces
byte-identical files; the file layout is fixed and does not depend on the
Spark parallelism a run uses.

Inputs live under ``.perfbench_cache/inputs/<workload>-s<seed>-<v>/`` at the
checkout root, behind a ``_COMPLETE`` marker written last (a half-written
directory is never reused). Only the most recent ``KEEP_SEEDS`` seeds per
workload are kept, so a long series of seeds cannot fill the disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_SEEDS = 3
MARKER = "_COMPLETE"

# ---------------------------------------------------------------------------
# sizes (fixed; see README "Inputs")

TABLE_FILES = 16
TABLE_ROWS_PER_FILE = 15_625          # 250,000 rows
TABLE_BAD_FILES = 2                   # the "bad ingest batch" files

JSON_FILES = 4
JSON_DOCS_PER_FILE = 500              # 2,000 documents

IMAGE_FILES = 8
IMAGES_PER_FILE = 100                 # 800 images

TEXT_FILES = 4
TEXT_BASE_DOCS = 300                  # + planted edited copies


def _rng(seed: int, salt: str) -> np.random.Generator:
    """Independent stream per (seed, purpose): adding a new consumer never
    shifts the values another consumer draws."""
    return np.random.default_rng([seed, zlib.crc32(salt.encode())])


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, no statistics drift across pyarrow runs
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    out = set()
    while len(out) < n:
        for ln in lens:
            out.add("".join(rng.choice(letters, ln)))
            if len(out) == n:
                break
    return sorted(out)


# ---------------------------------------------------------------------------
# typed_table: image+caption metadata (no bytes)

FMTS = ["raw", "rawz", "png", "jpg"]
DIM_FMTS = ["raw", "rawz", "png", "jpg"]


def gen_typed_table(out: str, seed: int) -> dict:
    rng = _rng(seed, "typed_table")
    vocab = np.array(_words(_rng(seed, "typed_vocab"), 2000))
    pool_n = 4096
    cap_len = rng.integers(3, 12, pool_n)
    captions = np.array([" ".join(rng.choice(vocab, k)) for k in cap_len],
                        dtype=object)
    bad_files = set(rng.choice(TABLE_FILES, TABLE_BAD_FILES, replace=False)
                    .tolist())
    n = TABLE_ROWS_PER_FILE
    os.makedirs(os.path.join(out, "images"))
    for f in range(TABLE_FILES):
        base = f * n
        ids = np.array([f"img-{base + i:012d}" for i in range(n)], dtype=object)
        w = rng.integers(64, 2048, n).astype(np.int32)
        h = rng.integers(64, 2048, n).astype(np.int32)
        fmt = np.array(FMTS, dtype=object)[rng.integers(0, 4, n)]
        # clean rows: a jpg's width is a multiple of 8 (the if/then rule)
        jpg = fmt == "jpg"
        w[jpg] = (w[jpg] // 8) * 8
        cap = captions[rng.integers(0, pool_n, n)]
        phash = rng.integers(-(1 << 62), 1 << 62, n, dtype=np.int64)
        w_null = np.zeros(n, bool)
        h_null = np.zeros(n, bool)
        if f in bad_files:
            def pick(k):
                return rng.choice(n, k, replace=False)
            for i in pick(300):
                ids[i] = f"IMG_{base + i}"                  # pattern
            w[pick(200)] = 0                                # minimum
            h[pick(200)] = 20000                            # maximum
            h_null[pick(150)] = True                        # required
            w_null[pick(50)] = True                         # required
            fi = pick(250)
            fmt[fi] = np.array(["webp", "gif"], dtype=object)[fi % 2]  # enum + orphan
            for i in pick(150):
                cap[i] = cap[i] + "\x07"                    # pattern (non-printable)
            for i in pick(100):
                cap[i] = ""                                 # minLength + pattern
            for i in pick(60):
                cap[i] = "x" * 1100                         # maxLength
            ji = pick(200)
            fmt[ji] = "jpg"
            w[ji] = (w[ji] // 8) * 8 + 3                    # if/then multipleOf
            # duplicate ids: copies of ids from a clean file
            src = sorted(set(range(TABLE_FILES)) - bad_files)[0]
            di = pick(400)
            for j, i in enumerate(di):
                ids[i] = f"img-{src * n + (j * 97) % n:012d}"
        _write(pa.table({
            "image_id": pa.array(ids, pa.string()),
            "w": pa.array(w, pa.int32(), mask=w_null),
            "h": pa.array(h, pa.int32(), mask=h_null),
            "fmt": pa.array(fmt, pa.string()),
            "caption": pa.array(cap, pa.string()),
            "phash": pa.array(phash, pa.int64()),
        }), os.path.join(out, "images", f"part-{f:03d}.parquet"))
    os.makedirs(os.path.join(out, "dim_fmt"))
    _write(pa.table({"fmt": pa.array(DIM_FMTS, pa.string())}),
           os.path.join(out, "dim_fmt", "part-000.parquet"))
    return {"rows": TABLE_FILES * n, "bad_files": sorted(bad_files)}


# ---------------------------------------------------------------------------
# json_documents: nested annotation documents

LABELS = ["cat", "dog", "car", "tree", "person", "boat", "bird", "sign"]
SOURCES = ["crawl", "vendor", "synthetic", "user"]


def _good_doc(rng: np.random.Generator, i: int) -> dict:
    nb = int(rng.integers(1, 5))
    boxes = []
    for _ in range(nb):
        x, y = (int(v) for v in rng.integers(0, 400, 2))
        boxes.append({"label": LABELS[int(rng.integers(0, len(LABELS)))],
                      "bbox": [x, y, x + int(rng.integers(1, 200)),
                               y + int(rng.integers(1, 200))],
                      "score": round(float(rng.random()), 4)})
    tags = sorted({f"t{int(v)}" for v in rng.integers(0, 50, int(rng.integers(0, 5)))})
    src = SOURCES[int(rng.integers(0, len(SOURCES)))]
    doc = {"id": f"doc-{i:08d}", "source": src,
           "size": [int(rng.integers(64, 4096)), int(rng.integers(64, 4096)), 3],
           "objects": boxes, "tags": tags,
           "meta": {"lang": ["en", "de", "fr", "ja"][int(rng.integers(0, 4))],
                    "version": int(rng.integers(1, 4))}}
    if src == "vendor":
        doc["license"] = "cc-by-4.0"
    return doc


# planted invalid documents, one family per keyword group; each mutates a
# valid document in place
def _break_type(d, rng):
    d["size"][0] = "wide"


def _break_required(d, rng):
    del d["objects"][0]["label"]


def _break_pattern(d, rng):
    d["id"] = "DOC#" + d["id"]


def _break_enum(d, rng):
    d["objects"][0]["label"] = "unicorn"


def _break_unique(d, rng):
    d["tags"] = ["t1", "t2", "t1"]


def _break_tuple(d, rng):
    d["size"] = [d["size"][0], d["size"][1], 5]


def _break_if_then(d, rng):
    d["source"] = "vendor"
    d.pop("license", None)


def _break_items(d, rng):
    d["objects"][0]["bbox"] = [1, 2, 3]


BREAKERS = [_break_type, _break_required, _break_pattern, _break_enum,
            _break_unique, _break_tuple, _break_if_then, _break_items]

#: share of documents planted invalid, and of documents with a duplicated
#: key (Spark's JSON parser rejects those; the last value wins in the
#: reference semantics, and the duplicate here repeats an equal value)
INVALID_SHARE = 0.05
DUPKEY_SHARE = 0.01


def gen_json_documents(out: str, seed: int) -> dict:
    rng = _rng(seed, "json_documents")
    os.makedirs(os.path.join(out, "docs"))
    n = JSON_DOCS_PER_FILE
    planted, dupkey = [], []
    for f in range(JSON_FILES):
        ids, texts = [], []
        for k in range(n):
            i = f * n + k
            d = _good_doc(rng, i)
            u = float(rng.random())
            if u < INVALID_SHARE:
                BREAKERS[int(rng.integers(0, len(BREAKERS)))](d, rng)
                planted.append(i)
            txt = json.dumps(d, separators=(",", ":"))
            if INVALID_SHARE <= u < INVALID_SHARE + DUPKEY_SHARE:
                # duplicate key with the same value: valid either way
                txt = txt[:-1] + ',"source":' + json.dumps(d["source"]) + "}"
                dupkey.append(i)
            ids.append(i)
            texts.append(txt)
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "doc": pa.array(texts, pa.string())}),
               os.path.join(out, "docs", f"part-{f:03d}.parquet"))
    return {"rows": JSON_FILES * n, "planted_ids": planted,
            "dupkey_ids": dupkey}


# ---------------------------------------------------------------------------
# image_bytes: encoded images + pristine reference copy

MAGIC = b"SSI1"
FMT_CODES = {"raw": 0, "rawz": 1, "jpg": 2, "png": 3}
QUANT_MASK = 0xFC


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """The engine's container layout (magic | u16 w | u16 h | u8 code |
    payload), written independently of the program's own encoder."""
    h, w, _ = pixels.shape
    head = MAGIC + struct.pack("<HHB", w, h, FMT_CODES[fmt])
    if fmt == "raw":
        return head + pixels.tobytes()
    if fmt == "rawz":
        return head + zlib.compress(pixels.tobytes(), 1)
    return head + (pixels & QUANT_MASK).tobytes()


def _picture(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Smooth colour field plus texture: compresses like a photo (zlib
    keeps the bytes-per-pixel gate satisfied) and gives distinct pHashes."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float32)
    out = np.empty((h, w, 3), np.float32)
    for c in range(3):
        fx, fy, ph = rng.uniform(0.5, 6, 2).tolist() + [rng.uniform(0, 6.3)]
        out[..., c] = 127 + 100 * np.sin(xx / w * fx * 6.28 + ph) \
            * np.cos(yy / h * fy * 6.28 - ph)
    out += rng.normal(0, 18, out.shape)
    return np.clip(out, 0, 255).astype(np.uint8)


IMG_SIDES = [64, 96, 128, 160, 192, 256, 384, 512]
IMG_SIDE_P = [0.2, 0.2, 0.2, 0.15, 0.1, 0.08, 0.05, 0.02]
BOILERPLATE = "stock photo of a generic scene"
CAPTION_CAP = 3


def gen_image_bytes(out: str, seed: int) -> dict:
    rng = _rng(seed, "image_bytes")
    vocab = _words(_rng(seed, "image_vocab"), 800)
    total = IMAGE_FILES * IMAGES_PER_FILE
    roles = np.array(["clean"] * total, dtype=object)
    order = rng.permutation(total)
    # planted share of each case (positions drawn once, disjoint)
    counts = {"truncated": 8, "copy": 16, "near": 16, "caption_diff": 8,
              "damaged": 8, "boiler": 12}
    pos = 0
    for role, k in counts.items():
        roles[order[pos:pos + k]] = role
        pos += k
    rows: dict[int, tuple] = {}
    made: dict[int, tuple] = {}
    groups: dict[int, list[int]] = {}
    # originals first, then the copies that reuse their pixels
    for i in sorted(range(total), key=lambda i: roles[i] in ("copy", "near")):
        role = roles[i]
        if role in ("copy", "near"):
            srcs = sorted(made)
            src = srcs[int(rng.integers(0, len(srcs)))]
            w, h, fmt, pix = made[src]
            if role == "copy":
                groups.setdefault(src, [src]).append(i)
            if role == "near":
                pix = np.clip(pix.astype(np.int16)
                              + rng.integers(-3, 4, pix.shape), 0, 255
                              ).astype(np.uint8)
        else:
            side = int(rng.choice(IMG_SIDES, p=IMG_SIDE_P))
            w = side
            h = int(np.clip(side * rng.uniform(0.6, 1.6), 64, 768))
            fmt = ["raw", "rawz", "jpg"][int(rng.integers(0, 3))]
            pix = _picture(rng, w, h)
            if role == "clean":
                made[i] = (w, h, fmt, pix)
        caption = " ".join(rng.choice(vocab, int(rng.integers(3, 10))))
        if role == "boiler":
            caption = BOILERPLATE
        buf = encode_image(pix, fmt)
        ref_pix, ref_cap = pix, caption
        if role == "truncated":
            buf = buf[: len(buf) // 2]
        if role == "damaged":
            # reference differs strongly: PSNR far below 40 dB
            ref_pix = 255 - pix
        if role == "caption_diff":
            ref_cap = caption + " (edited)"
        iid = f"im-{i:06d}"
        rows[i] = ((iid, buf, w, h, fmt, caption),
                   (iid, encode_image(ref_pix, "raw"), w, h, "raw", ref_cap))
    imgs = [rows[i][0] for i in range(total)]
    refs = [rows[i][1] for i in range(total)]
    for name, rows in (("images", imgs), ("ref", refs)):
        os.makedirs(os.path.join(out, name))
        for f in range(IMAGE_FILES):
            part = rows[f * IMAGES_PER_FILE:(f + 1) * IMAGES_PER_FILE]
            cols = list(zip(*part))
            _write(pa.table({
                "image_id": pa.array(cols[0], pa.string()),
                "bytes": pa.array(cols[1], pa.binary()),
                "w": pa.array(cols[2], pa.int32()),
                "h": pa.array(cols[3], pa.int32()),
                "fmt": pa.array(cols[4], pa.string()),
                "caption": pa.array(cols[5], pa.string()),
            }), os.path.join(out, name, f"part-{f:03d}.parquet"))
    planted = {r: sorted(f"im-{i:06d}" for i in range(total) if roles[i] == r)
               for r in counts}
    planted["copy_groups"] = [sorted(f"im-{i:06d}" for i in g)
                              for _, g in sorted(groups.items())]
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump(planted, fh, indent=1, sort_keys=True)
    return {"rows": total}


# ---------------------------------------------------------------------------
# text_dedup: documents with planted edited-copy clusters

def _edit(rng: np.random.Generator, words: list[str], vocab: np.ndarray,
          rate: float) -> list[str]:
    out = list(words)
    for _ in range(max(1, int(len(out) * rate))):
        j = int(rng.integers(0, len(out)))
        op = int(rng.integers(0, 3))
        if op == 0:
            out[j] = str(rng.choice(vocab))
        elif op == 1 and len(out) > 10:
            del out[j]
        else:
            out.insert(j, str(rng.choice(vocab)))
    return out


def gen_text_dedup(out: str, seed: int) -> dict:
    rng = _rng(seed, "text_dedup")
    vocab = np.array(_words(_rng(seed, "text_vocab"), 6000))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    docs: list[tuple[str, str]] = []
    pairs: list[tuple[str, str]] = []
    did = 0
    for b in range(TEXT_BASE_DOCS):
        words = list(rng.choice(vocab, int(rng.integers(60, 301)), p=zipf))
        base_id = f"d{did:07d}"
        docs.append((base_id, " ".join(words)))
        did += 1
        if b % 6 == 0:   # a cluster of 1-3 lightly edited copies
            for _ in range(int(rng.integers(1, 4))):
                cid = f"d{did:07d}"
                cw = _edit(rng, words, vocab, float(rng.uniform(0.005, 0.03)))
                txt = " ".join(cw)
                if rng.random() < 0.3:   # case / whitespace noise
                    txt = txt.upper().replace(" ", "  ", 3)
                docs.append((cid, txt))
                pairs.append((base_id, cid))
                did += 1
    perm = rng.permutation(len(docs))
    docs = [docs[i] for i in perm]
    os.makedirs(os.path.join(out, "docs"))
    per = -(-len(docs) // TEXT_FILES)
    for f in range(TEXT_FILES):
        part = docs[f * per:(f + 1) * per]
        _write(pa.table({"doc_id": pa.array([d[0] for d in part], pa.string()),
                         "text": pa.array([d[1] for d in part], pa.string())}),
               os.path.join(out, "docs", f"part-{f:03d}.parquet"))
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump({"pairs": pairs}, fh)
    return {"rows": len(docs)}


GENERATORS = {
    "typed_table": gen_typed_table,
    "json_documents": gen_json_documents,
    "image_bytes": gen_image_bytes,
    "text_dedup": gen_text_dedup,
}


def ensure_inputs(cache_dir: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return ``(input_dir, info)``, generating the inputs first when no
    completed copy exists. Evicts the oldest seeds of the workload beyond
    ``KEEP_SEEDS``."""
    root = os.path.join(cache_dir, "inputs")
    os.makedirs(root, exist_ok=True)
    # the generator's own source is part of the key: any change to it
    # invalidates every cached input
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:10]
    final = os.path.join(root, f"{workload}-s{seed}-{version}")
    marker = os.path.join(final, MARKER)
    if not os.path.exists(marker):
        shutil.rmtree(final, ignore_errors=True)
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            info = GENERATORS[workload](tmp, seed)
            with open(os.path.join(tmp, "info.json"), "w") as fh:
                json.dump(info, fh, sort_keys=True)
            with open(os.path.join(tmp, MARKER), "w") as fh:
                fh.write("ok\n")
            os.rename(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    os.utime(marker)
    mine = sorted((d for d in os.listdir(root)
                   if d.startswith(workload + "-s") and ".tmp-" not in d
                   and os.path.exists(os.path.join(root, d, MARKER))),
                  key=lambda d: os.path.getmtime(os.path.join(root, d, MARKER)),
                  reverse=True)
    for old in mine[KEEP_SEEDS:]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    with open(os.path.join(final, "info.json")) as fh:
        return final, json.load(fh)
