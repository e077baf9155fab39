"""Correctness checks computed apart from the program under test.

Each workload has an ``expect_*`` function that derives the right answer
from the input files alone (DuckDB SQL, ``jsonschema``, a numpy decode of
the benchmark's own image encoding, exact Python shingle Jaccard), and a
``check_*`` function that compares one pass's outputs with it and returns
a list of problems (empty = correct). The check functions take plain
Python values so ``selftest.py`` can feed them deliberately wrong results.
"""

from __future__ import annotations

import json
import math
import os
import re
import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# typed_table

#: fail condition of every row-level check the table spec can compile to,
#: in DuckDB SQL over the same parquet files. A check the program folds
#: away must be one whose condition never holds on the input.
TABLE_CHECK_SQL = {
    "pattern:/image_id": ("pattern", "image_id IS NOT NULL AND NOT regexp_matches(image_id, '^img-[0-9]{12}$')"),
    "type:/image_id": ("type", "false"),
    "minimum:/w": ("minimum", "w < 1"),
    "maximum:/w": ("maximum", "w > 16384"),
    "type:/w": ("type", "false"),
    "minimum:/h": ("minimum", "h < 1"),
    "maximum:/h": ("maximum", "h > 16384"),
    "type:/h": ("type", "false"),
    "enum:/fmt": ("enum", "fmt NOT IN ('raw', 'rawz', 'png', 'jpg')"),
    "minLength:/caption": ("minLength", "length(caption) < 1"),
    "maxLength:/caption": ("maxLength", "length(caption) > 1024"),
    "pattern:/caption": ("pattern", "NOT regexp_matches(caption, '^[\\x20-\\x7E]+$')"),
    "type:/caption": ("type", "false"),
    "format:/phash": ("format", "false"),
    "type:/phash": ("type", "false"),
    "required:/image_id": ("required", "image_id IS NULL"),
    "required:/w": ("required", "w IS NULL"),
    "required:/h": ("required", "h IS NULL"),
    "required:/fmt": ("required", "fmt IS NULL"),
    "required:/caption": ("required", "caption IS NULL"),
    # if {fmt: const jpg} then {w: multipleOf 8}; an absent fmt satisfies
    # the `if` vacuously
    "then:/": ("then", "(fmt IS NULL OR fmt = 'jpg') AND w % 8 <> 0"),
}


def expect_typed(con, images_glob: str, dim_glob: str) -> dict:
    """DuckDB's answer: per-check fail counts, table verdicts and report
    rows per keyword."""
    cols = ", ".join(
        f"count(*) FILTER (WHERE coalesce({sql}, false)) AS \"{name}\""
        for name, (_, sql) in TABLE_CHECK_SQL.items())
    row = con.execute(
        f"SELECT count(*) AS rows, {cols} FROM read_parquet('{images_glob}')"
    ).fetchone()
    fails = dict(zip(TABLE_CHECK_SQL, row[1:]))
    dup_keys, dup_rows = con.execute(
        f"""SELECT count(*), coalesce(sum(c), 0) FROM (
              SELECT image_id, count(*) c FROM read_parquet('{images_glob}')
              GROUP BY image_id HAVING count(*) > 1)""").fetchone()
    orphans = con.execute(
        f"""SELECT count(*) FROM read_parquet('{images_glob}') i
            WHERE fmt IS NOT NULL AND fmt NOT IN
              (SELECT fmt FROM read_parquet('{dim_glob}') WHERE fmt IS NOT NULL)
        """).fetchone()[0]
    return {"rows": row[0], "fails": fails,
            "unique": {"pass": dup_keys == 0, "dup_keys": dup_keys,
                       "dup_rows": dup_rows},
            "ref_data": {"pass": orphans == 0, "orphan_rows": orphans}}


def check_typed(out: dict, exp: dict) -> list[str]:
    """``out``: {"rows", "fails": {check: n}, "table_verdicts": [...],
    "report_keywords": {keyword: n}} from one pass."""
    bad = []
    if out["rows"] != exp["rows"]:
        bad.append(f"verdict rows {out['rows']} != {exp['rows']}")
    for name, n in out["fails"].items():
        if name not in TABLE_CHECK_SQL:
            bad.append(f"check {name!r} has no independent definition")
        elif n != exp["fails"][name]:
            bad.append(f"{name}: {n} failures, DuckDB says {exp['fails'][name]}")
    for name, n in exp["fails"].items():
        if name not in out["fails"] and n:
            bad.append(f"{name}: not checked, but DuckDB finds {n} failures")
    tv = {v["check"].split(":")[0]: v for v in out["table_verdicts"]}
    for kind, prefix, keys in (
            ("unique", "unique", ("pass", "dup_keys", "dup_rows")),
            ("ref_data", "ref", ("pass", "orphan_rows"))):
        got = tv.get(prefix)
        if got is None:
            bad.append(f"no {kind} table verdict")
            continue
        for k in keys:
            if got.get(k) != exp[kind][k]:
                bad.append(f"{kind}.{k} = {got.get(k)}, DuckDB says {exp[kind][k]}")
    want: dict[str, int] = {}
    for name, n in exp["fails"].items():
        kw = TABLE_CHECK_SQL[name][0]
        want[kw] = want.get(kw, 0) + n
    want["x-unique"] = exp["unique"]["dup_keys"]
    want["$ref_data"] = exp["ref_data"]["orphan_rows"]
    want = {k: v for k, v in want.items() if v}
    if out["report_keywords"] != want:
        bad.append(f"report rows per keyword {out['report_keywords']} != {want}")
    return bad


# ---------------------------------------------------------------------------
# json_documents

def _keywords(err) -> set[str]:
    """Every keyword on the path of a jsonschema error and its sub-errors."""
    out = {err.validator}
    out.update(p for p in err.schema_path if isinstance(p, str))
    for sub in err.context or ():
        out |= _keywords(sub)
    return out


def expect_json(schema: dict, docs: list[tuple[int, str]]) -> dict:
    """``jsonschema``'s Draft-7 verdict and keyword set per invalid doc."""
    from jsonschema import Draft7Validator

    v = Draft7Validator(schema)
    invalid: dict[int, set[str]] = {}
    for doc_id, text in docs:
        errs = list(v.iter_errors(json.loads(text)))
        if errs:
            kws: set[str] = set()
            for e in errs:
                kws |= _keywords(e)
            invalid[doc_id] = kws
    return {"rows": len(docs), "invalid": invalid}


def check_json(out: dict, exp: dict) -> list[str]:
    """``out``: {"variant_invalid": [ids], "kernel_keywords": {id: [kw]}}."""
    bad = []
    want = set(exp["invalid"])
    got_v = set(out["variant_invalid"])
    if got_v != want:
        bad.append(f"VARIANT verdicts: {len(got_v - want)} false invalid, "
                   f"{len(want - got_v)} missed (e.g. "
                   f"{sorted(got_v ^ want)[:5]})")
    got_k = set(out["kernel_keywords"])
    if got_k != want:
        bad.append(f"kernel report: {len(got_k - want)} false invalid, "
                   f"{len(want - got_k)} missed (e.g. "
                   f"{sorted(got_k ^ want)[:5]})")
    for doc_id, kws in out["kernel_keywords"].items():
        extra = set(kws) - exp["invalid"].get(doc_id, set())
        if extra:
            bad.append(f"doc {doc_id}: keywords {sorted(extra)} not reported "
                       "by jsonschema")
            break
    return bad


# ---------------------------------------------------------------------------
# image_bytes

_MAGIC = b"SSI1"


def decode_image(buf: bytes) -> np.ndarray | None:
    """numpy decode of the container the generator writes; None when the
    buffer is truncated or malformed."""
    if buf is None or len(buf) < 9 or buf[:4] != _MAGIC:
        return None
    w, h, code = struct.unpack("<HHB", buf[4:9])
    body = buf[9:]
    if code == 1:
        try:
            body = zlib.decompress(body)
        except zlib.error:
            return None
    if code not in (0, 1, 2, 3) or len(body) != w * h * 3:
        return None
    return np.frombuffer(body, np.uint8).reshape(h, w, 3)


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    if a.shape != b.shape:
        return -math.inf
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return math.inf if mse == 0 else 10 * math.log10(255.0 ** 2 / mse)


STAGES = ("null_bytes", "structural", "dims", "aspect", "bpp", "caption",
          "exact_dup", "undecodable", "near_dup", "caption_cap")


def expect_images(images: list[tuple], refs: list[tuple], planted: dict,
                  psnr_min: float = 40.0) -> dict:
    """``images``/``refs``: (image_id, bytes, caption) rows."""
    ref = {r[0]: r for r in refs}
    fails = caps = 0
    finite = []
    for iid, buf, cap in images:
        r = ref[iid]
        if cap != r[2]:
            caps += 1
        if buf == r[1]:
            continue
        a, b = decode_image(buf), decode_image(r[1])
        if a is None or b is None:
            fails += 1
            continue
        p = psnr_db(a, b)
        if p < psnr_min:
            fails += 1
        if p != math.inf:
            finite.append(p)
    return {"rows": len(images),
            "roundtrip": {"psnr_failures": fails, "caption_mismatches": caps,
                          "missing_refs": 0,
                          "min_finite_psnr_db": min(finite) if finite else None},
            "truncated": planted["truncated"],
            "copy_groups": planted["copy_groups"]}


def check_images(out: dict, exp: dict) -> list[str]:
    """``out``: {"report": {...}, "roundtrip": {...}, "stages": {id: stage}}."""
    bad = []
    rep = out["report"]
    if rep["n_input"] != exp["rows"]:
        bad.append(f"n_input {rep['n_input']} != {exp['rows']} input rows")
    total = sum(rep[f"n_{s}"] for s in STAGES) + rep["n_kept"]
    if total != rep["n_input"]:
        bad.append(f"stage counts sum to {total}, n_input is {rep['n_input']}")
    rt, want = out["roundtrip"], exp["roundtrip"]
    for k in ("psnr_failures", "caption_mismatches", "missing_refs"):
        if rt[k] != want[k]:
            bad.append(f"roundtrip {k} = {rt[k]}, numpy says {want[k]}")
    a, b = rt["min_finite_psnr_db"], want["min_finite_psnr_db"]
    if (a is None) != (b is None) or (a is not None and abs(a - b) > 1e-6):
        bad.append(f"roundtrip min_finite_psnr_db = {a}, numpy says {b}")
    stages = out["stages"]
    for iid in exp["truncated"]:
        if stages.get(iid) not in ("structural", "undecodable"):
            bad.append(f"truncated {iid} landed in {stages.get(iid)!r}")
    for group in exp["copy_groups"]:
        keep = min(group)
        for iid in group:
            st = stages.get(iid)
            if (iid == keep) == (st == "exact_dup"):
                bad.append(f"byte-identical {iid} (group {group}) landed in {st!r}")
    return bad


# ---------------------------------------------------------------------------
# text_dedup

_WS = re.compile(r"[ \t\n\x0b\f\r]+")   # Java's \s


def shingles(text: str, k: int = 5) -> set[str]:
    t = _WS.sub(" ", text.lower()).strip()
    if len(t) < k:
        return {t}
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return inter / max(len(a) + len(b) - inter, 1)


def union_find(pairs) -> dict:
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def expect_text(docs: dict[str, str], planted_pairs, jaccard_min: float = 0.7,
                must_find: float = 0.85) -> dict:
    sh = {d: shingles(t) for d, t in docs.items()}
    must = sorted(tuple(sorted(p)) for p in planted_pairs
                  if jaccard(sh[p[0]], sh[p[1]]) >= must_find)
    return {"shingles": sh, "jaccard_min": jaccard_min, "must": must}


def check_text(out: dict, exp: dict) -> list[str]:
    """``out``: {"pairs": [(a, b, jaccard)], "components": {id: comp}}."""
    bad = []
    sh = exp["shingles"]
    found = set()
    for a, b, j in out["pairs"]:
        true = jaccard(sh[a], sh[b])
        if true < exp["jaccard_min"] or abs(true - j) > 1e-9:
            bad.append(f"pair ({a}, {b}) reported at {j}, exact Jaccard {true}")
            break
        found.add(tuple(sorted((a, b))))
    missed = [p for p in exp["must"] if p not in found]
    if missed:
        bad.append(f"{len(missed)} planted pairs >= 0.85 not found, e.g. {missed[:3]}")
    want = union_find((a, b) for a, b, _ in out["pairs"])
    if out["components"] != want:
        diff = sorted(k for k in set(want) | set(out["components"])
                      if want.get(k) != out["components"].get(k))
        bad.append(f"components differ from union-find on {len(diff)} ids, "
                   f"e.g. {diff[:3]}")
    return bad


def load_planted(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "planted.json")) as fh:
        return json.load(fh)
