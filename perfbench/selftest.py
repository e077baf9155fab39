"""Self-test of the independent checks: each must accept a right result and
reject deliberately wrong ones.

    python3 perfbench/selftest.py

Builds the expectations from freshly generated inputs (seed 7, in a
temporary directory that is removed afterwards), derives the right
outputs from them, and feeds every check a list of mutated outputs. No
Spark is started. Exits non-zero if a check accepts a wrong result or
rejects the right one.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import tempfile

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark dir
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _typed_good(exp: dict) -> dict:
    # the program folds the type checks of typed columns away
    fails = {k: v for k, v in exp["fails"].items() if not k.startswith("type:")}
    kw: dict[str, int] = {}
    for name, n in exp["fails"].items():
        kw[checks.TABLE_CHECK_SQL[name][0]] = kw.get(checks.TABLE_CHECK_SQL[name][0], 0) + n
    kw["x-unique"] = exp["unique"]["dup_keys"]
    kw["$ref_data"] = exp["ref_data"]["orphan_rows"]
    return {"rows": exp["rows"], "fails": fails,
            "table_verdicts": [dict(exp["unique"], check="unique:image_id"),
                               dict(exp["ref_data"], check="ref:fmt->fmt")],
            "report_keywords": {k: v for k, v in kw.items() if v}}


TYPED_WRONG = [
    ("a check count off by one",
     lambda o, e: o["fails"].__setitem__("maximum:/h", o["fails"]["maximum:/h"] + 1)),
    ("a failing check missing", lambda o, e: o["fails"].pop("enum:/fmt")),
    ("an unknown check", lambda o, e: o["fails"].__setitem__("bogus:/x", 0)),
    ("verdict rows short", lambda o, e: o.__setitem__("rows", o["rows"] - 1)),
    ("dup_keys off by one",
     lambda o, e: o["table_verdicts"][0].__setitem__("dup_keys", o["table_verdicts"][0]["dup_keys"] + 1)),
    ("orphans passing",
     lambda o, e: o["table_verdicts"][1].__setitem__("pass", True)),
    ("no uniqueness verdict", lambda o, e: o["table_verdicts"].pop(0)),
    ("report keyword count",
     lambda o, e: o["report_keywords"].__setitem__("then", o["report_keywords"]["then"] - 1)),
]


def _json_good(exp: dict) -> dict:
    return {"variant_invalid": sorted(exp["invalid"]),
            "kernel_keywords": {d: sorted(k)[:2] for d, k in exp["invalid"].items()}}


JSON_WRONG = [
    ("a valid doc called invalid", lambda o, e: o["variant_invalid"].append(-1)),
    ("an invalid doc missed by VARIANT", lambda o, e: o["variant_invalid"].pop()),
    ("an invalid doc missed by the kernel",
     lambda o, e: o["kernel_keywords"].pop(next(iter(o["kernel_keywords"])))),
    ("a keyword jsonschema does not report",
     lambda o, e: o["kernel_keywords"][next(iter(o["kernel_keywords"]))].append("multipleOf")),
]


def _images_good(exp: dict) -> dict:
    report = {f"n_{s}": 0 for s in checks.STAGES}
    stages = {}
    for iid in exp["truncated"]:
        stages[iid] = "structural"
    for group in exp["copy_groups"]:
        for iid in group[1:]:
            stages[iid] = "exact_dup"
    for st in stages.values():
        report[f"n_{st}"] += 1
    report["n_input"] = exp["rows"]
    report["n_kept"] = exp["rows"] - len(stages)
    return {"report": report, "roundtrip": dict(exp["roundtrip"]), "stages": stages}


def _swap_copy(o, exp):
    dup = next(k for k, v in o["stages"].items() if v == "exact_dup")
    group = next(g for g in exp["copy_groups"] if dup in g)
    o["stages"].pop(dup)
    o["stages"][min(group)] = "exact_dup"


IMAGES_WRONG = [
    ("n_input off by one", lambda o, e: o["report"].__setitem__("n_input", o["report"]["n_input"] + 1)),
    ("stage counts not summing",
     lambda o, e: o["report"].__setitem__("n_near_dup", o["report"]["n_near_dup"] + 1)),
    ("a PSNR failure missed",
     lambda o, e: o["roundtrip"].__setitem__("psnr_failures", o["roundtrip"]["psnr_failures"] - 1)),
    ("caption mismatch count",
     lambda o, e: o["roundtrip"].__setitem__("caption_mismatches", 0)),
    ("min PSNR off",
     lambda o, e: o["roundtrip"].__setitem__("min_finite_psnr_db", o["roundtrip"]["min_finite_psnr_db"] + 0.5)),
    ("a truncated buffer kept",
     lambda o, e: o["stages"].pop(next(iter(o["stages"])))),
    ("the wrong copy dropped", _swap_copy),
]


def _text_good(exp: dict) -> dict:
    sh = exp["shingles"]
    pairs = [(a, b, checks.jaccard(sh[a], sh[b])) for a, b in exp["must"]]
    return {"pairs": pairs,
            "components": checks.union_find((a, b) for a, b, _ in pairs)}


def _low_pair(o, exp):
    ids = sorted(exp["shingles"])
    o["pairs"].append((ids[0], ids[1], 0.9))


TEXT_WRONG = [
    ("a jaccard value misreported",
     lambda o, e: o["pairs"].__setitem__(0, (o["pairs"][0][0], o["pairs"][0][1], o["pairs"][0][2] - 0.01))),
    ("a pair below the threshold", _low_pair),
    ("a planted pair missed", lambda o, e: o["pairs"].pop()),
    ("a component mislabelled",
     lambda o, e: o["components"].__setitem__(next(iter(o["components"])), "zzz")),
]


def _run(name, check, good, exp, wrongs) -> list[str]:
    failures = []
    problems = check(good, exp)
    if problems:
        failures.append(f"{name}: right result rejected: {problems[:2]}")
    for label, mutate in wrongs:
        bad = copy.deepcopy(good)
        mutate(bad, exp)
        if not check(bad, exp):
            failures.append(f"{name}: wrong result accepted ({label})")
        else:
            print(f"ok  {name}: rejects {label}")
    return failures


def main() -> int:
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-")
    failures = []
    try:
        for wl_name in ("typed_table", "json_documents", "image_bytes", "text_dedup"):
            d, info = gen.ensure_inputs(tmp, wl_name, 7)
            wl = workloads.WORKLOADS[wl_name](d, info, tmp, None)
            exp = wl.expect()
            if wl_name == "typed_table":
                failures += _run(wl_name, checks.check_typed, _typed_good(exp), exp, TYPED_WRONG)
            elif wl_name == "json_documents":
                failures += _run(wl_name, checks.check_json, _json_good(exp), exp, JSON_WRONG)
            elif wl_name == "image_bytes":
                failures += _run(wl_name, checks.check_images, _images_good(exp), exp, IMAGES_WRONG)
            else:
                failures += _run(wl_name, checks.check_text, _text_good(exp), exp, TEXT_WRONG)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
