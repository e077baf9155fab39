"""Layer-1/2/3 golden parity: run the engine's semantics kernel against the
exact JSON-Schema-Test-Suite + ajv fixture corpus the reference project runs
(SURVEY.md §5). Fixture files are public test *data*, consumed in place.

Corpus selection mirrors the reference's spec classes:
- draft4/*.json + draft7/*.json (one spec class per keyword file);
- optional/format + optional/bignum only (FormatSpec.scala:13,
  BigNumSpec.scala:12 — zeroTerminatedFloats is NOT run by the reference;
  its ``isWhole`` integer predicate intentionally treats 1.0 as integer);
- the 16 ajv regression files listed in AjvSpecs.scala:13-29;
- refRemote fixtures with remotes/ pre-registered (no network).

Without the reference checkout the draft4/*.json and draft7/*.json keyword
files are not collected at all (the glob finds nothing), and each of the 18
named files (optional format/bignum, ajv) skips on its own missing path.
"""

import glob
import os

import pytest

from tests.conftest import REFERENCE, load_json, make_registry

AJV_NAMES = [
    "1_ids_in_refs", "2_root_ref_in_ref", "17_escaping_pattern_property",
    "19_required_many_properties", "20_failing_to_parse_schema",
    "27_recursive_reference", "27_1_recursive_raml_schema",
    "28_escaping_pattern_error", "33_json_schema_latest",
    "63_id_property_not_in_schema", "70_1_recursive_hash_ref_in_remote_ref",
    "70_swagger_schema", "87_$_property", "94_dependencies_fail",
    "170_ref_and_id_in_sibling", "226_json_with_control_chars",
]


def corpus():
    suites = []
    for d in ("draft4", "draft7"):
        for p in sorted(glob.glob(f"{REFERENCE}/src/test/resources/{d}/*.json")):
            suites.append((d, p))
    suites.append(("draft4", f"{REFERENCE}/src/test/resources/draft4/optional/format.json"))
    suites.append(("draft4", f"{REFERENCE}/src/test/resources/draft4/optional/bignum.json"))
    for n in AJV_NAMES:
        suites.append(("draft4", f"{REFERENCE}/src/test/resources/ajv_tests/{n}.json"))
    return suites


def file_ids():
    return [f"{d}:{os.path.basename(p)}" for d, p in corpus()]


@pytest.mark.parametrize("dialect,path", corpus(), ids=file_ids())
def test_fixture_file(dialect, path):
    if not os.path.exists(path):
        pytest.skip(f"reference fixture {path} is absent")
    failures = []
    for case in load_json(path):
        for t in case["tests"]:
            reg = make_registry(dialect)
            errs = reg.validate(case["schema"], t["data"])
            if (not errs) != t["valid"]:
                failures.append(
                    f"{case['description']} | {t['description']} | "
                    f"expected valid={t['valid']} got {errs[:1]}"
                )
    assert not failures, "\n".join(failures)
