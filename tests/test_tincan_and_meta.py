"""Multi-document schema smoke tests from the reference's own suites:
TinCanSpec.scala:40-57 (eleven cross-referencing '#name' documents) and
ExamplesSpec.scala:20-44 (swagger petstore examples + meta-schema
self-validation). Consumes the reference's resource files in place; a test
whose files are absent skips with the missing path as its reason. The
meta-schema test falls back to the published draft-04/draft-07 meta-schemas
shipped in ``jsonschema_specifications`` when the reference copies are
absent."""

import glob
import json
import os
from decimal import Decimal

import pytest

from sparkschema.spec.registry import SpecRegistry

RES = "/root/reference/src/test/resources"
META = "/root/reference/src/main/resources"

needs_tincan = pytest.mark.skipif(
    not os.path.exists(f"{RES}/tincan"),
    reason=f"reference fixture directory {RES}/tincan is absent")


def load(path):
    with open(path, encoding="utf-8") as f:
        return json.loads(f.read(), parse_float=Decimal)


TINCAN_INSTANCE = {
    "actor": {"name": "Sally Glider", "mbox": "mailto:sally@example.com"},
    "verb": {"id": "http://adlnet.gov/expapi/verbs/experienced",
             "display": {"en-US": "experienced"}},
    "object": {"id": "http://example.com/activities/solo-hang-gliding",
               "definition": {"name": {"en-US": "Solo Hang Gliding"}}},
}


def tincan_registry() -> SpecRegistry:
    reg = SpecRegistry("draft4")
    for name in ("agent", "group", "inversefunctional", "mbox",
                 "statement_base", "statement_object", "verb", "languagemap",
                 "activity", "activity_definition", "activityid"):
        reg.add_schema(f"#{name}", load(f"{RES}/tincan/{name}.json"))
    return reg


@needs_tincan
def test_tincan_statement_validates():
    reg = tincan_registry()
    schema = load(f"{RES}/tincan/statement_base.json")
    assert reg.validate(schema, TINCAN_INSTANCE) == []


@needs_tincan
def test_tincan_rejects_bad_statement():
    reg = tincan_registry()
    schema = load(f"{RES}/tincan/statement_base.json")
    bad = dict(TINCAN_INSTANCE)
    bad["verb"] = {"id": 12}  # verb.id must be a string URI
    errs = reg.validate(schema, bad)
    assert errs, "invalid verb must be rejected"


def load_meta_schema(name: str, published: str):
    """The reference's copy of a draft meta-schema where it exists, else the
    published document of the same id from ``jsonschema_specifications``."""
    path = f"{META}/{name}.json"
    if not os.path.exists(path):
        specs = pytest.importorskip("jsonschema_specifications")
        path = os.path.join(os.path.dirname(specs.__file__), "schemas",
                            published, "metaschema.json")
    return load(path)


def test_meta_schema_validates_itself():
    # ExamplesSpec "validate core schema against itself"
    for name, dialect in (("json-schema-draft-04", "draft4"),
                          ("json-schema-draft-07", "draft7")):
        meta = load_meta_schema(name, dialect)
        reg = SpecRegistry(dialect)
        reg.add_schema(meta.get("$id") or meta.get("id"), meta)
        assert reg.validate(meta, meta) == [], name


@pytest.mark.parametrize("example", sorted(
    os.path.basename(p) for p in glob.glob(f"{RES}/test-schemas/petstore*.json")))
def test_swagger_petstore_examples(example):
    # ExamplesSpec petstore-* against the swagger 2.0 schema
    swagger = load(f"{RES}/test-schemas/swagger-schema.json") \
        if os.path.exists(f"{RES}/test-schemas/swagger-schema.json") else None
    if swagger is None:
        candidates = glob.glob(f"{RES}/test-schemas/*swagger*")
        if not candidates:
            pytest.skip("swagger schema not shipped in reference resources")
        swagger = load(candidates[0])
    reg = SpecRegistry("draft4")
    # the swagger schema $refs the draft-04 meta-schema, served from the
    # classpath in the reference suite (ExamplesSpec / ClasspathUrlHandler)
    reg.add_schema("http://json-schema.org/draft-04/schema",
                   load("/root/reference/src/main/resources/json-schema-draft-04.json"))
    sid = swagger.get("$id") or swagger.get("id") or "urn:swagger"
    reg.add_schema(sid, swagger)
    instance = load(f"{RES}/test-schemas/{example}")
    assert reg.validate(swagger, instance) == [], example
