"""The kernel raises Python's recursion limit only while a deep parse or
validation runs, and restores it afterwards."""

import sys

from sparkschema.spec.interpreter import Validator
from sparkschema.spec.jsonvalue import (DEEP_RECURSION_LIMIT,
                                        PARSE_MAX_NESTING, parse_json)


def _nested_arrays(n: int) -> str:
    return "[" * n + "]" * n


def test_parse_and_validate_leave_the_limit_unchanged():
    before = sys.getrecursionlimit()
    v = Validator()
    assert sys.getrecursionlimit() == before
    doc = parse_json(_nested_arrays(PARSE_MAX_NESTING))
    assert sys.getrecursionlimit() == before
    assert v.validate({"type": "array", "minItems": 1}, doc) == []
    assert v.validate({"items": {"$ref": "#"}}, doc)  # ref-hop budget
    assert sys.getrecursionlimit() == before
    assert v.validate({"type": "array"}, parse_json("[1, [2]]")) == []
    assert sys.getrecursionlimit() == before


def test_deep_validation_raises_the_limit_while_it_runs():
    seen = []

    def probe(value):
        seen.append(sys.getrecursionlimit())
        return True

    depth = 150  # past the validation depth that raises the limit
    schema, value = {"format": "probe"}, "x"
    for _ in range(depth):
        schema, value = {"items": schema}, [value]
    before = sys.getrecursionlimit()
    v = Validator(formats={"probe": probe})
    assert v.validate(schema, value) == []
    assert seen == [max(before, DEEP_RECURSION_LIMIT)]
    assert sys.getrecursionlimit() == before
    # and a shallow one does not
    assert v.validate({"format": "probe"}, "x") == []
    assert seen[-1] == before
