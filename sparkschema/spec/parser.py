"""Constraint-spec parsing & normalization.

The reference decodes schema JSON through version-specific ``Reads`` chains
into a ``SchemaType`` AST (internal/serialization/SchemaReads.scala:20-30,
SchemaAST.scala). This engine keeps the *normalized keyword record* as the
IR — a validated dict tree — because both consumers (the Catalyst column
compiler and the vectorized JSON kernel) walk keyword records directly.
Normalization handles the dialect deltas:

- draft-4 ``exclusiveMinimum: true`` flag vs draft-7 numeric keyword
  (both preserved; the kernel accepts both encodings);
- ``$schema`` sniffing picks the dialect (SchemaValidator.scala:117-123);
- structural errors ("severe", SchemaReads.scala:186-208) raise
  :class:`SpecError` at parse time, before any Spark job is planned.
"""

from __future__ import annotations

from typing import Any

from sparkschema.spec.ecma_pattern import kernel_regex
from sparkschema.spec.jsonvalue import is_number, parse_json
from sparkschema.spec.registry import sniff_dialect

_KEYWORDS_SCHEMA_VALUED = (
    "items", "additionalItems", "contains", "additionalProperties",
    "propertyNames", "not", "if", "then", "else",
)
_KEYWORDS_SCHEMA_MAP = ("properties", "patternProperties", "definitions")
_KEYWORDS_SCHEMA_LIST = ("allOf", "anyOf", "oneOf")
_TYPES = {"string", "number", "integer", "boolean", "object", "array", "null"}


class SpecError(ValueError):
    """Structural spec error raised at parse/compile time on the driver."""

    def __init__(self, path: str, reason: str):
        super().__init__(f"{path}: {reason}")
        self.path = path
        self.reason = reason


# Structural (keyword) nesting bound — separate from the $ref MaxDepth=100
# budget (refs.MAX_DEPTH), which counts only ref HOPS for reference parity.
# A hostile ref-free schema nested deeper than Python's recursion limit
# would otherwise die with an uncaught RecursionError mid-walk (ADVICE r4);
# no legitimate spec approaches this. MUST stay strictly below the
# interpreter's per-ref-hop backstop (200): a spec that parses cleanly
# has static nesting <= this bound in every document, so validation-time
# structural descent between ref hops can never reach the interpreter's
# SpecError — deep specs fail loudly at COMPILE time, never per-row on an
# executor (review find r5).
STRUCT_MAX_NESTING = 180


class ParsedSpec:
    __slots__ = ("schema", "dialect")

    def __init__(self, schema: Any, dialect: str):
        self.schema = schema
        self.dialect = dialect


def parse_spec(source: Any, dialect: str | None = None) -> ParsedSpec:
    """Parse + structurally check a constraint spec (JSON text or dict)."""
    schema = parse_json(source) if isinstance(source, str) else source
    d = dialect or sniff_dialect(schema)
    _check(schema, "#", d)
    return ParsedSpec(schema, d)


def _check(node: Any, path: str, dialect: str, sdepth: int = 0) -> None:
    if sdepth > STRUCT_MAX_NESTING:
        raise SpecError(path, f"schema nesting exceeds {STRUCT_MAX_NESTING} levels")
    if node is True or node is False:
        if dialect == "draft4" and path != "#":
            # draft-4 has no boolean schemas except additionalItems/Properties
            # flags, which are checked in context by their parent; accept.
            pass
        return
    if not isinstance(node, dict):
        raise SpecError(path, f"schema must be object or boolean, got {type(node).__name__}")

    t = node.get("type")
    if t is not None:
        names = t if isinstance(t, list) else [t]
        for n in names:
            if not isinstance(n, str) or n not in _TYPES:
                raise SpecError(path + "/type", f"unknown type {n!r}")

    for kw in ("minLength", "maxLength", "minItems", "maxItems",
               "minProperties", "maxProperties"):
        v = node.get(kw)
        if v is not None and (isinstance(v, bool) or not isinstance(v, int) or v < 0):
            raise SpecError(f"{path}/{kw}", "must be a non-negative integer")

    for kw in ("minimum", "maximum", "multipleOf"):
        v = node.get(kw)
        if v is not None and not is_number(v):
            raise SpecError(f"{path}/{kw}", "must be a number")

    pat = node.get("pattern")
    if pat is not None:
        if not isinstance(pat, str):
            raise SpecError(path + "/pattern", "must be a string")
        if kernel_regex(pat) is None:
            raise SpecError(path + "/pattern",
                            "invalid pattern: compiles neither as ECMA-262 "
                            "nor as a Python regex")

    enum = node.get("enum")
    if enum is not None and (not isinstance(enum, list) or not enum):
        raise SpecError(path + "/enum", "must be a non-empty array")

    req = node.get("required")
    if req is not None and isinstance(req, list):
        for r in req:
            if not isinstance(r, str):
                raise SpecError(path + "/required", "entries must be strings")

    for kw in _KEYWORDS_SCHEMA_VALUED:
        # only "items" may be a list (positional tuple form); a list for
        # not/contains/if/... previously slipped through and evaluated as
        # a vacuous-pass schema — inverting under "not" (review find r4)
        allowed = (dict, bool, list) if kw == "items" else (dict, bool)
        if kw in node and not isinstance(node[kw], allowed):
            raise SpecError(f"{path}/{kw}", "must be a schema")
        if kw in node and isinstance(node[kw], (dict, bool)) and kw != "items":
            _check(node[kw], f"{path}/{kw}", dialect, sdepth + 1)
    items = node.get("items")
    if isinstance(items, list):
        for i, s in enumerate(items):
            _check(s, f"{path}/items/{i}", dialect, sdepth + 1)
    elif isinstance(items, (dict, bool)):
        _check(items, f"{path}/items", dialect, sdepth + 1)

    for kw in _KEYWORDS_SCHEMA_MAP:
        m = node.get(kw)
        if m is not None:
            if not isinstance(m, dict):
                raise SpecError(f"{path}/{kw}", "must be an object of schemas")
            for k, s in m.items():
                _check(s, f"{path}/{kw}/{k}", dialect, sdepth + 1)

    for kw in _KEYWORDS_SCHEMA_LIST:
        lst = node.get(kw)
        if lst is not None:
            if not isinstance(lst, list) or not lst:
                raise SpecError(f"{path}/{kw}", "must be a non-empty array of schemas")
            for i, s in enumerate(lst):
                _check(s, f"{path}/{kw}/{i}", dialect, sdepth + 1)

    deps = node.get("dependencies")
    if isinstance(deps, dict):
        for k, dep in deps.items():
            if isinstance(dep, (dict, bool)):
                _check(dep, f"{path}/dependencies/{k}", dialect, sdepth + 1)
