"""ECMA-262 regex dialect shim.

The reference compiles ``pattern`` / ``patternProperties`` with Nashorn's
ECMAScript RegExpFactory (StringValidators.scala:16-50), while this engine
evaluates patterns with Python ``re`` (kernel) and Java ``java.util.regex``
(Catalyst ``rlike``). The three dialects agree on the whole golden fixture
corpus, but diverge on documented constructs. :func:`translate_ecma`
rewrites the common divergent constructs at compile time;
:func:`translate_ecma_checked` additionally surfaces what it cannot bridge
as ``UserWarning``s (the divergence-detection path).

Dialect table (construct → ECMA meaning → untranslated engine behavior):

====================  ==============================  =========================
construct             ECMA-262                        Python / Java if untranslated
====================  ==============================  =========================
``\\d \\w`` (no u-flag)  ASCII ``[0-9]``/``[A-Za-z0-9_]``  Python: Unicode digits/words
``\\s``                 Unicode WhiteSpace + BOM        Java: ASCII-only ``[ \\t\\n\\x0B\\f\\r]``
``$`` (no m-flag)     end of input ONLY, anywhere     Python/Java: also before a
                      in the pattern                  trailing newline
``\\cX``               control char (X mod 32)         Python: error
``[]``                never matches                   Python: unterminated class
``[^]``               matches anything                Python: unterminated class
lone ``{``            literal brace                   Java: dangling-metachar error
``x{,n}``             literal text ``x{,n}`` (Annex   Python: quantifier ``{0,n}`` —
                      B: not a quantifier)            the brace is escaped on
                                                      both targets
``[\\s-a]`` (dash      literal '-' (shorthands are     Python AND Java: bad
next to a shorthand)  not range endpoints)            character range — the dash
                                                      is escaped ``\\-``
``\\b`` in a class     backspace (\\x08)               Java: illegal escape — both
                                                      targets now get ``\\x08``
``\\b`` boundary       ASCII-word boundary             Python: Unicode boundary —
                                                      translated to lookarounds
                                                      over ``[0-9A-Za-z_]``
``[\\D] [\\S] [\\W]``    complement-set members          expanded to explicit
                                                      complement codepoint
                                                      ranges (compose correctly
                                                      under class negation)
``(?<nm>…) \\k<nm>``   named group / backref           Python spelling
                                                      ``(?P<nm>…)``/``(?P=nm)``
``\\v``                vertical tab U+000B             Java ≥8: whitespace CLASS —
                                                      pinned to ``\\x0b``
``\\c`` + non-letter   literal ``\\c`` (Annex B)       both: illegal escape —
                                                      emitted as literal
``\\q \\A \\z \\p`` …   identity escape = literal       Python: error / Java: own
letter                letter (Annex B)                meaning — emitted as the
                                                      bare letter + UserWarning
====================  ==============================  =========================

Escapes inside character classes and quantifier braces are scanned
context-aware; anything beyond this table passes through untouched (and
the corpus shows agreement there).

Which regex each evaluator runs is decided here and nowhere else.
:func:`kernel_regex` is the kernel's regex: the Python translation, else
the raw pattern, else ``None`` (the pattern compiles in neither form: a
``pattern`` keyword fails every string, a ``patternProperties`` entry is
skipped, and the parser rejects it). :func:`java_regex` is the form the
Catalyst paths hand to ``rlike``: ``None`` exactly when
:func:`kernel_regex` is ``None``, otherwise the Java translation, proved
to compile on the live JVM when a session is active. It raises
:class:`UnportablePattern` when no Java form has the kernel's meaning —
the kernel runs the raw pattern, or the JVM rejects the translation — and
each caller then falls back to the kernel or refuses the spec.
"""

from __future__ import annotations

import re

# ECMA WhiteSpace ∪ LineTerminator (incl. NBSP + BOM), for translating \s/\S
_ECMA_WS = (" \\t\\n\\x0b\\f\\r\\u00a0\\u1680\\u2000-\\u200a"
            "\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff")

# codepoint-range views of the ECMA shorthand sets, for expanding the
# NEGATED shorthands (\D \S \W) inside character classes as explicit
# complement ranges — plain set members, so they compose correctly in both
# positive and negated classes on both targets
_DIGIT_RANGES = [(0x30, 0x39)]
_WORD_RANGES = [(0x30, 0x39), (0x41, 0x5A), (0x5F, 0x5F), (0x61, 0x7A)]
_WS_RANGES = [(0x09, 0x0D), (0x20, 0x20), (0xA0, 0xA0), (0x1680, 0x1680),
              (0x2000, 0x200A), (0x2028, 0x2029), (0x202F, 0x202F),
              (0x205F, 0x205F), (0x3000, 0x3000), (0xFEFF, 0xFEFF)]
_MAX_CP = 0x10FFFF
# ECMA word set as a class body, for translating the ASCII \b boundary
_WORD_CLASS = "0-9A-Za-z_"


def _complement(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out, pos = [], 0
    for lo, hi in ranges:
        if pos < lo:
            out.append((pos, lo - 1))
        pos = hi + 1
    if pos <= _MAX_CP:
        out.append((pos, _MAX_CP))
    return out


def _cp_escape(cp: int, target: str) -> str:
    if cp <= 0xFF:
        return "\\x%02x" % cp
    if cp <= 0xFFFF:
        return "\\u%04x" % cp
    return ("\\U%08x" % cp) if target == "python" else ("\\x{%x}" % cp)


def _class_ranges(ranges: list[tuple[int, int]], target: str) -> str:
    parts = []
    for lo, hi in ranges:
        parts.append(_cp_escape(lo, target))
        if hi > lo:
            parts.append("-" + _cp_escape(hi, target))
    return "".join(parts)


_WARNED: set[tuple[str, str]] = set()


def translate_ecma_checked(pattern: str, target: str = "python") -> str:
    """:func:`translate_ecma` + the divergence-detection path: any
    unbridgeable construct is surfaced once per (pattern, target) as a
    Python ``UserWarning`` at compile time, so silently-divergent
    validation is visible in logs/test output instead of being dropped."""
    out, warns = translate_ecma(pattern, target)
    if warns and (pattern, target) not in _WARNED:
        _WARNED.add((pattern, target))
        import warnings as _warnings
        _warnings.warn(
            f"ECMA-262 pattern {pattern!r} ({target}): " + "; ".join(warns),
            UserWarning, stacklevel=3)
    return out


def translate_ecma(pattern: str, target: str = "python") -> tuple[str, list[str]]:
    """Rewrite an ECMA-262 pattern for ``target`` (``python`` | ``java``).

    Returns ``(translated_pattern, warnings)`` — warnings name constructs
    whose semantics may still diverge after translation.
    """
    out: list[str] = []
    warnings: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    # In ECMA a '-' adjacent to a class shorthand inside a character class
    # is a LITERAL dash ('[\s-a]' = whitespace, '-', 'a'); after expanding
    # the shorthand the dash would fuse into a (possibly reversed) range
    # that Python AND Java reject — so any dash touching a shorthand is
    # escaped. Tracked via this flag (set after an in-class shorthand).
    prev_class_shorthand = False

    def peek(k: int = 0) -> str:
        return pattern[i + k] if i + k < n else ""

    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if nxt == "c" and i + 2 < n and pattern[i + 2].isalpha():
                # \cX control escape → \xNN (Python lacks \cX)
                out.append("\\x%02x" % (ord(pattern[i + 2].upper()) % 32))
                i += 3
                continue
            if nxt == "c":
                # ECMA Annex B: \c NOT followed by a letter is the literal
                # two chars "\c" — both engines reject the bare escape
                # (review find r4)
                out.append("\\\\c")
                i += 2
                continue
            if nxt == "b" and in_class:
                # ECMA [\b] is BACKSPACE; Java rejects \b inside a class
                # ("Illegal/unsupported escape sequence") — emit \x08 on
                # both targets (review find r4)
                out.append("\\x08")
                prev_class_shorthand = False
                i += 2
                continue
            if nxt == "k" and not in_class and peek(2) == "<":
                # named backreference \k<name>: Java native, Python spells
                # it (?P=name)
                j = pattern.find(">", i + 3)
                if j > 0:
                    name = pattern[i + 3:j]
                    out.append(f"(?P={name})" if target == "python"
                               else pattern[i:j + 1])
                    i = j + 1
                    continue
            if nxt == "v":
                # ECMA \v is VERTICAL TAB; Java \v has been a vertical-
                # whitespace CLASS since Java 8 — pin the codepoint
                out.append("\\x0b")
                i += 2
                continue
            if nxt.isalpha() and nxt not in "dDsSwWbBcfknrtxu":
                # Annex B identity escape: \X for any other letter matches
                # the LITERAL letter in ECMA, while Python rejects unknown
                # escapes outright and Java gives \p/\A/\z/\Q/... its
                # own meanings. Emit the bare letter (the ECMA semantics)
                # and surface the construct — the one place engines
                # genuinely disagree (review find r4: the warnings path
                # was dead code)
                warnings.append(
                    f"\\{nxt} treated as ECMA identity escape "
                    f"(literal {nxt!r}); engine-native meaning differs")
                out.append(nxt)
                prev_class_shorthand = False
                i += 2
                continue
            if nxt in "dD" and target == "python":
                # ECMA \d is ASCII; Python str patterns are Unicode. In a
                # class, \D expands to the explicit complement ranges of
                # [0-9] — a plain set of members, correct in positive AND
                # negated classes.
                if in_class and nxt == "d":
                    out.append("0-9")
                elif in_class:
                    out.append(_class_ranges(_complement(_DIGIT_RANGES), target))
                else:
                    out.append("[0-9]" if nxt == "d" else "[^0-9]")
                prev_class_shorthand = in_class
                i += 2
                continue
            if nxt in "wW" and target == "python":
                if in_class and nxt == "w":
                    out.append("A-Za-z0-9_")
                elif in_class:
                    out.append(_class_ranges(_complement(_WORD_RANGES), target))
                else:
                    out.append("[A-Za-z0-9_]" if nxt == "w" else "[^A-Za-z0-9_]")
                prev_class_shorthand = in_class
                i += 2
                continue
            if nxt in "sS":
                # pin the exact ECMA whitespace set on both targets
                if in_class and nxt == "S":
                    out.append(_class_ranges(_complement(_WS_RANGES), target))
                elif in_class:
                    out.append(_ECMA_WS)
                else:
                    out.append(("[%s]" if nxt == "s" else "[^%s]") % _ECMA_WS)
                prev_class_shorthand = in_class
                i += 2
                continue
            if nxt in "dDwW" and in_class:
                # java target keeps \d/\w (already ASCII there) but the
                # dash-adjacency rule still applies
                out.append(ch + nxt)
                prev_class_shorthand = True
                i += 2
                continue
            if nxt in "bB" and not in_class:
                # ECMA \b is an ASCII-word boundary; Python's is Unicode and
                # Java's is TOO (\b ignores \w's ASCII-ness — a Java quirk).
                # Express it exactly with lookarounds over the ECMA word set
                # on both targets.
                w = f"[{_WORD_CLASS}]"
                if nxt == "b":
                    out.append(f"(?:(?<={w})(?!{w})|(?<!{w})(?={w}))")
                else:
                    out.append(f"(?:(?<={w})(?={w})|(?<!{w})(?!{w}))")
                prev_class_shorthand = False
                i += 2
                continue
            out.append(ch + nxt)
            prev_class_shorthand = False
            i += 2
            continue

        if not in_class:
            if ch == "(" and peek(1) == "?" and peek(2) == "<" \
                    and peek(3) not in ("=", "!"):
                # ECMA named group (?<name>...): Java native, Python spells
                # it (?P<name>...) — lookbehinds (?<= (?<! pass untouched
                out.append("(?P<" if target == "python" else "(?<")
                i += 3
                continue
            if ch == "[":
                if peek(1) == "]":        # ECMA []: never matches
                    out.append("[^\\s\\S]")
                    i += 2
                    continue
                if peek(1) == "^" and peek(2) == "]":   # ECMA [^]: anything
                    out.append("[\\s\\S]")
                    i += 3
                    continue
                in_class = True
                prev_class_shorthand = False
                out.append(ch)
                i += 1
                continue
            if ch == "$":
                # ECMA $ (no m-flag) asserts END OF INPUT wherever it
                # appears (incl. per-alternative, '^a$|^b$'); Python/Java $
                # also match before one trailing newline, so every
                # unescaped outside-class $ becomes \Z / \z
                out.append("\\Z" if target == "python" else "\\z")
                i += 1
                continue
            if ch == "{":
                # a { that does not start {n}, {n,} or {n,m} is literal in
                # ECMA; Java rejects a dangling brace and Python reads
                # {,n} as {0,n}
                if not re.match(r"\{\d+(,\d*)?\}", pattern[i:]):
                    out.append("\\{")
                    i += 1
                    continue
            out.append(ch)
            i += 1
            continue

        # inside a character class
        if ch == "]":
            in_class = False
            prev_class_shorthand = False
            out.append(ch)
            i += 1
            continue
        if ch == "-" and (prev_class_shorthand
                          or (peek(1) == "\\" and peek(2) in "dDsSwW")):
            # literal dash in ECMA (shorthands can't be range endpoints);
            # escape it so the expanded set cannot fuse into a range
            out.append("\\-")
            i += 1
            continue
        prev_class_shorthand = False
        out.append(ch)
        i += 1

    return "".join(out), warnings


class UnportablePattern(Exception):
    """No Java regex has the kernel's meaning for this pattern: the kernel
    runs the raw pattern, or the JVM rejects the translated form."""


def _kernel_form(pattern: str) -> tuple[re.Pattern | None, bool]:
    """The kernel's compiled regex and whether it is the translation."""
    try:
        return re.compile(translate_ecma_checked(pattern, "python")), True
    except re.error:
        pass
    try:  # translation should never be worse than the raw pattern
        return re.compile(pattern), False
    except re.error:
        return None, False


def kernel_regex(pattern: str) -> re.Pattern | None:
    """The regex the kernel evaluates: the translated Python form, else the
    raw pattern, else ``None`` when neither compiles."""
    return _kernel_form(pattern)[0]


def java_regex(pattern: str) -> str | None:
    """The Java form for ``rlike``; ``None`` exactly when
    :func:`kernel_regex` is ``None``.

    ``rlike`` compiles its pattern at run time, so a form the JVM rejects
    would kill the whole job, not the row: the translation is compiled
    once on the live JVM here, and :class:`UnportablePattern` is raised
    instead. With no active session (driver-only use) that proof is
    skipped. :class:`UnportablePattern` is also raised when the kernel
    runs the raw pattern, whose meaning no translation carries."""
    rx, translated = _kernel_form(pattern)
    if rx is None:
        return None
    if not translated:
        raise UnportablePattern(f"pattern {pattern!r}: untranslatable")
    jpat = translate_ecma_checked(pattern, "java")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            spark._jvm.java.util.regex.Pattern.compile(jpat)
        except (CapturedException, Py4JJavaError):  # PatternSyntaxException
            raise UnportablePattern(
                f"pattern {pattern!r}: Java form does not compile") from None
    return jpat
