"""No-Spark lint: keep the slow string kernels off the per-row render path.

``functions/`` and ``sinks/`` build the per-row expressions of every
mapping and CSV render. Two Spark kernels cost more there than the work
they do:

- ``translate``: Spark looks every code point up in a hash map. It stays
  only for the grouped number render's '.,' swap, a simultaneous
  two-character exchange that sequential ``replace`` calls cannot spell.
  Removing or mapping one character is ``replace``.
- ``regexp_replace`` with a pattern that is a plain string (no regex
  metacharacter once escapes and one-character classes such as ``\\.``
  or ``[.]`` are read as the character they match): ``replace`` does
  the same byte search without the regex engine. A pattern that is not
  an inline string literal cannot be judged, so it fails too.

The checker reads the source text, so it sees Column calls
(``F.translate(...)``) and SQL text (``f"translate({expr}, ...)"``) alike.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dataintegration_csvprovider_spark"
SCANNED = ("functions", "sinks")

CALL = re.compile(r"\b(translate|regexp_replace)\s*\(")
#: the one sanctioned translate: the grouped render's '.,' swap
GROUPING_SWAP = re.compile(r"""["']\.,["']""")
REGEX_META = set(".^$*+?()[]{}|\\")
#: an escaped character or a one-character class, each matching one
#: literal character
LITERAL_ATOM = re.compile(r"\\([^A-Za-z0-9])|\[([^\]\\^])\]")


def _args(src: str, open_paren: int) -> list[str]:
    """The top-level comma-separated arguments of the call whose ``(`` is
    at ``open_paren``; quotes and nested brackets are skipped over."""
    args, depth, start, i, quote = [], 0, open_paren + 1, open_paren + 1, None
    while i < len(src):
        ch = src[i]
        if quote:
            if ch == "\\":
                i += 1
            elif ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            if depth == 0:
                args.append(src[start:i].strip())
                return args
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(src[start:i].strip())
            start = i + 1
        i += 1
    return args


def _pattern(arg: str) -> str | None:
    """The regex an argument spells when it is a string literal: a Python
    one, or a SQL ``'...'`` one inside SQL text; None otherwise."""
    try:
        value = ast.literal_eval(arg)
    except (ValueError, SyntaxError):
        value = arg[1:-1] if len(arg) >= 2 and arg[0] == arg[-1] == "'" else None
    return value if isinstance(value, str) else None


def is_plain_pattern(pattern: str) -> bool:
    """True when ``pattern`` matches one fixed string."""
    return not (set(LITERAL_ATOM.sub("", pattern)) & REGEX_META)


def offenders(src: str, name: str) -> list[str]:
    """Slow-kernel calls in the source text ``src`` of file ``name``."""
    found = []
    for m in CALL.finditer(src):
        line = src.count("\n", 0, m.start()) + 1
        text = src[src.rfind("\n", 0, m.start()) + 1:src.find("\n", m.start())].strip()
        if text.startswith("#"):
            continue
        args = _args(src, m.end() - 1)
        if m.group(1) == "translate":
            if len(args) > 1 and GROUPING_SWAP.fullmatch(args[1]):
                continue
            found.append(f"{name}:{line} translate outside the grouping swap: {text}")
            continue
        pattern = _pattern(args[1]) if len(args) > 1 else None
        if pattern is None:
            found.append(f"{name}:{line} regexp_replace pattern is not an inline literal: {text}")
        elif is_plain_pattern(pattern):
            found.append(f"{name}:{line} regexp_replace of a plain string {pattern!r}: {text}")
    return found


def test_no_slow_kernels_in_render_path():
    found = []
    for sub in SCANNED:
        for p in sorted((PKG / sub).rglob("*.py")):
            found += offenders(p.read_text(), str(p.relative_to(PKG.parent)))
    assert not found, (
        "use replace() for a one-character removal or mapping and for a "
        "plain-string pattern:\n" + "\n".join(found)
    )


def test_checker_flags_the_slow_forms():
    slow = '''
_DOT_REGEX = "'[.]'"
def scrub(col):
    return F.translate(col, "\\r\\n", "")
def scrub_sql(expr):
    return f"translate({expr}, '\\r\\n', '')"
def dot(col):
    return F.regexp_replace(col, ",", "")
def comma(col):
    return F.regexp_replace(F.regexp_replace(col, "\\\\.", ""), ",", ".")
def comma_sql(expr):
    return f"regexp_replace(regexp_replace({expr}, {_DOT_REGEX}, ''), ',', '.')"
def render_sql(expr, dec):
    return f"translate(CAST({expr} AS STRING), '.', {sql_string(dec)})"
'''
    assert len(offenders(slow, "slow.py")) == 8
    fine = '''
# Spark's translate(...) hashes each code point
def swap(rendered, dec, grp):
    return F.translate(rendered, ".,", dec + grp)
def swap_sql(rendered, dec, grp):
    return f"translate({rendered}, '.,', {sql_string(dec + grp)})"
def digits(col):
    return F.regexp_replace(col, "[^0-9]", "")
def tail_sql(expr):
    return f"regexp_replace({expr}, ',[^.,]*$', '')"
'''
    assert offenders(fine, "fine.py") == []
