"""Placeholder scanning, canonicalization, and literal binding.

The reference accepts PostgreSQL-style positional placeholders (``$1``,
``$2``, ...) anywhere sqlparser allows them (reference:
src/param_resolver.rs:77-100 rewrites ``Expr::Placeholder``).  Spark's
parameterized SQL uses named ``:name`` markers.  We accept both spellings
(plus ``?`` positional) and canonicalize to ``:pN`` named parameters so a
single binding path serves every mode.

Both execution paths hand the canonical text to Spark's own parameter
binder (``spark.sql(sql, args=...)``).  ``bind_text`` renders values as SQL
literals only where that binder has no marker: an IN-list placeholder
(``col IN :p``) takes a value list, inlined as a literal tuple.  The IN
batch form renders a batch's values through the same ``to_sql_literal``,
which types each value as that binder does.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from dataclasses import dataclass
from decimal import Decimal

from .errors import ParameterError, missing_placeholder

_TOKEN = re.compile(
    r"'(?:[^'\\]|\\.|'')*'?"  # string literal: '' and backslash escapes
    r'|"(?:[^"\\]|\\.|"")*"?'  # double-quoted string
    r"|`(?:[^`]|``)*`?"  # quoted identifier
    r"|--[^\n]*|/\*.*?(?:\*/|\Z)"  # comments
    r"|::|\$\d+|:[A-Za-z_]\w*|\?|[(),]|\w+",
    re.DOTALL,
)


@dataclass(frozen=True)
class Placeholder:
    """A placeholder occurrence in the SQL text."""

    original: str  # as written: "$1", ":p1", "?"
    canonical: str  # canonical name: "p1", "p2", ...
    start: int  # offset of the first char in the original SQL
    end: int  # offset one past the last char


def scan(sql: str):
    """Yield ``(token, start, depth)`` for each code token of ``sql`` — a
    word, a placeholder, ``(``, ``)`` or ``,`` — skipping string literals,
    quoted identifiers, comments and ``::`` casts.  ``depth`` is the paren
    depth at the token; a paren carries the depth outside it.  The one SQL
    scanner of the prepared layer: placeholders here, the statement's
    leading keyword in ``prepared`` and the table names in
    ``simple_parser``."""
    depth = 0
    for m in _TOKEN.finditer(sql):
        tok = m.group()
        if tok[0] in "'\"`-/" or tok == "::":
            continue
        if tok == ")":
            depth -= 1
        yield tok, m.start(), depth
        if tok == "(":
            depth += 1


def find_placeholders(sql: str) -> list[Placeholder]:
    """Find placeholders in order of appearance; canonical names are p1..pN
    for positional styles and the given name for :name."""
    out: list[Placeholder] = []
    qmark_counter = 0
    for tok, start, _ in scan(sql):
        if tok[0] == "$":
            canonical = "p" + tok[1:]
        elif tok[0] == ":":
            canonical = tok[1:]
        elif tok == "?":
            qmark_counter += 1
            canonical = f"p{qmark_counter}"
        else:
            continue
        out.append(Placeholder(tok, canonical, start, start + len(tok)))
    return out


def canonicalize(sql: str) -> tuple[str, list[Placeholder]]:
    """Rewrite every placeholder to its canonical ``:pN`` spelling.

    Returns the rewritten SQL and the placeholder list with offsets
    re-pointed into the REWRITTEN text (so ``bind_text`` can substitute
    directly), while ``original`` keeps the user's spelling for error
    messages."""
    phs = find_placeholders(sql)
    if not phs:
        return sql, []
    parts = []
    out_phs: list[Placeholder] = []
    last = 0
    out_len = 0
    for ph in phs:
        parts.append(sql[last : ph.start])
        out_len += ph.start - last
        token = ":" + ph.canonical
        out_phs.append(Placeholder(ph.original, ph.canonical, out_len, out_len + len(token)))
        parts.append(token)
        out_len += len(token)
        last = ph.end
    parts.append(sql[last:])
    return "".join(parts), out_phs


def normalize_params(params: dict | list | tuple | None, phs: list[Placeholder]) -> dict:
    """Accept user params keyed as "$1" / "p1" / "1" / ":p1" (or a positional
    list) and return a dict keyed by canonical names.  Raises the reference's
    missing-placeholder error if any placeholder has no value."""
    canon_names = []
    seen = set()
    for ph in phs:
        if ph.canonical not in seen:
            seen.add(ph.canonical)
            canon_names.append(ph.canonical)

    values: dict[str, object] = {}
    if params is None:
        params = {}
    if isinstance(params, (list, tuple)):
        for i, v in enumerate(params, start=1):
            values[f"p{i}"] = v
    else:
        for k, v in params.items():
            key = str(k)
            if key.startswith("$") or key.startswith(":"):
                key = key[1:]
            if key.isdigit():
                key = "p" + key
            values[key] = v

    unknown = set(values) - set(canon_names)
    if unknown:
        raise ParameterError(
            f"Unknown parameter(s) {sorted(unknown)}; statement placeholders are "
            f"{sorted(canon_names)}"
        )
    bound = {}
    for ph in phs:
        if ph.canonical in bound:
            continue
        if ph.canonical not in values:
            raise missing_placeholder(ph.original)
        bound[ph.canonical] = values[ph.canonical]
    return bound


_EPOCH = _dt.datetime(1970, 1, 1)


def to_sql_literal(value: object) -> str:
    """Render a Python scalar as a Spark SQL literal of the value and type
    ``spark.sql(..., args=...)`` binds it as (a float is a DOUBLE, bytes
    are BINARY).  Strings are escaped for both quote and backslash (Spark's
    default parser treats backslash as an escape)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return repr(float(value)) + "D"  # without the D, Spark reads a DECIMAL
        word = "NaN" if math.isnan(value) else "Infinity" if value > 0 else "-Infinity"
        return f"CAST('{word}' AS DOUBLE)"
    if isinstance(value, (bytes, bytearray)):
        return "X'" + value.hex() + "'"
    if isinstance(value, _dt.datetime):
        # The instant Spark's own conversion (``args=``, createDataFrame)
        # gives: a naive value is in the process's local zone.
        from pyspark.sql.types import TimestampType

        utc = _EPOCH + _dt.timedelta(microseconds=TimestampType().toInternal(value))
        return "TIMESTAMP '" + utc.strftime("%Y-%m-%d %H:%M:%S.%f") + "Z'"
    if isinstance(value, _dt.date):
        return "DATE '" + value.isoformat() + "'"
    if isinstance(value, Decimal):
        return f"{value}BD"
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'")
        return "'" + escaped + "'"
    if isinstance(value, (list, tuple)):
        return "(" + ", ".join(to_sql_literal(v) for v in value) + ")"
    raise ParameterError(f"Unsupported parameter type: {type(value).__name__}")


def in_context_placeholders(sql: str) -> set[str]:
    """Canonical names of placeholders that stand as the right operand of an
    ``IN`` — i.e. positions where the bound value is a VALUE LIST, not a
    scalar.  Callers use this to (a) bind list-typed NULLs in prepare-time
    trial builds (``x IN NULL`` is a syntax error, ``x IN (NULL)`` is not)
    and (b) inline the list as a literal tuple on the general path, since
    Spark's parameterized parser has no list-valued marker (``IN :p`` does
    not parse)."""
    out = set()
    for ph in find_placeholders(sql):
        if re.search(r"\bIN\s*$", sql[: ph.start], re.IGNORECASE):
            out.add(ph.canonical)
    return out


def bind_text(sql: str, phs: list[Placeholder], bound: dict) -> str:
    """Substitute canonical placeholder occurrences with SQL literals.  A
    negative literal is parenthesised: written straight after the
    statement's own ``-`` (``k-$2``), its sign would open a ``--`` comment
    that swallows the rest of the line."""
    parts = []
    last = 0
    for ph in phs:
        parts.append(sql[last : ph.start])
        lit = to_sql_literal(bound[ph.canonical])
        parts.append(f"({lit})" if lit.startswith("-") else lit)
        last = ph.end
    parts.append(sql[last:])
    return "".join(parts)
