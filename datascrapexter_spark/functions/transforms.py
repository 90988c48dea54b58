"""The reference's 25-rule transform chain, Spark-first.

Reference: /root/reference/internal/pipeline/types.go:48-281 (TransformRule.
Transform switch — the implementation actually invoked by the extractor,
see extractor.go:84-85) and :284-294 (TransformList.Apply, sequential,
first error aborts the chain); validation whitelist :298-308.

Two surfaces, one source of truth:

1.  `apply_transform` / `apply_chain` — pure-Python exact ports (byte-based
    substring/truncate/pad like Go, RE2-style `$1` replacement templates,
    Go ParseFloat/ParseInt validation). Used by golden-fixture tests and by
    chains that need exact parity for non-Catalyst-expressible rules.

2.  `compile_chain(rules)` — returns a function Column -> Column. When every
    rule in the chain is Catalyst-expressible with exact parity, it emits a
    native expression chain (whole-stage codegen, no Python at all). One
    non-native rule anywhere makes the whole chain a single Arrow-batched
    pandas UDF (still no per-row Python). `native_chain` exposes the split:
    the pipeline runs chains without a native form inside the extraction
    batch (extract/engine.py) rather than through the UDF.

Error semantics: Go aborts the chain with an error -> the field extraction
fails. Spark surface maps "chain failed" to NULL (errors are tracked
separately by the extraction engine); all native fallible rules emit NULL
on failure and NULL propagates through the rest of the chain.
"""

from __future__ import annotations

import re
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# --------------------------------------------------------------------------
# Pure-Python exact ports
# --------------------------------------------------------------------------

class TransformError(ValueError):
    """Chain-aborting transform failure (Go: error return)."""


# Go unicode.IsSpace set (strings.TrimSpace): ASCII controls + space + Latin-1
# NEL/NBSP + Unicode Z* category members.
GO_UNISPACE = "\t\n\x0b\f\r \x85\xa0\u1680" + "".join(
    chr(c) for c in range(0x2000, 0x200B)
) + "\u2028\u2029\u202f\u205f\u3000"
_GO_UNISPACE_CLASS = "[\\t\\n\\x0B\\f\\r \\u0085\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"

# RE2 `\s` is ASCII-only: [\t\n\f\r ]
_SPACES_RE = re.compile(r"[\t\n\f\r ]+")
_HTML_TAGS_RE = re.compile(r"<[^>]*>")
_INT_CLEAN_RE = re.compile(r"[^0-9-]")
_NUMBER_EXTRACT_RE = re.compile(r"\d+(?:\.\d+)?")
_CURRENCY_NUMERIC_RE = re.compile(
    r"([+-]?\d{1,}(?:[,\s]\d{3})*(?:\.\d+)?|\d+(?:\.\d+)?)"
)
_GO_FLOAT_RE = re.compile(
    r"^[+-]?((\d+(\.\d*)?|\.\d+)([eEpP][+-]?\d+)?|0[xX][0-9a-fA-F]+(\.[0-9a-fA-F]*)?([pP][+-]?\d+)?|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])$"
)
_GO_INT64_MIN, _GO_INT64_MAX = -(1 << 63), (1 << 63) - 1


def go_trim_space(s: str) -> str:
    return s.strip(GO_UNISPACE)


def _go_parse_float_ok(s: str) -> bool:
    return bool(_GO_FLOAT_RE.match(s))


def _go_replace_template(repl: str) -> str:
    """Translate a Go regexp replacement template ($1, ${name}, $name) to a
    Python re template. Go: '$' + longest run of [A-Za-z0-9_] is a ref;
    '$$' is a literal '$'."""
    out = []
    i = 0
    while i < len(repl):
        ch = repl[i]
        if ch != "$":
            out.append(ch.replace("\\", "\\\\"))
            i += 1
            continue
        if i + 1 < len(repl) and repl[i + 1] == "$":
            out.append("$")
            i += 2
            continue
        if i + 1 < len(repl) and repl[i + 1] == "{":
            end = repl.find("}", i + 2)
            if end != -1:
                out.append(f"\\g<{repl[i + 2:end]}>")
                i = end + 1
                continue
        m = re.match(r"[A-Za-z0-9_]+", repl[i + 1:])
        if m:
            out.append(f"\\g<{m.group(0)}>")
            i += 1 + m.end()
        else:
            out.append("$")
            i += 1
    return "".join(out)


def _param(rule: dict, key: str, default=None):
    params = rule.get("params") or {}
    return params.get(key, default)


def apply_transform(rule: dict[str, Any], s: str) -> str:
    """Exact port of TransformRule.Transform (pipeline/types.go:48-281)."""
    t = rule["type"]
    if t == "trim":
        return go_trim_space(s)
    if t == "lowercase":
        return s.lower()
    if t == "uppercase":
        return s.upper()
    if t == "normalize_spaces":
        return _SPACES_RE.sub(" ", go_trim_space(s))
    if t == "remove_html":
        return go_trim_space(_HTML_TAGS_RE.sub("", s))
    if t == "regex":
        pattern = rule.get("pattern", "")
        if not pattern:
            raise TransformError("regex pattern is required")
        try:
            rx = re.compile(pattern)
        except re.error as e:
            raise TransformError(f"invalid regex pattern: {e}") from e
        return rx.sub(_go_replace_template(rule.get("replacement", "")), s)
    if t == "parse_float":
        cleaned = go_trim_space(s.replace(",", "").replace("$", ""))
        if not _go_parse_float_ok(cleaned):
            raise TransformError(f"failed to parse float: {cleaned!r}")
        return cleaned
    if t == "parse_int":
        cleaned = _INT_CLEAN_RE.sub("", s)
        if cleaned == "":
            return "0"
        try:
            v = int(cleaned)
        except ValueError as e:
            raise TransformError(f"failed to parse int: {cleaned!r}") from e
        if not (_GO_INT64_MIN <= v <= _GO_INT64_MAX):
            raise TransformError(f"failed to parse int: {cleaned!r} (range)")
        return cleaned
    if t == "extract_numbers":
        m = _NUMBER_EXTRACT_RE.search(s)
        return m.group(0) if m else "0"
    if t == "prefix":
        v = _param(rule, "value")
        return f"{v}{s}" if v is not None else s
    if t == "suffix":
        v = _param(rule, "value")
        return f"{s}{v}" if v is not None else s
    if t == "replace":
        old = rule.get("pattern", "")
        if old == "":
            return s
        return s.replace(old, rule.get("replacement", ""))
    if t == "split":
        pattern = rule.get("pattern", "")
        if not pattern:
            return s
        parts = s.split(pattern)
        idx = _param(rule, "index")
        if isinstance(idx, int) and not isinstance(idx, bool) and 0 <= idx < len(parts):
            return parts[idx]
        return ",".join(parts)
    if t == "substring":
        # Go slices BYTES: input[start:end]
        b = s.encode("utf-8")
        start, end = _param(rule, "start"), _param(rule, "end")
        has_start = isinstance(start, int) and not isinstance(start, bool)
        has_end = isinstance(end, int) and not isinstance(end, bool)
        if has_start and 0 <= start < len(b):
            if has_end and start < end <= len(b):
                return b[start:end].decode("utf-8", errors="surrogateescape")
            return b[start:].decode("utf-8", errors="surrogateescape")
        return s
    if t == "truncate":
        max_len = _param(rule, "length")
        b = s.encode("utf-8")
        if isinstance(max_len, int) and max_len > 0 and len(b) > max_len:
            suffix = _param(rule, "suffix")
            if not isinstance(suffix, str):
                suffix = "..."
            if max_len <= len(suffix.encode("utf-8")):
                return b[:max_len].decode("utf-8", errors="surrogateescape")
            cut = max_len - len(suffix.encode("utf-8"))
            return b[:cut].decode("utf-8", errors="surrogateescape") + suffix
        return s
    if t == "title_case":
        return _go_title_case(s.lower())
    if t == "reverse":
        return s[::-1]
    if t == "remove_commas":
        return s.replace(",", "")
    if t == "format_currency":
        m = _CURRENCY_NUMERIC_RE.search(go_trim_space(s))
        if not m:
            return s
        cleaned = m.group(0).replace(" ", "").replace(",", "")
        try:
            value = float(cleaned)
        except ValueError:
            return s
        symbol = _param(rule, "symbol")
        symbol = "$" if symbol is None else str(symbol)
        decimals = _param(rule, "decimals")
        if not (isinstance(decimals, int) and not isinstance(decimals, bool) and decimals >= 0):
            decimals = 2
        return f"{symbol}{value:.{decimals}f}"
    if t == "extract_domain":
        # Go: url.Parse(input).Host — KEEPS the port, strips userinfo
        host = _go_url_host(s)
        return host if host else s
    if t == "extract_filename":
        from urllib.parse import urlsplit

        try:
            path = urlsplit(s).path
            parts = path.split("/")
            if parts and parts[-1] != "":
                return parts[-1]
        except ValueError:
            pass
        parts = s.split("/")
        if parts and parts[-1] != "":
            return parts[-1]
        return s
    if t == "capitalize_words":
        words = s.split()
        return " ".join(w[0].upper() + w[1:].lower() if w else w for w in words)
    if t == "remove_duplicates":
        delim = _param(rule, "delimiter")
        delim = "," if delim is None else str(delim)
        seen, unique = set(), []
        for part in s.split(delim):
            trimmed = go_trim_space(part)
            if trimmed and trimmed not in seen:
                seen.add(trimmed)
                unique.append(trimmed)
        return delim.join(unique)
    if t in ("pad_left", "pad_right"):
        length = _param(rule, "length")
        b_len = len(s.encode("utf-8"))
        if isinstance(length, int) and not isinstance(length, bool) and length > b_len:
            ch = _param(rule, "char")
            ch = " " if not (isinstance(ch, str) and ch) else ch
            padding = ch * (length - b_len)
            return padding + s if t == "pad_left" else s + padding
        return s
    raise TransformError(f"unknown transform type: {t}")


_WORD_RE = re.compile(r"[^\W_]+(?:['’][^\W_]+)*", re.UNICODE)


def _go_title_case(s: str) -> str:
    """Approximation of x/text cases.Title(language.English) over lowercased
    input (types.go:155-157): capitalize the first letter of each UAX#29-ish
    word; apostrophes between letters are word-internal ("it's" -> "It's")."""
    def cap(m: re.Match) -> str:
        w = m.group(0)
        return w[0].upper() + w[1:]

    return _WORD_RE.sub(cap, s)


def _go_url_host(s: str) -> str:
    from urllib.parse import urlsplit

    try:
        netloc = urlsplit(s).netloc
    except ValueError:
        return ""
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    return netloc


def apply_chain(rules: list[dict], s: str) -> str:
    """TransformList.Apply (types.go:284-294): sequential, first error aborts."""
    result = s
    for rule in rules:
        result = apply_transform(rule, result)
    return result


VALID_TRANSFORM_TYPES = frozenset(
    {"trim", "lowercase", "uppercase", "normalize_spaces", "remove_html",
     "regex", "parse_float", "parse_int", "extract_numbers", "prefix",
     "suffix", "replace", "split", "substring", "truncate", "title_case",
     "reverse", "remove_commas", "format_currency", "extract_domain",
     "extract_filename", "capitalize_words", "remove_duplicates",
     "pad_left", "pad_right"}
)


def validate_rules(rules: list[dict]) -> None:
    """ValidateTransformRules (types.go:298-335)."""
    for i, rule in enumerate(rules):
        t = rule.get("type", "")
        if t not in VALID_TRANSFORM_TYPES:
            raise ValueError(f"rule {i}: unknown transform type: {t}")
        if t == "regex" and not rule.get("pattern"):
            raise ValueError(f"rule {i}: regex requires pattern")


# --------------------------------------------------------------------------
# Catalyst compiler
# --------------------------------------------------------------------------

def _trim_go(c: Column) -> Column:
    return F.regexp_replace(
        c, f"^{_GO_UNISPACE_CLASS}+|{_GO_UNISPACE_CLASS}+$", ""
    )


_SIMPLE_DOLLAR_REF = re.compile(r"^(?:[^$]|\$\d)*$")


def _native_rule(rule: dict) -> Callable[[Column], Column] | None:
    """Return a Column->Column fn if `rule` is expressible natively with
    exact Go parity, else None."""
    t = rule["type"]
    if t == "trim":
        return _trim_go
    if t == "lowercase":
        return F.lower
    if t == "uppercase":
        return F.upper
    if t == "normalize_spaces":
        return lambda c: F.regexp_replace(_trim_go(c), "[\\t\\n\\f\\r ]+", " ")
    if t == "remove_html":
        return lambda c: _trim_go(F.regexp_replace(c, "<[^>]*>", ""))
    if t == "regex":
        pattern, repl = rule.get("pattern", ""), rule.get("replacement", "")
        # Java and Go agree on plain $1-style refs; anything fancier (named
        # refs, $ followed by letters) diverges -> Python path.
        if pattern and _SIMPLE_DOLLAR_REF.match(repl) and _re2_java_safe(pattern):
            return lambda c: F.regexp_replace(c, pattern, repl)
        return None
    if t == "parse_float":
        def pf(c: Column) -> Column:
            cleaned = _trim_go(F.replace(F.replace(c, F.lit(","), F.lit("")),
                                         F.lit("$"), F.lit("")))
            ok = cleaned.rlike(r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")
            return F.when(ok, cleaned)
        return pf
    if t == "parse_int":
        def pi(c: Column) -> Column:
            cleaned = F.regexp_replace(c, "[^0-9-]", "")
            return (
                F.when(cleaned == "", F.lit("0"))
                .when(cleaned.rlike(r"^-?\d{1,18}$"), cleaned)
            )
        return pi
    if t == "extract_numbers":
        def en(c: Column) -> Column:
            got = F.regexp_extract(c, r"\d+(?:\.\d+)?", 0)
            return F.when(c.isNotNull(),
                          F.coalesce(F.nullif(got, F.lit("")), F.lit("0")))
        return en
    if t == "prefix":
        v = _param(rule, "value")
        if v is None:
            return lambda c: c
        return lambda c: F.concat(F.lit(str(v)), c)
    if t == "suffix":
        v = _param(rule, "value")
        if v is None:
            return lambda c: c
        return lambda c: F.concat(c, F.lit(str(v)))
    if t == "replace":
        old = rule.get("pattern", "")
        if old == "":
            return lambda c: c
        new = rule.get("replacement", "")
        return lambda c: F.replace(c, F.lit(old), F.lit(new))
    if t == "remove_commas":
        return lambda c: F.replace(c, F.lit(","), F.lit(""))
    if t == "reverse":
        return F.reverse
    if t == "split":
        pattern = rule.get("pattern", "")
        if not pattern:
            return lambda c: c
        idx = _param(rule, "index")
        quoted = "\\Q" + pattern + "\\E"  # literal split, like strings.Split
        if isinstance(idx, int) and not isinstance(idx, bool) and idx >= 0:
            def sp(c: Column) -> Column:
                parts = F.split(c, quoted, -1)
                return F.when(F.size(parts) > idx, F.element_at(parts, idx + 1)) \
                        .otherwise(F.array_join(parts, ","))
            return sp
        return lambda c: F.array_join(F.split(c, quoted, -1), ",")
    return None


def _re2_java_safe(pattern: str) -> bool:
    """Conservative check that a Go/RE2 pattern means the same in Java regex.
    RE2 is (almost) a subset of Java syntax; the toxic differences are RE2's
    absence of backrefs/lookaround (so configs never contain them) and
    escape-sequence gaps. Reject patterns using RE2-specific classes that
    Java reads differently."""
    return not re.search(r"\\[pP]\{[^}]*\}|\(\?[^:=!<]", pattern)


def native_chain(rules: list[dict]) -> Callable[[Column], Column] | None:
    """The chain as pure Catalyst expressions (whole-stage codegen), or
    None when any rule needs the exact Python port."""
    validate_rules(rules)
    native = [_native_rule(r) for r in rules]
    if any(fn is None for fn in native):
        return None

    def col_fn(c: Column) -> Column:
        for fn in native:
            c = fn(c)
        return c
    return col_fn


def chain_or_null(rules: list[dict], v: str | None) -> str | None:
    """`apply_chain` with the Spark surface's error mapping: NULL in gives
    NULL out, and a chain error gives NULL."""
    if v is None:
        return None
    try:
        return apply_chain(rules, v)
    except TransformError:
        return None


def compile_chain(rules: list[dict]) -> Callable[[Column], Column]:
    """Compile a transform chain to a Column function.

    All-native chain -> pure Catalyst expressions (`native_chain`).
    Otherwise -> ONE Arrow-batched pandas UDF running the exact Python port
    (chain error -> NULL). The UDF is the path for chains applied on their
    own; after extraction, `extract_fields_df(..., chains=...)` runs them
    inside the extraction batch instead, with no second Python crossing."""
    col_fn = native_chain(rules)
    if col_fn is not None:
        return col_fn

    frozen = [dict(r) for r in rules]

    @pandas_udf("string")
    def chain_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: chain_or_null(frozen, v))

    return lambda c: chain_udf(c)
