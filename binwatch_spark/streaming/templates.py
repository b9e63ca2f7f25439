"""Route/shard-key template rendering — the T1 transform (tmpl.go:21-51).

The reference renders Go ``text/template`` with the sprig function library
(tmpl.go:29-51 registers sprig plus toJson/fromJson/toYaml/fromYaml/
fromYamlArray/fromJsonArray/toToml, and keeps ``env``). We implement the
documented template surface plus sprig's common core over the same item
model (``.ItemID``, ``.Log.*``, ``.Data.*``, ``.Data.Rows``), so reference
templates work unchanged:

- ``{{ .Path.To.Field }}``            — dotted field access
- ``{{ (index .Data.Rows 0).col }}``  — row indexing (the key-template shape)
- ``{{- ... }}`` / ``{{ ... -}}``     — whitespace trim markers
- pipes and calls with arguments: the serialization family (``toJson``
  ``fromJson`` ``fromJsonArray`` ``toYaml`` ``fromYaml`` ``fromYamlArray``
  ``toToml``), the string family (``upper`` ``lower`` ``title`` ``trim``
  ``trimPrefix/Suffix/All`` ``quote`` ``squote`` ``replace`` ``repeat``
  ``substr`` ``nospace`` ``camelcase`` ``snakecase`` ``kebabcase``
  ``contains`` ``hasPrefix`` ``hasSuffix`` ``abbrev`` ``plural``
  ``printf`` ``b64enc`` ``b64dec`` ``sha1sum`` ``sha256sum``
  ``regexReplaceAll`` ``regexMatch``), math (``add`` ``sub`` ``mul``
  ``div`` ``mod`` ``max`` ``min`` ``len`` ``atoi`` ``int`` ``float64``),
  collections (``list`` ``first`` ``rest`` ``last`` ``initial`` ``join``
  ``splitList`` ``sortAlpha`` ``uniq`` ``reverse`` ``compact`` ``concat``
  ``append`` ``prepend`` ``has`` ``without``), dicts (``dict`` ``get``
  ``set`` ``unset`` ``hasKey`` ``keys`` ``values`` ``merge`` ``pick``
  ``omit`` ``dig`` ``deepCopy``), flow/compare (``ternary`` ``default``
  ``coalesce`` ``empty`` ``eq/ne/lt/le/gt/ge`` ``and/or/not`` ``all``
  ``any`` ``fail`` ``required``), time (``now`` ``date`` ``toDate``
  ``dateModify`` ``duration`` ``ago`` ``htmlDate`` ``unixEpoch``), the
  full regex family (``regexFind(All)`` ``regexSplit`` ``regexQuoteMeta``
  ``regexReplaceAllLiteral``), semver (``semver`` ``semverCompare``),
  type inspection (``typeOf`` ``kindOf`` ``kindIs`` ``typeIs``
  ``deepEqual``), sequences (``seq`` ``until`` ``untilStep`` ``chunk``
  ``slice``), URLs (``urlParse`` ``urlJoin`` ``urlquery``), and ``env``
  ``index`` ``toString``. The random/crypto family (uuidv4, randAlpha,
  genPrivateKey, …) is deliberately unregistered — nondeterminism breaks
  replay, and the compile error names the excluded family.
- parenthesized sub-expressions as operands: ``get (dict "a" 1) "a"``,
  ``(list 1 2 3) | first`` — a paren group may itself contain pipes and is
  compiled recursively, with trailing ``.field`` access on the result. A lone
  operand (a field, a constant or a paren group) cannot be piped into.

``now`` reads an injectable module clock (`set_clock`) so tests and
deterministic replays can pin time; ``date`` formats with Go reference
layouts ("2006-01-02 15:04:05") translated to strftime.

Each template is parsed once at compile; render evaluates closures.
`compile_template` turns every ``{{ }}`` expression into closures (pipes,
operands, parenthesized sub-pipelines) and applies the trim markers to the
literal text, so that one parse is also the validation: anything else (the
long tail of sprig) fails fast at COMPILE time — rendering wrong beats
rendering silently, and compile_routes runs at build time
(blsenderwork.go:102-105 parity), so a bad template kills the job before
any event flows.

The same renderer computes the shard key (R1): the relay's sender renders
``sharding.keyTemplate`` on each row's item before it walks the routes
(pipeline._RouteSender), so the key and the payloads share one template
engine and the relay's Spark plan has no Python UDF.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
import os
import re
from typing import Any

_EXPR_RE = re.compile(r"\{\{-?\s*(.*?)\s*-?\}\}", re.S)
_FIELD_RE = re.compile(r"^\.(?:[A-Za-z_][A-Za-z0-9_]*)(?:\.[A-Za-z_][A-Za-z0-9_]*)*$")
_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")
_PAREN_RE = re.compile(r"^\((.*)\)((?:\.[A-Za-z_][A-Za-z0-9_]*)*)$", re.S)


def _to_json(value: Any) -> str:
    return json.dumps(value, separators=(",", ":"), ensure_ascii=False)


def _go_str(value: Any) -> str:
    """Render a value the way the reference's templates print it: Go
    booleans are lowercase, nil is the empty string, containers JSON."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (dict, list)):
        return _to_json(value)
    if isinstance(value, float):
        return _go_float_str(value)
    return str(value)


def _go_float_str(f: float) -> str:
    """Go %v for float64 (strconv.FormatFloat 'g', shortest, 64-bit):
    shortest round-trip digits, scientific iff the decimal exponent is
    < -4 or >= 6 — so 5.0 → "5", 1234567.8 → "1.2345678e+06", 0.3 → "0.3".
    Python's str() would print "5.0" and keep fixed form to 1e16."""
    import math
    from decimal import Decimal

    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "+Inf" if f > 0 else "-Inf"
    if f == 0:
        return "-0" if math.copysign(1.0, f) < 0 else "0"
    d = Decimal(repr(f)).normalize()
    sign, digits, dexp = d.as_tuple()
    nd = len(digits)
    exp10 = nd + dexp - 1  # decimal exponent of the leading digit
    prefix = "-" if sign else ""
    digit_str = "".join(map(str, digits))
    if exp10 < -4 or exp10 >= 6:
        mant = digit_str[0] + ("." + digit_str[1:] if nd > 1 else "")
        return f"{prefix}{mant}e{'+' if exp10 >= 0 else '-'}{abs(exp10):02d}"
    return prefix + format(abs(d), "f")


def _sprig_empty(v: Any) -> bool:
    """sprig's emptiness rule (defaults.go): nil, false, 0, "", empty
    collection."""
    if v is None or v is False:
        return True
    if isinstance(v, (int, float)) and not isinstance(v, bool) and v == 0:
        return True
    if isinstance(v, (str, list, dict, tuple)) and len(v) == 0:
        return True
    return False


def _printf(fmt: str, *args: Any) -> str:
    """Minimal Go fmt.Sprintf: %v %s %d %f %q %% (no width/precision —
    unsupported verbs raise at render time). An argument-count mismatch
    renders as Go's does instead of failing the render: a verb without
    an operand as ``%!d(MISSING)``, surplus operands appended as
    ``%!(EXTRA string=USERS)``."""
    out: list[str] = []
    i = 0
    argi = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            verb = fmt[i + 1]
            i += 2
            if verb == "%":
                out.append("%")
                continue
            if argi >= len(args):
                out.append(f"%!{verb}(MISSING)")
                continue
            a = args[argi]
            argi += 1
            if verb in ("v", "s"):
                out.append(_go_str(a))
            elif verb == "d":
                out.append(str(int(a)))
            elif verb == "f":
                out.append("%f" % float(a))
            elif verb == "q":
                out.append(json.dumps(_go_str(a), ensure_ascii=False))
            else:
                raise ValueError(f"printf: unsupported verb %{verb}")
            continue
        out.append(ch)
        i += 1
    if argi < len(args):
        extra = ", ".join(
            "<nil>" if a is None else f"{_type_of(a)}={_go_str(a)}"
            for a in args[argi:]
        )
        out.append(f"%!(EXTRA {extra})")
    return "".join(out)


def _yaml():
    import yaml as _y

    return _y


def _default(default_value: Any, *given: Any) -> Any:
    # sprig: default d v → v unless empty, else d.
    if given and not _sprig_empty(given[0]):
        return given[0]
    return default_value


def _coalesce(*vals: Any) -> Any:
    for v in vals:
        if not _sprig_empty(v):
            return v
    return None


def _index(collection: Any, *keys: Any) -> Any:
    value = collection
    for k in keys:
        if isinstance(value, dict):
            value = value[k]
        else:
            value = value[int(k)]
    return value


def _ternary(true_val: Any, false_val: Any, cond: Any) -> Any:
    # sprig: ternary "yes" "no" cond — condition LAST so the pipe form
    # `cond | ternary "yes" "no"` works (pipes append the piped value last).
    return true_val if cond else false_val


def _dict(*kv: Any) -> dict:
    if len(kv) % 2 != 0:
        raise ValueError("dict: odd number of arguments")
    return {str(kv[i]): kv[i + 1] for i in range(0, len(kv), 2)}


def _get(d: Any, key: Any) -> Any:
    # sprig get returns "" (not an error) when the key is absent.
    return d.get(str(key), "") if isinstance(d, dict) else ""


def _set(d: dict, key: Any, value: Any) -> dict:
    d[str(key)] = value
    return d


def _unset(d: dict, key: Any) -> dict:
    d.pop(str(key), None)
    return d


def _first(seq: Any) -> Any:
    return seq[0] if seq else None


def _rest(seq: Any) -> list:
    return list(seq[1:]) if seq else []


def _last(seq: Any) -> Any:
    return seq[-1] if seq else None


def _initial(seq: Any) -> list:
    return list(seq[:-1]) if seq else []


def _go_repl_to_py(repl: str, rx: re.Pattern) -> str:
    """Go regexp replacement syntax ($1, ${name}, $$) → Python re.sub
    (\\g<1>, \\g<name>). Go expands references to NONEXISTENT groups as the
    empty string (`$1ERS` greedily names group "1ERS"); Python raises — so
    resolve each reference against the compiled pattern here."""

    def group_ref(name: str) -> str:
        if name.isdigit():
            return f"\\g<{int(name)}>" if int(name) <= rx.groups else ""
        return f"\\g<{name}>" if name in rx.groupindex else ""

    out: list[str] = []
    i = 0
    while i < len(repl):
        c = repl[i]
        if c == "$" and i + 1 < len(repl):
            nxt = repl[i + 1]
            if nxt == "$":
                out.append("$")
                i += 2
                continue
            if nxt == "{":
                end = repl.find("}", i + 2)
                if end > 0:
                    out.append(group_ref(repl[i + 2 : end]))
                    i = end + 1
                    continue
            j = i + 1
            while j < len(repl) and (repl[j].isalnum() or repl[j] == "_"):
                j += 1
            if j > i + 1:
                out.append(group_ref(repl[i + 1 : j]))
                i = j
                continue
        if c == "\\":
            out.append("\\\\")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _regex_replace_all(pattern: str, s: Any, repl: str) -> str:
    rx = re.compile(str(pattern))
    return rx.sub(_go_repl_to_py(str(repl), rx), _go_str(s))


# Injectable clock for `now` (VERDICT r03: deterministic tests / replays need
# to pin time). Default is timezone-AWARE local time — Go's time.Now()
# carries the local offset, and RFC3339 layouts (Z07:00 → %z) render an
# empty offset on a naive datetime.
def _local_now() -> _dt.datetime:
    return _dt.datetime.now().astimezone()


_now_fn = _local_now


def set_clock(fn) -> None:
    """Replace the `now` source with a callable returning a datetime (pass
    None to restore the real clock)."""
    global _now_fn
    _now_fn = fn if fn is not None else _local_now


# Go reference-layout tokens → strftime, longest-first so "January" wins
# over "Jan" and "2006" over "06". Covers the layouts sprig docs use.
# Offset tokens (Z07:00 / -07:00 / -0700) are handled SEPARATELY in _date:
# strftime's %z can only produce "+hhmm" — never Go's colon form or the
# RFC3339 "Z" at UTC — so the offset is formatted manually and substituted
# as a literal before strftime runs.
_GO_LAYOUT_TOKENS = [
    ("January", "%B"),
    ("Monday", "%A"),
    ("2006", "%Y"),
    ("Jan", "%b"),
    ("Mon", "%a"),
    ("15", "%H"),
    ("01", "%m"),
    ("02", "%d"),
    ("03", "%I"),
    ("04", "%M"),
    ("05", "%S"),
    ("PM", "%p"),
    ("MST", "%Z"),
    ("06", "%y"),
]
_GO_LAYOUT_RE = re.compile(
    "|".join(re.escape(tok) for tok, _ in _GO_LAYOUT_TOKENS)
)
_GO_LAYOUT_MAP = dict(_GO_LAYOUT_TOKENS)


def _go_offset(t: _dt.datetime, colon: bool, zulu: bool) -> str:
    off = t.utcoffset()
    if off is None:  # naive datetime (injected test clock) — Go's "" analog
        return ""
    total = int(off.total_seconds())
    if zulu and total == 0:
        return "Z"
    sign = "+" if total >= 0 else "-"
    hh, mm = divmod(abs(total) // 60, 60)
    return f"{sign}{hh:02d}:{mm:02d}" if colon else f"{sign}{hh:02d}{mm:02d}"


def _date(fmt: str, t: Any) -> str:
    """sprig date: format a time with a Go reference layout. Accepts a
    datetime (from `now`) or epoch seconds (interpreted in local time,
    tz-aware — Go's time.Unix carries the zone)."""
    if isinstance(t, (int, float)) and not isinstance(t, bool):
        t = _dt.datetime.fromtimestamp(t).astimezone()
    if not isinstance(t, _dt.datetime):
        raise ValueError(f"date: cannot format {type(t).__name__}")
    layout = str(fmt)
    # Go offset tokens → literal formatted offset (constant per datetime);
    # the replacement text contains no '%' so strftime passes it through.
    layout = layout.replace("Z07:00", _go_offset(t, colon=True, zulu=True))
    layout = layout.replace("-07:00", _go_offset(t, colon=True, zulu=False))
    layout = layout.replace("-0700", _go_offset(t, colon=False, zulu=False))
    strf = _GO_LAYOUT_RE.sub(lambda m: _GO_LAYOUT_MAP[m.group(0)], layout)
    return t.strftime(strf)


def _toml_value(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        if any(isinstance(x, dict) for x in v):
            # same contract as the table-depth check below — refuse loudly
            # rather than emit a Python-repr string that parses as TOML
            raise ValueError("toToml: dict inside an array is unsupported")
        return "[" + ", ".join(_toml_value(x) for x in v) + "]"
    if v is None:
        return '""'
    # TOML basic strings share JSON's escape rules
    return json.dumps(str(v), ensure_ascii=False)


def _to_toml(v: Any) -> str:
    """Minimal TOML serializer (scalars, arrays, one level of sub-tables) —
    enough for the config/event shapes templates render; round-trips through
    tomllib (tested)."""
    if not isinstance(v, dict):
        raise ValueError("toToml requires a map at the top level")
    lines: list[str] = []
    tables: list[tuple[str, dict]] = []
    for k, val in v.items():
        if isinstance(val, dict):
            tables.append((str(k), val))
        else:
            lines.append(f"{json.dumps(str(k))} = {_toml_value(val)}")
    for name, table in tables:
        lines.append("")
        lines.append(f"[{json.dumps(name)}]")
        for k, val in table.items():
            if isinstance(val, dict):
                raise ValueError("toToml: nesting deeper than one table level")
            lines.append(f"{json.dumps(str(k))} = {_toml_value(val)}")
    return "\n".join(lines) + "\n"


def _num(v: Any):
    """Numeric coercion for the sprig math family: ints stay ints (Go's
    add/sub are int64), numeric strings parse, anything else errors."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    s = str(v)
    return float(s) if "." in s else int(s)


def _dec(v: Any):
    """Decimal coercion for the sprig float family (execDecimalOp parity)."""
    from decimal import Decimal

    return Decimal(str(_num(v)))


def _go_div(a: Any, b: Any):
    """Go integer division truncates toward ZERO (Python's // floors):
    div -7 2 is -3 under Go templates, -4 under //."""
    na, nb = _num(a), _num(b)
    if isinstance(na, int) and isinstance(nb, int):
        q = abs(na) // abs(nb)
        return -q if (na < 0) != (nb < 0) else q
    return na / nb


def _go_mod(a: Any, b: Any):
    """Go % takes the sign of the DIVIDEND (mod -7 3 = -1, not Python's 2)."""
    na, nb = _num(a), _num(b)
    r = abs(na) % abs(nb)
    return -r if na < 0 else r


_ATOI_RE = re.compile(r"^[+-]?[0-9]+$")


def _atoi(s: Any) -> int:
    # strconv.Atoi parity: ASCII digits with optional sign ONLY — Python's
    # int() extras (surrounding whitespace, '_' separators, unicode digits)
    # all error in Go, and sprig maps the error to 0.
    text = str(s)
    return int(text) if _ATOI_RE.match(text) else 0


def _substr(start: Any, end: Any, s: Any) -> str:
    """sprig substr: negative start → 0, negative end → rest of string
    (NOT Python's from-the-right slicing)."""
    text = _go_str(s)
    a, b = int(start), int(end)
    if a < 0:
        a = 0
    if b < 0:
        b = len(text)
    return text[a:b]


def _regex_find_all(pattern: str, s: Any, n: Any) -> list[str]:
    """sprig regexFindAll: Go re.FindAllString(s, n) — n < 0 means all."""
    n = int(n)
    out = [m.group(0) for m in re.finditer(str(pattern), _go_str(s))]
    return out if n < 0 else out[:n]


def _regex_split(pattern: str, s: Any, n: Any) -> list[str]:
    """sprig regexSplit: Go re.Split(s, n) — n is the max number of
    SUBSTRINGS (not splits); n == 0 returns an empty list, n < 0 splits
    fully. Split on match SPANS, not re.split: Python's re.split
    interleaves capture-group text into the result, which Go's
    regexp.Split never does (subexpressions are ignored)."""
    n = int(n)
    if n == 0:
        return []
    pat, text = str(pattern), _go_str(s)
    if pat and not text:
        return [""]
    # Go FindAll rejects an EMPTY match starting where the previous accepted
    # match ended; Python finditer yields it — filter those or star/optional
    # patterns emit spurious empty substrings ("a*" on "abc").
    matches: list[tuple[int, int]] = []
    prev_end = -1
    for m in re.finditer(pat, text):
        b, e = m.span()
        if b == e and b == prev_end:
            continue
        matches.append((b, e))
        prev_end = e
    if n >= 0:
        matches = matches[:n]
    out: list[str] = []
    beg = end = 0
    for b, e in matches:
        if n > 0 and len(out) >= n - 1:
            break
        end = b
        if e != 0:
            out.append(text[beg:end])
        beg = e
    if end != len(text):
        out.append(text[beg:])
    return out


# --- sprig long-tail helpers (deterministic families only) ---------------

_GO_DUR_RE = re.compile(r"(-?\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")
_GO_DUR_UNITS = {
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}


def _go_duration_seconds(s: Any) -> float:
    """Go time.ParseDuration subset: signed multi-part like "-1h30m"."""
    text = str(s).strip()
    neg = text.startswith("-")
    if text.startswith(("-", "+")):
        text = text[1:]
    parts = _GO_DUR_RE.findall(text)
    if not parts or "".join(n + u for n, u in parts) != text:
        raise ValueError(f"invalid duration {s!r}")
    total = sum(float(n) * _GO_DUR_UNITS[u] for n, u in parts)
    return -total if neg else total


def _duration_str(secs: Any) -> str:
    """sprig duration: integer seconds → Go duration string. Go's
    time.Duration.String() always prints the LOWER units once a higher unit
    appears ("1h0m0s", "1m0s"), never elides them — replay/redelivery
    payload comparison against the Go binary depends on the exact text."""
    n = int(_num(secs))
    sign = "-" if n < 0 else ""
    n = abs(n)
    h, rem = divmod(n, 3600)
    m, s = divmod(rem, 60)
    if h:
        return f"{sign}{h}h{m}m{s}s"
    if m:
        return f"{sign}{m}m{s}s"
    return f"{sign}{s}s"


def _to_date(fmt: str, s: Any) -> _dt.datetime:
    """sprig toDate: parse a string with a Go reference layout."""
    strf = _GO_LAYOUT_RE.sub(lambda m: _GO_LAYOUT_MAP[m.group(0)], str(fmt))
    strf = strf.replace("Z07:00", "%z").replace("-07:00", "%z").replace(
        "-0700", "%z"
    )
    return _dt.datetime.strptime(str(s), strf)


def _trunc(n: Any, s: Any) -> str:
    n, s = int(n), _go_str(s)
    if n >= 0:
        return s[:n]
    return s[n:]


def _wrap_with(width: Any, sep: str, s: Any) -> str:
    """Greedy word wrap at width (sprig wrapWith/wrap semantics)."""
    width = max(int(width), 1)
    words = _go_str(s).split()
    lines: list[str] = []
    cur = ""
    for w in words:
        if not cur:
            cur = w
        elif len(cur) + 1 + len(w) <= width:
            cur += " " + w
        else:
            lines.append(cur)
            cur = w
    if cur:
        lines.append(cur)
    return str(sep).join(lines)


def _chunk(size: Any, seq: Any) -> list:
    size = max(int(size), 1)
    seq = list(seq)
    return [seq[i : i + size] for i in range(0, len(seq), size)]


def _slice(seq: Any, *idx: Any) -> Any:
    seq = list(seq)
    if not idx:
        return seq
    i = int(idx[0])
    j = int(idx[1]) if len(idx) > 1 else len(seq)
    return seq[i:j]


def _dig(*args: Any) -> Any:
    """sprig dig: keys..., default, dict — nested lookup with fallback."""
    if len(args) < 3:
        raise ValueError("dig needs at least 3 args: key default dict")
    *keys, default, d = args
    cur = d
    for k in keys:
        if not isinstance(cur, dict) or str(k) not in cur:
            return default
        cur = cur[str(k)]
    return cur


def _type_of(v: Any) -> str:
    if v is None:
        return "<nil>"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int64"
    if isinstance(v, float):
        return "float64"
    if isinstance(v, str):
        return "string"
    if isinstance(v, dict):
        return "map[string]interface {}"
    if isinstance(v, (list, tuple)):
        return "[]interface {}"
    return type(v).__name__


def _kind_of(v: Any) -> str:
    if v is None:
        return "invalid"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int64"
    if isinstance(v, float):
        return "float64"
    if isinstance(v, str):
        return "string"
    if isinstance(v, dict):
        return "map"
    if isinstance(v, (list, tuple)):
        return "slice"
    return type(v).__name__


def _required(msg: Any, v: Any) -> Any:
    if v is None or v == "":
        raise ValueError(str(msg))
    return v


def _to_ordinal(n: Any) -> str:
    n = int(_num(n))
    if 10 <= n % 100 <= 20:
        suf = "th"
    else:
        suf = {1: "st", 2: "nd", 3: "rd"}.get(n % 10, "th")
    return f"{n}{suf}"


def _url_parse(s: Any) -> dict:
    from urllib.parse import urlsplit

    u = urlsplit(_go_str(s))
    userinfo = ""
    if "@" in u.netloc:
        userinfo = u.netloc.rsplit("@", 1)[0]
    return {
        "scheme": u.scheme,
        "host": u.netloc.rsplit("@", 1)[-1],
        "hostname": u.hostname or "",
        "path": u.path,
        "query": u.query,
        "fragment": u.fragment,
        "userinfo": userinfo,
        "opaque": "",
    }


def _url_join(d: Any) -> str:
    host = d.get("host", "")
    if d.get("userinfo"):
        host = f"{d['userinfo']}@{host}"
    out = ""
    if d.get("scheme"):
        out += d["scheme"] + "://"
    out += host + d.get("path", "")
    if d.get("query"):
        out += "?" + d["query"]
    if d.get("fragment"):
        out += "#" + d["fragment"]
    return out


def _seq(*ns: Any) -> str:
    """sprig seq: bash-seq semantics, SPACE-JOINED STRING output."""
    ns = [int(_num(n)) for n in ns]
    if len(ns) == 1:
        start, step, end = 1, 1, ns[0]
    elif len(ns) == 2:
        start, end = ns
        step = 1 if end >= start else -1
    elif len(ns) == 3:
        start, step, end = ns
    else:
        return ""
    if step == 0:
        return ""
    vals = range(start, end + (1 if step > 0 else -1), step)
    return " ".join(str(v) for v in vals)


# --- semver family (sprig semver/semverCompare, Masterminds/semver rules) --

_SEMVER_RE = re.compile(
    r"^v?(\d+)(?:\.(\d+))?(?:\.(\d+))?"
    r"(?:-([0-9A-Za-z.-]+))?(?:\+([0-9A-Za-z.-]+))?$"
)


def _semver_parse(s: Any) -> tuple[int, int, int, str, str]:
    m = _SEMVER_RE.match(str(s).strip())
    if not m:
        raise ValueError(f"invalid semantic version {s!r}")
    return (
        int(m.group(1)),
        int(m.group(2) or 0),
        int(m.group(3) or 0),
        m.group(4) or "",
        m.group(5) or "",
    )


def _prerel_cmp(a: str, b: str) -> int:
    """SemVer §11: release > prerelease; dot identifiers compare
    numerically when both numeric, else ASCII; shorter list is lower."""
    if a == b:
        return 0
    if a == "":
        return 1
    if b == "":
        return -1
    from itertools import zip_longest

    for x, y in zip_longest(a.split("."), b.split(".")):
        if x is None:
            return -1
        if y is None:
            return 1
        if x == y:
            continue
        xd, yd = x.isdigit(), y.isdigit()
        if xd and yd:
            return -1 if int(x) < int(y) else 1
        if xd:
            return -1
        if yd:
            return 1
        return -1 if x < y else 1
    return 0


def _ver_cmp(a: tuple, b: tuple) -> int:
    if a[:3] != b[:3]:
        return -1 if a[:3] < b[:3] else 1
    return _prerel_cmp(a[3], b[3])


_CONS_PART_RE = re.compile(
    r"^(>=|<=|!=|==|=|>|<|\^|~)?\s*"
    r"v?(\d+|[xX*])(?:\.(\d+|[xX*]))?(?:\.(\d+|[xX*]))?"
    r"(?:-([0-9A-Za-z.-]+))?(?:\+[0-9A-Za-z.-]+)?$"
)


def _semver_check_one(cons: str, ver: tuple) -> bool:
    m = _CONS_PART_RE.match(cons.strip())
    if not m:
        raise ValueError(f"invalid semver constraint {cons!r}")
    op = m.group(1) or "="
    wild = lambda g: g is None or g in ("x", "X", "*")  # noqa: E731
    maj_w, min_w, pat_w = (wild(m.group(i)) for i in (2, 3, 4))
    nums = (
        0 if maj_w else int(m.group(2)),
        0 if min_w else int(m.group(3)),
        0 if pat_w else int(m.group(4)),
    )
    pre = m.group(5) or ""
    base = (*nums, pre, "")
    # Masterminds rule: a prerelease version only satisfies constraints
    # that themselves carry a prerelease (applies to every operator)
    if ver[3] and not pre:
        return False
    if op in (">", "<", ">=", "<=", "!=", "=="):
        c = _ver_cmp(ver, base)
        return {
            ">": c > 0,
            "<": c < 0,
            ">=": c >= 0,
            "<=": c <= 0,
            "!=": c != 0,
            "==": c == 0,
        }[op]
    if op == "=" and not (maj_w or min_w or pat_w):
        return _ver_cmp(ver, base) == 0
    # range forms: wildcard/partial equals, tilde, caret → [floor, ceiling)
    if op == "=":
        if maj_w:
            return True
        if min_w:
            ceiling = (nums[0] + 1, 0, 0, "", "")
        else:  # pat_w
            ceiling = (nums[0], nums[1] + 1, 0, "", "")
    elif op == "~":
        if min_w:
            ceiling = (nums[0] + 1, 0, 0, "", "")
        else:
            ceiling = (nums[0], nums[1] + 1, 0, "", "")
    else:  # ^
        if nums[0] > 0 or min_w:
            ceiling = (nums[0] + 1, 0, 0, "", "")
        elif nums[1] > 0 or pat_w:
            ceiling = (nums[0], nums[1] + 1, 0, "", "")
        else:
            ceiling = (nums[0], nums[1], nums[2] + 1, "", "")
    return _ver_cmp(ver, base) >= 0 and _ver_cmp(ver, ceiling) < 0


def _semver_compare(constraint: Any, version: Any) -> bool:
    """sprig semverCompare: '||'-separated OR groups of ','/space-separated
    AND parts (Masterminds/semver constraint grammar; the hyphen-range and
    build-metadata edge cases excepted — see docs/example-config.yaml)."""
    ver = _semver_parse(version)
    for group in str(constraint).split("||"):
        toks = [p for p in re.split(r"[,\s]+", group.strip()) if p]
        # ">= 1.2" tokenizes as [">=", "1.2"] — re-attach bare operators
        parts: list[str] = []
        for tok in toks:
            if parts and re.fullmatch(r">=|<=|!=|==|=|>|<|\^|~", parts[-1]):
                parts[-1] += tok
            else:
                parts.append(tok)
        if parts and all(_semver_check_one(p, ver) for p in parts):
            return True
    return False


def _semver_dict(version: Any) -> dict:
    """sprig semver: the parsed version as a field-addressable object —
    (semver "1.2.3-rc.1").Major etc."""
    maj, minor, pat, pre, meta = _semver_parse(version)
    return {
        "Major": maj,
        "Minor": minor,
        "Patch": pat,
        "Prerelease": pre,
        "Metadata": meta,
        "Original": str(version).strip(),
    }


def _uniq(seq):
    """Order-preserving dedup by EQUALITY (sprig semantics): handles
    unhashable elements (dicts in a list) that dict.fromkeys cannot."""
    out: list = []
    for x in seq:
        if not any(x == y for y in out):
            out.append(x)
    return out


def _merge_dicts(dst: dict, *srcs: dict) -> dict:
    # sprig merge: left wins (dst keys are NOT overwritten), recursing into
    # nested dicts.
    for src in srcs:
        for k, v in src.items():
            if k in dst and isinstance(dst[k], dict) and isinstance(v, dict):
                _merge_dicts(dst[k], v)
            elif k not in dst:
                dst[k] = v
    return dst


def _merge_overwrite(dst: dict, *srcs: dict) -> dict:
    # sprig mergeOverwrite: right wins (src values overwrite dst), recursing
    # into nested dicts.
    for src in srcs:
        for k, v in src.items():
            if k in dst and isinstance(dst[k], dict) and isinstance(v, dict):
                _merge_overwrite(dst[k], v)
            else:
                dst[k] = v
    return dst


def _go_path_clean(p: Any) -> str:
    """Go path.Clean (purely lexical, POSIX separators). posixpath.normpath
    preserves a POSIX-special double leading slash ("//a") that Go
    collapses — strip it for parity."""
    s = _go_str(p)
    if s == "":
        return "."
    out = __import__("posixpath").normpath(s)
    if out.startswith("//"):
        out = out[1:]
    return out


def _go_path_base(p: Any) -> str:
    """Go path.Base: last element after trailing slashes are removed;
    "" → ".", all-slashes → "/"."""
    s = _go_str(p)
    if s == "":
        return "."
    s = s.rstrip("/")
    if s == "":
        return "/"
    return s.rsplit("/", 1)[-1]


def _go_path_dir(p: Any) -> str:
    """Go path.Dir: everything before the final element, Cleaned."""
    d = __import__("posixpath").dirname(_go_str(p))
    return _go_path_clean(d) if d else "."


def _go_path_ext(p: Any) -> str:
    """Go path.Ext: suffix from the final dot in the final element."""
    base = _go_str(p).rsplit("/", 1)[-1]
    i = base.rfind(".")
    return base[i:] if i >= 0 else ""


def _commons_abbrev(s: str, offset: int, maxw: int) -> str:
    # Apache commons StringUtils.abbreviate(str, offset, maxWidth) — the
    # algorithm goutils.AbbreviateFull (sprig abbrevboth) delegates to.
    if len(s) <= maxw:
        return s
    offset = min(offset, len(s))
    if len(s) - offset < maxw - 3:
        offset = len(s) - (maxw - 3)
    if offset <= 4:
        return s[: maxw - 3] + "..."
    if offset + maxw - 3 < len(s):
        return "..." + _commons_abbrev(s[offset:], 0, maxw - 3)
    return "..." + s[len(s) - (maxw - 3) :]


def _abbrevboth(left: Any, width: Any, s: Any) -> str:
    # sprig's abbrevboth returns the string UNCHANGED when width < 7
    # (goutils is never reached) — mirror that, don't clamp-and-abbreviate.
    if int(width) < 7:
        return str(s)
    return _commons_abbrev(str(s), int(left), int(width))


def _go_split_parts(text: str, sep: str, n: int = -1) -> list[str]:
    """Go strings.SplitN: n<0 unbounded, n=0 no parts, n>0 at most n
    parts; an EMPTY separator splits into individual characters (Python's
    str.split raises on it)."""
    if n == 0:
        return []
    if sep == "":
        chars = list(text)
        if n < 0 or n >= len(chars):
            return chars
        return chars[: n - 1] + [text[n - 1 :]]
    return text.split(sep) if n < 0 else text.split(sep, n - 1)


def _split_dict(sep: Any, s: Any) -> dict:
    """sprig split: parts keyed _0.._n (Go strings.Split)."""
    return {
        f"_{i}": p for i, p in enumerate(_go_split_parts(_go_str(s), str(sep)))
    }


def _splitn_dict(sep: Any, n: Any, s: Any) -> dict:
    """sprig splitn: Go strings.SplitN semantics (see _go_split_parts)."""
    return {
        f"_{i}": p
        for i, p in enumerate(
            _go_split_parts(_go_str(s), str(sep), int(_num(n)))
        )
    }


def _untitle(s: Any) -> str:
    """sprig untitle: lowercase the first letter of every word."""
    return re.sub(
        r"(^|\s)(\S)",
        lambda m: m.group(1) + m.group(2).lower(),
        _go_str(s),
    )


def _date_in_zone(fmt: Any, t: Any, zone: Any) -> str:
    """sprig dateInZone: format in a named IANA zone; "Local" uses the host
    zone, unknown zones fall back to UTC (sprig's own fallback)."""
    if isinstance(t, (int, float)) and not isinstance(t, bool):
        t = _dt.datetime.fromtimestamp(t, _dt.timezone.utc)
    if not isinstance(t, _dt.datetime):
        raise ValueError(f"dateInZone: cannot format {type(t).__name__}")
    if t.tzinfo is None:
        t = t.astimezone()
    z = str(zone)
    if z == "Local":
        t = t.astimezone()
    else:
        try:
            from zoneinfo import ZoneInfo

            t = t.astimezone(ZoneInfo(z or "UTC"))
        except Exception:
            t = t.astimezone(_dt.timezone.utc)
    return _date(fmt, t)


def _duration_round(d: Any) -> str:
    """sprig durationRound: truncate a duration to its most significant
    unit (y=365d, mo=30d, d, h, m, s). Boundary rule is sprig's STRICT
    `>` — exactly 1h renders "60m", exactly 1m renders "60s", exactly 1s
    renders "0s" (durationRound's switch uses `case u > hour:` etc.)."""
    if isinstance(d, (int, float)) and not isinstance(d, bool):
        secs = float(d)
    elif isinstance(d, _dt.timedelta):
        secs = d.total_seconds()
    else:
        secs = _go_duration_seconds(d)
    sign = "-" if secs < 0 else ""
    u = abs(secs)
    for unit, name in (
        (365 * 86400, "y"),
        (30 * 86400, "mo"),
        (86400, "d"),
        (3600, "h"),
        (60, "m"),
        (1, "s"),
    ):
        if u > unit:
            return f"{sign}{int(u // unit)}{name}"
    return "0s"


_FUNCS: dict[str, Any] = {
    # tmpl.go:38-47 extras
    "toJson": lambda v: _to_json(v),
    "fromJson": lambda s: json.loads(s),
    "fromJsonArray": lambda s: json.loads(s),
    # helm/sprig strip the trailing newline from toYaml output
    "toYaml": lambda v: _yaml().safe_dump(v, default_flow_style=False).rstrip("\n"),
    "fromYaml": lambda s: _yaml().safe_load(s),
    "fromYamlArray": lambda s: _yaml().safe_load(s),
    # sprig common core (tmpl.go keeps env enabled; only expandenv is removed)
    "upper": lambda s: str(s).upper(),
    "lower": lambda s: str(s).lower(),
    "title": lambda s: str(s).title(),
    "trim": lambda s: str(s).strip(),
    "quote": lambda *vs: " ".join(json.dumps(_go_str(v), ensure_ascii=False) for v in vs),
    "squote": lambda *vs: " ".join("'" + _go_str(v) + "'" for v in vs),
    "default": _default,
    "coalesce": _coalesce,
    "printf": _printf,
    "b64enc": lambda s: base64.b64encode(str(s).encode("utf-8")).decode("ascii"),
    "b64dec": lambda s: base64.b64decode(str(s)).decode("utf-8"),
    "b32enc": lambda s: base64.b32encode(str(s).encode("utf-8")).decode("ascii"),
    "b32dec": lambda s: base64.b32decode(str(s)).decode("utf-8"),
    "env": lambda name: os.environ.get(str(name), ""),
    "index": _index,
    # sprig long tail (VERDICT r03 #3; reference registers all of sprig,
    # tmpl.go:21-51)
    "ternary": _ternary,
    "dict": _dict,
    "get": _get,
    "set": _set,
    "unset": _unset,
    "hasKey": lambda d, k: isinstance(d, dict) and str(k) in d,
    "list": lambda *vs: list(vs),
    "first": _first,
    "rest": _rest,
    "last": _last,
    "initial": _initial,
    "join": lambda sep, seq: str(sep).join(_go_str(x) for x in seq),
    "regexReplaceAll": _regex_replace_all,
    "regexReplaceAllLiteral": lambda pattern, s, repl: re.sub(
        str(pattern), lambda _m: str(repl), _go_str(s)
    ),
    "regexMatch": lambda pattern, s: re.search(str(pattern), _go_str(s)) is not None,
    # rest of sprig's regex family (VERDICT r04 #8); same (pattern, s, ...)
    # argument order as sprig, Go regexp n semantics (n<0 = unbounded)
    "regexFind": lambda pattern, s: (
        lambda m: m.group(0) if m else ""
    )(re.search(str(pattern), _go_str(s))),
    "regexFindAll": _regex_find_all,
    "regexSplit": _regex_split,
    "regexQuoteMeta": lambda s: re.escape(_go_str(s)),
    # semver family (deterministic, so in-scope unlike random/crypto)
    "semver": _semver_dict,
    "semverCompare": _semver_compare,
    # sprig long tail, round 5: math/sequence
    "ceil": lambda n: float(__import__("math").ceil(_num(n))),
    "floor": lambda n: float(__import__("math").floor(_num(n))),
    # sprig round: half-away-from-zero at `places` decimals (Go math.Round)
    "round": lambda v, places=0, *_: (
        lambda x, p: float(
            __import__("math").floor(x * 10**p + 0.5) / 10**p
            if x >= 0
            else -__import__("math").floor(-x * 10**p + 0.5) / 10**p
        )
    )(_num(v), int(places)),
    "add1": lambda n: _num(n) + 1,
    "sub1": lambda n: _num(n) - 1,
    "biggest": lambda *ns: max(_num(n) for n in ns),
    "smallest": lambda *ns: min(_num(n) for n in ns),
    "seq": _seq,
    "until": lambda n: list(range(int(_num(n)))),
    "untilStep": lambda a, b, s: list(range(int(_num(a)), int(_num(b)), int(_num(s))))
    if int(_num(s)) != 0
    else [],
    "int64": lambda v: int(_num(v)),
    "toDecimal": lambda v: int(str(v), 8),
    "toOrdinal": _to_ordinal,
    # strings
    "trunc": _trunc,
    "cat": lambda *vs: " ".join(_go_str(v) for v in vs),
    "initials": lambda s: "".join(w[0] for w in _go_str(s).split() if w),
    "swapcase": lambda s: _go_str(s).swapcase(),
    "wrap": lambda width, s: _wrap_with(width, "\n", s),
    "wrapWith": _wrap_with,
    "toStrings": lambda seq: [_go_str(x) for x in seq],
    "urlquery": lambda s: __import__("urllib.parse", fromlist=["quote_plus"]).quote_plus(
        _go_str(s)
    ),
    # collections
    "chunk": _chunk,
    "slice": _slice,
    "all": lambda *vs: all(not _sprig_empty(v) for v in vs),
    "any": lambda *vs: any(not _sprig_empty(v) for v in vs),
    "dig": _dig,
    "deepCopy": lambda v: __import__("copy").deepcopy(v),
    "deepEqual": lambda a, b: a == b,
    # type inspection
    "typeOf": _type_of,
    "kindOf": _kind_of,
    "typeIs": lambda t, v: _type_of(v) == str(t),
    "typeIsLike": lambda t, v: _type_of(v) == str(t),
    "kindIs": lambda t, v: _kind_of(v) == str(t),
    # flow control
    "fail": lambda msg: (_ for _ in ()).throw(ValueError(str(msg))),
    "required": _required,
    # encoding/hash
    "toPrettyJson": lambda v: json.dumps(v, indent=2, ensure_ascii=False),
    "toRawJson": lambda v: _to_json(v),
    "sha512sum": lambda s: __import__("hashlib")
    .sha512(_go_str(s).encode("utf-8"))
    .hexdigest(),
    "adler32sum": lambda s: str(
        __import__("zlib").adler32(_go_str(s).encode("utf-8"))
    ),
    # URLs
    "urlParse": _url_parse,
    "urlJoin": _url_join,
    # time (deterministic under the injectable clock)
    "toDate": _to_date,
    "mustToDate": _to_date,
    "dateModify": lambda d, t: t
    + _dt.timedelta(seconds=_go_duration_seconds(d)),
    "mustDateModify": lambda d, t: t
    + _dt.timedelta(seconds=_go_duration_seconds(d)),
    "unixEpoch": lambda t: int(t.timestamp()),
    "duration": _duration_str,
    "htmlDate": lambda t: _date("2006-01-02", t),
    "ago": lambda t: _duration_str(int((_now_fn() - t).total_seconds())),
    "now": lambda: _now_fn(),
    "date": _date,
    "toToml": _to_toml,
    # sprig string/number/collection staples (all deterministic; the
    # random/crypto family — uuidv4, randAlpha, genPrivateKey — is
    # deliberately NOT registered: nondeterministic output would break
    # replayability, and compile-time fail-fast tells the user loudly)
    "add": lambda *ns: sum(_num(n) for n in ns),
    "sub": lambda a, b: _num(a) - _num(b),
    "mul": lambda *ns: __import__("math").prod(_num(n) for n in ns),
    "div": _go_div,
    "mod": _go_mod,
    "max": lambda *ns: max(_num(n) for n in ns),
    "min": lambda *ns: min(_num(n) for n in ns),
    "len": lambda v: len(v) if v is not None else 0,
    "toString": _go_str,
    # sprig atoi ignores the strconv error: unparsable → 0, not a raise
    "atoi": _atoi,
    "int": lambda v: int(_num(v)),
    "float64": lambda v: float(_num(v)),
    # sprig errors on width < 4; we clamp to 4 instead (ADVICE r04) so a
    # compile-valid template can't produce malformed slices at render
    "abbrev": lambda width, s: (
        str(s)
        if len(str(s)) <= max(int(width), 4)
        else str(s)[: max(int(width), 4) - 3] + "..."
    ),
    "contains": lambda needle, s: str(needle) in _go_str(s),
    "hasPrefix": lambda prefix, s: _go_str(s).startswith(str(prefix)),
    "hasSuffix": lambda suffix, s: _go_str(s).endswith(str(suffix)),
    "trimPrefix": lambda prefix, s: _go_str(s).removeprefix(str(prefix)),
    "trimSuffix": lambda suffix, s: _go_str(s).removesuffix(str(suffix)),
    "trimAll": lambda cut, s: _go_str(s).strip(str(cut)),
    "replace": lambda old, new, s: _go_str(s).replace(str(old), str(new)),
    "repeat": lambda count, s: _go_str(s) * int(count),
    "substr": _substr,
    "nospace": lambda s: re.sub(r"\s", "", _go_str(s)),
    "indent": lambda n, s: "\n".join(
        " " * int(n) + ln for ln in _go_str(s).split("\n")
    ),
    "nindent": lambda n, s: "\n" + "\n".join(
        " " * int(n) + ln for ln in _go_str(s).split("\n")
    ),
    "camelcase": lambda s: "".join(
        w.capitalize() for w in re.split(r"[_\-\s]+", _go_str(s)) if w
    ),
    "snakecase": lambda s: re.sub(
        r"[\-\s]+", "_", re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1", _go_str(s))
    ).lower(),
    "kebabcase": lambda s: re.sub(
        r"[_\s]+", "-", re.sub(r"(?<=[a-z0-9])([A-Z])", r"-\1", _go_str(s))
    ).lower(),
    "plural": lambda one, many, n: one if int(n) == 1 else many,
    "sha256sum": lambda s: __import__("hashlib")
    .sha256(_go_str(s).encode("utf-8"))
    .hexdigest(),
    "sha1sum": lambda s: __import__("hashlib")
    .sha1(_go_str(s).encode("utf-8"))
    .hexdigest(),
    "splitList": lambda sep, s: _go_split_parts(_go_str(s), str(sep)),
    "sortAlpha": lambda seq: sorted(_go_str(x) for x in seq),
    # equality-based, not hash-based (ADVICE r04): sprig's uniq works on
    # lists of dicts; dict.fromkeys would TypeError on unhashable elements
    "uniq": _uniq,
    "reverse": lambda seq: list(reversed(seq)),
    "compact": lambda seq: [x for x in seq if not _sprig_empty(x)],
    "concat": lambda *seqs: [x for s in seqs for x in s],
    "append": lambda seq, v: list(seq) + [v],
    "prepend": lambda seq, v: [v] + list(seq),
    "has": lambda needle, seq: needle in (seq or []),
    "without": lambda seq, *vs: [x for x in seq if x not in vs],
    "keys": lambda *ds: [k for d in ds for k in d],
    "values": lambda *ds: [v for d in ds for v in d.values()],
    "merge": lambda dst, *srcs: _merge_dicts(dst, *srcs),
    "pick": lambda d, *ks: {k: d[k] for k in map(str, ks) if k in d},
    "omit": lambda d, *ks: {
        k: v for k, v in d.items() if k not in set(map(str, ks))
    },
    "empty": _sprig_empty,
    "not": lambda v: not v,
    # Go's eq is variadic — arg1 == arg2 || arg1 == arg3 || ... — while ne
    # is strictly binary (text/template docs); both mirrored exactly
    "eq": lambda a, *bs: any(a == b for b in bs),
    "ne": lambda a, b: a != b,
    "lt": lambda a, b: a < b,
    "le": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "ge": lambda a, b: a >= b,
    "and": lambda *vs: vs[-1] if all(vs) else next(v for v in vs if not v),
    "or": lambda *vs: next((v for v in vs if v), vs[-1]),
    # sprig float math — sprig v3 computes these through decimal arithmetic
    # (execDecimalOp) and converts the result to float64, so addf 0.1 0.2
    # is exactly 0.3, not 0.30000000000000004; maxf/minf are plain float64
    # in sprig and stay plain here
    "addf": lambda *ns: float(sum((_dec(n) for n in ns), _dec(0))),
    "add1f": lambda n: float(_dec(n) + 1),
    "subf": lambda a, *ns: float(_dec(a) - sum((_dec(n) for n in ns), _dec(0))),
    "mulf": lambda *ns: float(
        __import__("functools").reduce(lambda x, y: x * y, (_dec(n) for n in ns))
    ),
    "divf": lambda a, *ns: float(
        __import__("functools").reduce(
            lambda x, y: x / y, (_dec(n) for n in ns), _dec(a)
        )
    ),
    "maxf": lambda *ns: float(max(_num(n) for n in ns)),
    "minf": lambda *ns: float(min(_num(n) for n in ns)),
    # Go path package (sprig registers both the path and filepath spellings;
    # on POSIX hosts they are the same lexical rules)
    "base": _go_path_base,
    "dir": _go_path_dir,
    "clean": _go_path_clean,
    "ext": _go_path_ext,
    "isAbs": lambda p: _go_str(p).startswith("/"),
    "osBase": _go_path_base,
    "osDir": _go_path_dir,
    "osClean": _go_path_clean,
    "osExt": _go_path_ext,
    "osIsAbs": lambda p: _go_str(p).startswith("/"),
    # string/collection stragglers
    "abbrevboth": _abbrevboth,
    "untitle": _untitle,
    "split": _split_dict,
    "splitn": _splitn_dict,
    "pluck": lambda k, *ds: [d[str(k)] for d in ds if isinstance(d, dict) and str(k) in d],
    "mergeOverwrite": _merge_overwrite,
    # time stragglers
    "dateInZone": _date_in_zone,
    "htmlDateInZone": lambda t, zone: _date_in_zone("2006-01-02", t, zone),
    "durationRound": _duration_round,
}

# sprig's must* regex family differs from the plain spellings only in Go
# error plumbing (plain panics, must returns err); this engine raises on a
# bad pattern either way, so the must spellings are straight aliases.
# "trimall" is sprig's own lowercase alias for trimAll (functions.go).
for _alias, _target in (
    ("mustRegexMatch", "regexMatch"),
    ("mustRegexFind", "regexFind"),
    ("mustRegexFindAll", "regexFindAll"),
    ("mustRegexReplaceAll", "regexReplaceAll"),
    ("mustRegexReplaceAllLiteral", "regexReplaceAllLiteral"),
    ("mustRegexSplit", "regexSplit"),
    ("trimall", "trimAll"),
):
    _FUNCS[_alias] = _FUNCS[_target]


def _split_pipes(expr: str) -> list[str]:
    """Split on | outside quotes/parens."""
    segments: list[str] = []
    depth = 0
    quoted = False
    cur: list[str] = []
    i = 0
    while i < len(expr):
        c = expr[i]
        if quoted:
            cur.append(c)
            if c == "\\" and i + 1 < len(expr):
                cur.append(expr[i + 1])
                i += 2
                continue
            if c == '"':
                quoted = False
        elif c == '"':
            quoted = True
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == "|" and depth == 0:
            segments.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    segments.append("".join(cur).strip())
    return segments


def _tokenize(segment: str) -> list[str]:
    """Split a pipe segment into operand tokens: quoted strings, bare words,
    and parenthesized sub-expressions (kept whole, including any trailing
    ``.field`` accessors, e.g. ``(index .Data.Rows 0).id``)."""
    tokens: list[str] = []
    i = 0
    n = len(segment)
    while i < n:
        c = segment[i]
        if c.isspace():
            i += 1
            continue
        if c == '"':
            j = i + 1
            while j < n:
                if segment[j] == "\\":
                    j += 2
                    continue
                if segment[j] == '"':
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string in template: {segment!r}")
            tokens.append(segment[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            depth = 0
            quoted = False
            j = i
            while j < n:
                ch = segment[j]
                if quoted:
                    if ch == "\\":
                        j += 2
                        continue
                    if ch == '"':
                        quoted = False
                elif ch == '"':
                    quoted = True
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise ValueError(f"unbalanced parens in template: {segment!r}")
            j += 1
            while j < n and segment[j] == ".":  # trailing .field access
                k = j + 1
                while k < n and (segment[k].isalnum() or segment[k] == "_"):
                    k += 1
                if k == j + 1:
                    break
                j = k
            tokens.append(segment[i:j])
            i = j
            continue
        j = i
        while j < n and not segment[j].isspace():
            j += 1
        tokens.append(segment[i:j])
        i = j
    return tokens


_RAND_ALPHA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_RAND_ALNUM = _RAND_ALPHA + "0123456789"


def _seeded_uuidv4(rng) -> str:
    b = bytearray(rng.getrandbits(8) for _ in range(16))
    b[6] = (b[6] & 0x0F) | 0x40  # version 4
    b[8] = (b[8] & 0x3F) | 0x80  # RFC 4122 variant
    h = bytes(b).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _seeded_chars(rng, charset: str, n) -> str:
    return "".join(rng.choice(charset) for _ in range(int(_num(n))))


# Sprig's random family re-implemented over the per-item seeded RNG, which
# each function takes as its first argument — the
# OUTPUT SHAPES match sprig (uuidv4 format bits, charsets, randInt's
# half-open [min, max) range, base-64 randBytes, string shuffle); the VALUES are
# deterministic per item, which is the point: replay, redelivery compare,
# and oracle checks all survive. Crypto stays excluded — a deterministic
# private key is worse than none.
_SEEDED_RANDOM: dict[str, Any] = {
    "uuidv4": _seeded_uuidv4,
    "randAlpha": lambda rng, n: _seeded_chars(rng, _RAND_ALPHA, n),
    "randAlphaNum": lambda rng, n: _seeded_chars(rng, _RAND_ALNUM, n),
    "randNumeric": lambda rng, n: _seeded_chars(rng, "0123456789", n),
    "randAscii": lambda rng, n: _seeded_chars(
        rng, "".join(chr(c) for c in range(33, 127)), n
    ),
    "randInt": lambda rng, lo, hi: int(_num(lo))
    + rng.randrange(int(_num(hi)) - int(_num(lo))),
    "randBytes": lambda rng, n: __import__("base64").b64encode(
        bytes(rng.getrandbits(8) for _ in range(int(_num(n))))
    ).decode(),
    "shuffle": lambda rng, s: "".join(
        rng.sample(list(_go_str(s)), len(_go_str(s)))
    ),
}

# Exact argument counts for the seeded family (the lambdas above are
# fixed-signature) — enforced by _compile_segment.
_SEEDED_ARITY: dict[str, int] = {
    "uuidv4": 0,
    "randAlpha": 1,
    "randAlphaNum": 1,
    "randNumeric": 1,
    "randAscii": 1,
    "randInt": 2,
    "randBytes": 1,
    "shuffle": 1,
}


def _seeded_rng_for(item: dict):
    """Deterministic per-item RNG: seeded from the item's stable identity
    (ItemID + binlog file/position — the replay key), so re-rendering the
    same item yields the same 'random' values in the same order."""
    import hashlib
    import random as _random

    log = item.get("Log") or {}
    key = json.dumps(
        [
            item.get("ItemID"),
            log.get("BinlogFile"),
            log.get("BinlogPosition"),
        ],
        sort_keys=True,
        default=str,
    )
    seed = int.from_bytes(
        hashlib.sha256(key.encode("utf-8")).digest()[:8], "big"
    )
    return _random.Random(seed)


# sprig families deliberately NOT registered (the reference pulls the whole
# sprig map minus expandenv, tmpl.go:29-51; we additionally exclude
# nondeterministic output because it breaks replay/redelivery comparison and
# oracle checking). Naming them in the compile error tells a migrating user
# WHY a reference-valid template is rejected (ADVICE r04).
_EXCLUDED_SPRIG = {
    "uuidv4": "random",
    "randAlpha": "random",
    "randAlphaNum": "random",
    "randNumeric": "random",
    "randAscii": "random",
    "randInt": "random",
    "randBytes": "random",
    "shuffle": "random",
    "derivePassword": "crypto",
    "genPrivateKey": "crypto",
    "genCA": "crypto",
    "genSelfSignedCert": "crypto",
    "genSignedCert": "crypto",
    "htpasswd": "crypto",
    "bcrypt": "crypto",
    "encryptAES": "crypto",
    "decryptAES": "crypto",
    "buildCustomCert": "crypto",
    "genCAWithKey": "crypto",
    "genSelfSignedCertWithKey": "crypto",
    "genSignedCertWithKey": "crypto",
    "getHostByName": "network (DNS lookup)",
    "expandenv": "env-expansion (removed by the reference itself, tmpl.go:36)",
}


# Variadic functions whose zero/one-arg calls would raise at RENDER time
# (IndexError/ValueError) despite passing compile-time validation
# (ADVICE r04): enforce the minimum arity at compile instead. A segment in
# pipe position receives one extra argument from the pipe.
_MIN_ARITY = {
    "and": 1,
    "or": 1,
    "max": 1,
    "min": 1,
    "eq": 2,
    "ne": 2,
    "lt": 2,
    "le": 2,
    "gt": 2,
    "ge": 2,
    "coalesce": 1,
    "biggest": 1,
    "smallest": 1,
    "addf": 1,
    "subf": 1,
    "mulf": 1,
    "divf": 1,
    "maxf": 1,
    "minf": 1,
    "pluck": 1,
}


# Every compiled expression is a closure ``ev(item, rng)``: ``item`` is the
# reference-shaped event and ``rng`` the per-item seeded RNG (None unless the
# template opted into the seeded random family). compile_template parses each
# ``{{ }}`` once into these closures; render only calls them.


def _compile_field(dotted: str):
    parts = tuple(dotted.strip(".").split("."))

    def field(item: dict, rng) -> Any:
        value: Any = item
        for part in parts:
            if not isinstance(value, dict) or part not in value:
                raise KeyError(f"template field '{dotted}' not found on item")
            value = value[part]
        return value

    return field


def _const(value: Any):
    return lambda item, rng: value


def _compile_operand(t: str, seeded_random: bool):
    if t == ".":
        return lambda item, rng: item
    if _FIELD_RE.match(t):
        return _compile_field(t)
    if t.startswith('"'):
        return _const(json.loads(t))
    if _NUM_RE.match(t):
        return _const(float(t) if "." in t else int(t))
    if t in ("true", "false"):
        return _const(t == "true")
    if t == "nil":
        return _const(None)
    m = _PAREN_RE.match(t) if t.startswith("(") else None
    if not m:
        raise ValueError(f"unsupported template operand: {t!r}")
    sub = _compile_pipeline(m.group(1), seeded_random)
    fields = tuple(p for p in m.group(2).split(".") if p)
    if not fields:
        return sub

    def paren(item: dict, rng) -> Any:
        value = sub(item, rng)
        for part in fields:
            if not isinstance(value, dict) or part not in value:
                raise KeyError(
                    f"template field '.{part}' not found on sub-expression result"
                )
            value = value[part]
        return value

    return paren


def _rng_arg(item: dict, rng):
    return rng


def _compile_segment(seg: str, expr: str, piped: bool, seeded_random: bool):
    """One pipe segment: a function call (a piped segment gets the piped
    value as its LAST argument, as Go pipes do) or, unpiped, a lone
    operand. Unknown constructs raise here, before any event flows
    (blsenderwork.go:102-105 fail-fast parity)."""
    tokens = _tokenize(seg)
    if not tokens:
        raise ValueError(f"unsupported template expression: {{{{ {expr} }}}}")
    head, rest = tokens[0], tokens[1:]
    n_args = len(rest) + piped
    if seeded_random and head in _SEEDED_RANDOM:
        # exact arity: the implementations are fixed-signature lambdas
        want = _SEEDED_ARITY[head]
        if n_args != want:
            raise ValueError(
                f"wrong number of args for {head}: want {want} got {n_args}"
            )
        fn = _SEEDED_RANDOM[head]
        # the render's RNG is the seeded functions' first argument
        args = [_rng_arg] + [
            _compile_operand(t, seeded_random) for t in rest
        ]
    else:
        if head in _EXCLUDED_SPRIG:
            hint = (
                " (route option seededRandom: true renders this family"
                " deterministically per item and would accept it)"
                if head in _SEEDED_RANDOM
                else ""
            )
            raise ValueError(
                f"unsupported template function {head!r}: sprig's"
                f" {_EXCLUDED_SPRIG[head]} family is deliberately not"
                " registered — nondeterministic output breaks replay and"
                f" redelivery comparison (see docs/example-config.yaml){hint}"
            )
        if head not in _FUNCS:
            if rest:
                raise ValueError(f"unsupported template expression: {{{{ {seg} }}}}")
            operand = _compile_operand(head, seeded_random)
            if piped:
                raise ValueError(f"cannot pipe into operand {head!r}")
            return operand
        if n_args < _MIN_ARITY.get(head, 0):
            raise ValueError(
                f"wrong number of args for {head}: want at least"
                f" {_MIN_ARITY[head]} got {n_args}"
            )
        fn = _FUNCS[head]
        args = [_compile_operand(t, seeded_random) for t in rest]
    if piped:
        return lambda item, rng, value: fn(*[a(item, rng) for a in args], value)
    return lambda item, rng: fn(*[a(item, rng) for a in args])


def _compile_pipeline(expr: str, seeded_random: bool = False):
    segments = _split_pipes(expr)
    first = _compile_segment(segments[0], expr, False, seeded_random)
    rest = [_compile_segment(s, expr, True, seeded_random) for s in segments[1:]]
    if not rest:
        return first

    def pipeline(item: dict, rng) -> Any:
        value = first(item, rng)
        for seg in rest:
            value = seg(item, rng, value)
        return value

    return pipeline


def compile_template(template: str, seeded_random: bool = False):
    """Parse once (blsenderwork.go:102-105 compile-at-build parity): each
    ``{{ }}`` expression is parsed into closures and the ``{{-``/``-}}``
    trim markers are applied to the literal text here, so an unsupported
    construct raises now and the returned render(item) only evaluates the
    closures and joins strings.

    ``seeded_random=True`` opts the sprig random family in (uuidv4,
    randAlpha, randAlphaNum, randNumeric, randAscii, randInt, randBytes,
    shuffle): values are drawn from an RNG seeded by the item's stable
    identity (_seeded_rng_for), so a replayed or redelivered item renders
    the SAME 'random' values — sprig's output shapes, replay-safe
    semantics. Each render makes its own RNG and hands it to the closures,
    so concurrent renders never share draws. Off by default: the
    reference's true math/rand behavior is nondeterministic, and silently
    changing that would mask a migration decision the user should make;
    the compile error for the excluded family names the opt-in."""
    literals: list[str] = []
    exprs = []
    pos = 0
    trim_left = False
    for m in _EXPR_RE.finditer(template):
        lit = template[pos : m.start()]
        if trim_left:
            lit = lit.lstrip()
        if m.group(0).startswith("{{-"):
            lit = lit.rstrip()
        literals.append(lit)
        exprs.append(_compile_pipeline(m.group(1), seeded_random))
        trim_left = m.group(0).endswith("-}}")
        pos = m.end()
    tail_lit = template[pos:]
    literals.append(tail_lit.lstrip() if trim_left else tail_lit)
    head = literals[0]
    body = list(zip(exprs, literals[1:]))

    def render(item: dict) -> str:
        rng = _seeded_rng_for(item) if seeded_random else None
        out = [head]
        for ev, lit in body:
            out.append(_go_str(ev(item, rng)))
            out.append(lit)
        return "".join(out)

    return render


def item_from_row(row: dict, item_id: int) -> dict:
    """Envelope row → reference-shaped item (pools.go:17-35 naming)."""
    return {
        "ItemID": item_id,
        "Log": {
            "EventType": row.get("event_type"),
            "BinlogFile": row.get("binlog_file"),
            "BinlogPosition": row.get("binlog_position"),
        },
        "Data": {
            "Database": row.get("database"),
            "Table": row.get("table"),
            "Operation": row.get("operation"),
            "Rows": row.get("rows") or [],
        },
    }
