"""MongoDB find() filter support.

The reference passes the find filter verbatim to MongoDB
(MongoDBQuery.scala:67-90); our engine evaluates the filter language
that occurs in mappings: {}, {field: value}, {field: {$exists: b}},
{$and/$or: [...]}, {field: {$eq/$ne/$gt/$gte/$lt/$lte: v}},
{field: {$in/$nin: [...]}} (numbers included),
{field: {$regex: pat[, $options: flags]}} (also shell /pat/flags),
{field: {$elemMatch: {...}}}, dotted field paths.  Filters are compiled
once; where possible the Spark compiler translates them to SQL
predicates so they push down.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable

from .functions.datatypes import to_lexical

_SINGLE_QUOTED = re.compile(r"'((?:[^'\\]|\\.)*)'")
_UNQUOTED_KEY = re.compile(r"([{,]\s*)([$A-Za-z_][$\w.]*)(\s*:)")
# shell regex literal in value position: field: /pat/flags
_REGEX_LITERAL = re.compile(r"(:\s*)/((?:[^/\\]|\\.)*)/([a-z]*)")


_DQUOTED_SPAN = re.compile(r'"(?:[^"\\]|\\.)*"')


def _sub_outside_strings(pattern: re.Pattern, repl, text: str) -> str:
    """Apply pattern.sub only to the segments of ``text`` that lie
    outside double-quoted JSON strings — a shell-regex or colon inside a
    quoted VALUE (e.g. {note: "see: /tmp/x"}) must never be rewritten
    (ADVICE r3)."""
    out = []
    pos = 0
    for m in _DQUOTED_SPAN.finditer(text):
        out.append(pattern.sub(repl, text[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(pattern.sub(repl, text[pos:]))
    return "".join(out)


def normalize_filter_text(text: str) -> str:
    """Mongo-shell-style filter → strict JSON.  Single-quoted strings are
    converted to JSON strings first; the shell-regex and unquoted-key
    rewrites then only apply outside string values."""
    text = text.strip()
    if not text:
        return "{}"
    text = _sub_outside_strings(
        _SINGLE_QUOTED, lambda m: json.dumps(m.group(1)), text)
    text = _sub_outside_strings(
        _REGEX_LITERAL,
        lambda m: m.group(1) + json.dumps(
            {"$regex": m.group(2)} if not m.group(3)
            else {"$regex": m.group(2), "$options": m.group(3)}), text)
    text = _sub_outside_strings(_UNQUOTED_KEY, r'\1"\2"\3', text)
    return text


def parse_filter(text: str) -> dict:
    return json.loads(normalize_filter_text(text))


def _json_lex(v: Any) -> str:
    """The JSON lexical form get_json_object would return for a value
    (structures re-serialized to compact JSON, matching both
    get_json_object and the doc-tier term render _obj_to_text)."""
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    return to_lexical(v)


def _num(v: Any):
    try:
        return float(v) if not isinstance(v, bool) else None
    except (TypeError, ValueError):
        return None


def _get_path(doc: Any, path: str) -> tuple[bool, Any]:
    cur = doc
    for part in path.split("."):
        if isinstance(cur, dict) and part in cur:
            cur = cur[part]
        else:
            return False, None
    return True, cur


def compile_filter(spec: dict) -> Callable[[Any], bool]:
    """Compile a parsed filter dict into a doc predicate."""
    conds: list[Callable[[Any], bool]] = []
    for key, val in spec.items():
        if key == "$and":
            subs = [compile_filter(s) for s in val]
            conds.append(lambda d, subs=subs: all(f(d) for f in subs))
        elif key == "$or":
            subs = [compile_filter(s) for s in val]
            conds.append(lambda d, subs=subs: any(f(d) for f in subs))
        elif isinstance(val, dict) and any(k.startswith("$") for k in val):
            for op, operand in val.items():
                if op == "$exists":
                    want = bool(operand)
                    conds.append(lambda d, k=key, w=want: _get_path(d, k)[0] == w)
                elif op == "$eq":
                    conds.append(lambda d, k=key, v=operand: _get_path(d, k) == (True, v))
                elif op == "$ne":
                    conds.append(lambda d, k=key, v=operand: _get_path(d, k) != (True, v))
                elif op == "$in":
                    conds.append(lambda d, k=key, vs=tuple(operand):
                                 _get_path(d, k)[0] and _get_path(d, k)[1] in vs)
                elif op == "$lexIn":
                    # internal pushdown operator (see sources.py): JSON
                    # lexical form of the value is in the list
                    def lex_in(d, k=key, vs=tuple(str(v) for v in operand)):
                        ok, x = _get_path(d, k)
                        return ok and _json_lex(x) in vs
                    conds.append(lex_in)
                elif op == "$renderIn":
                    # internal pushdown operator (rewrite.py literal
                    # constants): the doc-tier LITERAL RENDER of the
                    # value (trim + encode_literal of the lexical form)
                    # is in the list, OR the value compares numerically
                    # equal to a numeric member (covers raw spellings
                    # like 7.50 rendering "7.5")
                    from .functions.encoding import encode_literal
                    nums = tuple(n for n in (_num(v) for v in operand)
                                 if n is not None)

                    def render_in(d, k=key,
                                  vs=tuple(str(v) for v in operand),
                                  nums=nums):
                        ok, x = _get_path(d, k)
                        if not ok:
                            return False
                        if encode_literal(_json_lex(x).strip()) in vs:
                            return True
                        n = _num(x)
                        return n is not None and n in nums
                    conds.append(render_in)
                elif op == "$renderPat":
                    # internal pushdown operator (rewrite.py STRSTARTS/
                    # STRENDS/CONTAINS): pattern over the doc-tier
                    # literal render, escaped like the engine's lexical
                    # (sparql.lexical_value never unescapes); numeric
                    # values also test their canonical lexical (the
                    # SQL compile's try_cast arm, sources.mongo_filter_sql)
                    from .functions.encoding import encode_literal
                    from .translate import nt_escape

                    def render_pat(d, k=key, kind=operand[0],
                                   pat=str(operand[1])):
                        ok, x = _get_path(d, k)
                        if not ok:
                            return False

                        def m(s):
                            if kind == "strstarts":
                                return s.startswith(pat)
                            if kind == "strends":
                                return s.endswith(pat)
                            return pat in s

                        if m(nt_escape(encode_literal(
                                _json_lex(x).strip()))):
                            return True
                        n = _num(x)
                        return n is not None and m(to_lexical(n))
                    conds.append(render_pat)
                elif op == "$numCmp":
                    # internal pushdown operator (rewrite.py comparison
                    # FILTERs): numeric value comparison; non-numeric
                    # values never match (engine: numeric_value → NULL)
                    _OPS = {"=": lambda a, b: a == b,
                            "<": lambda a, b: a < b,
                            ">": lambda a, b: a > b,
                            "<=": lambda a, b: a <= b,
                            ">=": lambda a, b: a >= b}

                    def num_cmp(d, k=key, ops=tuple(operand.items())):
                        ok, x = _get_path(d, k)
                        n = _num(x) if ok else None
                        # unknown op: keep the doc (superset, sound) —
                        # rewrite.py only emits the five _OPS, this is
                        # defense-in-depth
                        return n is not None and \
                            all(_OPS[o](n, float(v)) for o, v in ops
                                if o in _OPS)
                    conds.append(num_cmp)
                elif op == "$nin":
                    # Mongo: $nin also matches docs where the field is
                    # MISSING (unlike $in)
                    conds.append(lambda d, k=key, vs=tuple(operand):
                                 not (_get_path(d, k)[0]
                                      and _get_path(d, k)[1] in vs))
                elif op == "$regex":
                    flags = re.IGNORECASE if "i" in val.get("$options", "") \
                        else 0
                    rx = re.compile(operand, flags)
                    # Mongo $regex matches string values only (and any
                    # string element of an array value)
                    def rex(d, k=key, rx=rx):
                        ok, x = _get_path(d, k)
                        if not ok:
                            return False
                        if isinstance(x, str):
                            return rx.search(x) is not None
                        if isinstance(x, list):
                            return any(isinstance(e, str) and rx.search(e)
                                       for e in x)
                        return False
                    conds.append(rex)
                elif op == "$options":
                    pass   # consumed by the $regex branch
                elif op == "$size":
                    conds.append(lambda d, k=key, n=int(operand):
                                 (lambda ok_x: ok_x[0]
                                  and isinstance(ok_x[1], list)
                                  and len(ok_x[1]) == n)(_get_path(d, k)))
                elif op == "$elemMatch":
                    if not isinstance(operand, dict):
                        raise ValueError("$elemMatch needs an object")
                    if any(k2.startswith("$") for k2 in operand):
                        # operator form {$elemMatch: {$gt: 5}}: apply the
                        # operators to each array ELEMENT
                        probe = compile_filter({"_e": operand})
                        elem_match = lambda e, p=probe: p({"_e": e})
                    else:
                        # document form: each element is matched as a doc
                        sub = compile_filter(operand)
                        elem_match = lambda e, s=sub: \
                            isinstance(e, dict) and s(e)
                    def elem(d, k=key, em=elem_match):
                        ok, x = _get_path(d, k)
                        return (ok and isinstance(x, list)
                                and any(em(e) for e in x))
                    conds.append(elem)
                elif op in ("$gt", "$gte", "$lt", "$lte"):
                    import operator
                    f = {"$gt": operator.gt, "$gte": operator.ge,
                         "$lt": operator.lt, "$lte": operator.le}[op]
                    def cmp(d, k=key, v=operand, f=f):
                        ok, x = _get_path(d, k)
                        if not ok:
                            return False
                        try:
                            return f(x, v)
                        except TypeError:
                            return False
                    conds.append(cmp)
                else:
                    raise ValueError(f"Unsupported Mongo operator {op!r}")
        else:
            conds.append(lambda d, k=key, v=val: _get_path(d, k) == (True, v))
    return lambda d: all(f(d) for f in conds)
