"""One parse of a SQL predicate into typed conjunct atoms.

``parse`` tokenizes a predicate once, splits it at its top-level ANDs
and turns every conjunct it understands into an ``Atom``:

- ``col <op> literal`` for = != < <= > >= (``==`` and ``<>`` normalize);
- ``col IN (literal, ...)``, and a single-column OR of equalities;
- ``col IS [NOT] NULL``;
- ``col LIKE 'prefix%'`` with a plain prefix;
- ``col BETWEEN a AND b``, as two comparisons.

Backticks are stripped and each literal is classified once (``Lit``).
Any other conjunct stays an ``Other``: its SQL text and the names it
mentions. A predicate is ``complete`` when no conjunct was left over.

Partition, bucket, footer-stats and bloom pruning all read these atoms.
The skipping pruners use whatever atoms exist (the full predicate is
always re-applied row by row); the exact partition evaluator
(``partition_matcher``) answers only for a complete predicate, because
replaceWhere expiry and OPTIMIZE ... WHERE ride on its result.
"""

from __future__ import annotations

import datetime
import decimal
import operator
import re
from typing import NamedTuple

from pyspark.sql import types as T


class Lit(NamedTuple):
    """A literal operand. ``kind``: string / number / date / timestamp /
    boolean. ``text``: its SQL, rendered as-is into Spark SQL.
    ``value``: the unquoted string (the ISO text for date / timestamp
    kinds), the int or float, or the bool."""
    kind: str
    text: str
    value: object


class Atom(NamedTuple):
    kind: str    # "cmp" | "in" | "null" | "like"
    col: str
    op: str      # cmp: = != < <= > >=; null: "null" / "notnull"; else kind
    lits: tuple  # one Lit per operand (like: the pattern; null: none)

    def sql(self) -> str:
        c = f"`{self.col}`"
        if self.kind == "null":
            return f"{c} IS {'NOT ' if self.op == 'notnull' else ''}NULL"
        if self.kind == "in":
            return f"{c} IN ({', '.join(l.text for l in self.lits)})"
        op = "LIKE" if self.kind == "like" else self.op
        return f"{c} {op} {self.lits[0].text}"


class Other(NamedTuple):
    text: str           # the conjunct's SQL
    refs: frozenset     # identifiers it mentions (call names excluded)


class Pred(NamedTuple):
    atoms: tuple = ()
    others: tuple = ()

    @property
    def complete(self) -> bool:
        return not self.others

    def sql(self) -> str:
        return " AND ".join([a.sql() for a in self.atoms]
                            + [f"({o.text})" for o in self.others])


# one token per match: (kind, text, start, end). Strings take both the
# '' and the backslash escape (Spark reads 'a''b' and 'a\'b' as a'b);
# a digit run glued to letters (5L, 1.5BD) falls through to a one-char
# "op" token, so the conjunct it sits in stays unparsed.
_TOKEN = re.compile(r"""\s*(?:
    (?P<str>'(?:[^'\\]|\\.|'')*')
  | (?P<dq>"(?:[^"\\]|\\.)*")
  | (?P<num>(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?(?![\w.]))
  | (?P<id>[A-Za-z_]\w*|`[^`]+`)
  | (?P<op><=>|<=|>=|==|!=|<>|\S))""", re.X)
_OPS = {"=": "=", "==": "=", "!=": "!=", "<>": "!=",
        "<": "<", "<=": "<=", ">": ">", ">=": ">="}
_INT = re.compile(r"[+-]?\d+")
_NUM = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")
_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")
_ISO_TS = re.compile(r"(\d{4}-\d{2}-\d{2})(?:[ T](\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?))?")
# c LIKE 'prefix%' with a pure literal prefix (no wildcard or escape):
# prunable as the string range [prefix, prefix with its last char + 1)
_LIKE_PREFIX = re.compile(r"[^%_\\]+%")


def parse(text: str | None) -> Pred:
    """Atoms and left-over conjuncts of ``text`` (see module doc)."""
    atoms: list[Atom] = []
    others: list[Other] = []
    toks = [(m.lastgroup, m.group(m.lastgroup), m.start(m.lastgroup), m.end())
            for m in _TOKEN.finditer(text or "")]
    if toks:
        _walk(text, toks, atoms, others)
    return Pred(tuple(atoms), tuple(others))


def _walk(src: str, toks: list, atoms: list, others: list) -> None:
    # A depth-0 OR makes this node a disjunction (AND binds tighter):
    # AND-splitting it would promote one arm's conjunct to a global one
    # and prune rows the other arm keeps. It is an atom only as a
    # single-column OR of equalities, i.e. an IN list.
    arms = _split(toks, "OR")
    if len(arms) > 1:
        got = _or_in(arms)
        if got is None:
            others.append(_other(src, toks))
        else:
            atoms.append(got)
        return
    for c in _split(toks, "AND"):
        if _wrapped(c):
            _walk(src, c[1:-1], atoms, others)
            continue
        got = _atom(c)
        if got is None:
            others.append(_other(src, c))
        else:
            atoms.extend(got)


def _split(toks: list, word: str) -> list[list]:
    """``toks`` split at the depth-0 keyword ``word``. The AND of a
    BETWEEN at the same depth belongs to it and does not split."""
    parts: list[list] = [[]]
    depth = between = 0
    for t in toks:
        if t[1] == "(":
            depth += 1
        elif t[1] == ")":
            depth -= 1
        elif depth == 0 and t[0] == "id":
            w = t[1].upper()
            if w == "BETWEEN":
                between += 1
            elif w == "AND" and between:
                between -= 1
            elif w == word:
                parts.append([])
                continue
        parts[-1].append(t)
    return [p for p in parts if p]


def _wrapped(toks: list) -> bool:
    """True iff the first token's "(" closes at the last token."""
    if len(toks) < 2 or toks[0][1] != "(" or toks[-1][1] != ")":
        return False
    depth = 0
    for i, t in enumerate(toks):
        depth += (t[1] == "(") - (t[1] == ")")
        if depth == 0:
            return i == len(toks) - 1
    return False


def _name(tok) -> str:
    return tok[1][1:-1] if tok[1].startswith("`") else tok[1]


def _other(src: str, toks: list) -> Other:
    refs = {_name(t) for i, t in enumerate(toks) if t[0] == "id"
            and (i + 1 == len(toks) or toks[i + 1][1] != "(")
            and (i + 1 == len(toks) or toks[i + 1][0] != "str")}
    return Other(src[toks[0][2]:toks[-1][3]], frozenset(refs))


def _or_in(arms: list) -> Atom | None:
    col, lits = None, []
    for arm in arms:
        while _wrapped(arm):
            arm = arm[1:-1]
        got = _atom(arm)
        if (not got or len(got) != 1 or got[0].op not in ("=", "in")
                or col not in (None, got[0].col)):
            return None
        col = got[0].col
        lits.extend(got[0].lits)
    return Atom("in", col, "in", tuple(lits))


def _atom(toks: list) -> list[Atom] | None:
    if len(toks) < 3 or toks[0][0] != "id":
        return None
    col, (kind, text, *_), rest = _name(toks[0]), toks[1], toks[2:]
    word = text.upper() if kind == "id" else None
    if word == "IS":
        tail = [t[1].upper() for t in rest]
        if tail in (["NULL"], ["NOT", "NULL"]):
            return [Atom("null", col, "null" if len(tail) == 1 else "notnull", ())]
        return None
    if word == "IN":
        if not _wrapped(rest):
            return None
        lits = [_literal(p) for p in _split_commas(rest[1:-1])]
        return [Atom("in", col, "in", tuple(lits))] \
            if lits and None not in lits else None
    if word == "BETWEEN":
        ends = [_literal(p) for p in _split(rest, "AND")]
        if len(ends) != 2 or None in ends:
            return None
        return [Atom("cmp", col, ">=", (ends[0],)),
                Atom("cmp", col, "<=", (ends[1],))]
    if word == "LIKE":
        lit = _literal(rest)
        if lit and lit.kind == "string" and _LIKE_PREFIX.fullmatch(lit.value):
            return [Atom("like", col, "like", (lit,))]
        return None
    if kind == "op" and text in _OPS:
        lit = _literal(rest)
        return None if lit is None else [Atom("cmp", col, _OPS[text], (lit,))]
    return None


def _split_commas(toks: list) -> list[list]:
    parts: list[list] = [[]]
    depth = 0
    for t in toks:
        depth += (t[1] == "(") - (t[1] == ")")
        if depth == 0 and t[1] == ",":
            parts.append([])
        else:
            parts[-1].append(t)
    return parts


def _literal(toks: list) -> Lit | None:
    """Classify a literal operand: a quoted string, a signed number,
    DATE / TIMESTAMP 'iso', TRUE / FALSE, or a ``fold``-able call over
    literals. None for anything else (column names, arithmetic, ...)."""
    kinds = [t[0] for t in toks]
    words = [t[1] for t in toks]
    if kinds == ["str"]:
        return _string("string", words[0], words[0])
    if kinds == ["num"]:
        return Lit("number", words[0], _number(words[0]))
    if kinds == ["id"] and words[0].upper() in ("TRUE", "FALSE"):
        return Lit("boolean", words[0], words[0].upper() == "TRUE")
    if kinds == ["op", "num"] and words[0] in ("-", "+"):
        return Lit("number", "".join(words), _number("".join(words)))
    if kinds == ["id", "str"] and words[0].upper() in ("DATE", "TIMESTAMP"):
        return _string(words[0].lower(), f"{words[0].upper()} {words[1]}",
                       words[1])
    if len(toks) > 3 and kinds[0] == "id" and _wrapped(toks[1:]):
        args = [_literal(p) for p in _split_commas(toks[2:-1])]
        return None if None in args else fold(words[0], args)
    return None


def _string(kind: str, text: str, quoted: str) -> Lit | None:
    body = quoted[1:-1]
    if "\\" in body:
        return None  # backslash escapes: leave them to Spark
    return Lit(kind, text, body.replace("''", "'"))


def _number(s: str):
    return int(s) if _INT.fullmatch(s) else float(s)


# ---------------------------------------------------------------------------
# Constant folding of the monotone time-partition functions
# ---------------------------------------------------------------------------

_TRUNC_UNITS = ("YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE",
                "SECOND")
_ISO_FORMATS = ("yyyy", "yyyy-MM", "yyyy-MM-dd", "yyyy-MM-dd HH")


def _ts(lit: Lit) -> datetime.datetime | None:
    """The local date-time a date / timestamp / ISO string literal names."""
    m = _ISO_TS.fullmatch(lit.value) if lit.kind in (
        "date", "timestamp", "string") else None
    try:
        return m and datetime.datetime.fromisoformat(
            f"{m.group(1)}T{m.group(2) or '00:00:00'}")
    except ValueError:
        return None  # e.g. 2024-02-30


def _spark_str(t: datetime.datetime) -> str:
    """CAST(timestamp AS STRING): trailing fraction zeros dropped."""
    s = t.isoformat(sep=" ")
    return s.rstrip("0") if "." in s else s


def _truncate(t: datetime.datetime, unit: str) -> datetime.datetime:
    if unit == "WEEK":
        t, unit = t - datetime.timedelta(days=t.weekday()), "DAY"
    if unit == "QUARTER":
        t, unit = t.replace(month=(t.month - 1) // 3 * 3 + 1), "MONTH"
    zero = {"month": 1, "day": 1, "hour": 0, "minute": 0, "second": 0,
            "microsecond": 0}
    i = ("YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND").index(unit)
    return t.replace(**dict(list(zero.items())[i:]))


def fold(name: str, args: list[Lit]) -> Lit | None:
    """``name(args)`` over literals, for the monotone functions that
    generated partition columns use: to_date, year, date_trunc, an
    ISO-prefix date_format and a prefix substring. None outside them.
    The result's text keeps the call, so Spark-side paths evaluate it
    themselves; its value is what Spark computes in the session's local
    time."""
    text = f"{name}({', '.join(a.text for a in args)})"
    name = name.lower()
    x = args[0] if args else None
    if name in ("to_date", "year") and len(args) == 1 and (t := _ts(x)):
        return (Lit("date", text, t.date().isoformat()) if name == "to_date"
                else Lit("number", text, t.year))
    if (name == "date_trunc" and len(args) == 2 and x.kind == "string"
            and x.value.upper() in _TRUNC_UNITS and (t := _ts(args[1]))):
        return Lit("timestamp", text, _spark_str(_truncate(t, x.value.upper())))
    if (name == "date_format" and len(args) == 2 and args[1].kind == "string"
            and args[1].value in _ISO_FORMATS and (t := _ts(x))):
        return Lit("string", text, _spark_str(t)[:len(args[1].value)])
    if (name in ("substring", "substr") and len(args) == 3
            and [a.kind for a in args[1:]] == ["number", "number"]
            and args[1].value == 1 and isinstance(args[2].value, int)
            and args[2].value >= 0):
        # a date / timestamp argument is implicitly cast to string
        t = _ts(x) if x.kind in ("date", "timestamp") else None
        s = (x.value if x.kind == "string" else None if t is None
             else t.date().isoformat() if x.kind == "date" else _spark_str(t))
        return None if s is None else Lit("string", text, s[:args[2].value])
    return None


# ---------------------------------------------------------------------------
# Literal values per column type, and the exact partition evaluator
# ---------------------------------------------------------------------------

FALLBACK = object()  # sentinel: no exact Python value, ask Spark
_BOOLS = {"t": True, "true": True, "y": True, "yes": True, "1": True,
          "f": False, "false": False, "n": False, "no": False, "0": False}


def family(dtype) -> str | None:
    """The literal kind a column of ``dtype`` compares natively with."""
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.NumericType):
        return "number"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    return None


def prunable(atoms, types: dict) -> list[Atom]:
    """The atoms file skipping (bucket, stats, bloom) may use: the
    column is known and every literal either has the column's kind or
    is one Spark casts to the column's type (a string; a date against a
    timestamp and back). A number against a string column is not: Spark
    then casts the COLUMN to a number, so k = 5 matches '05', and the
    string order of footer bounds is not numeric order. LIKE prunes
    string columns only."""
    out = []
    for a in atoms:
        fam = family(types.get(a.col))
        if fam and (a.kind != "like" or fam == "string") and all(
                l.kind in (fam, "string")
                or {l.kind, fam} == {"date", "timestamp"} for l in a.lits):
            out.append(a)
    return out


def part_value(v: str, dtype):
    """Directory-encoded partition value string → python value of the
    declared column type (range cols are NOT NULL by invariant)."""
    if isinstance(dtype, T.IntegralType):
        return int(v)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return v.lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(v)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(v.replace(" ", "T"))
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(v)
    return v


def value(lit: Lit, dtype):
    """The python value Spark compares a ``dtype`` column against, in
    ``part_value``'s domain, or ``FALLBACK`` when there is no exact one
    (a kind Spark would cast the column for, a malformed date, ...)."""
    fam, kind, v = family(dtype), lit.kind, lit.value
    if fam == "string":
        return v if kind == "string" else FALLBACK
    if fam == "number":
        if kind == "string":  # Spark casts the string to the column type
            ok = (_INT if isinstance(dtype, T.IntegralType) else _NUM).fullmatch(v)
            return part_value(v, dtype) if ok else FALLBACK
        if kind != "number":
            return FALLBACK
        if isinstance(dtype, T.DecimalType):  # exact, not via a float
            return decimal.Decimal(lit.text if _NUM.fullmatch(lit.text) else v)
        return v
    if fam == "date":
        t = _ts(lit) if kind in ("date", "string") and _DATE.fullmatch(v) else None
        return FALLBACK if t is None else t.date()
    if fam == "timestamp":
        t = _ts(lit)
        return FALLBACK if t is None else t
    if fam == "boolean":
        if kind == "boolean":
            return v
        return _BOOLS.get(v.strip().lower(), FALLBACK) if kind == "string" \
            else FALLBACK
    return FALLBACK


CMP = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
        "<=": operator.le, ">": operator.gt, ">=": operator.ge}


def partition_matcher(atoms, types: dict):
    """Exact in-process evaluation of AND-ed atoms over one partition's
    decoded values (``{col: directory string}``): a predicate function,
    or None when some literal has no exact value for its column's type
    (the caller then evaluates with Spark). Callers pass the atoms of a
    ``complete`` predicate: a dropped conjunct would widen the match."""
    checks = []
    for a in atoms:
        dt = types.get(a.col)
        if dt is None or a.kind == "like":
            return None
        vals = [value(l, dt) for l in a.lits]
        if any(v is FALLBACK for v in vals):
            return None
        checks.append((a.col, dt, a.op,
                       frozenset(vals) if a.kind == "in" else vals[:1]))

    def match(row: dict) -> bool:
        for col, dt, op, want in checks:
            raw = row.get(col)
            have = None if raw is None else part_value(raw, dt)
            if op in ("null", "notnull"):
                if (have is None) != (op == "null"):
                    return False
            elif have is None or not (have in want if op == "in"
                                      else CMP[op](have, want[0])):
                return False  # SQL: a comparison with NULL is never true
        return True

    return match
