"""Python expression evaluator for CEP DEFINE / MEASURES.

The one place expressions evaluate outside Catalyst: DEFINE predicates
and MEASURES run row-at-a-time inside the per-partition match kernel
(the reference does the same — ``cep/eval.go``).  The evaluator handles
the dialect's expression AST plus the MATCH_RECOGNIZE navigation /
aggregate surface:

- symbol-qualified refs ``X.col``: current row while classifying X,
  else the LAST row bound to X (reference ``cep/eval.go:362-380``);
- ``PREV/NEXT(col[, n])``: physical navigation over partition rows;
- ``FIRST/LAST(X.col[, n])``: navigation over a symbol's bound rows;
- aggregates ``SUM/AVG/COUNT/MIN/MAX`` over bound rows (RUNNING);
- ``CLASSIFIER()``, ``MATCH_NUMBER()``.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from ..dialect import nodes as N
from ..dialect.pyeval import POW10_EXACT, half_up_double

_NAV_FUNCS = {"prev", "next", "first", "last"}
_AGG_FUNCS = {"sum", "avg", "count", "min", "max"}

def _null_prop(fn):
    """SQL NULL propagation: any None argument → None (Catalyst
    round(NULL)=NULL; without this a MEASURES expression over an
    all-NULL match would raise TypeError out of the Spark task)."""
    def g(*a):
        if any(x is None for x in a):
            return None
        return fn(*a)
    return g


_JVM_LEGACY_CACHE: dict[int, bool] = {}

# legacy FloatingDecimal (JDK <= 18) prints an extra digit for this
# exact-integer double; Ryu (JDK >= 19, JDK-4511638) prints the
# shortest '9.745699541085918E16', which is this module's layout
_LEGACY_PROBE_VALUE = 9.745699541085918e16
_LEGACY_PROBE_STR = "9.7456995410859184E16"


def jvm_double_str_is_legacy(spark) -> bool:
    """One-time runtime probe (r8, cached per session) of the deployed
    JVM's Double.toString digit generator.  On Ryu JVMs (>= 19)
    ``_java_double_str`` is exact EVERYWHERE; on legacy JVMs (<= 18)
    it is exact outside two pinned classes (see _java_double_str)."""
    key = id(spark)
    got = _JVM_LEGACY_CACHE.get(key)
    if got is None:
        s = spark.sql(
            f"SELECT cast({_LEGACY_PROBE_VALUE!r} as double)"
            " AS x").selectExpr("cast(x as string)").first()[0]
        got = _JVM_LEGACY_CACHE[key] = (s == _LEGACY_PROBE_STR)
    return got


def _java_double_str(x: float) -> str:
    """Java Double.toString — the SELECT-path concat stringifies via
    CAST(x AS STRING) (JVM-owned), so the measure evaluator must match
    it exactly, not Python str(): Java switches to scientific notation
    at |x| >= 1e7 and < 1e-3 (Python at 1e16/1e-5), writes 'E' with no
    '+', and spells NaN/Infinity.  Python's repr supplies
    shortest-roundtrip digits; only the layout differs.

    Exactness, pinned against the real JVM by
    tests/test_cep.py::test_java_double_str_matches_jvm_cast over
    random bit patterns + 17-significant-digit doubles + denormals:
    on Ryu JVMs (JDK >= 19) output equals CAST everywhere; on legacy
    JVMs (JDK <= 18, probed via jvm_double_str_is_legacy) the ONLY
    divergences are (a) exact-integer doubles >= 2^53, (b) subnormals,
    and (c) mantissas with >= 40 trailing zero bits (e.g. 2^-44) —
    classes where legacy FloatingDecimal emits extra trailing digits
    of the exact expansion ('4.9E-324' vs shortest '5.0E-324',
    JDK-4511638) — and both strings round-trip to the same double."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    sign = "-" if math.copysign(1.0, x) < 0 else ""
    if x == 0:
        return sign + "0.0"
    s = repr(abs(x))
    if "e" in s:
        mant, e = s.split("e")
        e = int(e)
    else:
        mant, e = s, 0
    ip, _, fp = mant.partition(".")
    digits = ip + fp
    point = len(ip) + e  # value = 0.<digits> * 10**point
    stripped = digits.lstrip("0")
    point -= len(digits) - len(stripped)
    digits = stripped.rstrip("0") or "0"
    exp = point - 1  # floor(log10(|x|))
    if -3 <= exp <= 6:  # Java decimal-notation window
        if exp >= 0:
            whole = digits.ljust(exp + 1, "0")
            frac = digits[exp + 1:] or "0"
            return f"{sign}{whole[:exp + 1]}.{frac}"
        return sign + "0." + "0" * (-exp - 1) + digits
    frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{frac}E{exp}"


def _concat_str(x):
    """ToStringE for concat args (pyeval._cast_string in lockstep):
    bools are 'true'/'false', ints bare, floats via Java
    Double.toString layout (the SELECT path CASTs on the JVM)."""
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, float):
        return _java_double_str(x)
    return str(x)


def _round_half_up(x, n=0):
    """Spark/reference rounding is HALF_UP (Go math.Round half-away,
    functions_math.go:556; Spark Round), NOT Python's banker's round.
    Like Spark's Round, an int keeps its integral type at any scale and
    rounds exactly (a float detour loses digits past 2^53), overflowing
    BIGINT as Spark's ANSI mode does; a double rounds its shortest repr.
    The double fast path is pyeval's :func:`half_up_double`;
    pyeval._round_to hands what Decimal cannot reach (past ~1e26) to
    the Spark path — this evaluator has none, so it must answer every
    double."""
    n = int(n)
    if isinstance(x, int) and not isinstance(x, bool):
        if n >= 0:
            return x
        q = 10 ** -n
        r = (abs(x) + q // 2) // q * q  # half away from zero
        r = r if x >= 0 else -r
        if not -2 ** 63 <= r < 2 ** 63:
            raise CepEvalError(f"ARITHMETIC_OVERFLOW: round({x}, {n}) "
                               "is out of the BIGINT range")
        return r
    xf = float(x)
    if math.isinf(xf) or math.isnan(xf):
        # Spark round(Infinity) is Infinity, round(NaN) is NaN —
        # Decimal.quantize would raise InvalidOperation and kill the
        # whole Spark task
        return xf
    if 0 <= n < len(POW10_EXACT):
        r = half_up_double(xf, POW10_EXACT[n])
        if r is not None:
            return r
    d = Decimal(repr(xf))
    if d.as_tuple().exponent >= -n:
        # no digit below the scale: nothing to round (and quantizing
        # 1e27 to 2 places would overflow the 28-digit context)
        return xf
    # the quantized coefficient has no more digits than the repr's 17:
    # the default context holds it
    return float(d.quantize(Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP))


_SCALARS = {
    "abs": _null_prop(abs),
    "round": _null_prop(_round_half_up),
    "floor": _null_prop(math.floor),
    "ceil": _null_prop(math.ceil),
    "ceiling": _null_prop(math.ceil),
    "sqrt": _null_prop(math.sqrt),
    "power": _null_prop(lambda a, b: a ** b),
    "pow": _null_prop(lambda a, b: a ** b),
    "coalesce": lambda *a: next((x for x in a if x is not None), None),
    # concat is the reference's ToStringE-and-join (functions_string.
    # go:27-37): nil contributes "" (nil-skip), never NULL-propagates —
    # MEASURES go through the same expr bridge as SELECT there
    # (functions/expr_bridge.go), so this must match registry.py's
    # concat_ws('', CAST..) rendering and pyeval._fn_concat, not
    # Spark's NULL-propagating concat.  Stringification mirrors
    # pyeval._cast_string (bool → 'true'/'false', int → str).
    "concat": lambda *a: "".join(_concat_str(x) for x in a
                                 if x is not None),
    "upper": lambda s: s.upper() if s is not None else None,
    "lower": lambda s: s.lower() if s is not None else None,
    "length": lambda s: len(s) if s is not None else None,
}


class CepEvalError(ValueError):
    pass


class NavOffsetCapError(CepEvalError):
    """A DYNAMIC PREV/NEXT offset evaluated beyond the declared
    MAXNAVOFFSET cap on the streaming kernel — raised typed instead of
    silently reading nil where the batch paths see a value (the
    kernel's context retention is sized by the cap).  Must propagate
    through ``classify``'s broad eval-error-means-no-match catch."""


class MatchContext:
    """Evaluation context for one (partial or complete) match.

    rows:      the partition's rows (list[dict]) in order
    bindings:  [(row_index, symbol)] for rows matched so far
    pos:       index of the row being classified (DEFINE) or the
               running-row (MEASURES ALL ROWS); None = FINAL
    current_symbol: symbol under classification (DEFINE only)
    subsets:   name -> set of member symbols
    """

    def __init__(self, rows, bindings, pos=None, current_symbol=None,
                 match_number=1, subsets=None, symbols=None,
                 nav_cap=None):
        self.rows = rows
        self.bindings = bindings
        self.pos = pos
        self.current_symbol = current_symbol
        self.match_number = match_number
        self.nav_cap = nav_cap  # streaming MAXNAVOFFSET, None = unbounded
        self.subsets = {k: set(v) for k, v in (subsets or {}).items()}
        # the pattern's symbol alphabet: lets X.col resolve to "symbol
        # X's rows" even when X bound nothing (empty aggregate), instead
        # of silently falling back to ALL match rows
        self.symbols = frozenset(symbols or ())

    # -------- helpers
    def known_symbol(self, sym: str) -> bool:
        """Is ``sym`` a pattern symbol / SUBSET name (vs a stray
        qualifier)?  Bound symbols count even without an alphabet."""
        return (sym in self.subsets or sym in self.symbols
                or sym == self.current_symbol
                or any(s == sym for _, s in self.bindings))

    def symbol_rows(self, sym: str) -> list[int]:
        """Row indices bound to ``sym`` (or any SUBSET member) —
        INCLUDING the candidate row under classification, which the
        reference treats as already carrying its tentative label
        (cep/eval.go rowsLabels appends ctx.candidate)."""
        members = self.subsets.get(sym, {sym})
        rows = [i for i, s in self.bindings if s in members]
        if (self.current_symbol is not None and self.pos is not None
                and self.current_symbol in members
                and (not rows or rows[-1] != self.pos)):
            rows.append(self.pos)
        return rows

    def all_rows(self) -> list[int]:
        return [i for i, _ in self.bindings]

    def row_at(self, idx: int) -> dict | None:
        if 0 <= idx < len(self.rows):
            return self.rows[idx]
        return None


def _num(v):
    if isinstance(v, bool):
        return int(v)
    return v


def _cmp(op: str, a, b):
    if a is None or b is None:
        # UNKNOWN, not False: a bare NULL comparison still fails to
        # classify (bool(None) is False), but NOT(x = NULL) must stay
        # UNKNOWN — matching the Catalyst-vectorized DEFINE path and
        # the DuckDB measure oracles (SQL three-valued logic)
        return None
    try:
        if op == "=":
            return a == b
        if op == "!=":
            return a != b
        if op == "<":
            return a < b
        if op == "<=":
            return a <= b
        if op == ">":
            return a > b
        if op == ">=":
            return a >= b
    except TypeError:
        return False
    raise CepEvalError(f"bad comparison op {op}")


def evaluate(e: N.Expr, ctx: MatchContext):
    if isinstance(e, N.Lit):
        return e.value
    if isinstance(e, N.Star):
        return None
    if isinstance(e, N.Col):
        return _eval_col(e, ctx)
    if isinstance(e, N.Func):
        return _eval_func(e, ctx)
    if isinstance(e, N.Bin):
        return _eval_bin(e, ctx)
    if isinstance(e, N.Un):
        v = evaluate(e.operand, ctx)
        if e.op == "NOT":
            # SQL three-valued: NOT NULL is NULL (no classify) — the
            # vectorized path computes the same via Catalyst + fillna
            # False, so interpreted and pre-classified DEFINEs agree
            return None if v is None else (not bool(v))
        return -v if v is not None else None
    if isinstance(e, N.IsNull):
        v = evaluate(e.operand, ctx)
        return (v is not None) if e.negated else (v is None)
    if isinstance(e, N.InList):
        v = evaluate(e.operand, ctx)
        if v is None:
            return None  # NULL [NOT] IN (...) is NULL, like Catalyst
        vals = [evaluate(i, ctx) for i in e.items]
        hit = any(x is not None and x == v for x in vals)
        if not hit and any(x is None for x in vals):
            return None  # x IN (..., NULL) without a hit is UNKNOWN
        return (not hit) if e.negated else hit
    if isinstance(e, N.Between):
        v = evaluate(e.operand, ctx)
        lo, hi = evaluate(e.low, ctx), evaluate(e.high, ctx)
        if v is None or lo is None or hi is None:
            return None  # NULL bound -> UNKNOWN (survives NOT, like
            # Catalyst; classify coerces to no-match)
        inside = lo <= v <= hi
        return (not inside) if e.negated else inside
    if isinstance(e, N.Case):
        if e.operand is not None:
            opv = evaluate(e.operand, ctx)
            for c, val in e.whens:
                cv = evaluate(c, ctx)
                # SQL three-valued equality: NULL matches NOTHING —
                # Python's None == None would wrongly take the branch
                if opv is not None and cv is not None and cv == opv:
                    return evaluate(val, ctx)
        else:
            for c, val in e.whens:
                if evaluate(c, ctx):
                    return evaluate(val, ctx)
        return evaluate(e.else_, ctx) if e.else_ is not None else None
    raise CepEvalError(f"cannot evaluate {type(e).__name__}")


def _field(row: dict | None, path) -> object:
    if row is None:
        return None
    cur: object = row
    for p in path:
        if isinstance(p, N.MapKey):
            p = p.key
        if isinstance(cur, dict):
            cur = cur.get(p)
        elif isinstance(cur, (list, tuple)) and isinstance(p, int):
            # negative index counts from the end, same as the rendered
            # try_element_at path (reference fieldpath.go:242);
            # out-of-range either way -> None (nil-on-miss)
            cur = cur[p] if -len(cur) <= p < len(cur) else None
        else:
            return None
    return cur


def _eval_col(e: N.Col, ctx: MatchContext):
    root = str(e.parts[0])
    # symbol-qualified ref?
    is_symbol = root == ctx.current_symbol or root in ctx.subsets \
        or any(s == root for _, s in ctx.bindings)
    if is_symbol and len(e.parts) > 1:
        if root == ctx.current_symbol and ctx.pos is not None:
            return _field(ctx.row_at(ctx.pos), e.parts[1:])
        rows = ctx.symbol_rows(root)
        if not rows:
            return None
        return _field(ctx.row_at(rows[-1]), e.parts[1:])
    # unqualified: current row (DEFINE / running), else last matched row
    if ctx.pos is not None:
        return _field(ctx.row_at(ctx.pos), e.parts)
    allr = ctx.all_rows()
    return _field(ctx.row_at(allr[-1]) if allr else None, e.parts)


def _sym_arg(e: N.Expr):
    """Split ``X.col`` into (symbol, path) or (None, path) for plain col."""
    if isinstance(e, N.Col) and len(e.parts) > 1:
        return str(e.parts[0]), e.parts[1:]
    if isinstance(e, N.Col):
        return None, e.parts
    return None, None


def _eval_func(e: N.Func, ctx: MatchContext):
    name = e.name.lower()
    if name == "__final__":
        # FINAL semantics: evaluate over the whole match (pos=None)
        final_ctx = MatchContext(ctx.rows, ctx.bindings, pos=None,
                                 match_number=ctx.match_number,
                                 subsets=ctx.subsets, symbols=ctx.symbols)
        return evaluate(e.args[0], final_ctx)
    if name == "__running__":
        return evaluate(e.args[0], ctx)
    if name == "classifier":
        if ctx.pos is not None:
            if ctx.current_symbol is not None:
                return ctx.current_symbol
            for i, s in ctx.bindings:
                if i == ctx.pos:
                    return s
            return None
        return ctx.bindings[-1][1] if ctx.bindings else None
    if name == "match_number":
        return ctx.match_number

    if name in ("prev", "next"):
        sym, path = _sym_arg(e.args[0]) if e.args else (None, None)
        if path is None:
            raise CepEvalError(f"{name}() needs a column argument")
        n = int(evaluate(e.args[1], ctx)) if len(e.args) > 1 else 1
        # INTEGER-literal offsets are covered by the kernel's span
        # sizing (the same predicate nonliteral_nav_offset uses — a
        # string/float literal counts as DYNAMIC there, so it must
        # here too, review find r13); a dynamic offset beyond the
        # declared cap would read rows the kernel no longer retains —
        # fail typed, never read nil
        if ctx.nav_cap is not None and n > ctx.nav_cap \
                and len(e.args) > 1 \
                and not (isinstance(e.args[1], N.Lit)
                         and isinstance(e.args[1].value, int)):
            raise NavOffsetCapError(
                f"{name}() dynamic offset {n} exceeds the declared "
                f"MAXNAVOFFSET={ctx.nav_cap} — raise the option to "
                "cover the largest runtime offset")
        # physical navigation relative to the row being evaluated
        base = ctx.pos if ctx.pos is not None else (
            ctx.all_rows()[-1] if ctx.bindings else None)
        if base is None:
            return None
        idx = base - n if name == "prev" else base + n
        # symbol-qualified PREV(X.col): navigate physically, read the
        # path (reference positionalField ignores the qualifier)
        return _field(ctx.row_at(idx), path)

    if name in ("first", "last"):
        sym, path = _sym_arg(e.args[0]) if e.args else (None, None)
        if path is None:
            raise CepEvalError(f"{name}() needs a column argument")
        n = int(evaluate(e.args[1], ctx)) if len(e.args) > 1 else 0
        rows = (ctx.symbol_rows(sym)
                if sym and ctx.known_symbol(sym) else ctx.all_rows())
        if ctx.pos is not None:  # RUNNING: restrict to rows ≤ pos
            rows = [i for i in rows if i <= ctx.pos]
        # bounds BEFORE indexing: an offset past the bound rows is a
        # NULL, never an IndexError (e.g. LAST(A.x, 3) with 2 A rows)
        k = n if name == "first" else len(rows) - 1 - n
        if not (0 <= k < len(rows)):
            return None
        return _field(ctx.row_at(rows[k]), path)

    if name in _AGG_FUNCS:
        if name == "count" and (not e.args or isinstance(e.args[0], N.Star)):
            # COUNT(*) = all match rows; COUNT(X.*) = rows bound to X
            qual = e.args[0].qualifier if e.args else None
            rows = ctx.symbol_rows(qual) if qual else ctx.all_rows()
            if ctx.pos is not None:
                rows = [i for i in rows if i <= ctx.pos]
            return len(rows)
        sym, path = _sym_arg(e.args[0])
        # symbol-qualified: ALWAYS restrict to that symbol's rows —
        # including the row under classification (reference aggregate
        # filters rowsLabels by labelMatches, candidate included), and
        # including the empty case for a valid-but-unbound symbol
        # (never a silent fallback to every match row)
        rows = (ctx.symbol_rows(sym)
                if sym and ctx.known_symbol(sym) else ctx.all_rows())
        if ctx.pos is not None:
            rows = [i for i in rows if i <= ctx.pos]
        vals = [_field(ctx.row_at(i), path) for i in rows]
        vals = [_num(v) for v in vals if v is not None]
        if name == "count":
            return len(vals)
        if not vals:
            return None
        if name == "sum":
            return sum(vals)
        if name == "avg":
            return sum(vals) / len(vals)
        if name == "min":
            return min(vals)
        if name == "max":
            return max(vals)

    fn = _SCALARS.get(name)
    if fn is not None:
        return fn(*[evaluate(a, ctx) for a in e.args])
    raise CepEvalError(f"unsupported function in CEP context: {name}")


def _b3(v):
    """NULL-preserving boolean coercion (SQL three-valued leaves)."""
    return None if v is None else bool(v)


def _eval_bin(e: N.Bin, ctx: MatchContext):
    op = e.op
    # SQL three-valued AND/OR: NULL must PROPAGATE (NOT(NULL AND TRUE)
    # is NULL, not TRUE) so interpreted DEFINEs agree with the
    # Catalyst-vectorized pre-classification; the final classify()
    # coerces NULL to no-match
    if op == "AND":
        left = _b3(evaluate(e.left, ctx))
        if left is False:
            return False
        right = _b3(evaluate(e.right, ctx))
        if right is False:
            return False
        return None if (left is None or right is None) else True
    if op == "OR":
        left = _b3(evaluate(e.left, ctx))
        if left is True:
            return True
        right = _b3(evaluate(e.right, ctx))
        if right is True:
            return True
        return None if (left is None or right is None) else False
    l, r = evaluate(e.left, ctx), evaluate(e.right, ctx)
    if op in ("=", "!=", "<", "<=", ">", ">="):
        return _cmp(op, _num(l), _num(r))
    if l is None or r is None:
        return None
    l, r = _num(l), _num(r)
    if op == "+":
        return l + r
    if op == "-":
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        return l / r if r != 0 else None
    if op == "%":
        return l % r if r != 0 else None
    if op == "^":
        return l ** r
    if op == "||":
        return f"{l}{r}"
    raise CepEvalError(f"unsupported operator {op}")
