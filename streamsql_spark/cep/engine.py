"""MATCH_RECOGNIZE pattern matcher (batch kernel).

Design parity with the reference's compositional pattern tree + NFA
(``cep/pattern.go``, ``cep/nfa.go``, ``cep/engine.go``), re-expressed
as preference-ordered backtracking over an in-memory partition — the
right shape for a batch kernel where each partition's rows are local
(the streaming variant keeps the same matcher over a state-held row
buffer).  Preference order implements SQL:2016 semantics:

- quantifiers: greedy prefers MORE repetitions, reluctant fewer;
- alternation prefers the leftmost branch;
- PERMUTE expands to leftmost-preferred alternation of permutations;
- matches are found leftmost-first; AFTER MATCH SKIP controls the next
  search position (PAST LAST ROW / TO NEXT ROW / TO FIRST|LAST sym);
- WITHIN bounds last.ts − first.ts.
"""

from __future__ import annotations

from itertools import permutations

from ..dialect import nodes as N
from .eval import MatchContext, NavOffsetCapError, evaluate


class CepError(ValueError):
    pass


def _expand_subsets(pat: N.Pattern, subsets: dict) -> N.Pattern:
    """A SUBSET name used as a pattern atom matches any member —
    PATTERN(S C) with S=(A,B) ≡ ((A|B) C), CLASSIFIER() keeps the
    member symbol (engine.go:738-864)."""
    if isinstance(pat, N.PSym):
        if pat.name in subsets:
            return N.PAlt([N.PSym(m) for m in subsets[pat.name]])
        return pat
    if isinstance(pat, N.PSeq):
        return N.PSeq([_expand_subsets(p, subsets) for p in pat.items])
    if isinstance(pat, N.PAlt):
        return N.PAlt([_expand_subsets(p, subsets) for p in pat.items])
    if isinstance(pat, N.PPermute):
        return N.PPermute([_expand_subsets(p, subsets) for p in pat.items])
    if isinstance(pat, N.PQuant):
        q = N.PQuant(_expand_subsets(pat.item, subsets), pat.min, pat.max)
        q.greedy = pat.greedy
        return q
    return pat


def _first_symbols(pat) -> tuple[set, bool]:
    """(symbols that can classify a match's FIRST row, can-match-empty).
    Conservative over-approximation — used only to SKIP start positions
    that provably cannot begin a match."""
    if isinstance(pat, N.PSym):
        return {pat.name}, False
    if isinstance(pat, N.PSeq):
        syms: set = set()
        for it in pat.items:
            s, e = _first_symbols(it)
            syms |= s
            if not e:
                return syms, False
        return syms, True
    if isinstance(pat, N.PAlt):
        syms, empty = set(), False
        for it in pat.items:
            s, e = _first_symbols(it)
            syms |= s
            empty = empty or e
        return syms, empty
    if isinstance(pat, N.PPermute):
        syms, empty = set(), True
        for it in pat.items:
            s, e = _first_symbols(it)
            syms |= s
            empty = empty and e
        return syms, empty
    if isinstance(pat, N.PQuant):
        s, e = _first_symbols(pat.item)
        return s, e or pat.min == 0
    return set(), True  # unknown node: no skipping


_MAX_EXPANDED_SEQS = 64


def _expand_concat(parts: list) -> list | None:
    """Cross product of per-item expansions, prefix-major (leftmost
    item's alternatives outermost) — exactly the backtracker's
    _match_seq preference order."""
    if any(p is None for p in parts):
        return None
    out: list = [()]
    for p in parts:
        out = [a + b for a in out for b in p]
        if len(out) > _MAX_EXPANDED_SEQS:
            return None
    return out


def _expand_seqs(pat) -> list | None:
    """Expand a pattern into the PREFERENCE-ORDERED list of fixed
    symbol-name tuples it can match, or None when that is not a finite
    small set (unbounded quantifier, empty-matchable quantifier item,
    > _MAX_EXPANDED_SEQS alternatives).  The order reproduces the
    backtracker's yield order exactly: alternation/permutation branches
    left-to-right, sequences prefix-major, greedy quantifiers
    more-reps-first (reluctant fewer-first).  Zero-length sequences are
    dropped — first_match ignores empty matches."""
    out = _expand_node(pat)
    if out is None:
        return None
    seqs = [q for q in out if q]
    return seqs or None


def _expand_node(pat) -> list | None:
    if isinstance(pat, N.PSym):
        return [(pat.name,)]
    if isinstance(pat, N.PSeq):
        return _expand_concat([_expand_node(it) for it in pat.items])
    if isinstance(pat, N.PAlt):
        out: list = []
        for it in pat.items:
            sub = _expand_node(it)
            if sub is None:
                return None
            out.extend(sub)
            if len(out) > _MAX_EXPANDED_SEQS:
                return None
        return out
    if isinstance(pat, N.PPermute):
        out = []
        for perm in permutations(pat.items):
            sub = _expand_concat([_expand_node(it) for it in perm])
            if sub is None:
                return None
            out.extend(sub)
            if len(out) > _MAX_EXPANDED_SEQS:
                return None
        return out
    if isinstance(pat, N.PQuant):
        if pat.max is None:
            return None
        item = _expand_node(pat.item)
        if item is None or any(not q for q in item):
            # an empty-matchable quantifier item hits the backtracker's
            # zero-width guard (reps of empty alternatives are SKIPPED,
            # not counted) — repetition expansion would not be
            # equivalent, so leave it to the generic matcher
            return None
        out = []

        def rec(prefix: tuple, reps: int) -> bool:
            if len(out) > _MAX_EXPANDED_SEQS:
                return False
            more = reps < pat.max
            done = reps >= pat.min
            if pat.greedy:
                if more:
                    for s in item:
                        if not rec(prefix + s, reps + 1):
                            return False
                if done:
                    out.append(prefix)
            else:
                if done:
                    out.append(prefix)
                if more:
                    for s in item:
                        if not rec(prefix + s, reps + 1):
                            return False
            return True

        if not rec((), 0):
            return None
        return out
    return None  # unknown node: no expansion


def _nav_calls(exprs, fnames) -> list:
    """Every call named in ``fnames`` (lower-case PREV/NEXT) inside
    ``exprs``, in pre-order."""
    import dataclasses

    out: list = []

    def walk(x):
        if isinstance(x, N.Func) and str(x.name).lower() in fnames:
            out.append(x)
        if dataclasses.is_dataclass(x) and not isinstance(x, type):
            for f in dataclasses.fields(x):
                walk(getattr(x, f.name))
        elif isinstance(x, (list, tuple)):
            for v in x:
                walk(v)
        elif isinstance(x, dict):
            for v in x.values():
                walk(v)

    for e in exprs:
        walk(e)
    return out


def _literal_offset(call: N.Func) -> int | None:
    """A navigation call's row offset: 1 by default, the integer
    literal when one is given, None for a dynamic offset."""
    if len(call.args) < 2:
        return 1
    arg = call.args[1]
    if isinstance(arg, N.Lit) and isinstance(arg.value, int):
        return max(1, int(arg.value))
    return None


def nonliteral_nav_offset(exprs, fnames=("prev", "next")) -> str | None:
    """The name of the first call among ``fnames`` in ``exprs`` whose
    offset argument is not an integer literal, else None.  The batch
    and flush paths evaluate dynamic offsets per row (eval.py), but
    the STREAMING kernel sizes its consumed-row context and tail-hold
    spans from the maximum literal offset — a dynamic offset would
    silently under-retain and diverge across micro-batch splits
    (review find r12), so the kernel refuses it typed unless the query
    declares a retention cap with the MAXNAVOFFSET option (r13)."""
    return next((str(c.name).upper() for c in _nav_calls(exprs, fnames)
                 if _literal_offset(c) is None), None)


class MatchShape:
    """Per-query analysis of a MATCH_RECOGNIZE spec, shared by every
    key's :class:`Matcher`: the SUBSET-expanded pattern, the symbol
    alphabet and the PREV()/NEXT() row spans.  Built once per query
    (``execute_cep``, ``make_cep_step``): the AST walks behind it cost
    more than matching a small key's rows."""

    def __init__(self, spec: N.MatchSpec, nav_cap: int | None = None):
        self.spec = spec
        # streaming MAXNAVOFFSET: dynamic PREV/NEXT offsets are allowed
        # up to this cap — spans below inflate to it so tail-holds and
        # context retention cover any legal runtime offset
        self.nav_cap = nav_cap
        self.pattern = _expand_subsets(spec.pattern, spec.subsets) \
            if spec.pattern is not None else None
        # the pattern's full symbol alphabet — X.col in MEASURES/DEFINE
        # resolves against it even when X bound zero rows
        syms: set = set(spec.defines or ())
        for k, members in (spec.subsets or {}).items():
            syms.add(k)
            syms.update(members)

        def walk(p):
            if p is None:
                return
            if isinstance(p, N.PSym):
                syms.add(p.name)
            for c in getattr(p, "items", []) or []:
                walk(c)
            item = getattr(p, "item", None)
            if item is not None:
                walk(item)
        walk(self.pattern)
        self.symbols = frozenset(syms)
        # NEXT() in DEFINE reads rows AFTER the one being classified:
        # a classification within the SYMBOL's NEXT span of the buffer
        # tail is INCONCLUSIVE for streaming (Matcher.classify).
        # Per-symbol (r12): a span keyed off ANY define's NEXT made
        # every tail classification inconclusive — e.g. an A-define
        # without navigation failing on an end-of-stream closer row
        # held forever because a C-define elsewhere used NEXT.
        self.next_span_by_sym = {
            s: self._span([c]) for s, c in (spec.defines or {}).items()}
        # NEXT() in MEASURES reads rows after the MATCH: a completed
        # match whose measures may reach past the buffer tail must hold
        # for the next micro-batch (0 = no NEXT in any measure)
        self.measures_next = self._span(spec.measures)
        # PREV() reach: the streaming kernel keeps this many consumed
        # rows as navigation-only context (0 = no PREV anywhere)
        self.prev_span = self._span(
            list((spec.defines or {}).values()) + list(spec.measures),
            "prev")

    def _span(self, exprs, fname: str = "next") -> int:
        """Largest ``fname``() row offset in ``exprs`` (0 when absent);
        a dynamic offset counts as 1, or as the MAXNAVOFFSET cap when
        one is declared."""
        offs = [_literal_offset(c) for c in _nav_calls(exprs, (fname,))]
        span = max((o or 1 for o in offs), default=0)
        if self.nav_cap is not None and None in offs:
            span = max(span, self.nav_cap)
        return span


class Matcher:
    def __init__(self, shape: MatchShape, rows: list[dict],
                 ts_values: list | None = None, within: float | None = None,
                 pre_cls: dict | None = None):
        self.shape = shape
        self.spec = shape.spec
        self.rows = rows
        self.ts = ts_values
        self.within = within
        self.nav_cap = shape.nav_cap
        self.defines = shape.spec.defines
        self.subsets = shape.spec.subsets
        self.pattern = shape.pattern
        self.symbols = shape.symbols
        self.match_number = 0
        # sym -> bool array: DEFINE predicates the executor evaluated
        # JVM-side over the whole partition (current-row-only conditions)
        self.pre_cls = pre_cls or {}

    # ------------------------------------------------------ classification
    def classify(self, pos: int, sym: str, bindings: list) -> bool:
        """Does row ``pos`` satisfy ``sym``'s DEFINE, given the match's
        ``bindings`` so far?  When the DEFINE reads NEXT() and row
        ``pos`` is within its span of the buffer tail, the answer may
        change once later rows arrive — whether it passed (e.g. ``NEXT(v)
        IS NULL`` read past the tail) or failed — so it also sets
        ``_hit_end``, the streaming drive's hold signal."""
        if self.within is not None and bindings:
            first_idx = bindings[0][0]
            if self.ts is not None and self.ts[pos] is not None \
                    and self.ts[first_idx] is not None \
                    and (self.ts[pos] - self.ts[first_idx]) > self.within:
                return False
        arr = self.pre_cls.get(sym)
        if arr is not None:
            return bool(arr[pos])
        cond = self.defines.get(sym)
        if cond is None:
            return True  # undefined symbol ≡ TRUE (engine.go:463-478)
        ctx = MatchContext(self.rows, bindings, pos=pos, current_symbol=sym,
                           match_number=self.match_number + 1,
                           subsets=self.subsets, symbols=self.symbols,
                           nav_cap=self.nav_cap)
        try:
            ok = bool(evaluate(cond, ctx))
        except NavOffsetCapError:
            raise  # typed cap breach must not read as "no match"
        except Exception:
            ok = False
        span = self.shape.next_span_by_sym.get(sym, 0)
        if span and pos + span >= len(self.rows):
            # conservative: also set when the read stayed inside the
            # buffer or the verdict does not depend on it; that only
            # delays emission until the successor arrives
            self._hit_end = True
        return ok

    # ---------------------------------------------------------- matching
    def _match(self, pat: N.Pattern, pos: int, bindings: list):
        """Yield (end_pos, bindings') in preference order."""
        if isinstance(pat, N.PSym):
            if pos >= len(self.rows):
                # pattern wanted a row beyond the buffer — a future row
                # could extend this partial (streaming hold signal)
                self._hit_end = True
            elif self.classify(pos, pat.name, bindings):
                yield pos + 1, bindings + [(pos, pat.name)]
            return
        if isinstance(pat, N.PSeq):
            yield from self._match_seq(pat.items, 0, pos, bindings)
            return
        if isinstance(pat, N.PAlt):
            for item in pat.items:
                yield from self._match(item, pos, bindings)
            return
        if isinstance(pat, N.PPermute):
            for perm in permutations(pat.items):
                yield from self._match_seq(list(perm), 0, pos, bindings)
            return
        if isinstance(pat, N.PQuant):
            yield from self._match_quant(pat, pos, bindings, 0)
            return
        raise CepError(f"unsupported pattern node {type(pat).__name__}")

    def _match_seq(self, items: list, i: int, pos: int, bindings: list):
        if i >= len(items):
            yield pos, bindings
            return
        for p2, b2 in self._match(items[i], pos, bindings):
            yield from self._match_seq(items, i + 1, p2, b2)

    def _match_quant(self, pat: N.PQuant, pos: int, bindings: list, reps: int):
        can_more = pat.max is None or reps < pat.max
        done_ok = reps >= pat.min
        if pat.greedy:
            if can_more:
                for p2, b2 in self._match(pat.item, pos, bindings):
                    if p2 == pos:
                        # zero-width guard: skip THIS alternative only —
                        # `break` would abandon later CONSUMING
                        # alternatives of the same item (e.g. the B
                        # branch of (A? | B)+ when A? matched empty)
                        continue
                    yield from self._match_quant(pat, p2, b2, reps + 1)
            if done_ok:
                yield pos, bindings
        else:
            if done_ok:
                yield pos, bindings
            if can_more:
                for p2, b2 in self._match(pat.item, pos, bindings):
                    if p2 == pos:
                        continue  # zero-width guard (see greedy branch)
                    yield from self._match_quant(pat, p2, b2, reps + 1)

    def first_match(self, start: int):
        """Preferred match starting exactly at ``start``, or None."""
        self._hit_end = False
        for end, bindings in self._match(self.pattern, start, []):
            if bindings:  # ignore empty matches
                return end, bindings
        return None

    # ------------------------------------------------------------- drive
    def _skip_to(self, bindings: list) -> int:
        """Next search position per AFTER MATCH SKIP (engine.go:593-625).

        TO FIRST/LAST <sym> anchor is governed by ``spec.skip_anchor``
        (README "CEP AFTER MATCH SKIP semantics"):

        - ``"inclusive"`` (default): re-anchor ON the target row —
          SQL-standard / Flink semantics; the would-be-infinite-loop
          case (target == match start) advances by one instead.
        - ``"exclusive"``: reference parity — resume at target row + 1,
          exactly skipTo's occurrence+1 (engine.go:600).  The
          reference's own e2e suite never observes the difference
          (every reference case has no further match either way); for
          TO LAST <last pattern symbol> the +1 degenerates to PAST
          LAST ROW, which is why the standard's re-anchor is the
          default here.

        Both modes are pinned by test_cep.py skip-policy tests; the
        inclusive strides additionally by the cep_skip_next_overlap
        oracles."""
        skip = self.spec.after_match_skip
        first_idx = bindings[0][0]
        last_idx = bindings[-1][0]
        if skip[0] == "to_next_row":
            return first_idx + 1
        if skip[0] in ("to_first", "to_last"):
            sym = skip[1]
            members = set(self.subsets.get(sym, {sym}))
            sym_rows = [i for i, s in bindings if s in members]
            if not sym_rows:
                return last_idx + 1
            target = sym_rows[0] if skip[0] == "to_first" else sym_rows[-1]
            if getattr(self.spec, "skip_anchor", "inclusive") == "exclusive":
                return target + 1  # reference skipTo: occurrence + 1
            # inclusive: must still advance to avoid infinite loops
            return target if target > first_idx else first_idx + 1
        return last_idx + 1  # past_last_row (default)

    def _start_candidates(self):
        """Positions where a match could begin, as a sorted index array —
        only when every possible first symbol has a precomputed
        classification (else None: every position is a candidate).  Lets
        the drive loop jump over provably-dead starts instead of paying
        the backtracking machinery per row."""
        if self.pattern is None or not self.pre_cls:
            return None
        syms, can_empty = _first_symbols(self.pattern)
        if can_empty or not syms:
            return None
        arrs = []
        for s in syms:
            arr = self.pre_cls.get(s)
            if arr is None:
                return None  # undefined (≡ TRUE) or non-vectorized symbol
            arrs.append(arr)
        import numpy as np

        mask = arrs[0]
        for a in arrs[1:]:
            mask = mask | a
        return np.flatnonzero(mask)

    # ------------------------------------------------- vectorized shapes
    def _cls_array(self, sym: str, n: int):
        """Whole-partition classification array for ``sym`` when it is
        binding-independent: precomputed (vectorized DEFINE) or
        undefined (≡ TRUE).  None → not vectorizable."""
        arr = self.pre_cls.get(sym)
        if arr is not None:
            return arr
        if sym not in self.defines:
            import numpy as np

            return np.ones(n, dtype=bool)
        return None

    def _find_all_fast(self):
        """Closed-form drive for the dominant pattern shapes:

        - ``A{m,}[{,M}]`` greedy under SKIP PAST LAST ROW, no WITHIN →
          maximal runs of A-classified rows, one numpy pass
          (gaps-and-islands);
        - any pattern expandable to a small preference-ordered set of
          FIXED symbol sequences (sequences, alternation, PERMUTE,
          bounded quantifiers — see :func:`_expand_seqs`) → per-sequence
          shifted-AND of the class arrays + a WITHIN span mask, then a
          leftmost preference sweep honouring all four AFTER MATCH SKIP
          policies.

        Replaces per-row backtracking with O(n) vector work +
        O(#matches) Python — the generic matcher remains the fallback
        for unbounded non-run quantifiers, navigation/aggregate-
        dependent DEFINEs, and NULL/unordered event times under WITHIN.
        Returns None when not applicable.
        """
        if self.pattern is None:
            return None
        import numpy as np

        n = len(self.rows)
        pat = self.pattern
        if isinstance(pat, N.PSeq) and len(pat.items) == 1:
            pat = pat.items[0]

        if self.spec.after_match_skip[0] == "past_last_row" \
                and self.within is None \
                and isinstance(pat, N.PQuant) and isinstance(pat.item, N.PSym) \
                and pat.greedy and pat.min >= 1:
            arr = self._cls_array(pat.item.name, n)
            if arr is None:
                return None
            sym = pat.item.name
            idx = np.flatnonzero(arr)
            out: list = []
            if idx.size == 0:
                return out
            brk = np.flatnonzero(np.diff(idx) > 1)
            starts = np.concatenate(([idx[0]], idx[brk + 1]))
            ends = np.concatenate((idx[brk], [idx[-1]]))
            qmin, qmax = pat.min, pat.max
            for s, e in zip(starts.tolist(), ends.tolist()):
                while s <= e:
                    ln = e - s + 1
                    if ln < qmin:
                        break
                    take = ln if qmax is None else min(ln, qmax)
                    self.match_number += 1
                    out.append([(i, sym) for i in range(s, s + take)])
                    s += take
            return out

        seqs = _expand_seqs(self.pattern)
        if seqs is None:
            return None
        arrs = {}
        for s in {sym for q in seqs for sym in q}:
            a = self._cls_array(s, n)
            if a is None:
                return None
            arrs[s] = a
        tsf = None
        if self.within is not None and self.ts is not None:
            try:
                tsf = np.asarray(self.ts, dtype=object).astype(float)
            except (TypeError, ValueError):
                return None
            if np.isnan(tsf).any() \
                    or (tsf.size > 1 and np.any(np.diff(tsf) < 0)):
                # NULL event times or a non-ascending order column:
                # classify()'s pairwise WITHIN check is not reducible
                # to a last-minus-first span — generic matcher
                return None
        masks = []
        for q in seqs:
            k = len(q)
            if n < k:
                masks.append(None)
                continue
            m = arrs[q[0]][: n - k + 1].copy()
            for j in range(1, k):
                m &= arrs[q[j]][j: n - k + 1 + j]
            if tsf is not None and k > 1:
                # ts ascending + non-NULL (guarded above): the max pair
                # span inside the window is last - first
                m &= (tsf[k - 1:] - tsf[: n - k + 1]) <= self.within
            masks.append(m)
        any_mask = np.zeros(n, dtype=bool)
        for m in masks:
            if m is not None and len(m):
                any_mask[: len(m)] |= m
        cand = np.flatnonzero(any_mask)
        out = []
        ci = 0
        while ci < len(cand):
            i = int(cand[ci])
            for q, m in zip(seqs, masks):
                if m is not None and i < len(m) and m[i]:
                    bindings = [(i + j, q[j]) for j in range(len(q))]
                    break
            else:
                raise CepError(f"closed-form CEP candidate {i} has no "
                               "matching sequence")
            self.match_number += 1
            out.append(bindings)
            # _skip_to always advances past the match start; max() is a
            # belt-and-braces guard against an infinite sweep
            ci = int(np.searchsorted(cand,
                                     max(self._skip_to(bindings), i + 1)))
        return out

    def find_all(self):
        """All matches per AFTER MATCH SKIP policy, leftmost-first: the
        closed-form sweep when the pattern shape allows it, else the one
        backtracking drive with end-of-input semantics, tried only at
        the candidate start rows."""
        fast = self._find_all_fast()
        if fast is not None:
            return fast
        return self.find_emittable(flush=True,
                                   cand=self._start_candidates())[0]

    def _expired(self, start: int) -> bool:
        """Event-time WITHIN expiry for a held partial at ``start``: rows
        are ordered, so once the newest event is beyond start's WITHIN
        horizon no future row can complete it (watermark analog of the
        reference's sweeper, cep/engine.go:269-320)."""
        if self.within is None or self.ts is None or not self.rows:
            return False
        t0, t1 = self.ts[start], self.ts[-1]
        if t0 is None or t1 is None:
            return False
        return (t1 - t0) > self.within

    def find_emittable(self, flush: bool = False, start_at: int = 0,
                       cand=None):
        """The backtracking drive, shared by batch and streaming.  Unless
        ``flush``, it stops at the first start row whose search was
        inconclusive and holds it for the next micro-batch: the search
        probed past the buffer tail (a greedy extension, or a partial
        match that wanted more rows) or classified a NEXT()-reading
        DEFINE within its span of the tail (:meth:`classify`), or the
        match found has MEASURES NEXT() reaching past the tail.  Any
        other match emits in this step, also one that ends on the last
        buffered row: no future row can change it — the reference's NFA
        likewise emits once the accepting state has no outgoing
        transition (cep/engine.go:492-552).  A start whose WITHIN span
        has expired is never held.

        Returns (matches, consumed_upto): the caller may drop buffer rows
        before ``consumed_upto`` — the Spark-state analog of the
        reference's emit-on-advance + Stop() flush (cep/engine.go:240-267,
        492-552).  ``start_at``: the first MATCHABLE index — rows before
        it are already-consumed context retained only so PREV()
        navigation in DEFINE/MEASURES reads the true predecessors (r12
        CEP-fuzz find: trimming consumed rows made PREV read nil at the
        buffer head where the batch paths see the real row).  ``cand``:
        optional sorted array of the only rows a match can start at
        (:meth:`_start_candidates`); the drive jumps over the rest."""
        import numpy as np

        out = []
        start = start_at
        n = len(self.rows)
        mnext = self.shape.measures_next
        while start < n:
            if cand is not None:
                ci = int(np.searchsorted(cand, start))
                if ci == len(cand):
                    break
                start = int(cand[ci])
            m = self.first_match(start)
            if (self._hit_end or (m is not None and mnext
                                  and m[0] + mnext - 1 >= n)) \
                    and not flush and not self._expired(start):
                # a future row may change this start's match: e.g. C*
                # with `C AS temperature < NEXT(temperature)` must not
                # emit the short match that flush extends (r12 find)
                return out, start
            if m is None:
                start += 1
                continue
            bindings = m[1]
            self.match_number += 1
            out.append(bindings)
            start = self._skip_to(bindings)
        return out, start

    # ----------------------------------------------------------- measures
    def measure_rows(self, bindings: list, match_no: int) -> list[dict]:
        """Emit measure row(s) for a completed match."""
        spec = self.spec
        outs = []
        if spec.rows_per_match == "all":
            # ALL ROWS exposes the input columns alongside MEASURES
            # (cep_test.go TestCEP_AllRowsSelectStarIncludesInput)
            positions = [i for i, _ in bindings]
            for p in positions:
                ctx = MatchContext(self.rows, bindings, pos=p,
                                   match_number=match_no,
                                   subsets=self.subsets,
                                   symbols=self.symbols,
                                   nav_cap=self.nav_cap)
                out = dict(self.rows[p])
                out.update({m.alias or f"m{j}": evaluate(m.expr, ctx)
                            for j, m in enumerate(spec.measures)})
                outs.append(out)
        else:
            ctx = MatchContext(self.rows, bindings, pos=None,
                               match_number=match_no, subsets=self.subsets,
                               symbols=self.symbols, nav_cap=self.nav_cap)
            outs.append({m.alias or f"m{j}": evaluate(m.expr, ctx)
                         for j, m in enumerate(spec.measures)})
        return outs


def run_partition(shape: MatchShape, rows: list[dict],
                  ts_values: list | None, within: float | None,
                  pre_cls: dict | None = None) -> list[dict]:
    """Match one ordered partition; returns measure rows."""
    if shape.pattern is None:
        raise CepError("MATCH_RECOGNIZE requires PATTERN")
    matcher = Matcher(shape, rows, ts_values, within, pre_cls=pre_cls)
    out = []
    for no, bindings in enumerate(matcher.find_all(), start=1):
        out.extend(matcher.measure_rows(bindings, no))
    return out
