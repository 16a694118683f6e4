"""Example custom stateful analytics for register_analytic_function.

These mirror the reference's e2e custom-analytic fixtures
(test/e2e/custom_functions_single_entry_test.go:122-150): plain Python
state classes implementing the AnalyticState surface — ``apply(args) ->
value`` plus optional ``reset()`` (functions/analytic_state.go:11-37).
They live in an importable module so the executors' Python workers can
unpickle per-key state instances (ship your own module the same way:
``--py-files`` / an installed package).
"""

from __future__ import annotations


class PrevValueState:
    """lag-1 semantics: return the previous applied value (the
    reference e2e's zzPrevState)."""

    def __init__(self):
        self.prev = None

    def apply(self, args):
        out = self.prev
        self.prev = args[0]
        return out

    def reset(self):
        self.prev = None


class RunningRangeState:
    """Running max - min of the applied values (None until the first
    non-null value arrives)."""

    def __init__(self):
        self.lo = None
        self.hi = None

    def apply(self, args):
        v = args[0]
        if v is not None:
            self.lo = v if self.lo is None else min(self.lo, v)
            self.hi = v if self.hi is None else max(self.hi, v)
        if self.lo is None:
            return None
        return float(self.hi - self.lo)

    def reset(self):
        self.lo = None
        self.hi = None


class ArgTypesState:
    """Comma-separated Python type names of each call's arguments — shows
    which value types an engine path hands a custom analytic (a BIGINT
    value arrives as ``int``, a NULL as ``NoneType``)."""

    def apply(self, args):
        return ",".join(type(a).__name__ for a in args)
