"""The one-value branches of the shared analytic steps against their
general bodies.

``_step_lag`` answers ``lag(x)`` and ``_step_had_changed`` answers
``had_changed(flag, x)`` over a one-element baseline in a short branch;
every other argument shape takes the general body.  The references below
are the general bodies as they were before the branches existed.  Random
step sequences mix both shapes, so a state written by the general body is
continued by the branch and the other way round, and after every step the
output (value and type) and the state must equal the reference's.  Each
step runs the way every route runs it, once, on the live state.  No
Spark.
"""

from __future__ import annotations

import math
import random

from streamsql_spark.streaming.stateful import (_LAG_CAP, _step_had_changed,
                                                _step_lag)


def _ref_lag(p, s, argv, gate):
    n = int(argv[1]) if len(argv) > 1 and argv[1] is not None else 1
    default = argv[2] if len(argv) > 2 else None
    ignore_null = bool(argv[3]) if len(argv) > 3 \
        and argv[3] is not None else True
    buf = s.setdefault("buf", [])
    out = buf[-n] if len(buf) >= n else default
    if gate and not (ignore_null and argv[0] is None):
        buf.append(argv[0])
        cap = max(_LAG_CAP, n, s.get("cap", 0))
        s["cap"] = cap
        del buf[:-cap]
    return out


def _ref_had_changed(p, s, argv, gate):
    if not gate:
        return False  # a gated-out row: no baseline moves, no change
    ignore_null = bool(argv[0]) if argv else False
    values = list(argv[1:]) if len(argv) > 1 else list(argv[:1])
    prev = s.get("prev")
    if prev is None:
        s["prev"] = values
        return True
    changed = False
    new_prev = list(prev) + [None] * max(0, len(values) - len(prev))
    for i, v in enumerate(values):
        if ignore_null and v is None:
            continue
        new_prev[i] = v
        if i >= len(prev) or prev[i] != v:
            changed = True
    s["prev"] = new_prev
    return changed


# None, NaN, str, int, bool and container values; 1 and True and 1.0
# are equal in Python but not the same answer
_VALUES = [None, None, float("nan"), 0, 1, -7, 1.0, 2.5, "a", "b", "",
           True, False, [1, 2], [1, 2.0], (3,), {"k": 1}]
# ignoreNull flags, truthy and falsy non-bools included
_FLAGS = [True, False, None, 1, 0, "yes", "", [0]]


def _norm(v):
    """A comparable form keeping types, with NaN equal to NaN and a
    list told apart from a tuple."""
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, dict):
        return ("dict", tuple((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return (type(v).__name__, tuple(_norm(x) for x in v))
    return (type(v).__name__, v)


def _lag_argv(rng):
    r = rng.random()
    x = rng.choice(_VALUES)
    if r < 0.75:
        return [x]  # the branch
    if r < 0.85:
        return [x, rng.choice([1, 2, 3, 70, 100])]  # may grow cap past 64
    if r < 0.93:
        return [x, rng.choice([1, 2, None]), rng.choice(_VALUES)]
    return [x, 1, None, rng.choice(_FLAGS)]


def _had_changed_argv(rng):
    r = rng.random()
    if r < 0.75:
        return [rng.choice(_FLAGS), rng.choice(_VALUES)]  # the branch
    if r < 0.9:  # writes (or continues) a multi-value baseline
        return [rng.choice(_FLAGS)] + [rng.choice(_VALUES)
                                       for _ in range(rng.randint(2, 3))]
    return [rng.choice(_FLAGS)][:rng.randint(0, 1)]


def _run(step, ref, p, argv_of, seed: int, sequences: int, length: int):
    rng = random.Random(seed)
    branch_steps = 0
    for n in range(sequences):
        state, ref_state = {}, {}
        for i in range(length):
            argv = argv_of(rng)
            gate = rng.random() < 0.8
            got = step(p, state, list(argv), gate)
            want = ref(p, ref_state, list(argv), gate)
            where = (n, i, argv, gate)
            assert _norm(got) == _norm(want), where
            assert _norm(state) == _norm(ref_state), where
            branch_steps += len(argv) == (1 if p["name"] == "lag" else 2)
    return branch_steps


def test_lag_branch_matches_general_body():
    p = {"name": "lag", "args": ["x"]}
    # long sequences: the ring passes its 64-value cap
    assert _run(_step_lag, _ref_lag, p, _lag_argv, 11, 300, 120) > 20_000


def test_had_changed_branch_matches_general_body():
    p = {"name": "had_changed", "args": [None, "x"]}
    assert _run(_step_had_changed, _ref_had_changed, p, _had_changed_argv,
                13, 2_000, 20) > 25_000
