"""No query-time libm in any hashed-output expression — on either engine.

CORRECTNESS_r06/r07 went driver-red on values that depended on a math
LIBRARY VERSION: Spark's opaque builtin HLL estimate, and ln() evaluated
at query time in both engines with boundary-tie agreement assumed
(VERDICT r7 §What's wrong 1). Round 8 removed every such call (intlog's
integer ilog2 + dyadic sigmoid, neutral-sketch certs); this test is the
grep-able invariant that keeps them out:

- every ``oracle_sql()`` string (the exact SQL DuckDB runs, comments
  stripped) contains no transcendental call — ``pow`` only as the exact
  power-of-two idiom ``pow(2.0::DOUBLE, <integer>)``;
- no package module calls ``F.log/exp/pow…`` (a Spark-side
  transcendental) or ``math.log/exp/pow`` outside the allowlisted
  IMPORT-TIME shared-constant generators (sketches' linear-counting
  lookup, intlog's LOG2E/EXP2 constants — computed once in the driver
  process and embedded in BOTH engine sides, hence version-portable by
  construction);
- no package ``**`` (or ``**=``) takes a non-integer-constant exponent
  outside the same allowlist: a float power is libm ``pow`` — ``x ** 0.5``
  disagrees with the correctly rounded ``math.sqrt`` on ~1 in 1200
  doubles on glibc 2.36, while the oracles take roots with ``sqrt``;
- no non-docstring string constant in the package (Spark ``F.expr``/
  ``selectExpr`` fragments included) embeds a transcendental SQL call.

IEEE CORRECTLY-ROUNDED ops stay allowed everywhere: sqrt, /, floor,
ceil, abs, round — every implementation must return the same bits.
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "uw_hadoop_aglorithms_spark"

#: transcendentals that are NOT required to be correctly rounded by
#: IEEE 754 — any two libm builds may disagree by an ulp.
BANNED = (
    "ln log log10 log2 log1p exp exp2 expm1 power sin cos tan asin acos "
    "atan atan2 sinh cosh tanh cbrt gamma lgamma tgamma erf erfc"
).split()

SQL_CALL = re.compile(
    r"(?<![a-zA-Z_0-9.$])(" + "|".join(BANNED) + r")\s*\(", re.I
)
SQL_POW = re.compile(r"(?<![a-zA-Z_0-9.$])pow\s*\(", re.I)
#: the one allowed pow shape: exact powers of two (oracles.py float
#: decompose; intlog sigmoid scaling) — exact in every implementation.
POW_OK = re.compile(r"pow\(2\.0::DOUBLE", re.I)


def _strip_sql_comments(sql: str) -> str:
    return re.sub(r"--[^\n]*", "", sql)


def _sql_violations(sql: str) -> list[str]:
    body = _strip_sql_comments(sql)
    out = [m.group(1) for m in SQL_CALL.finditer(body)]
    for m in SQL_POW.finditer(body):
        if not POW_OK.match(body[m.start() : m.start() + 20]):
            out.append("pow:" + body[m.start() : m.start() + 30])
    return out


def test_no_libm_in_oracle_sql():
    """The exact SQL the driver hands DuckDB: zero transcendentals."""
    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as entry

    bad = {
        k: v for k, v in (
            (k, _sql_violations(sql)) for k, sql in entry.oracle_sql().items()
        ) if v
    }
    assert not bad, f"transcendental call in oracle SQL: {bad}"


#: Zone-/type-sensitive renderings of the raw events timestamp (round 9,
#: VERDICT r8 §Next 2): each of these renders in the harness process's
#: TimeZone when a fixture types ``ts`` as TIMESTAMPTZ (the round-2
#: error trace proves driver/local parquet encodings differ), flipping
#: day labels and rendered walls between environments. Hashed SQL must
#: derive days/walls from integer epoch arithmetic instead
#: (functions/days.utc_day_label_sql / utc_wall_sql / utc_epoch_day_sql;
#: ``epoch``/``epoch_us`` themselves are absolute and therefore fine).
_TS = r"(?:\w+\s*\.\s*)?(?:min\(|max\()?\s*ts\b"
#: TIMESTAMPTZ is listed and \b dropped after the type-name group:
#: `ts::TIMESTAMPTZ` (interpret a naive wall in the session zone) is
#: strictly worse than the banned `ts::TIMESTAMP`, and a \b between
#: 'P' and 'T' never matches (code-review r9)
_TS_TYPES = r"(DATE|TIMESTAMPTZ|TIMESTAMP(\s+WITH\s+TIME\s+ZONE)?)"
ZONE_SENSITIVE = [
    re.compile(r"strftime\(\s*" + _TS, re.I),
    re.compile(_TS + r"\s*\)?\s*::\s*" + _TS_TYPES, re.I),
    re.compile(r"CAST\(\s*" + _TS + r"\s*\)?\s+AS\s+" + _TS_TYPES, re.I),
    re.compile(r"EXTRACT\(\s*\w+\s+FROM\s+" + _TS, re.I),
    re.compile(r"date_trunc\([^,]+,\s*" + _TS, re.I),
    re.compile(r"time_bucket\([^,]+,\s*" + _TS, re.I),
    re.compile(_TS + r"\s*\)?\s+AT\s+TIME\s+ZONE", re.I),
]


def test_no_zone_sensitive_ts_rendering_in_oracle_sql():
    """No oracle may render the raw events timestamp through a
    zone-sensitive path (strftime/CAST-to-DATE/EXTRACT/::TIMESTAMP…);
    day labels and walls must come from integer epoch arithmetic."""
    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as entry

    bad = {}
    for k, sql in entry.oracle_sql().items():
        body = _strip_sql_comments(sql)
        hits = [p.search(body).group(0) for p in ZONE_SENSITIVE if p.search(body)]
        if hits:
            bad[k] = hits
    assert not bad, f"zone-sensitive ts rendering in oracle SQL: {bad}"


#: (relative module path, enclosing scope) pairs allowed to call math.*
#: transcendentals — all IMPORT-TIME constant generators whose outputs
#: feed BOTH engine sides (version-portable by construction).
MATH_ALLOW = {
    ("operators/sketches.py", "_hll_lc_case"),  # 256-entry ln lookup
    ("functions/intlog.py", "<module>"),  # LOG2E, EXP2_CONSTS
}
#: math.* members that ARE exact / correctly rounded — fine anywhere.
MATH_EXACT = {"floor", "ceil", "ldexp", "frexp", "sqrt", "fabs", "trunc", "isnan", "isinf", "inf", "nan", "pi", "e", "copysign", "fsum"}


def _int_const(node: ast.AST) -> bool:
    """An integer literal, optionally signed (``2``, ``-1``)."""
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.USub, ast.UAdd)):
        node = node.operand
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, int)
        and not isinstance(node.value, bool)
    )


def _scope_of(tree: ast.Module, node: ast.AST) -> str:
    """Name of the innermost function/class containing node (line-based)."""
    best, name = None, "<module>"
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if n.lineno <= node.lineno <= max(
                getattr(n, "end_lineno", n.lineno), n.lineno
            ):
                if best is None or n.lineno > best:
                    best, name = n.lineno, n.name
    return name


def _docstring_consts(tree: ast.Module) -> set[int]:
    """Line numbers of docstring constants (module/class/def firsts)."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = getattr(n, "body", [])
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ):
                out.add(body[0].value.lineno)
    return out


@pytest.mark.parametrize(
    "path", sorted(PKG.rglob("*.py")), ids=lambda p: str(p.relative_to(PKG))
)
def test_no_libm_in_package_source(path):
    rel = str(path.relative_to(PKG))
    tree = ast.parse(path.read_text())
    doc_lines = _docstring_consts(tree)
    bad: list[str] = []
    for node in ast.walk(tree):
        # F.<banned>(...) / math.<banned>(...) / np.<banned>(...)
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            base, attr = node.value.id, node.attr
            if base == "F" and attr in BANNED:
                bad.append(f"{rel}:{node.lineno} F.{attr}")
            if base in ("math", "_math", "np", "numpy") and attr not in MATH_EXACT:
                if attr in BANNED or attr == "pow":
                    if (rel, _scope_of(tree, node)) not in MATH_ALLOW:
                        bad.append(f"{rel}:{node.lineno} {base}.{attr}")
        # x ** y / x **= y with a non-integer exponent: libm pow
        if isinstance(node, (ast.BinOp, ast.AugAssign)) and isinstance(
            node.op, ast.Pow
        ):
            exp = node.right if isinstance(node, ast.BinOp) else node.value
            if not _int_const(exp) and (
                (rel, _scope_of(tree, node)) not in MATH_ALLOW
            ):
                bad.append(f"{rel}:{node.lineno} ** {ast.unparse(exp)}")
        # SQL fragments headed for F.expr/selectExpr (and oracle text
        # assembled in source): scan non-docstring string constants
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.lineno not in doc_lines
            and len(node.value) >= 4
        ):
            v = _sql_violations(node.value)
            if v:
                bad.append(f"{rel}:{node.lineno} string {v}")
    assert not bad, "query-time transcendental(s): " + "; ".join(bad)
