"""Static determinism lint: freeze the fractional-ROUND class.

The repo's determinism doctrine (SCALE.md, VERDICT r5-#1/r7-#2) is
that hash-compared outputs never round FRACTIONAL decimals across
engines — Spark rounds HALF_UP on a Decimal re-scale while DuckDB
rounds the scaled double, so any value landing on a representation
boundary diverges.  The sweep that eliminated the class left a small
residue of justified sites where the rounded value provably has
IDENTICAL DOUBLE BITS in both engines (quotients of 4-dp-decimal-
derived sums; sqrt-based statistics under the measure-zero-boundary
argument, stated in-code at queries_drift.py ab_ttest_welch).

This lint makes the sweep PERMANENT: it scans

1. every ``*.py`` under ``iot_simulator_datalake_spark/`` (AST) for
   ``F.round(expr, n)`` / builtin ``round(expr, n)`` with constant
   n >= 1, attributing each hit to its enclosing function, and
2. every registered oracle's SQL for ``ROUND(expr, n)`` with a
   constant final argument n >= 1 (balanced-paren scan, so nested
   calls attribute correctly),

and fails unless the enclosing function / query name is in ``ALLOW``
with a written justification.  A NEW fractional round anywhere else —
Spark side or oracle side — exits 1 and names the site.

Usage: python tools/round_lint.py          # exit 1 on violations
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

sys.path.insert(0, "/root/repo")

PKG = pathlib.Path(__file__).resolve().parent.parent / \
    "iot_simulator_datalake_spark"

#: function name (Spark side) == query name (oracle side) -> why the
#: fractional round is cross-engine deterministic.  Adding a NEW entry
#: requires the same in-code justification the existing sites carry.
_TPCH_4DP = ("ROUND(SUM(DECIMAL(18,4)-cast inputs), 4): the 4-dp value "
             "is exactly representable, so both engines round identical "
             "double bits (TPC-H money semantics; BASELINE.md)")
_TPCH_RATIO = (_TPCH_4DP + "; the 6-dp ratio rounds a quotient of two "
               "such 4-dp-exact doubles — identical bits on both sides "
               "(measure-zero boundary argument)")
_SQRT_9DP = ("9-dp round of a sqrt/variance-derived statistic: both "
             "engines compute the same IEEE expression tree, so the "
             "double bits match; a boundary landing exactly on a 5e-10 "
             "tie is measure-zero (argument stated in-code at "
             "queries_drift.py ab_ttest_welch)")

ALLOW: dict[str, str] = {
    "customer_scorecard": ("6-dp round of an integer-cents-derived "
                           "ratio — numerator/denominator exact"),
    "stats_exact_moments": ("4/6-dp rounds of moments over "
                            "integer-quantized inputs — exact sums, "
                            "identical quotient bits"),
    "corr_regression_exact": _SQRT_9DP,
    "ols_two_feature": _SQRT_9DP,
    "spearman_rank_corr": _SQRT_9DP,
    "ab_ttest_welch": _SQRT_9DP,
    "zipf_fit": _SQRT_9DP + " (log-based OLS slope)",
    "tfidf_topk": ("6/8-dp rounds of log-idf products over exact "
                   "integer tf/df counts — identical expression tree "
                   "both engines"),
    "tpch_q1_pricing_summary": _TPCH_4DP,
    "tpch_q3_shipping_priority": _TPCH_4DP,
    "tpch_q5_local_volume": _TPCH_4DP,
    "tpch_q6_forecast_revenue": _TPCH_4DP,
    "tpch_q7_volume_shipping": _TPCH_4DP,
    "tpch_q10_returned_items": _TPCH_4DP,
    "tpch_q15_top_supplier": _TPCH_4DP,
    "tpch_q19_disjunctive_revenue": _TPCH_4DP,
    "tpch_q8_market_share": _TPCH_RATIO,
    "tpch_q9_product_profit": _TPCH_RATIO,
    "tpch_q14_promo_revenue": _TPCH_RATIO,
    # file-scoped entries (``file.py:fn``) for sites outside the
    # hash-compared surface entirely:
    "eventlog.py:_seconds": ("builtin round of wall-clock seconds in "
                             "the run event log — human-facing "
                             "telemetry, never hash-compared"),
}


def scan_module_source(rel_name: str, src: str) -> list[tuple]:
    """All fractional-round hits in one module's source:
    ``[(rel_name, lineno, enclosing_fn, n), ...]`` for every
    ``F.round(x, n>=1)`` or builtin ``round(x, n>=1)`` call."""
    tree = ast.parse(src)
    funcs = [(n.name, n.lineno, max(getattr(n, "end_lineno", n.lineno),
                                    n.lineno))
             for n in ast.walk(tree)
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]

    def enclosing(line: int) -> str:
        best = None
        for name, a, b in funcs:
            if a <= line <= b and (best is None or a > best[1]):
                best = (name, a)
        return best[0] if best else "<module>"

    def scale_of(node: ast.Call):
        """The effective scale argument of a round() call, or None if
        absent/zero.  Covers positional AND keyword forms (builtin
        ``ndigits=``, pyspark ``scale=``), unwraps ``F.lit(n)``, and
        returns the sentinel string 'non-constant' for anything whose
        value can't be proven — which the lint FLAGS, because an
        unprovable fractional scale is exactly what must not slip by."""
        arg = node.args[1] if len(node.args) >= 2 else None
        if arg is None:
            for kw in node.keywords:
                if kw.arg in ("ndigits", "scale"):
                    arg = kw.value
        if arg is None:
            return None
        if (isinstance(arg, ast.Call)
                and isinstance(arg.func, (ast.Attribute, ast.Name))
                and (arg.func.attr if isinstance(arg.func, ast.Attribute)
                     else arg.func.id) == "lit"
                and arg.args and isinstance(arg.args[0], ast.Constant)):
            arg = arg.args[0]           # F.round(c, F.lit(n))
        if isinstance(arg, ast.Constant):
            if isinstance(arg.value, int) and arg.value >= 1:
                return arg.value
            return None                 # 0 / None / negative: integerizing
        return "non-constant"

    hits = []
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call):
            continue
        is_round = (
            (isinstance(n.func, ast.Attribute) and n.func.attr == "round")
            or (isinstance(n.func, ast.Name) and n.func.id == "round"))
        if not is_round:
            continue
        scale = scale_of(n)
        if scale is not None:
            hits.append((rel_name, n.lineno, enclosing(n.lineno), scale))
    return hits


def scan_oracle_sql(name: str, sql: str) -> list[tuple]:
    """All fractional ROUND hits in one oracle's SQL:
    ``[(name, n), ...]`` — balanced-paren scan so the LAST top-level
    argument of each ROUND() is inspected even with nested calls."""
    hits = []
    for m in re.finditer(r"\bROUND\s*\(", sql, re.I):
        i, depth, last = m.end(), 1, m.end()
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                last = i
            i += 1
        arg = sql[last + 1:i - 1].strip() if last > m.end() else ""
        if re.fullmatch(r"[1-9]\d*", arg):
            hits.append((name, int(arg)))
    return hits


def main() -> int:
    violations = []
    for p in sorted(PKG.rglob("*.py")):
        for rel, line, fn, n in scan_module_source(p.name, p.read_text()):
            if fn not in ALLOW and f"{rel}:{fn}" not in ALLOW:
                violations.append(
                    f"SOURCE {rel}:{line} fn={fn}: F.round(..., {n}) "
                    f"not allowlisted — quantize to integer units "
                    f"instead, or justify in tools/round_lint.py")
    from iot_simulator_datalake_spark.queries import REGISTRY
    n_oracle_hits = 0
    for name in sorted(REGISTRY):
        sql = REGISTRY[name].oracle
        if not sql:
            continue
        for qname, n in scan_oracle_sql(name, sql):
            n_oracle_hits += 1
            if qname not in ALLOW:
                violations.append(
                    f"ORACLE {qname}: ROUND(..., {n}) not allowlisted")
    # README status-block drift gate (VERDICT r9 #2: close-commit-last
    # violated three rounds running).  The block is machine-generated
    # by tools/status_block.py; re-render it from live artifacts and
    # fail on any drift, so a code commit landing AFTER the close
    # commit (changing registry / ledger / plan partition) turns this
    # lint red at HEAD.
    import status_block
    violations += status_block.verify_readme()
    for v in violations:
        print(v)
    print(f"{len(violations)} violations "
          f"({len(ALLOW)} allowlisted sites, {n_oracle_hits} oracle "
          f"fractional rounds inspected)")
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
