#!/usr/bin/env python
"""Static magnitude audit of every exact-decimal sum call site.

``functions/exact.dsum`` (and its SQL mirrors) round the decimal sum
at 4 dp (RSCALE). That is exact-enough for business magnitudes, but a
sum whose TOTAL is small gets silently truncated to a couple of
significant figures — the r10 trap: PSI terms ~1e-3 summed to ~0.004
and came out with 2 sig figs in BOTH engines, so the oracle gate
stayed green while the value was wrong. The fix there (scale 1e6
through the decimal sum, divide after) must be a reviewed decision at
every dsum site, not tribal knowledge.

This audit walks the package AST for every ``dsum`` / ``dsum_sql`` /
``dsum_over`` / ``dsum_over_sql`` call (including the ones inside
oracle f-strings — those are real Call nodes) and attributes each to
its OWNER: the ``register("<query>")`` decoration it sits under, else
the enclosing function, else ``<stem>.<module>``. A site passes when:

- its argument carries an EXPLICIT scale factor (``1e6``-style — the
  small-sum recipe, or a documented down-scale), or
- its owner is classified below.

Classification rationale (mirrors tools/window_audit.py's reviewed-set
discipline; tests/test_plan_audits.py fails on any unclassified site):

- ``LARGE`` — summands are business/fact magnitudes (prices,
  quantities, event values, rank sums, chi-square terms, squared daily
  totals): per-row magnitude >= ~1 and totals >= ~1e2, so the 4-dp
  absolute rounding is <= 1e-6 relative. The OPPOSITE guard (overflow
  of the 2^53/1e4 exactness envelope for sum-of-squares sites) is
  documented inline at those sites per r10 ADVICE.
- ``UNIT`` — the total is a unit-scale reported SCORE (entropy bits,
  JS divergence, cosine terms, NDCG gain, BM25 part sums, RBO in
  [0,1], DSIR log-weights, log-survival chains, temperature-scaled
  mixture shares): totals O(0.1-10), so 4-dp rounding is <= ~1e-3
  relative — acceptable for a final score column, and the truth of
  the statistic family is pinned independently by
  tests/test_value_parity.py / the honesty pins. A NEW query whose
  total can fall well below 0.1 (the PSI shape) must use the 1e6
  scale instead of joining this list.

Usage::

    python tools/dsum_audit.py          # prints site table + verdict
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "ast_data_pipeline_spark"
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

DSUM_FUNCS = frozenset({"dsum", "dsum_sql", "dsum_over", "dsum_over_sql"})
_SCALE_RE = re.compile(r"1e[+-]?\d")

# Owners whose summands are business/fact magnitudes (totals >= ~1e2).
LARGE: frozenset[str] = frozenset(
    {
        # operators / helpers
        "pricing_summary", "_partsupp", "bm25_scored",
        # module-level shared oracle fragments (l_* / value measures)
        "aggregates.<module>", "events.<module>", "temporal.<module>",
        # TPC-H revenue/quantity shapes
        "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "q10_returned_items", "q11_important_stock",
        "q14_promo_revenue", "q15_top_supplier",
        "q17_small_quantity_revenue", "q19_disjunctive_join", "q20_excess_stock_suppliers",
        "q22_dormant_customers",
        # order/lineitem/customer aggregates
        "a_grouping_sets", "a_unpivot_measures",
        "a_table_checksum", "a_rollup_grouping_id", "j3_broadcast_semi",
        "j_salted_skew_join", "w_percent_of_total", "w_running_sum",
        "s11_orc_roundtrip", "s23_partitioned_datasource",
        # event-value statistics (value >= ~1, n >= 1e2)
        "e_tumbling_window_agg", "e_topk_users_by_value",
        "e_ab_test_analysis", "e_rfm_scores",
        "e_attribution_last_touch", "e_theilsen_trend",
        "e_cusum_changepoint", "e_metric_decomposition",
        "t_range_join", "t_ewma", "t_interp_linear", "t_rolling_corr",
        "t_seasonal_decompose", "t_forecast_eval", "t_downsample_lttb",
        "t_autocorrelation", "s_stream_tumbling_agg",
        "s_stream_static_join",
        # test statistics over those magnitudes (chi2 terms, rank sums,
        # moment sums — envelope-documented where squares grow with sf)
        "a_corr_matrix", "a_benford_digits", "a_chi2_independence",
        "a_linreg_trend", "a_anova_oneway", "a_welch_ttest",
        "a_mannwhitney_u", "x_graph_assortativity",
        # r11 rank statistics: rank sums with per-row magnitude >= 1
        # (their big second moments carry explicit down-scales and
        # auto-pass; these are the plain R_1/R_g first-moment sums)
        "a_roc_auc", "a_kruskal_wallis", "a_dunn_test",
        "a_permutation_test",
        "a_levene_test",  # z = |value - median| keeps value magnitudes
        "a_tukey_hsd",  # same value/value^2 moments as a_anova_oneway
    }
)

# Owners whose total is a unit-scale reported score (O(0.1-10)).
UNIT: frozenset[str] = frozenset(
    {
        "char_entropy_frame", "x_char_entropy", "x_js_divergence",
        "x_mixture_temperature", "x_dsir_importance",
        "x_rbo_rank_agreement", "x_ndcg_eval", "e_survival_km",
        "x_embedding_drift",
    }
)


def _func_name(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def scan_file(path: pathlib.Path) -> list[tuple[str, int, str, str, bool]]:
    """Return (owner, lineno, func, arg_text, scaled) per dsum site."""
    src = path.read_text()
    tree = ast.parse(src)
    stem = path.stem
    sites: list[tuple[str, int, str, str, bool]] = []

    class V(ast.NodeVisitor):
        def __init__(self) -> None:
            self.stack = [f"{stem}.<module>"]

        def visit_FunctionDef(self, n: ast.FunctionDef) -> None:
            self.stack.append(n.name)
            self.generic_visit(n)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef  # type: ignore[assignment]

        def visit_Call(self, n: ast.Call) -> None:
            name = _func_name(n)
            if (
                name == "register"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and isinstance(n.args[0].value, str)
            ):
                self.stack.append(n.args[0].value)
                self.generic_visit(n)
                self.stack.pop()
                return
            if name in DSUM_FUNCS:
                arg = ast.get_source_segment(src, n) or ""
                # attribute to the OUTERMOST function/query (stack[1]):
                # helper closures nested inside a query body (e.g. a
                # local `gap(flag)` builder) belong to that query's
                # review, not to a generic inner name
                owner = self.stack[1] if len(self.stack) > 1 else self.stack[0]
                sites.append(
                    (
                        owner,
                        n.lineno,
                        name,
                        " ".join(arg.split()),
                        bool(_SCALE_RE.search(arg)),
                    )
                )
            self.generic_visit(n)

    V().visit(tree)
    return sites


def audit() -> dict[str, list[tuple[str, int, str, str]]]:
    """Return {owner: [(file, line, func, arg)]} for every UNCLASSIFIED
    unscaled dsum site. Empty dict = audit clean."""
    bad: dict[str, list[tuple[str, int, str, str]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "exact.py":  # the definitions themselves
            continue
        for owner, line, func, arg, scaled in scan_file(path):
            if scaled or owner in LARGE or owner in UNIT:
                continue
            bad.setdefault(owner, []).append(
                (str(path.relative_to(REPO)), line, func, arg[:100])
            )
    return bad


def main() -> None:
    n_total = n_scaled = 0
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "exact.py":
            continue
        for _, _, _, _, scaled in scan_file(path):
            n_total += 1
            n_scaled += scaled
    bad = audit()
    for owner, sites in sorted(bad.items()):
        for f, ln, fn, arg in sites:
            print(f"UNCLASSIFIED {owner} {f}:{ln} {fn} :: {arg}")
    print(
        f"TOTAL {n_total} sites, {n_scaled} explicitly scaled, "
        f"{len(LARGE) + len(UNIT)} classified owners, "
        f"UNCLASSIFIED {sum(len(v) for v in bad.values())}"
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
