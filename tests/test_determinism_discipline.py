"""§2.13 determinism discipline: no NEW round(sum(<float>)) output columns.

The r3 q_kmeans_step flake (VERDICT r3/r4) came from emitting a float sum
rounded to fixed precision: IEEE summation order differs between Spark's
partitioned aggregation and DuckDB's, so a sum landing near a rounding
boundary can flip the last digit nondeterministically. The repo's fix is
the floor-scaled-integer discipline (q_sql_tpch_q10, q_llm_colloc,
q_kmeans_step): scale per-ROW (one IEEE multiply, bit-identical on both
engines), floor to BIGINT, then sum exactly in integers.

Round 7 retired the grandfathered float-sum class entirely: every former
round(sum(double)) oracle site (aggregates, scans, sinks, joins, windows,
streaming rollups, IVM, gap-fill) now sums floor-scaled BIGINTs. The only
remaining matches of the round(sum( pattern are ratios of EXACT INTEGER
sums (counts / 0-1 indicators summed then divided) — those are order-
invariant by construction and are whitelisted below; ANY new float-sum
occurrence fails until it adopts the discipline.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from hypothesis import given, strategies as st

from pkg2_spark.registry import all_oracles

# Matches a float-sum emitted through round(...); floor-scaled integer sums
# (CAST(floor(...) AS BIGINT) inside the sum) are the compliant form and are
# excluded by the operand check below.
_ROUND_SUM = re.compile(r"round\s*\(\s*(?:100\.0*\s*\*\s*)?(?:CAST\s*\(\s*)?sum\s*\(", re.I)

GRANDFATHERED = {
    # Ratios of EXACT INTEGER sums (sum of counts or 0/1 indicators, then
    # one division + round): integer summation is order-invariant, so both
    # engines divide/round the SAME value — not the float-sum flake class.
    "q_llm_ann_recall",   # sum(0/1 hits) / 5.0          (llm.py)
    "q_llm_boiler",       # sum(0/1 indicator) / count   (training.py)
    "q_llm_pack",         # sum(int n_tok) / capacity    (training.py)
}


def _rounded_float_sum_queries() -> set[str]:
    offenders: set[str] = set()
    for name, sql in all_oracles().items():
        for m in _ROUND_SUM.finditer(sql):
            operand = sql[m.end() : m.end() + 160].lower()
            if "floor(" in operand and "bigint" in operand:
                continue  # floor-scaled integer sum: the compliant form
            offenders.add(name)
    return offenders


def test_no_new_rounded_float_sum_outputs():
    offenders = _rounded_float_sum_queries()
    new = offenders - GRANDFATHERED
    assert not new, (
        f"new rounded float-sum output(s) {sorted(new)}: sum floor-scaled "
        "e4 BIGINTs instead (per-row CAST(floor(x * 10000) AS BIGINT), then "
        "sum) — round(sum(double)) flips on rounding boundaries between "
        "engine partitionings (the r3 q_kmeans_step flake class)"
    )


def test_converted_composites_stay_converted():
    offenders = _rounded_float_sum_queries()
    for name in ["q_sql_tpch_q6", "q_sql_tpch_q9", "q_sql_tpch_q10", "q_sql_tpch_q19",
                 # round-5 additions, born on the e-scaled discipline:
                 "q_sql_tpch_q2", "q_sql_tpch_q8", "q_sql_tpch_q11",
                 "q_sql_tpch_q15", "q_sql_tpch_q17",
                 # round-6 conversions, retiring the last composite float
                 # sums (Q1/Q14 round() only divisions of exact BIGINTs):
                 "q_sql_tpch_q1", "q_sql_tpch_q3", "q_sql_tpch_q5",
                 "q_sql_tpch_q7", "q_sql_tpch_q14", "q_stream_rt_join"]:
        assert name not in offenders, f"{name} regressed to a rounded float sum"


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=2, max_size=50),
       st.randoms())
def test_floor_scaled_integer_sum_is_permutation_invariant(xs, rnd):
    # The property the e4 discipline buys: per-row floor-scaling commutes
    # with ANY summation order (integer addition is associative), while
    # float sums are order-dependent. This is the invariant that makes the
    # Spark partitioned aggregate bit-identical to DuckDB's serial one.
    scaled = [int(x * 10000 // 1) for x in xs]
    shuffled = list(scaled)
    rnd.shuffle(shuffled)
    assert sum(scaled) == sum(shuffled)


def test_lineage_truncation_has_one_primitive():
    # Every checkpoint goes through session.truncate_lineage*, so the
    # local-vs-reliable posture is decided in one place.
    pkg = Path(__file__).resolve().parent.parent / "pkg2_spark"
    callers = {
        p.name
        for p in pkg.rglob("*.py")
        if re.search(r"\.localCheckpoint\(", p.read_text())
    }
    assert callers == {"session.py"}, callers


def _is_f_col(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "col"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _hand_rolled_pair_joins(source: str) -> list[int]:
    """Line numbers of ``.join(...)`` calls whose condition orders two
    ``F.col`` ids with ``<`` — the shape of a hand-written pair self-join.
    SQL strings (the DuckDB oracles) are constants, not calls, so they
    never match."""
    lines = []
    for call in ast.walk(ast.parse(source)):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr == "join"
        ):
            continue
        conds = call.args[1:2] + [kw.value for kw in call.keywords if kw.arg == "on"]
        for cond in conds:
            for node in ast.walk(cond):
                if (
                    isinstance(node, ast.Compare)
                    and len(node.ops) == 1
                    and isinstance(node.ops[0], ast.Lt)
                    and _is_f_col(node.left)
                    and _is_f_col(node.comparators[0])
                ):
                    lines.append(call.lineno)
    return lines


def test_pair_self_join_has_one_primitive():
    # Every blocked self-join goes through operators/lsh.py::self_pairs,
    # so pair orientation, hints and carried columns are decided once.
    queries = Path(__file__).resolve().parent.parent / "pkg2_spark" / "queries"
    offenders = {
        f"{p.name}:{line}"
        for p in sorted(queries.glob("*.py"))
        for line in _hand_rolled_pair_joins(p.read_text())
    }
    assert not offenders, f"hand-rolled pair self-joins (use lsh.self_pairs): {sorted(offenders)}"


def test_pair_join_detector_sees_the_hand_rolled_shape():
    src = (
        "pairs = a.join(b, (F.col('k') == F.col('k2')) & (F.col('id_a') < F.col('id_b')))\n"
        "other = a.join(b, F.col('x') == F.col('y'))\n"
        "sql = 'SELECT * FROM t a JOIN t b ON a.id < b.id'\n"
    )
    assert _hand_rolled_pair_joins(src) == [1]
