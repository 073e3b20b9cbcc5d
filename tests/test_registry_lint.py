"""Registry-wide plan lint: structural anti-pattern gates enforced
over EVERY registered query, not just the hand-picked plan tests.

Two properties must hold for a 10^12-row deployment of any query in
the registry, so they are enforced as an invariant of registration
itself (a future query that violates them fails here before it ever
reaches a driver run):

- no quadratic join: `CartesianProduct` never appears, and
  `BroadcastNestedLoopJoin` only where the build side is a 1-row
  scalar attach or a deliberate constant-size fan-out (allowlist).
- no row-at-a-time Python: `BatchEvalPython` (pickled per-row UDF
  eval) never appears — every Python crossing must be Arrow-batched
  (`ArrowEvalPython` / `MapInPandas` / `FlatMapGroupsInPandas`).

Also lints the driver-compare contract: no duplicate column names
(the driver's value-hash sorts columns by name, so duplicates would
make the comparison ill-defined).
"""

import ast
import re
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod

# BroadcastNestedLoopJoin is acceptable ONLY where the build side is
# constant-size by construction:
# - ta_tfidf_topk / ta_unigram_logprob / ta_source_kl: 1-row
#   corpus-total scalar attached via broadcast cross join (the
#   single-pass total fold).
# - j2_cross_fanout: the reference's documents x services fan-out —
#   services is a 5-row constant dim (SURVEY J2).
# - cur_dsir_select: 1-row (t_t, t_s, V) totals scalar attached via
#   broadcast cross join onto the vocabulary-sized weight table.
BNLJ_ALLOWED = {
    "ta_tfidf_topk",
    "ta_unigram_logprob",
    "ta_source_kl",
    "j2_cross_fanout",
    "cur_dsir_select",
}

_QUERIES = entry_mod.queries()


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_registry_plan_lint(spark, sf_small, name):
    df = _QUERIES[name](spark, sf_small)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name}: unconstrained cartesian join"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join outside the constant-build-side allowlist"
        )
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    cols = df.columns
    assert len(cols) == len(set(cols)), f"{name}: duplicate column names {cols}"
    # Scan-amplification gate: a query whose final plan scans the
    # documents table 3+ times is re-running a derivation subtree that
    # should be checkpointed (session-5 audit: only ta_tfidf_topk
    # violated this — fixed by materializing tf once). Two scans stay
    # legal: deliberate two-branch shapes (eval/train splits,
    # posting + totals, skew split) whose second scan is column-pruned.
    assert plan.count("documents.parquet") <= 2, (
        f"{name}: {plan.count('documents.parquet')} documents scans — "
        "checkpoint the shared subtree"
    )


def test_bnlj_allowlist_is_tight(spark, sf_small):
    """Every allowlisted query actually still needs its exemption —
    prune the list when a rewrite removes the nested-loop join."""
    for name in BNLJ_ALLOWED:
        plan = _plan(_QUERIES[name](spark, sf_small))
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name}: allowlisted but plan no longer contains a nested-loop join"
        )


# The DuckDB form of the corpus line split. Oracles read the span rule
# from corpus.CORPUS_*_SQL; a second copy of this expression is a
# second statement of the rule that can drift from corpus.spanify.
CORPUS_SPLIT_SQL = "string_split(regexp_replace(trim(replace(text, chr(12)"


def test_corpus_line_split_sql_lives_only_in_corpus():
    pkg = Path(entry_mod.__file__).resolve().parent / "handprint_spark"
    holders = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if CORPUS_SPLIT_SQL in p.read_text()
    )
    assert holders == ["corpus.py"], (
        f"corpus line-split SQL found in {holders}: read corpus.CORPUS_LINES_SQL "
        "(or CORPUS_MEDIA_SQL / CORPUS_SPANS_SQL) instead of pasting the rule"
    )


def _imported_modules(source: str, package: str) -> set[str]:
    """Absolute names of the modules that ``source``, a module of
    ``package``, imports, and of each name a ``from X import name``
    takes from X."""
    found = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = package.split(".")
            base = base[:len(base) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            found |= {mod} | {f"{mod}.{a.name}" for a in node.names}
    return found


PARTITIONING = "handprint_spark.plans.partitioning"


def test_no_package_module_imports_the_benchmark_alias():
    """plans.partitioning is extract_documents under the benchmark's
    name. The package calls extract_documents itself, so the benchmark
    is the alias's one caller and can drop it with the module."""
    pkg = Path(entry_mod.__file__).resolve().parent / "handprint_spark"
    holders = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if PARTITIONING in _imported_modules(
            p.read_text(), ".".join(p.relative_to(pkg.parent).parent.parts)))
    assert holders == [], f"{holders} import {PARTITIONING}: call extract_documents"
    for source, package in (
        ("from ..plans.partitioning import extract_skew_aware", "handprint_spark.operators"),
        ("from ..plans import partitioning", "handprint_spark.operators"),
        ("from . import partitioning", "handprint_spark.plans"),
        ("import handprint_spark.plans.partitioning", "handprint_spark"),
    ):
        assert PARTITIONING in _imported_modules(source, package), source


# a two-argument SQL lambda, the comparator form of array_sort
SQL_COMPARATOR = re.compile(r",\s*\(\s*\w+\s*,\s*\w+\s*\)\s*->")


def _sql_array_sorts(text: str):
    """Each ``array_sort(...)`` call in a SQL string, up to its closing
    parenthesis (or the end of the string)."""
    for m in re.finditer(r"array_sort\(", text, re.IGNORECASE):
        depth, i = 1, m.end()
        while depth and i < len(text):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        yield text[m.start():i]


def _offset_comparators(source: str) -> list[str]:
    """The array_sort calls in ``source`` whose comparator reads
    ``offset``: a Python lambda or named function passed to
    ``array_sort``, or a SQL ``array_sort(arr, (a, b) -> ...)``."""
    tree = ast.parse(source)
    defs = {n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    found = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and len(node.args) >= 2
                and getattr(node.func, "attr", getattr(node.func, "id", None)) == "array_sort"):
            cmp = node.args[1]
            cmp = defs.get(cmp.id, cmp) if isinstance(cmp, ast.Name) else cmp
            if "offset" in ast.unparse(cmp):
                found.append(ast.unparse(node))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            found += [call for call in _sql_array_sorts(node.value)
                      if SQL_COMPARATOR.search(call) and "offset" in call]
    return found


def test_span_order_lives_only_in_extraction():
    """Spans are put in reading order by extract_one and extract_batch
    alone, and every extraction path returns them that way; a module
    that re-sorts them by offset with its own comparator states the
    order rule a second time, and can drift from it (a comparator
    that reads a null offset as equal to every other breaks ties
    unlike extract_one)."""
    pkg = Path(entry_mod.__file__).resolve().parent / "handprint_spark"
    holders = {str(p.relative_to(pkg)): found for p in sorted(pkg.rglob("*.py"))
               if (found := _offset_comparators(p.read_text()))}
    assert holders == {}, (
        f"span order restated by an offset comparator in {sorted(holders)}: "
        "take the spans in the order extraction returned them"
    )


def test_offset_comparator_lint_sees_both_forms():
    assert _offset_comparators(
        "F.array_sort(x, lambda a, b: F.when(a['offset'] < b['offset'], -1))")
    assert _offset_comparators(
        'F.expr("array_sort(spans, (a, b) -> case when a.offset < b.offset then -1 end)")')
    assert _offset_comparators("def c(a, b):\n    return a.offset\nF.array_sort(s, c)")
    assert not _offset_comparators("F.array_sort(F.collect_list(F.struct('offset', 'x')))")
    assert not _offset_comparators("F.array_sort(lines, lambda a, b: a.y - b.y)")
