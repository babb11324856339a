"""Physical-plan linting: the "would this survive 100 TB?" check as
code.

Every scale rule this repo applies by hand — broadcast the small side,
keep Python out of the row path, prune scans, bound the shuffle count
— is mechanical to check on the *executed plan string*, so this module
makes them assertable: in tests (``tests/test_plans.py`` pins shapes
with it), in CI gates before a pipeline ships, or interactively while
developing a query.

The linter reads the physical plan via the public ``df.explain()``
output (captured, not the private ``_jdf`` gateway, so it also works
under Spark Connect) — with AQE this is the statically chosen plan,
i.e. the strategy Catalyst committed to before runtime
re-optimization, which is exactly what you want to review: AQE can
only improve on it.

Findings are data (``PlanFinding``), not prints — callers decide
whether a finding is fatal (``assert_scalable``) or advisory
(``lint_plan``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# severity: "fatal" findings are scale-killers on any cluster;
# "warn" findings are budget/heuristic violations worth a look.
_FATAL = "fatal"
_WARN = "warn"


@dataclass(frozen=True)
class PlanFinding:
    rule: str
    severity: str
    detail: str


def _plan_str(df: DataFrame) -> str:
    """Physical-plan text via the public explain surface (captured
    stdout), identical node strings to executedPlan().toString() but
    without reaching through ``_jdf`` — Spark Connect compatible."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


_AGG_NODES = ("HashAggregate(", "SortAggregate(", "ObjectHashAggregate(")
# nodes that ELIDE their subtree in plan text: a collapsed input whose
# aggregate hides behind one of these must not be flagged — the rule
# stays conservative (no false fatals) at the cost of not seeing
# through reuse/caching
_OPAQUE_NODES = ("ReusedExchange", "InMemoryTableScan", "TableCacheQueryStage")


def _tree_indent(line: str) -> int:
    """Depth of a physical-plan tree line = where the node name starts
    after the ``+-``/``:-``/``|``/space scaffolding. Children print
    strictly deeper than their parent."""
    return len(line) - len(line.lstrip(" :+-|*("))


def _uncollapsed_global_windows(plan: str) -> list[str]:
    """Global ``Window`` nodes (no PARTITION BY) whose input subtree
    contains no aggregation — i.e. the full input cardinality funnels
    through one task's sort+window.

    A partitioned+ordered Window prints three top-level bracket
    groups ``[funcs], [part], [order]``; a global ordered one prints
    two ``[funcs], [order]``. Two groups alone is ambiguous — a
    partitioned-but-unordered window (``partitionBy`` with no
    ``orderBy``) also prints two, with a bare column list instead of
    a sort spec — so the second group must contain an ``ASC``/
    ``DESC`` direction to count as global+ordered (the funnel shape:
    one task sorts everything). The input subtree is every following line
    with strictly deeper tree indentation (stopping at the first
    sibling/ancestor keeps an aggregate in a join's OTHER branch from
    excusing the window). An aggregate anywhere in that subtree means
    the frame was provably collapsed before the window — the
    "collapsed-frame" waiver that per-query docstrings used to argue
    in prose (r6 VERDICT item 3), now checked.
    """
    lines = plan.splitlines()
    offenders: list[str] = []
    for i, line in enumerate(lines):
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        # collect top-level [...] groups
        depth = 0
        groups: list[str] = []
        start = 0
        for j, ch in enumerate(m.group(1)):
            if ch == "[":
                if depth == 0:
                    start = j
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(m.group(1)[start : j + 1])
        if len(groups) != 2 or not re.search(r"\b(ASC|DESC)\b", groups[1]):
            # 3 groups = partitioned+ordered; 2 groups without a sort
            # direction = partitioned-but-unordered; 1 = global
            # unordered total (no per-task sort) — none are the
            # global-sort funnel shape
            continue
        indent = _tree_indent(line)
        collapsed = False
        for sub in lines[i + 1 :]:
            if not sub.strip():
                break
            if _tree_indent(sub) <= indent:
                break
            if any(a in sub for a in _AGG_NODES + _OPAQUE_NODES):
                collapsed = True
                break
        if not collapsed:
            offenders.append(m.group(0)[:120])
    return offenders


def _bnlj_all_scalar_broadcast(plan: str) -> bool:
    """True iff every ``BroadcastNestedLoopJoin`` in the plan builds
    from a GLOBAL aggregate (``keys=[]``) — a 1-row broadcast side,
    so the "nested loop" is really "append scalar columns to every
    row": O(n), not O(n·m). This is the accepted grand-total /
    threshold-scalar pattern (TPC-H q11/q22, TF-IDF corpus totals);
    it must not trip the cartesian-product fatal, while a genuine
    lost-equi-condition join (non-aggregated build side) still does.

    The build side is read from the node's ``BuildLeft``/``BuildRight``
    tag; the matching child subtree is located by tree indentation
    (children print strictly deeper; the second child's root is the
    next line returning to the first child's depth). Conservative on
    anything unparseable: returns False, keeping the fatal."""
    lines = plan.splitlines()
    found_any = False
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        found_any = True
        build_right = "BuildRight" in line
        if not build_right and "BuildLeft" not in line:
            return False
        indent = _tree_indent(line)
        child_roots: list[int] = []
        child_indent = None
        j = i + 1
        while j < len(lines) and lines[j].strip():
            d = _tree_indent(lines[j])
            if d <= indent:
                break
            if child_indent is None:
                child_indent = d
            if d == child_indent:
                child_roots.append(j)
            j += 1
        if len(child_roots) != 2:
            return False
        start = child_roots[1] if build_right else child_roots[0]
        end = j if build_right else child_roots[1]
        if not _scalar_dominates_spine(lines, start, end):
            return False
    return found_any


_SCALAR_AGG_RE = re.compile(
    r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[\]"
)
# GlobalLimit / TakeOrderedAndProject with a small constant is the
# other ≤k-row build shape (a top-1 eigenvalue row, the elected BPE
# merge pair); constant-bounded build side → O(n·k) with k fixed,
# still linear in the data
_SMALL_LIMIT_RE = re.compile(
    r"(?:GlobalLimit (\d+)|TakeOrderedAndProject\(limit=(\d+))"
)
# nodes that mean the spine has widened back to data scale: a join or
# union fans in more than one input; a scan IS an input. Any of these
# ABOVE the scalar aggregate means the aggregate does not bound the
# build side's row count.
_SPINE_WIDE_RE = re.compile(
    r"Join\b|CartesianProduct|Union|FileScan|BatchScan|LocalTableScan|"
    r"InMemoryTableScan|ExistingRDD|Range \(|ReusedExchange"
)


def _scalar_dominates_spine(lines: list[str], start: int, end: int) -> bool:
    """True iff a scalar aggregate / small constant limit DOMINATES
    the build subtree: walking the single-child spine down from the
    subtree root, the aggregate or limit appears BEFORE any join,
    union, or scan node. A `re.search` over the whole subtree text
    (the pre-r09 form) accepted a LARGE build side that merely
    *contained* a nested global aggregate (e.g. corpus joined to a
    scalar threshold, then broadcast into a BNLJ) — exactly the
    O(n·m) shape the cartesian fatal exists to catch. Once the
    aggregate is found on the spine, anything below it is irrelevant:
    its output is ≤1 row (or ≤k for a limit) by construction.
    Conservative on unparseable shapes: returns False, keeping the
    fatal."""
    idx = start
    while idx < end:
        line = lines[idx]
        if _SCALAR_AGG_RE.search(line):
            return True
        m = _SMALL_LIMIT_RE.search(line)
        if m is not None:
            # explicit None-check, not `group(1) or group(2)`: exactly
            # one alternative matched, and the is-None form says so
            # without leaning on string truthiness. (ADVICE r08 feared
            # 'GlobalLimit 0' would TypeError via the `or` chain; it
            # would not — '0' is a truthy string — but the explicit
            # form removes the need to reason about it at all.)
            g = m.group(1) if m.group(1) is not None else m.group(2)
            if int(g) <= 10000:
                return True
        if _SPINE_WIDE_RE.search(line):
            return False
        indent = _tree_indent(line)
        children: list[int] = []
        child_indent = None
        j = idx + 1
        while j < end and lines[j].strip():
            d = _tree_indent(lines[j])
            if d <= indent:
                break
            if child_indent is None:
                child_indent = d
            if d == child_indent:
                children.append(j)
            j += 1
        if len(children) != 1:
            # leaf (no bounding node found) or multi-child node the
            # wide-regex didn't name — not a dominated spine
            return False
        idx = children[0]
    return False


def _count_shuffles_str(plan: str) -> int:
    """Shuffle-exchange count over an already-captured plan string —
    the ONE detection site (r10 review: lint_plan carried an inline
    copy of this regex, so a new partitioning token added to one
    would silently desynchronize the two counters)."""
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )


def count_shuffles(df: DataFrame) -> int:
    """Shuffle exchanges only (broadcast exchanges are cheap by
    design and not counted)."""
    return _count_shuffles_str(_plan_str(df))


def lint_plan(
    df: DataFrame,
    max_shuffles: int | None = None,
    max_scan_columns: int | None = None,
    allow_single_partition: bool = True,
) -> list[PlanFinding]:
    """Inspect the executed plan and return findings, worst first.

    Checks:
    - **cartesian-product** (fatal): ``CartesianProduct`` /
      ``BroadcastNestedLoopJoin`` — O(n·m) compare; at scale this is
      the difference between an hour and a decade. Usually means a
      join lost its equi-condition (type mismatch, wrong column).
    - **python-row-udf** (fatal): ``BatchEvalPython`` — a
      row-at-a-time Python UDF in the plan; 10-100× slower than the
      Arrow path. Use built-ins or ``mapInPandas``/``pandas_udf``
      (which show as ArrowEvalPython / MapInPandas instead).
    - **global-window-uncollapsed** (fatal): a ``Window`` with no
      PARTITION BY whose input subtree contains no aggregation — the
      full input cardinality sorts through one task. A global window
      AFTER a group-by (daily totals, |parts| rows, …) is the
      accepted collapsed-frame pattern and passes.
    - **single-partition-funnel** (warn, opt-in fatal): ``Exchange
      SinglePartition`` outside a final small aggregate — a global
      sort/window that funnels the data through one task.
    - **shuffle-budget** (warn): more shuffle exchanges than
      ``max_shuffles``.
    - **scan-width** (warn): a parquet scan reading more than
      ``max_scan_columns`` columns — column pruning didn't reach the
      scan (select earlier / drop unused columns).
    """
    plan = _plan_str(df)
    findings: list[PlanFinding] = []

    if "CartesianProduct" in plan:
        findings.append(
            PlanFinding(
                "cartesian-product",
                _FATAL,
                "CartesianProduct in plan — join lost its equi-condition?",
            )
        )
    if "BroadcastNestedLoopJoin" in plan:
        if _bnlj_all_scalar_broadcast(plan):
            findings.append(
                PlanFinding(
                    "scalar-broadcast-join",
                    _WARN,
                    "BroadcastNestedLoopJoin over a 1-row global-aggregate "
                    "broadcast side — O(n) scalar append, scale-safe",
                )
            )
        else:
            findings.append(
                PlanFinding(
                    "cartesian-product",
                    _FATAL,
                    "BroadcastNestedLoopJoin in plan — join lost its "
                    "equi-condition?",
                )
            )
    if "BatchEvalPython" in plan:
        findings.append(
            PlanFinding(
                "python-row-udf",
                _FATAL,
                "row-at-a-time Python UDF (BatchEvalPython); use built-ins "
                "or Arrow-batched pandas UDFs",
            )
        )
    for w in _uncollapsed_global_windows(plan):
        findings.append(
            PlanFinding(
                "global-window-uncollapsed",
                _FATAL,
                "global Window (no PARTITION BY) over an uncollapsed "
                f"input — full cardinality sorts through one task: {w}",
            )
        )
    n_single = len(re.findall(r"Exchange SinglePartition", plan))
    if n_single:
        findings.append(
            PlanFinding(
                "single-partition-funnel",
                _WARN if allow_single_partition else _FATAL,
                f"{n_single} SinglePartition exchange(s) — global "
                "sort/window/aggregate funnels through one task",
            )
        )
    if max_shuffles is not None:
        n = _count_shuffles_str(plan)
        if n > max_shuffles:
            findings.append(
                PlanFinding(
                    "shuffle-budget",
                    _WARN,
                    f"{n} shuffle exchanges > budget {max_shuffles}",
                )
            )
    if max_scan_columns is not None:
        for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
            cols = [c for c in schema.split(",") if ":" in c]
            if len(cols) > max_scan_columns:
                findings.append(
                    PlanFinding(
                        "scan-width",
                        _WARN,
                        f"scan reads {len(cols)} columns "
                        f"({','.join(c.split(':')[0] for c in cols[:6])}…) — "
                        "pruning didn't reach the scan",
                    )
                )
    order = {_FATAL: 0, _WARN: 1}
    return sorted(findings, key=lambda f: order[f.severity])


def assert_scalable(
    df: DataFrame,
    max_shuffles: int | None = None,
    max_scan_columns: int | None = None,
    allow_single_partition: bool = True,
) -> None:
    """Raise ``AssertionError`` listing every fatal finding plus every
    violation of a budget you explicitly set (``max_shuffles`` /
    ``max_scan_columns``). Advisory warns (the single-partition
    heuristic, unless ``allow_single_partition=False``) are reported
    by ``lint_plan`` but don't fail the gate. The CI-gate form of
    ``lint_plan``."""
    findings = [
        f
        for f in lint_plan(df, max_shuffles, max_scan_columns, allow_single_partition)
        if f.severity == _FATAL or f.rule in ("shuffle-budget", "scan-width")
    ]
    if findings:
        lines = "\n".join(f"  [{f.severity}] {f.rule}: {f.detail}" for f in findings)
        raise AssertionError(f"plan lint failed:\n{lines}")


_SIZE_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "PiB": 1024**5,
    "EiB": 1024**6,
}


def estimate_size_bytes(df: DataFrame) -> int:
    """Catalyst's planning-time size estimate for ``df`` (bytes) —
    file sizes × filter/project selectivity heuristics, no data scan.
    The same number AQE uses to pick join strategies, so it is the
    right input for partition sizing even when it is off by the usual
    constant factor on compressed columnar input. Read from the public
    ``explain(mode='cost')`` surface (this module's no-``_jdf``,
    Spark-Connect-compatible convention): the FIRST Statistics line is
    the plan root's estimate."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="cost")
    m = re.search(
        r"sizeInBytes=([\d.]+)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)\b", buf.getvalue()
    )
    if not m:  # e.g. a fully-local relation with no stats line
        raise ValueError("no sizeInBytes statistic in cost-mode explain")
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)])


def key_count_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key group sizes joined with the 1-row corpus totals — the
    shared base frame of every "should I salt this key?" probe
    (``skewed_keys`` and the registry's ``skew_metrics`` query both
    derive from it, so salting-probe fixes land in one place).

    Columns: ``key_col``, ``n`` (group size), ``__total`` (all rows),
    ``__n_keys`` (distinct keys), ``__max_n`` (largest group). Exact
    one-shuffle aggregation with map-side combine; the totals side
    rides the already-collapsed counts frame (1-row broadcast), so the
    cross join is a scalar attach, never a shuffle.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
        F.max("n").alias("__max_n"),
    )
    return counts.crossJoin(totals.hint("broadcast"))


def skewed_keys(
    df: DataFrame,
    key_col: str,
    min_frac: float = 0.01,
    top: int = 20,
) -> DataFrame:
    """Heavy-hitter report for a join/group key: the keys holding more
    than ``min_frac`` of all rows, with counts and fractions — the
    input that decides WHICH keys need salting (``join_salted``) or
    whether to lean on AQE's skew split instead.

    Built on ``key_count_profile``; for streams or when even one pass
    per key set is too much, use the bounded-state
    ``llmdata.sketches.misra_gries_topk`` instead.
    """
    from pyspark.sql import functions as F

    return (
        key_count_profile(df, key_col)
        .withColumn("frac", F.col("n") / F.col("__total"))
        .filter(F.col("frac") >= min_frac)
        .orderBy(F.desc("n"), F.asc(key_col))
        .limit(top)
        .drop("__total", "__n_keys", "__max_n")
    )
