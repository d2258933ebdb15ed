"""Physical-plan inspection helpers.

"Correct but with the wrong plan" is a failure mode at 100 TB: a dim join
that falls back to sort-merge shuffles the fact table; a scan that loses
its pushed filter reads a year of data for a day's query. These helpers
let tests assert the plan, not just the rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as planned before execution.

    Once a batch frame has run an action, its adaptive plan is final and
    prints its final form above the initial one, so every operator would
    appear twice. Such a frame is planned afresh from its analyzed plan
    (commands in it are not run again), which gives the string the frame
    printed before the action, unless its plan was bound under session
    confs that are no longer set (``scan_agg_pushdown``).
    """
    jvm = df.sparkSession._jvm
    qe = df._jdf.queryExecution()
    if not df.isStreaming:
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec" and plan.isFinalPlan():
            qe = df.sparkSession._jsparkSession.sessionState().executePlan(
                qe.analyzed(), jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP()
            )
    return qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def assert_in_plan(df: DataFrame, *needles: str) -> str:
    plan = formatted_plan(df)
    for needle in needles:
        assert needle in plan, f"expected {needle!r} in plan:\n{plan}"
    return plan


def assert_not_in_plan(df: DataFrame, *needles: str) -> str:
    plan = formatted_plan(df)
    for needle in needles:
        assert needle not in plan, f"unexpected {needle!r} in plan:\n{plan}"
    return plan


def count_in_plan(df: DataFrame, needle: str) -> int:
    """Count distinct operator instances named ``needle``.

    Formatted plans print each operator twice (tree + "(N) Op" detail
    header); counting the numbered detail headers counts each instance
    exactly once, and a bare substring match could be a different
    operator containing the needle (e.g. "BroadcastExchange" contains
    "Exchange").
    """
    import re

    return len(re.findall(rf"^\(\d+\) {re.escape(needle)}\b", formatted_plan(df), flags=re.MULTILINE))


def plan_snapshot(df: DataFrame) -> str:
    """A normalized, diff-stable skeleton of the formatted physical plan.

    Captures what a plan REGRESSION looks like — join strategy flips,
    lost pushdown, extra exchanges — while dropping what legitimately
    varies run to run: expression ids, plan ids, statistics, codegen
    stage numbering, absolute paths. Kept, in order:

    - the operator tree (indentation + operator line, numbering struck),
      with codegen wrappers normalized away;
    - each scan's ``PushedFilters`` and ``ReadSchema`` detail lines (a
      filter that stops reaching the scan is precisely the regression
      the snapshot should catch).
    """
    import re

    plan = formatted_plan(df)
    tree, _, _detail = plan.partition("\n\n")
    lines: list[str] = []
    for ln in tree.splitlines():
        ln = ln.rstrip()
        if not ln or ln.startswith("== "):
            continue
        ln = re.sub(r"\s*\(\d+\)$", "", ln)              # strike node numbers
        ln = re.sub(r"WholeStageCodegen \(\d+\)", "WholeStageCodegen", ln)
        lines.append(ln)
    for m in re.finditer(r"^(PushedFilters: .*)$", plan, flags=re.MULTILINE):
        lines.append(m.group(1).rstrip())
    for m in re.finditer(r"^(ReadSchema: .*)$", plan, flags=re.MULTILINE):
        lines.append(m.group(1).rstrip())
    return "\n".join(lines) + "\n"
