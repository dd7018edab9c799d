"""bench_extra.py times each leaf as one aggregate over every output
column. A bare ``count()`` lets Catalyst prune every Python UDF whose
output it does not read, so a counted leaf can time no kernel at all;
the timed plan must keep every Python node of the query's own plan."""

import re

import pytest

_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"
)


def _python_nodes(df) -> int:
    return len(_PYTHON_NODE.findall(df._jdf.queryExecution().executedPlan().toString()))


@pytest.mark.parametrize("name", ["collect", "simplify_rdp", "view_angles_all", "ann_lsh"])
def test_timed_plan_keeps_every_python_node(spark, sf_dir, name):
    import __spark_entry__ as entrymod
    from bench_extra import timed_action

    df = entrymod.queries()[name](spark, sf_dir)
    full = _python_nodes(df)
    assert full > 0
    assert _python_nodes(timed_action(df)) == full
    if name == "collect":
        # the pruning the aggregate avoids: a count reads no column
        assert _python_nodes(df.groupBy().count()) < full
