from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.functions import udf as udfmod
from hadoop_2_10_0_src_mapreduce_spark.plans.jobcontrol import JobControl, JobState


def test_pipe_identity_and_parse(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    out = udfmod.pipe_lines(df, "cat", output_schema="k string, v int")
    assert {(r.k, r.v) for r in out.collect()} == {("a", 1), ("b", 2)}


def test_pipe_command(spark):
    df = spark.createDataFrame([("x",)], ["s"])
    out = udfmod.pipe_lines(df, "tr 'a-z' 'A-Z'")
    assert out.collect()[0].value == "X"


def test_map_in_pandas_one_to_many(spark):
    df = spark.createDataFrame([(2,), (0,)], ["n"])

    def repeat(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.loc[pdf.index.repeat(pdf.n)]

    out = udfmod.map_in_pandas(df, repeat, "n int")
    assert sorted(r.n for r in out.collect()) == [2, 2]


def test_secondary_sort_reduce_ordering(spark):
    # values must arrive to the reducer ordered by the sort key
    df = spark.createDataFrame(
        [("a", 3, "z"), ("a", 1, "x"), ("a", 2, "y"), ("b", 1, "q")],
        ["g", "seq", "val"],
    )

    def concat_in_order(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"g": [pdf.g.iloc[0]], "joined": ["".join(pdf.val)]})

    out = {
        r.g: r.joined
        for r in udfmod.secondary_sort_reduce(
            df, ["g"], ["seq"], concat_in_order, "g string, joined string"
        ).collect()
    }
    assert out == {"a": "xyz", "b": "q"}


def test_sessionize_gap_split(spark):
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 12:00:00"),  # > 30min gap → new session
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts"
    )
    out = udfmod.sessionize(df, gap_minutes=30).collect()
    per_user = {(r.user_id, r.session_id): r.n_events for r in out}
    assert per_user == {(1, 0): 2, (1, 1): 1, (2, 0): 1}


def test_jobcontrol_dag_order_and_failure():
    jc = JobControl()
    ran: list[str] = []
    jc.add("a", lambda deps: ran.append("a") or 1)
    jc.add("b", lambda deps: ran.append("b") or deps["a"] + 1, depends_on=("a",))
    jc.add("boom", lambda deps: 1 / 0, depends_on=("a",))
    jc.add("after_boom", lambda deps: 99, depends_on=("boom",))
    results = jc.run()
    assert results == {"a": 1, "b": 2}
    assert ran == ["a", "b"]
    st = jc.states()
    assert st["boom"] is JobState.FAILED
    assert st["after_boom"] is JobState.DEPENDENT_FAILED


def test_jobcontrol_cycle_detected():
    jc = JobControl()
    jc.add("x", lambda d: 1, depends_on=("y",))
    jc.add("y", lambda d: 1, depends_on=("x",))
    with pytest.raises(ValueError, match="cycle"):
        jc.run()


def test_cli_list_and_run(spark, tmp_path, capsys):
    from hadoop_2_10_0_src_mapreduce_spark.__main__ import main

    assert main(["list"]) == 0
    assert "wordcount_grep" in capsys.readouterr().out

    out = str(tmp_path / "wc")
    assert main([
        "run", "wordcount_grep", "--sf-dir", "/root/testdata/sf0.001",
        "-D", "spark.sql.shuffle.partitions=8", "--output", out,
    ]) == 0
    assert spark.read.parquet(out).count() > 0

    assert main(["run", "no_such_query"]) == 2

    assert main(["run", "flagship_pricing_join", "--explain"]) == 0
    plan = capsys.readouterr().out
    assert "Physical Plan" in plan and "Scan parquet" in plan


def test_cli_pipeline_writes_jsonl(spark, tmp_path, capsys):
    from hadoop_2_10_0_src_mapreduce_spark.__main__ import main

    out = str(tmp_path / "corpus")
    assert main([
        "pipeline", "--min-quality", "0.0", "--min-tokens", "1",
        "--max-dup-3gram-frac", "1.0", "--output", out,
    ]) == 0
    back = spark.read.json(out)
    assert back.count() > 0
    assert {"id", "text", "pred_lang", "quality"} <= set(back.columns)


def test_cli_index_build_and_query(spark, tmp_path, capsys):
    from hadoop_2_10_0_src_mapreduce_spark.__main__ import main

    path = str(tmp_path / "cli_ivf")
    assert main(["index", "build", "--family", "ivf", "--path", path]) == 0
    assert main([
        "index", "query", "--family", "ivf", "--path", path,
        "--n-queries", "3", "--limit", "5",
    ]) == 0
    out = capsys.readouterr().out
    assert "query_id" in out and "neighbor_id" in out

    # every action but build detects the family: the LSH lifecycle
    # runs without --family
    import json

    lsh = str(tmp_path / "cli_lsh")
    ix = lambda *a: main(["index", *a, "--path", lsh])  # noqa: E731
    assert ix("build", "--family", "lsh") == 0
    assert ix("append", "--where", "vec_id >= 490") == 0
    assert ix("delete", "--ids", "1,2") == 0
    assert ix("compact") == 0
    assert ix("stats") == 0
    assert ix("rebuild", "--n-tables", "8") == 0
    assert ix("query", "--n-queries", "3", "--limit", "5") == 0
    out = capsys.readouterr().out
    for verb in ("appended to", "compacted", "rebuilt"):
        assert f"{verb} lsh index" in out
    stats = json.loads(next(
        line for line in out.splitlines() if line.startswith("{")
    ))
    assert stats["family"] == "lsh" and stats["n_tombstones"] == 0
    assert "query_id" in out and "neighbor_id" in out


def test_cogroup_reduce_sees_both_sides_ordered_and_missing_keys(spark):
    """DATAJOIN multi-input-reduce: fn gets (key, left, right) with a
    key absent on one side arriving as an empty frame that still has
    that side's columns; order_by applies per side."""
    import pandas as pd

    from hadoop_2_10_0_src_mapreduce_spark.functions.udf import cogroup_reduce

    left = spark.createDataFrame(
        [(1, 30), (1, 10), (2, 5)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(1, 100), (3, 7)], "k long, w long"
    )

    def fn(key, l, r):
        assert list(l.columns) == ["k", "v"] and list(r.columns) == ["k", "w"]
        assert list(l["v"]) == sorted(l["v"])  # left_order applied
        return pd.DataFrame(
            {"k": [key[0]], "lsum": [int(l["v"].sum())], "rsum": [int(r["w"].sum())]}
        )

    rows = {
        r.k: (r.lsum, r.rsum)
        for r in cogroup_reduce(
            left, right, ["k"], fn, "k long, lsum long, rsum long",
            left_order=["v"],
        ).collect()
    }
    assert rows == {1: (40, 100), 2: (5, 0), 3: (0, 7)}


def test_cogroup_reduce_same_lineage_keeps_right_columns(spark):
    """Regression: when both cogroup inputs derive from ONE scan,
    Spark's plan dedup silently pruned the right side's value columns
    (fn saw only the grouping key). The alias lineage-break inside
    cogroup_reduce must keep them intact."""
    import pandas as pd

    from hadoop_2_10_0_src_mapreduce_spark.functions.udf import cogroup_reduce

    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 5)], "k long, tag string, v long"
    )
    left = base.where(F.col("tag") == "a").select("k", "v")
    right = base.where(F.col("tag") == "b").select("k", "v")

    def fn(key, l, r):
        return pd.DataFrame(
            {"k": [key[0]], "rsum": [int(r["v"].sum()) if len(r) else -1]}
        )

    rows = {
        r.k: r.rsum
        for r in cogroup_reduce(
            left, right, ["k"], fn, "k long, rsum long"
        ).collect()
    }
    assert rows == {1: 20, 2: -1}


def test_funnel_depth_semantics_with_planted_dropoffs(spark):
    """Planted users at every funnel depth: the stage-k completion is
    the EARLIEST stage-k event strictly after stage-(k-1) completion —
    a click BEFORE the first view must not count, equal timestamps
    must not count (strict), and users with no first-stage event are
    absent."""
    import datetime as dt

    from hadoop_2_10_0_src_mapreduce_spark.operators.timeseries import funnel

    t0 = dt.datetime(2024, 1, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [
        # u1: full funnel in order
        (1, m(0), "view"), (1, m(5), "click"), (1, m(9), "purchase"),
        # u2: click BEFORE the view -> depth 1
        (2, m(3), "click"), (2, m(4), "view"),
        # u3: click at the SAME ts as view (strict) -> depth 1
        (3, m(0), "view"), (3, m(0), "click"),
        # u4: view+click, purchase before click -> depth 2
        (4, m(0), "view"), (4, m(2), "click"), (4, m(1), "purchase"),
        # u5: no view at all -> absent
        (5, m(0), "click"), (5, m(1), "purchase"),
        # u6: second view is what chains (earliest view is used; click
        # after it counts even though it precedes a later view)
        (6, m(0), "view"), (6, m(10), "view"), (6, m(4), "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r.user_id: (r.stages_completed, r.start_ts, r.end_ts)
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert set(got) == {1, 2, 3, 4, 6}
    assert got[1] == (3, m(0), m(9))
    assert got[2][0] == 1 and got[3][0] == 1
    assert got[4] == (2, m(0), m(2))
    assert got[6] == (2, m(0), m(4))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stages"):
        funnel(ev, ["view"])


def test_funnel_conversion_window(spark):
    """max_gap_minutes: a stage event beyond the window does not
    convert even though it is the earliest-after; within the window it
    does; validation rejects non-positive gaps."""
    import datetime as dt

    from hadoop_2_10_0_src_mapreduce_spark.operators.timeseries import funnel

    t0 = dt.datetime(2024, 1, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    ev = spark.createDataFrame(
        [
            (1, m(0), "view"), (1, m(30), "click"),    # in window
            (2, m(0), "view"), (2, m(90), "click"),    # beyond 60-min gap
        ],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r.user_id: r.stages_completed
        for r in funnel(ev, ["view", "click"], max_gap_minutes=60).collect()
    }
    assert got == {1: 2, 2: 1}
    # without the window, both convert
    got_open = {
        r.user_id: r.stages_completed
        for r in funnel(ev, ["view", "click"]).collect()
    }
    assert got_open == {1: 2, 2: 2}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_gap"):
        funnel(ev, ["view", "click"], max_gap_minutes=0)


def test_funnel_gate_branch_is_not_vacuous(spark):
    """Regression pin for the vacuous-gate lesson: the registered
    funnel branch must emit rows at MORE THAN ONE distinct depth on
    the fixture data — an empty (or single-depth) branch would let the
    engine-vs-oracle hash check pass while testing nothing."""
    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_queries

    out = all_queries()["sessionize_reduce"](spark, "/root/testdata/sf0.001")
    depths = {
        r.session_id
        for r in out.where(F.col("branch") == "funnel").collect()
    }
    assert len(depths) >= 2, f"funnel branch depth distribution: {depths}"
