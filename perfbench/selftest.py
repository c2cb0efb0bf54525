"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py            # run the tests
    python3 perfbench/selftest.py --fixture  # rewrite fixtures/eventlog_small.jsonl

1. The event-log reader, on the committed fixture `fixtures/eventlog_small.jsonl`
   (a trimmed log of a tiny Spark application with two job groups).
2. The timed action: a `noop` write of a query keeps every operator of
   the query's own executed plan, while `count()` can drop some (here a
   `Window` whose output the count never reads). This needs Spark.

Exits 0 when every test passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
sys.path.insert(0, HERE)

from eventlog import plan_operators, read  # noqa: E402

# What the fixture holds: group "fx|window" ran a noop write of a 64-row
# frame with a Window (2 range tasks, one shuffle into 4 partitions);
# group "fx|arrow" collected a mapInArrow over 2 partitions.
EXPECTED = {
    "fx|window": {"jobs": 1, "stages": 2, "tasks": 6, "in_jobs_ms": 879,
                  "shuffle_write_bytes": 890, "shuffle_read_bytes": 890, "py_sent_bytes": 0},
    "fx|arrow": {"jobs": 1, "stages": 1, "tasks": 2, "in_jobs_ms": 1781, "shuffle_write_bytes": 0,
                 "py_boot_ms": 1829, "py_init_ms": 609, "py_run_ms": 2851,
                 "py_sent_bytes": 1184, "py_returned_bytes": 1152},
}


def _workdir(name: str) -> str:
    from run import _prepare_env

    work = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")
    _prepare_env(work)
    return work


def _spark(work: str):
    from parkour_spark.session import build_session

    return build_session("perfbench-selftest", master="local[2]", shuffle_partitions=4, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.adaptive.enabled": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })


def _window_frame(spark):
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(F.col("id") % 4).orderBy("id")
    return spark.range(64).withColumn("rn", F.row_number().over(w))


def write_fixture() -> None:
    """Run the tiny application and keep only the events and fields the
    reader uses, so the fixture stays small and holds no host paths."""
    import pyarrow as pa

    work = _workdir("fixture")
    events = os.path.join(work, "events")
    try:
        spark = _spark(work)
        sc = spark.sparkContext
        sc.setJobGroup("fx|window", "fx|window")
        _window_frame(spark).write.format("noop").mode("overwrite").save()

        def double(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays([pa.compute.multiply(b.column(0), 2)], ["id"])

        sc.setJobGroup("fx|arrow", "fx|arrow")
        spark.range(0, 100, 1, 2).mapInArrow(double, "id long").collect()
        spark.stop()
        (log,) = os.listdir(events)
        keep = []
        with open(os.path.join(events, log)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    ev = {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                          "Stage IDs": ev["Stage IDs"],
                          "Properties": {"spark.jobGroup.id": ev["Properties"].get("spark.jobGroup.id")}}
                elif kind == "SparkListenerStageCompleted":
                    ev = {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
                elif kind == "SparkListenerTaskEnd":
                    accs = [a for a in ev["Task Info"].get("Accumulables", ()) if "Python" in a.get("Name", "")]
                    ev = {"Event": kind, "Stage ID": ev["Stage ID"], "Task Metrics": ev["Task Metrics"],
                          "Task Info": {"Accumulables": accs}}
                elif kind.endswith("SQLExecutionStart"):
                    ev = {"Event": kind, "executionId": ev["executionId"], "jobGroupId": ev.get("jobGroupId"),
                          "physicalPlanDescription": ev["physicalPlanDescription"], "sparkPlanInfo": {}}
                elif kind != "SparkListenerJobEnd":
                    continue
                keep.append(json.dumps(ev, sort_keys=True))
        os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
        with open(FIXTURE, "w") as f:
            f.write("\n".join(keep) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_eventlog_reader() -> None:
    groups = read(FIXTURE)
    for grp, want in EXPECTED.items():
        got = groups[grp]
        for k, v in want.items():
            assert getattr(got, k) == v, f"{grp}.{k}: {getattr(got, k)} != {v}"
    win = groups["fx|window"]
    assert win.task_cpu_ns > 0 and win.task_run_ms > 0
    assert "Window" in set().union(*(plan_operators(p) for p in win.plans))
    print("ok  eventlog reader on fixture")


def test_plan_operators() -> None:
    plan = "\n".join([
        "== Physical Plan ==",
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Window [row_number()], [x], [id ASC]",
        "   +- *(1) Sort [x ASC, id ASC], false, 0",
        "      :- Exchange hashpartitioning(x, 4)",
        "      :  +- FileScan parquet [x] Batched: true",
        "      +- * ColumnarToRow (2)",
        "         +- Scan parquet  (1)",
        "",
        "(1) Scan parquet",
    ])
    got = plan_operators(plan)
    assert got == {"AdaptiveSparkPlan", "Window", "Sort", "Exchange", "Scan", "ColumnarToRow"}, got
    print("ok  plan operator parser")


def test_timed_action_keeps_plan() -> None:
    """noop keeps the Window that count() drops — the reason the
    benchmark times a noop write."""
    work = _workdir("selftest")
    events = os.path.join(work, "events")
    try:
        spark = _spark(work)
        sc = spark.sparkContext
        df = _window_frame(spark)
        own = plan_operators(df._jdf.queryExecution().executedPlan().toString())
        sc.setJobGroup("st|noop", "st|noop")
        df.write.format("noop").mode("overwrite").save()
        sc.setJobGroup("st|count", "st|count")
        df.count()
        spark.stop()
        (log,) = os.listdir(events)
        groups = read(os.path.join(events, log))
        noop = set().union(*(plan_operators(p) for p in groups["st|noop"].plans))
        count = set().union(*(plan_operators(p) for p in groups["st|count"].plans))
        assert "Window" in own, own
        assert own <= noop, own - noop
        assert "Window" not in count, count
        print("ok  noop write keeps every operator; count() drops", sorted(own - count))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv) -> int:
    if "--fixture" in argv:
        write_fixture()
        print("wrote", os.path.relpath(FIXTURE, ROOT))
        return 0
    test_plan_operators()
    test_eventlog_reader()
    test_timed_action_keeps_plan()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
