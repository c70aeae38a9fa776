"""One session factory: every Spark entry point builds through
``session.get_spark``, its defaults stay pinned, and ``scripts/ab.py``
assembles its A/B from fresh-JVM children it never starts here."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from cdc_worker_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the SQL confs ``get_spark()`` yields with no overrides. Tier-1 and
#: perfbench run on this session, so a change here is a change of the
#: benchmarked configuration and belongs in its own measured change.
PINNED = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.pushdown.inFilterThreshold": "4096",
    "spark.sql.join.preferSortMergeJoin": "false",
}


def test_only_the_factory_and_the_contract_driver_build_sessions():
    needle = "SparkSession" + ".builder"
    hits = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for name in filenames:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    if needle in f.read():
                        hits.append(os.path.relpath(path, ROOT))
    assert sorted(hits) == ["cdc_worker_spark/session.py", "scripts/drive_contract.py"]


def test_get_spark_defaults_are_pinned(spark):
    assert set(session.ENGINE_CONF) | {"spark.sql.join.preferSortMergeJoin"} == set(PINNED)
    for key, value in PINNED.items():
        if key == "spark.sql.join.preferSortMergeJoin" and os.environ.get(
            "SPARK_GRAFT_PREFER_SMJ"
        ):
            continue  # the escape hatch is set for this run
        assert spark.conf.get(key) == value, key


def _ab_mod():
    path = os.path.join(ROOT, "scripts", "ab.py")
    spec = importlib.util.spec_from_file_location("ab", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_alternates_arm_order_and_assembles_json():
    import bench

    ab = _ab_mod()
    args = ab.parse_args([
        "--arm", "p8",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.io.compression.codec=zstd",
        "--arm", "p32",
        "--conf", "spark.sql.shuffle.partitions=32",
        "--queries", "q_a,q_b",
        "--sf-dir", "sfX",
    ])
    assert args.arms == {
        "p8": {"spark.sql.shuffle.partitions": "8", "spark.io.compression.codec": "zstd"},
        "p32": {"spark.sql.shuffle.partitions": "32"},
    }
    assert args.rounds == 3 and args.queries == ["q_a", "q_b"]
    assert ab.parse_args(["--arm", "a", "--arm", "b", "--sf-dir", "d"]).queries == bench.HEADLINE

    calls = []

    def fake_runner(arm, conf, queries, sf_dir):
        calls.append((arm, conf, sf_dir))
        n = len(calls)
        return {"queries": {q: float(n) for q in queries}, "shuffle_write_bytes": 100 * n}

    out = ab.run_ab(args.arms, args.queries, args.sf_dir, args.rounds, runner=fake_runner)
    assert [c[0] for c in calls] == ["p8", "p32", "p32", "p8", "p8", "p32"]
    assert all(conf == args.arms[arm] and sf == "sfX" for arm, conf, sf in calls)
    assert out["rounds"][1] == {
        "round": 0,
        "arm": "p32",
        "total_sec": 4.0,
        "queries": {"q_a": 2.0, "q_b": 2.0},
        "shuffle_write_bytes": 200,
    }
    assert [(r["round"], r["arm"]) for r in out["rounds"]] == [
        (0, "p8"), (0, "p32"), (1, "p32"), (1, "p8"), (2, "p8"), (2, "p32"),
    ]
    # p8 ran as calls 1, 4, 5 (totals 2, 8, 10); p32 as 2, 3, 6 (4, 6, 12)
    assert out["median_total_sec"] == {"p8": 8.0, "p32": 6.0}
    assert out["arms"] == args.arms and out["sf_dir"] == "sfX"
    assert json.loads(json.dumps(out)) == out


@pytest.mark.parametrize(
    "argv",
    [
        ["--conf", "k=v", "--arm", "a", "--arm", "b"],  # conf before any arm
        ["--arm", "a", "--conf", "novalue", "--arm", "b"],
        ["--arm", "a", "--arm", "a"],
        ["--arm", "a"],  # one arm is no A/B
    ],
)
def test_ab_rejects_malformed_arms(argv):
    with pytest.raises(SystemExit):
        _ab_mod().parse_args([*argv, "--sf-dir", "d"])
