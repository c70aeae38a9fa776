"""The generator's plan and wire bytes depend on the seed alone."""

import os

from perfbench import gen


def test_plan_is_deterministic_per_seed():
    a = gen.plan_events(7, 5000, 1000)
    assert a == gen.plan_events(7, 5000, 1000)
    assert a != gen.plan_events(8, 5000, 1000)


def test_plan_plants_every_defect_class():
    plan = gen.plan_events(3, 20_000, 5000)
    kinds = {s.kind for s in plan}
    assert {"corrupt", "dup", "delete", "late", "create", "upsert"} <= kinds
    assert any(s.back_ms for s in plan)  # out-of-order stamps
    for i, s in enumerate(plan):
        if s.kind == "dup":
            src = plan[s.ref]
            assert s.ref < i and (s.replay_id, s.key, s.city) == (src.replay_id, src.key, src.city)
        if s.kind == "late":
            assert plan[s.ref].kind == "delete" and plan[s.ref].key == s.key


def test_stamps_follow_the_plan():
    plan = gen.plan_events(5, 5000, 1000)
    stamps: list[int] = []
    for i in range(len(plan)):
        stamps.append(gen.stamp(plan, i, 1_000_000 + i, stamps))
    for i, s in enumerate(plan):
        if s.kind == "dup":
            assert stamps[i] == stamps[s.ref]
        elif s.kind == "late":
            assert stamps[i] == stamps[s.ref] - gen.LATE_AFTER_DELETE_MS
        else:
            assert stamps[i] == 1_000_000 + i - s.back_ms


def test_backlog_bytes_are_deterministic(tmp_path):
    from perfbench import backfill

    h1, n1 = backfill.make_backlog(str(tmp_path / "a"), 11)
    h2, n2 = backfill.make_backlog(str(tmp_path / "b"), 11)
    assert (h1, n1) == (h2, n2)
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert sum(r.corrupt for r in h1) > 0

