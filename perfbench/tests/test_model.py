"""The latest-wins reference model on hand-built histories."""

from perfbench.gen import Record
from perfbench.model import diff, latest_wins


def rec(rid, ts, key, change="UPDATE", city="c", corrupt=False):
    return Record(rid, ts, key, change, city, corrupt)


def test_delete_then_late_update_stays_deleted():
    live, dlq = latest_wins([
        rec(1, 100, "A", "CREATE", "a1"),
        rec(2, 200, "A", "DELETE", ""),
        rec(3, 150, "A", "UPDATE", "late"),  # arrives after the DELETE, stamped before it
    ])
    assert live == {} and dlq == set()


def test_update_after_delete_resurrects():
    live, _ = latest_wins([
        rec(1, 100, "A", "CREATE", "a1"),
        rec(2, 200, "A", "DELETE", ""),
        rec(3, 250, "A", "UPDATE", "back"),
    ])
    assert live == {"A": (250, 3, "back")}


def test_redelivered_replay_id_applies_once():
    first = rec(5, 100, "A", "UPDATE", "first")
    redelivered = rec(5, 300, "A", "UPDATE", "replayed")  # same id: dropped
    live, _ = latest_wins([first, rec(6, 200, "A", "UPDATE", "second"), redelivered])
    assert live == {"A": (200, 6, "second")}


def test_corrupt_payload_goes_to_dead_letters_only():
    live, dlq = latest_wins([
        rec(1, 100, "A", "CREATE", "ok"),
        rec(2, 200, "A", "UPDATE", "bad", corrupt=True),
        rec(2, 200, "A", "UPDATE", "bad", corrupt=True),  # redelivered: one dead letter
    ])
    assert live == {"A": (100, 1, "ok")} and dlq == {2}


def test_out_of_order_and_ties():
    live, _ = latest_wins([
        rec(1, 300, "A", city="newest"),
        rec(2, 100, "A", city="older"),  # out of order: loses
        rec(3, 50, "B", city="b-low-id"),
        rec(4, 50, "B", city="b-high-id"),  # same stamp: higher replay id wins
    ])
    assert live == {"A": (300, 1, "newest"), "B": (50, 4, "b-high-id")}


def test_diff_counts_differing_keys():
    n, notes = diff({"A": (1, 1, "x"), "B": (1, 2, "y")}, {"A": (1, 1, "x"), "C": (1, 3, "z")})
    assert n == 2 and len(notes) == 2
