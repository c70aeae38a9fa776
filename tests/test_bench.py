"""bench.py's failure reporting: a sub-measurement that raises still lets the
artifact emit, and the compact final line names it in ``errors``."""

from __future__ import annotations

import json

import bench


def _line(errors, calibration, streaming):
    return json.loads(
        bench.compact_line(
            1.5, 0.1, {"q_scan_filter": 1.5},
            calibration=calibration,
            incr_fold={"fold_sec": 0.2}, ingest_sec=0.3, streaming=streaming,
            errors=errors,
        )
    )


def test_failed_sub_measurement_is_listed_in_compact_line():
    errors: list[str] = []
    ok = bench.measure(errors, "streaming", lambda: {"value": 4.0})

    def boom():
        raise ArithmeticError("long overflow\n  at some.java.Frame")

    cal = bench.measure(errors, "calibration", boom)
    assert ok == {"value": 4.0}
    assert cal == {"error": "ArithmeticError: long overflow\n  at some.java.Frame"}
    assert errors == ["calibration: ArithmeticError: long overflow at some.java.Frame"]

    line = _line(errors, cal, ok)
    assert line["errors"] == errors
    assert "calibration" not in line  # the failed block itself stays out
    assert line["stream_wire_mb_s"] == 4.0


def test_clean_run_has_empty_errors_and_long_messages_are_clipped():
    assert _line([], {"cpu_sec": 1.0}, {"value": 4.0})["errors"] == []

    errors: list[str] = []

    def long_failure():
        raise RuntimeError("y" * 5000)

    block = bench.measure(errors, "incr_fold", long_failure)
    assert len(block["error"]) > 5000  # the full artifact keeps the whole text
    assert len(errors) == 1 and len(errors[0]) <= len("incr_fold: ") + 240


def test_round_stamp_from_env_then_git_never_from_file_count(tmp_path, monkeypatch):
    import subprocess

    # a directory full of tail records does not move the stamp
    for n in (1, 2, 13):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert bench.round_stamp(str(tmp_path)) == "r07"
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "r14")
    assert bench.round_stamp(str(tmp_path)) == "r14"

    # no round given: the short sha of the checkout's HEAD, or no stamp
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    monkeypatch.setenv("GIT_CEILING_DIRECTORIES", str(tmp_path.parent))
    assert bench.round_stamp(str(tmp_path)) is None
    git = ["git", "-C", str(tmp_path), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "commit", "-q", "--allow-empty", "-m", "x"], check=True)
    sha = subprocess.run(
        [*git, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert bench.round_stamp(str(tmp_path)) == f"g{sha}"
