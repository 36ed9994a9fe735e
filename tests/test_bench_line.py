"""The bench harness's final stdout line must stay parseable by a
tail-capture of ~2000 chars (r3 recorded "parsed": null when the
75-query line overflowed that window). No Spark needed."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_final_line_fits_tail_window(tmp_path, monkeypatch):
    # Redirect BENCH_SELF.json into tmp so the test doesn't dirty the repo.
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p, _orig=os.path.dirname: str(tmp_path)
    )
    timings = {f"query_name_number_{i:02d}_with_long_suffix": round(0.1 * i, 3) for i in range(200)}
    line = bench.final_line(timings, round(sum(timings.values()), 3), 0.1)
    assert len(line) <= bench.MAX_LINE_BYTES <= 1900
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["n_queries"] == 200
    assert 0 < len(parsed["queries"]) < 200
    # Most expensive queries survive the cap.
    top = max(timings, key=timings.get)
    assert top in parsed["queries"]
    # Full detail is on disk and matches.
    full = json.load(open(tmp_path / "BENCH_SELF.json"))
    assert full["queries"] == timings
    assert full["value"] == parsed["value"]


def test_final_line_small_set_includes_everything(tmp_path, monkeypatch):
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p, _orig=os.path.dirname: str(tmp_path)
    )
    timings = {"tpch_q1": 0.5, "tpch_q6": 0.2}
    line = bench.final_line(timings, 0.7, 0.01)
    parsed = json.loads(line)
    assert parsed["queries"] == timings


def test_hung_child_records_no_timings(tmp_path, monkeypatch, capsys):
    """A child that hits its timeout is killed and counted like one that
    printed nothing — the other families and the final line survive."""
    import subprocess

    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p, _orig=os.path.dirname: str(tmp_path)
    )
    monkeypatch.setattr(bench, "FAMILIES", {"hung": ["q_hung"], "ok": ["q_ok"]})

    def fake_run(cmd, **kwargs):
        args = cmd[2:]
        if args[0] == "--solo" or args[1] == "hung":
            raise subprocess.TimeoutExpired(cmd, kwargs["timeout"])
        out = (
            'BENCH_FAMILY {"q_ok": 0.25}\n'
            'BENCH_SAMPLES {"q_ok": [0.25, 0.3, 0.2]}\n'
        )
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    assert bench._solo_subprocess("q_hung", 1) is None
    bench.main()
    parsed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert parsed["queries"] == {"q_ok": 0.25}
    assert parsed["n_queries"] == 1
    full = json.load(open(tmp_path / "BENCH_SELF.json"))
    assert full["noise_canary"] == {
        "query": bench.CANARY_QUERY, "start_sec": None, "end_sec": None
    }
