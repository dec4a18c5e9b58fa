"""tools/bench_compare.py verdicts on two small records (no Spark)."""

from __future__ import annotations

import json
import sys

from tools import bench_compare


def test_unrecorded_old_spread_takes_the_new_runs_spread(tmp_path, monkeypatch, capsys):
    # both cells 18% slower with a 0.10 new-side spread; only "recorded"
    # has an old spread (0.05).  Read as 0, the missing old spread would
    # leave a 15% allowance and make "unrecorded" REGRESSED too.
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({
        "queries": {"unrecorded": 1.0, "recorded": 1.0},
        "steady_spread": {"recorded": 0.05},
    }))
    new.write_text(json.dumps({
        "queries": {"unrecorded": 1.18, "recorded": 1.18},
        "steady_spread": {"unrecorded": 0.10, "recorded": 0.10},
    }))
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", str(old), str(new)])
    assert bench_compare.main() == 1
    out = capsys.readouterr().out
    cells = {ln.split()[0]: ln.split() for ln in out.splitlines()
             if ln.split() and ln.split()[0] in ("unrecorded", "recorded")}
    assert cells["unrecorded"][4:] == ["—", "0.10", "ok"]
    assert cells["recorded"][4:] == ["0.05", "0.10", "REGRESSED"]
    assert "1 regressed; 1 without a recorded old spread" in out
