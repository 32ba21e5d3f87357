"""scripts/ab_gated.py reads an arm's seconds from the last stdout line
that is a JSON object with a ``sec`` field; nothing else on stdout may
raise out of that scan."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from ab_gated import _last_sec  # noqa: E402


def test_last_sec_skips_non_object_json_lines():
    out = '{"sec": 1.5}\n[1]\n5\n"text"\nnull\n'
    assert _last_sec(out) == 1.5


def test_last_sec_takes_the_last_object_and_skips_bad_lines():
    out = '{"sec": 1.5}\nnot json\n{"sec": 2.25}\n{"other": 1}\n{"sec": null}\n'
    assert _last_sec(out) == 2.25


def test_last_sec_none_when_no_line_carries_sec():
    assert _last_sec("") is None
    assert _last_sec("[1]\n5\n") is None


def test_hung_arm_is_rejected_not_fatal(monkeypatch, capsys):
    """An arm that outlives its timeout reports ``sec=None`` and lands
    in ``rejected``; the A/B goes on and still prints its JSON line."""
    import json
    import subprocess

    import ab_gated

    calls = []

    def fake_run(cmd, **kw):
        calls.append(kw["env"]["X_ARM"])
        if kw["env"]["X_ARM"] == "hung":
            raise subprocess.TimeoutExpired(cmd, kw["timeout"])
        return subprocess.CompletedProcess(cmd, 0, stdout='{"sec": 1.0}\n', stderr="")

    monkeypatch.setattr(ab_gated.subprocess, "run", fake_run)
    monkeypatch.setattr(ab_gated, "_steal_pct", lambda before, after: 0.0)
    assert ab_gated._arm("q", "X_ARM", "hung", "/nonexistent") == (None, 0.0)

    monkeypatch.setattr(
        ab_gated.sys, "argv",
        ["ab_gated.py", "q", "X_ARM", "ok", "hung", "--arms-per-config", "1",
         "--max-rounds", "2"],
    )
    ab_gated.main()
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert calls.count("hung") == 3  # one direct call, then both rounds
    assert res["b"]["accepted"] == [] and len(res["b"]["rejected"]) == 2
    assert all(e["sec"] is None for e in res["b"]["rejected"])
    assert res["a"]["best"] == 1.0 and res["b"]["best"] is None
    assert res["winner"] is None
    assert res["gated"] is False
