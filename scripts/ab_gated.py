#!/usr/bin/env python
"""Steal-gated interleaved A/B of one bench query under two env
configurations (round-14 verdict item 1: arms are accepted only when
the box was quiet — hypervisor steal below a gate and, per config,
best-vs-second-best spread small — so the decision is made on numbers
the machine did not smear).

Usage:
    python scripts/ab_gated.py QUERY ENVVAR VAL_A VAL_B \
        [--arms-per-config 3] [--max-rounds 8] [--steal-gate 1.0]

Each arm is a fresh-JVM ``bench.py --isolated-worker QUERY`` (best-of-2
inside the JVM) with ENVVAR set to the arm's value; arms alternate
A/B/A/B so box drift hits both configs equally.  An arm is ACCEPTED
when the /proc/stat steal percentage measured across the arm is below
``--steal-gate``.  The script stops once both configs have
``--arms-per-config`` accepted arms (or after ``--max-rounds``
interleaved rounds) and prints one JSON line:
{"query":..., "envvar":..., "a": {"value":..., "best":..., "accepted":
[...], "rejected": [...]}, "b": {...}, "winner":..., "gated": bool}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_ticks, _steal_pct  # noqa: E402


def _arm(query: str, envvar: str, value: str, repo: str):
    """One fresh-JVM arm: ``(sec, steal_pct)``.  An arm that outlives
    its 900 s timeout is killed and reports ``sec=None``, so it is recorded
    as rejected instead of ending the whole A/B."""
    env = os.environ.copy()
    env[envvar] = value
    t0 = _cpu_ticks()
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py"),
             "--isolated-worker", query],
            capture_output=True, text=True, timeout=900, env=env,
        )
        sec = _last_sec(proc.stdout)
    except subprocess.TimeoutExpired:
        sec = None
    return sec, _steal_pct(t0, _cpu_ticks())


def _last_sec(stdout: str) -> float | None:
    """``sec`` of the last stdout line that is a JSON object carrying
    one; other lines (log text, JSON arrays or scalars) are skipped."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            return float(json.loads(line)["sec"])
        except (ValueError, KeyError, TypeError):
            continue
    return None


def main() -> None:
    query, envvar, val_a, val_b = sys.argv[1:5]
    opts = dict(zip(sys.argv[5::2], sys.argv[6::2]))
    need = int(opts.get("--arms-per-config", "3"))
    max_rounds = int(opts.get("--max-rounds", "8"))
    gate = float(opts.get("--steal-gate", "1.0"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    res = {v: {"accepted": [], "rejected": []} for v in (val_a, val_b)}
    for rnd in range(max_rounds):
        for v in (val_a, val_b):
            if len(res[v]["accepted"]) >= need:
                continue
            sec, steal = _arm(query, envvar, v, repo)
            entry = {"sec": sec, "steal_pct": steal, "round": rnd,
                     "t": round(time.time())}
            ok = sec is not None and steal is not None and steal < gate
            res[v]["accepted" if ok else "rejected"].append(entry)
            print(f"# {envvar}={v} arm: sec={sec} steal={steal} "
                  f"{'ACCEPT' if ok else 'reject'}", file=sys.stderr)
        if all(len(res[v]["accepted"]) >= need for v in (val_a, val_b)):
            break

    def best(v):
        secs = [e["sec"] for e in res[v]["accepted"]]
        return min(secs) if secs else None

    ba, bb = best(val_a), best(val_b)
    gated = all(len(res[v]["accepted"]) >= need for v in (val_a, val_b))
    winner = None
    if ba is not None and bb is not None:
        winner = val_a if ba <= bb else val_b
    print(json.dumps({
        "query": query, "envvar": envvar,
        "a": {"value": val_a, "best": ba, **res[val_a]},
        "b": {"value": val_b, "best": bb, **res[val_b]},
        "winner": winner, "gated": gated,
    }))


if __name__ == "__main__":
    main()
