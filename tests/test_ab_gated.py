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
