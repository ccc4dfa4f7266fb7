"""The CPU share that scales the end-to-end times.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hostcpu  # noqa: E402


def test_share_is_busy_over_wanted():
    assert hostcpu.share((100, 10), (180, 30)) == 0.8


def test_share_without_steal_or_ticks_is_one():
    assert hostcpu.share((100, 10), (150, 10)) == 1.0
    assert hostcpu.share((100, 10), (100, 10)) == 1.0


def test_read_counts_up():
    before = hostcpu.read()
    sum(i * i for i in range(200_000))
    after = hostcpu.read()
    assert after[0] >= before[0] and after[1] >= before[1]
    assert 0.0 < hostcpu.share(before, after) <= 1.0
