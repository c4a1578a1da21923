"""bench.py's last stdout line is what the driver parses, from a
~2000-char tail buffer: pin that it fits in the worst case and still
carries every query's time."""

from __future__ import annotations

import json

import bench


def test_summary_line_fits_the_driver_tail_buffer():
    # worst case: every headline query at 7-digit milliseconds
    slow = {n: 9999.999 for n in bench.HEADLINE}
    summary = bench.summary_record(slow, slow, 0.001, 999.999, 999.999)
    line = bench.summary_line(summary, slow)
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert {k: parsed[k] for k in summary} == summary
    assert parsed["queries"] == {
        str(i): 9_999_999 for i in range(len(bench.HEADLINE))
    }


def test_summary_line_keys_other_queries_by_name():
    timings = {bench.HEADLINE[2]: 0.0125, "extra_query": 1.5}
    line = bench.summary_line({"metric": "m"}, timings)
    assert json.loads(line)["queries"] == {"2": 12, "extra_query": 1500}
