"""bench.py output contract, checked without a Spark session."""

import json

from bench import SUMMARY_LINE_MAX, summary_lines


def _summary(n_queries):
    return {
        "metric": "headline_queries_total_sec",
        "value": 41.6,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"catalog_entry_with_a_long_name_{i:02d}": 1.234 for i in range(n_queries)},
    }


def test_summary_line_keeps_queries_when_short():
    lines = summary_lines(_summary(3))
    assert len(lines) == 1
    assert json.loads(lines[0])["queries"]


def test_summary_line_drops_queries_past_bound():
    """A 60-entry map would push the parsed last line past the tail
    capture: the line drops ``queries`` and a warning precedes it."""
    full = json.dumps(_summary(60), separators=(",", ":"))
    assert len(full) > SUMMARY_LINE_MAX
    warning, last = summary_lines(_summary(60))
    assert warning.startswith("WARNING:") and "\n" not in warning
    assert len(last) <= SUMMARY_LINE_MAX
    parsed = json.loads(last)
    assert "queries" not in parsed
    assert parsed["value"] == 41.6 and parsed["metric"] == "headline_queries_total_sec"
