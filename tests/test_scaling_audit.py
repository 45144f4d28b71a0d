"""SCALING.md writing in tools/scaling_audit.py (no Spark): a full run
rewrites the table and keeps the focused-run sections already there."""

from __future__ import annotations

from tools.scaling_audit import append_focused_run, write_full_report

ROWS = [
    {"query": "q_lin", "bytes_small": 1000, "bytes_big": 10000, "alpha": 1.0, "class": "linear"},
    {"query": "q_err", "error": "boom"},
]


def test_full_run_keeps_focused_sections(tmp_path):
    path = tmp_path / "SCALING.md"
    write_full_report(str(path), "small", "big", ROWS)
    append_focused_run(str(path), "mid", "large", [ROWS[0]])
    text = path.read_text()
    focused = text[text.index("## Focused run"):]

    write_full_report(str(path), "small2", "big2", [ROWS[1]])
    text = path.read_text()
    assert "Data step: small2 → big2" in text and "small →" not in text
    assert text.count("| q_err |") == 1 and text.count("| q_lin |") == 1
    assert text.endswith(focused)
    assert "## Focused run: mid -> large\n\n| query |" in text


def test_full_run_without_focused_sections(tmp_path):
    path = tmp_path / "SCALING.md"
    write_full_report(str(path), "small", "big", ROWS)
    text = path.read_text()
    assert "Focused run" not in text
    # the erroring row ranks after the measured one
    assert text.index("| q_lin |") < text.index("| q_err |")
