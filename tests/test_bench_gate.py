"""bench.py's scaling contention gate: a missing anchor page turns the gate
off loudly (stderr and the JSON field), never silently."""

import bench


def test_missing_anchor_page_turns_gate_off_loudly(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(bench, "_ANCHOR_PAGE", str(tmp_path / "absent.txt"))
    assert bench._contention_gate() == "off: anchor page missing"
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1
    assert "contention gate off: anchor page missing" in err[0]
    assert str(tmp_path / "absent.txt") in err[0]


def test_present_anchor_page_keeps_gate_on_quietly(monkeypatch, tmp_path, capsys):
    page = tmp_path / "anchor.html"
    page.write_text("<p>anchor</p>")
    monkeypatch.setattr(bench, "_ANCHOR_PAGE", str(page))
    assert bench._contention_gate() == "on"
    assert capsys.readouterr().err == ""
