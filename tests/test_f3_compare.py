"""tools_f3_compare: degenerate inputs and multi-run bookkeeping."""

from __future__ import annotations

import json

import tools_f3_compare as f3


def _jsonl(path, rows):
    path.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return str(path)


def _row(query, walls, jobs, facts):
    return {
        "query": query,
        "runs": [{"wall": w, "canary": 0.01} for w in walls],
        "jobs_last_run": jobs,
        "facts": facts,
    }


def test_jobs_and_facts_come_from_the_min_wall_run(tmp_path):
    fast = _jsonl(tmp_path / "a.jsonl", [_row("q", [1.0, 1.2], 3, {"scans": 1})])
    slow = _jsonl(tmp_path / "b.jsonl", [_row("q", [2.0], 9, {"scans": 4})])
    for order in ([fast, slow], [slow, fast]):
        got = f3._load(order)["q"]
        assert (got["jobs"], got["facts"]) == (3, {"scans": 1})
        assert len(got["runs"]) == 3


def test_geomean_undefined_is_reported_not_raised(tmp_path, monkeypatch):
    assert f3._geomean([]) == (None, "the two sides share no queries")
    assert f3._geomean([2.0, None])[0] is None
    assert f3._geomean([2.0, 0.5]) == (1.0, None)

    prev = _jsonl(tmp_path / "p.jsonl", [_row("a", [1.0], 1, None), _row("z", [0.0], 1, None)])
    now = _jsonl(tmp_path / "n.jsonl", [_row("b", [1.0], 1, None), _row("z", [1.0], 1, None)])
    out = tmp_path / "out.json"
    monkeypatch.setattr(
        "sys.argv", ["f3", "--out", str(out), "--prev", prev, "--now", now]
    )
    f3.main()
    rec = json.loads(out.read_text())
    assert rec["geomean_ratio"] is None
    assert rec["geomean_undefined_because"] == "a zero wall leaves a ratio undefined"
    assert rec["queries"]["z"]["ratio"] is None
