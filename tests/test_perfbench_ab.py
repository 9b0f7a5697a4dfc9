"""scripts/perfbench_ab.py: seed parsing, interleaved pair order, win
counting by each metric's direction, and the non-zero exit on an
incorrect run. ``_run`` is replaced, so no checkout is benchmarked."""

import importlib.util
import json
import os
import sys

import pytest

_PATH = os.path.join(os.path.dirname(__file__), "..", "scripts", "perfbench_ab.py")
_spec = importlib.util.spec_from_file_location("perfbench_ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [("docs_per_s", "higher"), ("cpu_ms_per_doc", "lower")]


def _checkout(tmp_path, name):
    root = tmp_path / name
    root.mkdir()
    bench = {
        "run_seconds": 1,
        "end_to_end": [{"name": n, "better": b} for n, b in METRICS],
    }
    (root / "BENCHMARK.json").write_text(json.dumps(bench))
    return str(root)


def _main(monkeypatch, base, change, seeds, fake_run):
    monkeypatch.setattr(ab, "_run", fake_run)
    argv = ["perfbench_ab.py", base, change, "--workload", "w", "--seeds", seeds]
    monkeypatch.setattr(sys, "argv", argv)
    ab.main()


def _result(docs_per_s, cpu_ms_per_doc, correct=True):
    return {
        "correct": correct,
        "metrics": {
            "docs_per_s": {"value": docs_per_s},
            "cpu_ms_per_doc": {"value": cpu_ms_per_doc},
        },
    }


def test_seeds_parses_ranges_and_singles():
    assert ab._seeds("11-13,15") == [11, 12, 13, 15]


def test_pairs_alternate_which_side_runs_first(tmp_path, monkeypatch):
    base, change = _checkout(tmp_path, "base"), _checkout(tmp_path, "change")
    calls = []

    def fake_run(root, workload, seed, seconds):
        calls.append((seed, "base" if root == base else "change"))
        return _result(1.0, 1.0)

    _main(monkeypatch, base, change, "1-4", fake_run)
    assert calls == [
        (1, "base"), (1, "change"),
        (2, "change"), (2, "base"),
        (3, "base"), (3, "change"),
        (4, "change"), (4, "base"),
    ]


def test_wins_follow_better_direction_and_ties_count_for_neither(
    tmp_path, monkeypatch, capsys
):
    base, change = _checkout(tmp_path, "base"), _checkout(tmp_path, "change")
    # seeds 1-2: the change has more docs/s (a win) and more cpu ms/doc
    # (a loss, lower is better); seed 3 ties on both
    change_values = {1: (110.0, 12.0), 2: (120.0, 11.0), 3: (100.0, 10.0)}

    def fake_run(root, workload, seed, seconds):
        return _result(100.0, 10.0) if root == base else _result(*change_values[seed])

    _main(monkeypatch, base, change, "1-3", fake_run)
    summary = capsys.readouterr().out.split("\n\n", 1)[1].splitlines()
    wins = {line.split()[0]: line.split()[-1] for line in summary[1:] if line.strip()}
    assert wins == {"docs_per_s": "2/3", "cpu_ms_per_doc": "0/3"}


def test_incorrect_run_exits_non_zero(tmp_path, monkeypatch):
    base, change = _checkout(tmp_path, "base"), _checkout(tmp_path, "change")

    def fake_run(root, workload, seed, seconds):
        return _result(1.0, 1.0, correct=not (root == change and seed == 2))

    with pytest.raises(SystemExit) as exc:
        _main(monkeypatch, base, change, "1-3", fake_run)
    assert exc.value.code not in (0, None)
