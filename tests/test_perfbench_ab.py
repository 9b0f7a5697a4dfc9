"""scripts/perfbench_ab.py: seed parsing, interleaved pair order, win
counting by each metric's direction, the claim-rule verdict, and the
non-zero exit on an incorrect run. ``_run`` is replaced, so no checkout is benchmarked."""

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


def _verdicts(capsys):
    summary = capsys.readouterr().out.split("\n\n", 1)[1].splitlines()
    return {line.split()[0]: line.split()[-2] for line in summary[1:] if line.strip()}


def test_verdict_resolves_a_gain_won_in_9_of_10_pairs_beyond_the_base_iqr(
    tmp_path, monkeypatch, capsys
):
    base, change = _checkout(tmp_path, "base"), _checkout(tmp_path, "change")
    # base docs/s 100..109 (IQR 4.5); the change is 20 faster in 9 pairs and
    # 1 slower in one: median gap ~+20 > 4.5. cpu ms/doc ties everywhere.
    def fake_run(root, workload, seed, seconds):
        b = 100.0 + seed
        if root == base:
            return _result(b, 10.0)
        return _result(b - 1 if seed == 3 else b + 20, 10.0)

    _main(monkeypatch, base, change, "0-9", fake_run)
    assert _verdicts(capsys) == {"docs_per_s": "resolved", "cpu_ms_per_doc": "unresolved"}
    wins, gap, iqr, resolved = ab._verdict([100.0 + s for s in range(10)],
                                            [120.0 + s for s in range(10)], "higher")
    assert (wins, gap, iqr, resolved) == (10, 20.0, 4.5, True)


def test_verdict_unresolved_when_the_gap_is_inside_the_base_iqr_or_wins_fall_short(
    tmp_path, monkeypatch, capsys
):
    base, change = _checkout(tmp_path, "base"), _checkout(tmp_path, "change")
    # docs/s: the change wins all 10 pairs, but by 2 against a base IQR of
    # 45; cpu ms/doc (lower is better): 5 lower by far, 8 of 10 pairs only
    def fake_run(root, workload, seed, seconds):
        b = 100.0 + 10 * seed
        if root == base:
            return _result(b, 10.0)
        return _result(b + 2, 10.0 if seed < 2 else 5.0)

    _main(monkeypatch, base, change, "0-9", fake_run)
    assert _verdicts(capsys) == {"docs_per_s": "unresolved", "cpu_ms_per_doc": "unresolved"}
    assert ab._verdict([10.0] * 10, [10.0] * 2 + [5.0] * 8, "lower") == (8, 5.0, 0.0, False)
    assert ab._verdict([10.0] * 10, [10.0] + [5.0] * 9, "lower") == (9, 5.0, 0.0, True)
