"""``bench.py``'s output contract: three JSON lines, the summary last,
per-row CPU from the process tree and the status store, and a tail
short enough for the driver's 2000-character capture."""

from __future__ import annotations

import json

import bench

TAIL_CAPTURE = 2000


def test_perq_and_summary_fit_the_tail_capture():
    widest = {name: 999.999 for name in bench.HEADLINE}
    perq, summary = bench.tail_lines(widest, widest, len(bench.HEADLINE), 3, 0.001, 128)
    tail = json.dumps(perq) + "\n" + json.dumps(summary) + "\n"
    assert len(bench.HEADLINE) == 70
    assert len(perq["q"]) == len(perq["c"]) == 70
    assert len(tail) <= TAIL_CAPTURE, len(tail)


def test_main_reports_per_row_cpu(spark, monkeypatch, capsys):
    names = ["wordcount", "multimodal_wav_roundtrip"]
    monkeypatch.setattr(bench, "HEADLINE", names)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "1")
    bench.main()
    out = [line for line in capsys.readouterr().out.splitlines() if line.startswith("{")]
    assert len(out) == 3
    full, perq, summary = map(json.loads, out)
    assert summary["line"] == "summary"
    assert perq["line"] == "perq"
    assert "errors" not in full and summary["n_errors"] == 0
    assert list(full["rows"]) == names
    for name in names:
        row = full["rows"][name]
        assert row["cpu_s"] > 0, name
        assert row["operators.stages"] >= 1 and row["operators.tasks"] >= 1, name
    assert full["rows"]["multimodal_wav_roundtrip"]["python_cpu_s"] > 0
    assert perq["c"] == [full["rows"][n]["cpu_s"] for n in names]
    assert perq["q"] == [full["queries"][n] for n in names]
    assert summary["cpu_total"] == round(sum(perq["c"]), 3)
    assert summary["value"] == full["value"] == round(sum(perq["q"]), 3)
