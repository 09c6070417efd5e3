"""bench.py output contract: the stdout JSON line and the persisted
bench_out.json must parse identical (VERDICT r15 #2 — a truncated
stdout capture cost round 15 its round-over-round comparison; the file
is the loss-proof copy of the same record)."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def test_emit_result_file_matches_stdout(tmp_path, capsys):
    payload = {
        "metric": "headline_total",
        "value": 12.345,
        "unit": "sec",
        "baseline_subset_total": 3.21,
        "baseline_subset_n": 15,
        "queries": {"q1_pricing_summary": 1.0, "x2_minhash_lsh_dedup": 2.0},
        "sf": 0.1,
    }
    out = tmp_path / "bench_out.json"
    line = bench.emit_result(payload, out_path=str(out))
    printed = capsys.readouterr().out.strip()
    assert printed == line
    assert json.loads(printed) == payload
    assert json.loads(out.read_text()) == payload


def test_emit_result_survives_unwritable_path(capsys):
    # the file write is belt-and-braces: an unwritable path must not
    # break the stdout contract
    payload = {"metric": "headline_total", "value": 1.0, "queries": {}}
    line = bench.emit_result(
        payload, out_path="/nonexistent-dir/nope/bench_out.json"
    )
    cap = capsys.readouterr()
    assert json.loads(cap.out.strip()) == payload
    assert json.loads(line) == payload
    assert "bench_out write failed" in cap.err


def test_run_fields_record_resolved_cpus_and_master():
    # the bench record names the parallelism and master it ran with,
    # so results from differently-sized runs cannot be compared
    # unknowingly; new keys only, beside the existing contract
    from types import SimpleNamespace

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=4, master="local[4]")
    )
    assert bench.run_fields(spark) == {"cpus": 4, "master": "local[4]"}


def test_run_fields_extend_the_record_without_changing_it(tmp_path, capsys):
    from types import SimpleNamespace

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=8, master="local[*]")
    )
    base = {"metric": "headline_total", "value": 1.5, "unit": "sec",
            "queries": {"q1_pricing_summary": 1.5}, "sf": 0.1}
    line = bench.emit_result({**base, **bench.run_fields(spark)},
                             out_path=str(tmp_path / "o.json"))
    rec = json.loads(line)
    assert {k: rec[k] for k in base} == base
    assert (rec["cpus"], rec["master"]) == (8, "local[*]")
    assert len(capsys.readouterr().out.strip().splitlines()) == 1
