"""The N vs 4N scaling harness (tools/scaling_bench.py), without a JVM:
its summary and determinism gate, its input cache and its family
table."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import scaling_bench as sb  # noqa: E402


def _result(mode, cores, wall, per_sec, completions, cold=None):
    return {"mode": mode, "cores": cores, "wall_sec": wall,
            "cold_wall_sec": cold, "per_sec": per_sec,
            "n_events": 1000, "n_completions": completions}


def test_summary_picks_min_wall_and_efficiency():
    raw = {
        ("batch", 1): [_result("batch", 1, 10.0, 100.0, 7, cold=30.0),
                       _result("batch", 1, 8.0, 125.0, 7, cold=25.0)],
        ("batch", 4): [_result("batch", 4, 2.5, 400.0, 7, cold=9.0),
                       _result("batch", 4, 3.0, 333.3, 7, cold=9.5)],
    }
    rows, void = sb.summarize(sb.FAMILIES["funnel"], raw)
    assert not void
    (row,) = rows
    assert (row["lo"], row["hi"]) == (1, 4)
    assert row["best"][1]["wall_sec"] == 8.0
    assert row["best"][4]["wall_sec"] == 2.5
    assert row["efficiency"] == pytest.approx(400.0 / 125.0 / 4)
    assert row["digests"] == [(7,)]


def test_digest_mismatch_voids_the_table_and_fails(monkeypatch, tmp_path,
                                                   capsys):
    """A digest that differs across core counts marks the table VOID and
    makes main exit non-zero; the work root is removed either way."""
    works = []

    def fake_worker(spec, work):
        works.append(work)
        os.makedirs(spec["run_dir"] + "/ckpt")
        return _result(spec["mode"], spec["cores"], 1.0, 10.0,
                       7 if spec["cores"] == 1 else 8)

    monkeypatch.setattr(sb, "input_dir", lambda *a, **k: str(tmp_path))
    monkeypatch.setattr(sb, "run_worker", fake_worker)
    rc = sb.main(["--family", "funnel", "--n", "1", "--repeats", "1",
                  "--modes", "stream", "--local-dir", str(tmp_path)])
    out = capsys.readouterr().out
    assert rc == 1
    assert "VOID" in out
    assert works and not any(os.path.exists(w) for w in works)

    monkeypatch.setattr(sb, "run_worker", lambda spec, work: _result(
        spec["mode"], spec["cores"], 1.0, 10.0, 7))
    assert sb.main(["--family", "funnel", "--n", "1", "--repeats", "1",
                    "--modes", "stream"]) == 0
    assert "VOID" not in capsys.readouterr().out


def test_failed_generator_leaves_no_marker(tmp_path):
    calls = []

    def failing(path):
        calls.append(path)
        subprocess.run([sys.executable, "-c",
                        "import os, sys; p = sys.argv[1]; os.makedirs(p); "
                        "open(os.path.join(p, 'part-0.parquet'), 'w')"
                        ".close(); sys.exit(3)", path], check=True)

    def complete(path):
        calls.append(path)
        os.makedirs(path)
        open(os.path.join(path, "part-1.parquet"), "w").close()

    with pytest.raises(subprocess.CalledProcessError):
        sb.cached_input("k", failing, root=str(tmp_path))
    assert not os.path.exists(tmp_path / "scale_input_k" / "COMPLETE")

    data = sb.cached_input("k", complete, root=str(tmp_path))
    assert len(calls) == 2
    assert os.listdir(data) == ["part-1.parquet"]
    assert sb.cached_input("k", failing, root=str(tmp_path)) == data
    assert len(calls) == 2


def test_input_key_follows_generator_and_sizes(monkeypatch):
    keys = {}
    monkeypatch.setattr(sb, "cached_input",
                        lambda key, generate, root=None: key)
    for fam in ("cep", "cep:seq", "funnel", "cdc", "cdc:local"):
        keys[fam] = sb.input_dir(fam, 100, 10)
    assert keys["cep"] == keys["cep:seq"]
    assert len({keys["cep"], keys["funnel"], keys["cdc"],
                keys["cdc:local"]}) == 4
    assert sb.input_dir("cep", 200, 10) != keys["cep"]


@pytest.mark.parametrize("name", list(sb.FAMILIES))
def test_every_family_has_a_generator_and_a_job(name):
    fam = sb.FAMILIES[name]
    inspect.signature(fam.gen).bind(None, "path", 1, 1, 1)
    inspect.signature(fam.job).bind(None)
    assert fam.modes and fam.digest and fam.events > 0
    assert set(fam.modes) <= {"stream", "batch", "delta", "icelite"}
