"""tools/stream_soak.py scratch-directory choice, without Spark: the soak
may create and remove only its own ``soak_<tag>`` subdirectory."""

import importlib.util
import os

from conftest import REPO_ROOT


def _soak_module():
    spec = importlib.util.spec_from_file_location(
        "stream_soak", os.path.join(REPO_ROOT, "tools", "stream_soak.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_soak_dir_is_a_subdirectory_and_the_work_dir_survives(tmp_path, monkeypatch):
    soak = _soak_module()
    (tmp_path / "sentinel.txt").write_text("keep me")
    stale = tmp_path / "soak_t" / "ckpt_append"
    stale.mkdir(parents=True)
    (stale / "offset").write_text("old run")

    work, result = soak.prepare_soak_dir(str(tmp_path), "t")
    assert work == str(tmp_path / "soak_t") and os.listdir(work) == []
    assert result == str(tmp_path / "stream_soak_t.json")
    assert (tmp_path / "sentinel.txt").read_text() == "keep me"

    # `--work-dir .` from inside a directory that holds other files
    monkeypatch.chdir(tmp_path)
    work, result = soak.prepare_soak_dir(".", "t")
    assert os.path.abspath(work) == str(tmp_path / "soak_t")
    assert os.path.dirname(os.path.abspath(result)) == str(tmp_path)
    assert (tmp_path / "sentinel.txt").read_text() == "keep me"


def test_soak_default_dirs_stay_under_benchdata_and_sweeps(monkeypatch, tmp_path):
    soak = _soak_module()
    monkeypatch.setattr(soak, "REPO", str(tmp_path))
    work, result = soak.prepare_soak_dir("", "t")
    assert work == str(tmp_path / ".benchdata" / "soak_t")
    assert result == str(tmp_path / "sweeps" / "stream_soak_t.json")
