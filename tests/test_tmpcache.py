"""The write-once temp-dir cache every fixture and expected table is
built through (sqlondataframesr_spark/tmpcache.py)."""

from __future__ import annotations

import os
import re

from sqlondataframesr_spark.tmpcache import cache_dir, write_once


def test_cache_dir_is_a_pure_keyed_path(tmp_path, monkeypatch):
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    d = cache_dir("blobs", "source", 64)
    assert re.fullmatch(r"sqlondataframesr_blobs_[0-9a-f]{12}", os.path.basename(d))
    assert os.path.dirname(d) == str(tmp_path)
    assert cache_dir("blobs", "source", 64) == d != cache_dir("blobs", "source", 65)
    assert os.listdir(tmp_path) == []  # naming a cache touches nothing


def test_write_once_returns_an_existing_dir_without_building(tmp_path):
    d = tmp_path / "built"
    d.mkdir()

    def build(stage):
        raise AssertionError("rebuilt a published directory")

    assert write_once(str(d), build) == str(d)


def test_write_once_loser_removes_its_stage(tmp_path):
    """Another process publishes while this one builds: this rename
    fails, the winner's files stay and this stage is removed."""
    d = tmp_path / "built"

    def build(stage):
        with open(os.path.join(stage, "mine"), "w") as f:
            f.write("loser")
        d.mkdir()  # the winner's rename lands first
        (d / "theirs").write_text("winner")

    assert write_once(str(d), build) == str(d)
    assert os.listdir(d) == ["theirs"]
    assert os.listdir(tmp_path) == ["built"]  # no .stage.<pid> left


def test_write_once_publishes_the_built_stage(tmp_path):
    d = tmp_path / "built"
    write_once(str(d), lambda stage: open(os.path.join(stage, "f"), "w").close())
    assert os.listdir(d) == ["f"]
    assert os.listdir(tmp_path) == ["built"]
