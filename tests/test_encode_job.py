"""``jobs/encode.py`` refuses flags its chosen mode would ignore.

Spark-free: the refusal is an argparse usage error (exit 2) raised before
the job builds a SparkSession, which the tests replace with a sentinel.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

JOB = os.path.join(os.path.dirname(__file__), os.pardir, "jobs", "encode.py")


class _SparkStarted(Exception):
    pass


class _NoSpark:
    class _Builder:
        def __getattr__(self, name):
            raise _SparkStarted(name)

    builder = _Builder()


@pytest.fixture()
def job(monkeypatch):
    spec = importlib.util.spec_from_file_location("encode_job", JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "SparkSession", _NoSpark)
    return mod


BASE = ["--input", "src.parquet", "--out", "store"]


@pytest.mark.parametrize("extra", [
    ["--buckets", "16"],
    ["--salt-col", "url"],
    ["--cluster-col", "warc_ts"],
    ["--mode", "direct", "--buckets", "4", "--cluster-col", "warc_ts"],
], ids=["buckets", "salt-col", "cluster-col", "explicit-direct"])
def test_direct_mode_refuses_shuffled_mode_flags(job, capsys, extra):
    with pytest.raises(SystemExit) as exc:
        job.main(BASE + extra)
    assert exc.value.code == 2
    err = capsys.readouterr().err
    for flag in extra[::2]:
        if flag != "--mode":
            assert flag in err, err
    assert "--mode salted" in err and "--mode clustered" in err, err


@pytest.mark.parametrize("extra", [
    [],
    ["--sort-col", "url", "--chunk-rows", "512"],
    ["--mode", "salted", "--buckets", "16", "--salt-col", "url"],
    ["--mode", "clustered", "--buckets", "8", "--cluster-col", "warc_ts"],
], ids=["direct", "direct-options", "salted", "clustered"])
def test_accepted_flags_reach_spark(job, extra):
    with pytest.raises(_SparkStarted):
        job.main(BASE + extra)
