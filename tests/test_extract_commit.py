"""In-process drive of spark_submit_job.main(): the extract sink is
committed in place (one copy of the triples), the sha256 invariant gates
the commit, and resume refuses a checkpoint whose committed sink is not
the ``--output`` it is asked about or no longer holds the committed rows.
main() reuses the test session through ``getOrCreate()``."""

import hashlib
import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import spark_submit_job  # noqa: E402


def _main(monkeypatch, *argv: str) -> None:
    monkeypatch.setattr(sys, "argv", ["spark_submit_job.py", *argv])
    spark_submit_job.main()


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    from obiemachinelearningframework_spark.fixtures import generate_corpus

    d = tmp_path_factory.mktemp("extract_commit")
    c = generate_corpus("soccer", n_docs=40, seed=5)
    src = c["source"].copy()
    src["sha256"] = [hashlib.sha256(t.encode()).hexdigest() for t in src["content"]]
    bad = src.copy()
    bad.loc[3, "sha256"] = "0" * 64
    paths = {k: str(d / k) for k in ("source", "bad_source", "gold")}
    spark.createDataFrame(src).write.parquet(paths["source"])
    spark.createDataFrame(bad).write.parquet(paths["bad_source"])
    spark.createDataFrame(c["gold_triples"]).write.parquet(paths["gold"])
    paths["weights"] = str(d / "weights.jsonl")
    mp = pytest.MonkeyPatch()
    try:
        _main(mp, "train", "--source", paths["source"], "--gold", paths["gold"],
              "--weights", paths["weights"])
    finally:
        mp.undo()
    return paths


def test_required_arguments_exit_with_usage(monkeypatch, tmp_path):
    with pytest.raises(SystemExit):
        _main(monkeypatch, "extract", "--source", str(tmp_path), "--weights", "w")
    with pytest.raises(SystemExit):
        _main(monkeypatch, "incremental", "--source", str(tmp_path), "--weights", "w",
              "--output", str(tmp_path / "out"))


def test_sha256_mismatch_fails_without_manifest(job, monkeypatch, tmp_path):
    ck = tmp_path / "ck"
    with pytest.raises(RuntimeError, match="1 rows failed the content sha256"):
        _main(monkeypatch, "extract", "--source", job["bad_source"],
              "--weights", job["weights"], "--output", str(tmp_path / "out"),
              "--checkpoint-dir", str(ck))
    assert not (ck / "triples" / "_MANIFEST.json").exists()


def test_extract_commits_sink_in_place_and_resume_checks_it(spark, job, monkeypatch,
                                                             tmp_path, capsys):
    out, ck = str(tmp_path / "out"), tmp_path / "ck"
    args = ("extract", "--source", job["source"], "--weights", job["weights"],
            "--checkpoint-dir", str(ck))
    _main(monkeypatch, *args, "--output", out)
    assert "sha256 mismatches: 0" in capsys.readouterr().out

    # one copy of the triples: the checkpoint records the sink, never copies it
    assert sorted(os.listdir(ck / "triples")) == ["_MANIFEST.json", "_lineage"]
    man = json.loads((ck / "triples" / "_MANIFEST.json").read_text())
    assert man["path"] == out and man["partition_by"] == ["repo", "lang"]
    metrics = [json.loads(line) for line in open(ck / "_metrics.jsonl")]
    n = spark.read.parquet(out).count()
    assert n > 0 and man["rows"] == metrics[-1]["n_triples"] == n

    _main(monkeypatch, *args, "--output", out)
    assert f"resume: triples stage already committed ({n} rows)" in capsys.readouterr().out

    with pytest.raises(RuntimeError, match="is committed at"):
        _main(monkeypatch, *args, "--output", str(tmp_path / "other"))

    # a manifest that records no data path is refused like one without a digest
    no_path = dict(man)
    del no_path["path"]
    (ck / "triples" / "_MANIFEST.json").write_text(json.dumps(no_path))
    with pytest.raises(RuntimeError, match="records no data path"):
        _main(monkeypatch, *args, "--output", out)
    (ck / "triples" / "_MANIFEST.json").write_text(json.dumps(man))

    shutil.rmtree(out)
    with pytest.raises(RuntimeError, match="can no longer be read"):
        _main(monkeypatch, *args, "--output", out)
