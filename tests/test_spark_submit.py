"""End-to-end spark-submit drive of the north rule's execution mode: the
package shipped via --py-files (tools/make_pyfiles.py), train then extract
through spark_submit_job.py in SEPARATE JVMs (exactly how a cluster runs
it), triples written partitioned by (repo, lang), lineage + metrics
checkpointed, and the content-sha256 invariant asserted by the job itself.
"""

import glob
import json
import os
import subprocess
import sys

import pytest

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)


def _submit(*args: str) -> subprocess.CompletedProcess:
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", os.path.join(ROOT, "dist", "obie_spark.zip"),
        os.path.join(ROOT, "spark_submit_job.py"), *args,
    ]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    # the packaged zip must be the import source on the cluster; strip the
    # repo from PYTHONPATH so a stale zip cannot silently fall back
    env["PYTHONPATH"] = ""
    return subprocess.run(cmd, capture_output=True, text=True, timeout=900,
                          cwd="/tmp", env=env)


def test_submit_train_then_extract(spark, tmp_path):
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles import build

    build()

    from obiemachinelearningframework_spark.fixtures import generate_corpus

    c = generate_corpus("soccer", n_docs=40, seed=5)
    src_dir, gold_dir = str(tmp_path / "source"), str(tmp_path / "gold")
    spark.createDataFrame(c["source"]).write.parquet(src_dir)
    spark.createDataFrame(c["gold_triples"]).write.parquet(gold_dir)

    weights = str(tmp_path / "weights.jsonl")
    p = _submit("train", "--source", src_dir, "--gold", gold_dir,
                "--weights", weights)
    assert p.returncode == 0, p.stderr[-3000:]
    assert os.path.exists(weights)

    out = str(tmp_path / "triples")
    ck = str(tmp_path / "ck")
    p = _submit("extract", "--source", src_dir, "--weights", weights,
                "--output", out, "--checkpoint-dir", ck)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "sha256 mismatches: 0" in p.stdout

    # (repo, lang) partitioned layout on disk
    parts = glob.glob(f"{out}/repo=*/lang=*")
    assert parts, f"no partitioned output under {out}"
    # lineage manifest + metrics committed; the content digest must ride IN
    # the manifest (atomic with the stage commit) — the resume path refuses
    # a committed manifest that lacks it
    assert os.path.exists(f"{ck}/triples/_MANIFEST.json")
    man = json.load(open(f"{ck}/triples/_MANIFEST.json"))
    assert man.get("meta", {}).get("content_digest"), man
    metrics = [json.loads(l) for l in open(f"{ck}/_metrics.jsonl")]
    assert any(m.get("n_triples", 0) > 0 for m in metrics)

    # idempotent resume: a re-run against the committed manifest does no
    # extraction work and exits cleanly
    p = _submit("extract", "--source", src_dir, "--weights", weights,
                "--output", out, "--checkpoint-dir", ck)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "resume: triples stage already committed" in p.stdout


def test_submit_code_domain(spark, tmp_path):
    """The graft's target payload IS source code — drive the cluster
    entrypoint end-to-end on the code-domain fixture (Module/imports/
    calls ontology) through real spark-submit."""
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles import build

    build()

    from obiemachinelearningframework_spark.fixtures import generate_corpus

    c = generate_corpus("code", n_docs=40, seed=11)
    src_dir, gold_dir = str(tmp_path / "source"), str(tmp_path / "gold")
    spark.createDataFrame(c["source"]).write.parquet(src_dir)
    spark.createDataFrame(c["gold_triples"]).write.parquet(gold_dir)

    weights = str(tmp_path / "weights.jsonl")
    p = _submit("train", "--domain", "code", "--source", src_dir,
                "--gold", gold_dir, "--weights", weights)
    assert p.returncode == 0, p.stderr[-3000:]

    out, ck = str(tmp_path / "triples"), str(tmp_path / "ck")
    p = _submit("extract", "--domain", "code", "--source", src_dir,
                "--weights", weights, "--output", out, "--checkpoint-dir", ck)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "sha256 mismatches: 0" in p.stdout
    assert glob.glob(f"{out}/repo=*/lang=*")
    metrics = [json.loads(l) for l in open(f"{ck}/_metrics.jsonl")]
    assert any(m.get("n_triples", 0) > 0 for m in metrics)


def test_submit_incremental_equals_full(spark, tmp_path):
    """CDC mode: incremental(prev -> new) must produce EXACTLY the
    triples of a full extract over the new snapshot, while re-running
    the kernel only over the changed/new documents."""
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles import build

    build()

    from obiemachinelearningframework_spark.fixtures import generate_corpus

    c = generate_corpus("soccer", n_docs=40, seed=5)
    src = c["source"]
    prev = src.iloc[:38].copy()                       # 2 docs are new in B
    new = src.copy()
    perturbed = new.index % 5 == 0
    new.loc[perturbed, "content"] = new.loc[perturbed, "content"] + " noise"
    # one doc exists only in prev (deleted since)
    extra = src.iloc[[0]].copy()
    extra["path"] = "gone/deleted.txt"
    prev = __import__("pandas").concat([prev, extra], ignore_index=True)

    d = {k: str(tmp_path / k) for k in
         ("prev_src", "new_src", "gold", "prev_out", "inc_out", "full_out", "ck")}
    spark.createDataFrame(prev).write.parquet(d["prev_src"])
    spark.createDataFrame(new).write.parquet(d["new_src"])
    spark.createDataFrame(c["gold_triples"]).write.parquet(d["gold"])

    weights = str(tmp_path / "weights.jsonl")
    p = _submit("train", "--source", d["prev_src"], "--gold", d["gold"],
                "--weights", weights)
    assert p.returncode == 0, p.stderr[-3000:]

    p = _submit("extract", "--source", d["prev_src"], "--weights", weights,
                "--output", d["prev_out"])
    assert p.returncode == 0, p.stderr[-3000:]

    p = _submit("incremental", "--source", d["new_src"], "--weights", weights,
                "--prev-source", d["prev_src"], "--prev-triples", d["prev_out"],
                "--output", d["inc_out"], "--checkpoint-dir", d["ck"])
    assert p.returncode == 0, p.stderr[-3000:]
    n_changed = int(perturbed.sum()) + 2   # perturbed + the 2 new docs
    assert f"re-extracted {n_changed} changed docs" in p.stdout
    assert "dropped 1 deleted" in p.stdout
    # the sink is committed in place: the checkpoint holds no triples copy
    assert sorted(os.listdir(f"{d['ck']}/triples")) == ["_MANIFEST.json", "_lineage"]
    man = json.load(open(f"{d['ck']}/triples/_MANIFEST.json"))
    assert man["path"] == d["inc_out"] and man["partition_by"] == ["repo", "lang"]
    assert man["rows"] == spark.read.parquet(d["inc_out"]).count()

    # incremental shares extract's manifest-gated idempotent resume: a
    # re-run verifies the committed digest and does no CDC work
    p = _submit("incremental", "--source", d["new_src"], "--weights", weights,
                "--prev-source", d["prev_src"], "--prev-triples", d["prev_out"],
                "--output", d["inc_out"], "--checkpoint-dir", d["ck"])
    assert p.returncode == 0, p.stderr[-3000:]
    assert "resume: triples stage already committed" in p.stdout

    p = _submit("extract", "--source", d["new_src"], "--weights", weights,
                "--output", d["full_out"])
    assert p.returncode == 0, p.stderr[-3000:]

    inc = {tuple(r) for r in spark.read.parquet(d["inc_out"])
           .select("doc_key", "subj", "pred", "obj").collect()}
    full = {tuple(r) for r in spark.read.parquet(d["full_out"])
            .select("doc_key", "subj", "pred", "obj").collect()}
    assert inc == full
