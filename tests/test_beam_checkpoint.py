"""Beam loop: greedy equivalence, convergence, checkpoint/resume idempotence."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from obiemachinelearningframework_spark.fixtures import generate_corpus
from obiemachinelearningframework_spark.operators.beam import beam_fill
from obiemachinelearningframework_spark.operators.candidates import generate_candidates, propose_roots
from obiemachinelearningframework_spark.operators.filler import greedy_fill, scored_pairs
from obiemachinelearningframework_spark.operators.mentions import detect_mentions, prepare_instances
from obiemachinelearningframework_spark.operators.trainer import model_weights_df, thresholds_from_weights
from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline
from obiemachinelearningframework_spark.sources.catalog import Checkpointer


@pytest.fixture(scope="module")
def ctx(spark):
    c = generate_corpus("soccer", n_docs=40, seed=42)
    pipe = OBIEPipeline(spark, c["ontology"])
    inst = pipe.prepare(spark.createDataFrame(c["source"])).cache()
    pipe.fit(inst, spark.createDataFrame(c["gold_triples"]), spark.createDataFrame(c["splits"]))
    mentions = pipe.mentions(inst)
    roots, cands = pipe.roots_and_candidates(mentions)
    pairs = scored_pairs(roots, cands, inst, model_weights_df(spark, pipe.weights), c["ontology"]).cache()
    return {"spark": spark, "corpus": c, "pipe": pipe, "pairs": pairs}


def _key_set(df):
    return {
        (r.doc_key, r.root_id, r.slot_name, r.obj_id)
        for r in df.select("doc_key", "root_id", "slot_name", "obj_id").collect()
    }


def test_beam_equals_greedy(ctx):
    onto = ctx["corpus"]["ontology"]
    th = ctx["pipe"].thresholds
    g = greedy_fill(ctx["pairs"], onto, th)
    b = beam_fill(ctx["pairs"], onto, th)
    assert _key_set(g) == _key_set(b)


def test_checkpoint_resume_idempotent(ctx, tmp_path):
    onto = ctx["corpus"]["ontology"]
    th = ctx["pipe"].thresholds
    ck1 = Checkpointer(ctx["spark"], str(tmp_path / "run1"))
    full = beam_fill(ctx["pairs"], onto, th, checkpointer=ck1)
    full_keys = _key_set(full)

    # resume from the same checkpoint dir: every stage is already committed,
    # so no recompute happens and the result is byte-identical
    resumed = beam_fill(ctx["pairs"], onto, th, checkpointer=ck1)
    assert _key_set(resumed) == full_keys

    # lineage + manifests exist for every committed sweep
    assert ck1.exists("beam_s0")
    m = ck1.manifest("beam_s0")
    assert m["rows"] >= 0 and "schema" in m


def test_checkpointer_atomic_commit(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path / "atomic"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    assert not ck.exists("s1")
    out = ck.write("s1", df, meta={"note": "test"})
    assert ck.exists("s1")
    assert out.count() == 100
    assert ck.manifest("s1")["rows"] == 100
    again = ck.get_or_compute("s1", lambda: (_ for _ in ()).throw(AssertionError("must not recompute")))
    assert again.count() == 100


@pytest.mark.parametrize("first_commit", ["write", "in_place_commit"])
def test_checkpointer_recovers_from_crash_mid_write(spark, tmp_path, first_commit):
    """A crash AFTER the data write but BEFORE the manifest commit must
    leave the stage uncommitted: resume re-runs compute() and the
    partial output is fully replaced (manifest-last = the atomic commit
    point, the Iceberg-snapshot contract the catalog emulates)."""
    import os

    ck = Checkpointer(spark, str(tmp_path / "crash"))
    stale = spark.range(40).withColumn("v", F.lit("stale"))
    if first_commit == "write":
        ck.write("s1", stale)
    else:
        stale.write.parquet(str(tmp_path / "sink"))
        ck.commit("s1", str(tmp_path / "sink"))
    os.remove(ck._manifest("s1"))  # simulate dying before the commit
    assert not ck.exists("s1")     # partial output is NOT a committed stage
    fresh = ck.get_or_compute(
        "s1", lambda: spark.range(7).withColumn("v", F.lit("fresh"))
    )
    assert fresh.count() == 7      # recomputed, stale rows replaced
    assert ck.manifest("s1")["rows"] == 7
    assert {r.v for r in fresh.collect()} == {"fresh"}


def test_checkpointer_commits_in_place(spark, tmp_path):
    """commit() records data where it already is (the Iceberg commit
    contract): the manifest names the directory, read() follows it, and
    the checkpoint holds lineage + manifest but no copy of the data."""
    import os

    sink = str(tmp_path / "sink")
    df = spark.range(60).withColumn("part", (F.col("id") % 3).cast("string"))
    df.write.partitionBy("part").parquet(sink)

    ck = Checkpointer(spark, str(tmp_path / "ck"))
    m = ck.commit("s1", sink, partition_by=["part"], meta={"note": "test"})
    assert ck.exists("s1") and ck.manifest("s1") == m
    assert m["path"] == sink and m["rows"] == 60 and m["partition_by"] == ["part"]
    assert m["meta"] == {"note": "test"}
    assert sorted(os.listdir(tmp_path / "ck" / "s1")) == ["_MANIFEST.json", "_lineage"]
    # Spark skips "_"-prefixed paths, so the lineage is read with pyarrow
    lineage = pq.read_table(str(tmp_path / "ck" / "s1" / "_lineage")).to_pandas()
    assert lineage["rows"].sum() == 60 and set(lineage["stage"]) == {"s1"}

    back = ck.read("s1")
    assert back.count() == 60
    assert len(back.inputFiles()) == len(lineage)
    assert all(f"{sink}/part=" in f for f in back.inputFiles())
    assert ck.verify("s1", sink + "/") == 60

    with pytest.raises(RuntimeError, match="is committed at"):
        ck.verify("s1", str(tmp_path / "elsewhere"))
    df.filter("id < 30").write.mode("overwrite").partitionBy("part").parquet(sink)
    with pytest.raises(RuntimeError, match="holds 30 rows"):
        ck.verify("s1", sink)


def test_beam_recovers_from_wrong_seed(ctx):
    """Removal/replace proposals: seeded with the WRONG initializer (the
    lowest-scoring candidate per slot, OBIEState.java:263-308), the sweep
    loop must strictly-accept its way back to the greedy fixed point —
    spurious assignments are NOT permanent."""
    from obiemachinelearningframework_spark.operators.states import (
        init_state_full_correct,
        init_state_random,
        init_state_wrong,
    )

    onto = ctx["corpus"]["ontology"]
    th = ctx["pipe"].thresholds
    g = _key_set(greedy_fill(ctx["pairs"], onto, th))

    wrong = init_state_wrong(ctx["pairs"])
    assert _key_set(wrong) != g  # the seed really is a different state
    b_wrong = beam_fill(ctx["pairs"], onto, th, initial_state=wrong)
    assert _key_set(b_wrong) == g

    rnd = init_state_random(ctx["pairs"], seed=100)
    b_rnd = beam_fill(ctx["pairs"], onto, th, initial_state=rnd)
    assert _key_set(b_rnd) == g

    gold = ctx["spark"].createDataFrame(ctx["corpus"]["gold_triples"])
    fc = init_state_full_correct(ctx["pairs"], gold)
    assert _key_set(fc)  # non-empty seed
