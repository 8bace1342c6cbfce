"""The three benchmark workloads and the calls they make into the program.

Every workload runs in one warm SparkSession and drives the program through
its public entry points only: the ``train`` / ``extract`` / ``incremental``
modes of ``spark_submit_job.main()``, ``OBIEPipeline`` and
``operators.evaluator``. Inputs are generated from the seed by
``fixtures.generate_corpus`` and written as parquet before the session
starts; the program only ever sees those files.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

# (n_docs, ...) per size; "tiny" is the self-check size
SIZES = {
    "bulk_extract": {"full": {"n_docs": 1500, "parity_docs": 24},
                     "tiny": {"n_docs": 60, "parity_docs": 8}},
    "incremental_crawl": {"full": {"n_docs": 2000}, "tiny": {"n_docs": 100}},
    "train_eval": {"full": {"n_docs": 240, "n_train": 40},
                   "tiny": {"n_docs": 80, "n_train": 40}},
}
MODEL_SAMPLE = {"full": 200, "tiny": 40}  # fixed training sample, extract workloads
MODEL_SEED = 7                            # ... drawn independently of --seed
PARITY_SEED = 8                           # fixed parity sample appended to bulk_extract
CHURN = {"changed": 0.05, "new": 0.02, "deleted": 0.01}
LATENCY_DOCS = 1000                       # per-document latency sample (traced run)
QUALITY_FLOOR = 0.95                      # BASELINE.json's P/R floor; below it an op fails
N_FILES = 8                               # parquet files per input table
LATENCY_PARITY_DOCS = 50                  # docs the latency mirror is checked on


def tree_hash(root: str, rels) -> str:
    """Digest of the program sources a cached artifact was derived from."""
    h = hashlib.sha256()
    for rel in rels:
        for p in sorted(glob.glob(os.path.join(root, rel), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def write_table(pdf: pd.DataFrame, path: str) -> None:
    """pandas -> parquet directory of N_FILES files (no Spark involved)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), N_FILES)):
        part = pdf.iloc[chunk].reset_index(drop=True)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       f"{tmp}/part-{i:05d}.parquet")
    os.replace(tmp, path)


def with_sha(source: pd.DataFrame) -> pd.DataFrame:
    """The crawler's stored content hash, checked by the job's invariant."""
    return source.assign(
        sha256=[hashlib.sha256(c.encode()).hexdigest() for c in source.content])


def doc_keys(source: pd.DataFrame) -> pd.Series:
    return source.repo + "/" + source.path + "@" + source.commit.str[:8]


def run_cli(*argv: str) -> None:
    """spark_submit_job.main() in-process. What it prints is dropped: the
    benchmark's own result must stay the last line of stdout."""
    import spark_submit_job

    old = sys.argv
    sys.argv = ["spark_submit_job.py", *argv]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            spark_submit_job.main()
    finally:
        sys.argv = old


def triple_set(spark, path: str) -> set:
    return {tuple(r) for r in
            spark.read.parquet(path).select("doc_key", "subj", "pred", "obj").collect()}


def sink_layout(path: str) -> dict:
    """Files, bytes and the largest (repo, lang) partition's byte share."""
    per_part: dict = {}
    files = 0
    for p in glob.glob(f"{path}/repo=*/lang=*/*.parquet"):
        files += 1
        key = os.path.dirname(p)
        per_part[key] = per_part.get(key, 0) + os.path.getsize(p)
    total = sum(per_part.values())
    return {"files": files, "bytes": total,
            "max_partition_share": max(per_part.values()) / total if total else 0.0}


def prf(pred: set, gold: set) -> tuple:
    tp = len(pred & gold)
    return (tp / len(pred) if pred else 1.0), (tp / len(gold) if gold else 1.0)


def below_floor(quality: tuple) -> bool:
    return min(quality) < QUALITY_FLOOR


class OpFailed(Exception):
    pass


class Workload:
    """One workload: inputs (untimed), set-up, the timed operation, and the
    output checks (untimed)."""

    name = ""
    domain = ""
    uses_model = True  # extract workloads read a model trained beforehand

    def __init__(self, bench, seed: int, size: str):
        self.bench = bench
        self.seed = seed % 2**32  # numpy RandomState seeds are 32-bit
        self.size = size
        self.cfg = SIZES[self.name][size]
        self.ref_triples = None  # per-op invariants set at warm-up
        self.outputs: list = []  # sinks of the timed operations
        self.quality = (0.0, 0.0)
        self.tree_f1 = 0.0

    @property
    def spark(self):
        return self.bench.spark

    def ontology(self):
        from obiemachinelearningframework_spark.fixtures import (
            code_ontology, disease_ontology, soccer_ontology)

        return {"soccer": soccer_ontology, "disease": disease_ontology,
                "code": code_ontology}[self.domain]()

    def cached(self, kind: str, key: dict, build) -> str:
        """A directory under the cache, built once per key by build(dir)."""
        digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
        d = os.path.join(self.bench.cache_dir, f"{kind}-{digest}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            build(d)
            open(os.path.join(d, "_DONE"), "w").close()
        return d

    def model(self) -> str:
        """Weights trained by CLI ``train`` on a fixed sample; cached per
        program version (training cost is train_eval's measurement)."""
        n = MODEL_SAMPLE[self.size]
        key = {"model": self.domain, "n": n, "seed": MODEL_SEED,
               "code": self.bench.code_hash}

        def build(d):
            from obiemachinelearningframework_spark.fixtures import generate_corpus

            c = generate_corpus(self.domain, n, MODEL_SEED)
            write_table(with_sha(c["source"]), f"{d}/source")
            write_table(c["gold_triples"], f"{d}/gold")
            run_cli("train", "--domain", self.domain, "--source", f"{d}/source",
                    "--gold", f"{d}/gold", "--weights", f"{d}/weights.jsonl")

        return os.path.join(self.cached("model", key, build), "weights.jsonl")

    def setup(self):
        """Untimed-op preparation inside the session (part of setup_s)."""

    # subclasses define make_inputs(), warm_up(), op(), check_after()


def sha_ok(spark, ck: str) -> dict:
    """The job's own metrics record; raises if it reports a sha mismatch."""
    from obiemachinelearningframework_spark.sources.catalog import Checkpointer

    rec = Checkpointer(spark, ck).stage_metrics("triples")
    if rec.get("sha256_mismatches", -1) != 0:
        raise OpFailed(f"job metrics report sha256 mismatches: {rec}")
    return rec


def parity_sample(domain: str, n: int) -> tuple:
    """The fixed parity sample: n docs from PARITY_SEED under a ``parity/``
    path prefix, so their doc_keys never collide with the seeded corpus."""
    from obiemachinelearningframework_spark.fixtures import generate_corpus

    c = generate_corpus(domain, n, PARITY_SEED)
    src = c["source"].assign(path="parity/" + c["source"].path)
    rename = dict(zip(doc_keys(c["source"]), doc_keys(src)))
    gold = c["gold_triples"].assign(doc_key=c["gold_triples"].doc_key.map(rename))
    return src, gold


class BulkExtract(Workload):
    """Code domain; each operation is CLI ``extract`` over the whole corpus:
    the seeded docs plus the fixed parity sample."""

    name = "bulk_extract"
    domain = "code"

    def make_inputs(self):
        n, n_par = self.cfg["n_docs"], self.cfg["parity_docs"]
        key = {"w": self.name, "n": n, "parity": n_par, "seed": self.seed,
               "code": self.bench.corpus_hash}

        def build(d):
            from obiemachinelearningframework_spark.fixtures import generate_corpus

            c = generate_corpus(self.domain, n - n_par, self.seed)
            par_src, par_gold = parity_sample(self.domain, n_par)
            write_table(with_sha(pd.concat([c["source"], par_src], ignore_index=True)),
                        f"{d}/source")
            write_table(pd.concat([c["gold_triples"], par_gold], ignore_index=True),
                        f"{d}/gold")

        self.inputs = self.cached("corpus", key, build)
        self.docs_per_op = n

    def warm_up(self):
        # two: after one, operations still got faster run by run (JIT)
        for _ in range(2):
            self.ref_triples = self.op()["triples"]

    def op(self):
        out, ck = self.bench.fresh_dir("out"), self.bench.fresh_dir("ck")
        run_cli("extract", "--domain", self.domain, "--source", f"{self.inputs}/source",
                "--weights", self.weights, "--output", out, "--checkpoint-dir", ck)
        rec = sha_ok(self.spark, ck)
        if self.ref_triples is not None and rec["n_triples"] != self.ref_triples:
            raise OpFailed(f"{rec['n_triples']} triples, warm-up wrote {self.ref_triples}")
        self.outputs.append(out)
        return {"docs": self.docs_per_op, "triples": rec["n_triples"], "output": out,
                "reextracted": self.docs_per_op, **sink_layout(out)}

    def relational_reference(self) -> tuple:
        """(doc_keys, triples) of the parity sample under relational
        predict(), computed once per program version: a doc's fused triples
        depend only on the doc and the model, so the reference holds in
        every corpus the sample is appended to."""
        n_par = self.cfg["parity_docs"]
        key = {"parity": self.domain, "n": n_par, "seed": PARITY_SEED,
               "model": self.weights, "code": self.bench.code_hash}

        def build(d):
            from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline

            pipe = OBIEPipeline(self.spark, self.ontology()).load_weights(self.weights)
            src = parity_sample(self.domain, n_par)[0]
            rel = pipe.predict(pipe.prepare(self.spark.createDataFrame(src)))["triples"]
            rows = sorted(tuple(r) for r in
                          rel.select("doc_key", "subj", "pred", "obj").collect())
            pipe.release_caches()
            with open(f"{d}/reference.json", "w") as f:
                json.dump({"doc_keys": sorted(doc_keys(src)), "triples": rows}, f)

        with open(f"{self.cached('parity', key, build)}/reference.json") as f:
            ref = json.load(f)
        return set(ref["doc_keys"]), {tuple(r) for r in ref["triples"]}

    def check_after(self) -> list:
        """Every operation's sink: parity-sample triples == relational
        predict() on the sample, and P/R vs all-doc gold at least
        QUALITY_FLOOR. The reported quality is the last sink's."""
        if not self.outputs:
            return ["no operation produced output"]
        spark = self.spark
        keys, ref = self.relational_reference()
        gold = triple_set(spark, f"{self.inputs}/gold")
        bad = []
        for out in self.outputs:
            sink = triple_set(spark, out)
            got = {t for t in sink if t[0] in keys}
            if got != ref or not ref:
                bad.append(f"parity {out}: sink-only={sorted(got - ref)[:3]} "
                           f"relational-only={sorted(ref - got)[:3]}")
            self.quality = prf(sink, gold)
            if below_floor(self.quality):
                bad.append(f"{out}: P/R {self.quality} below {QUALITY_FLOOR}")
        return bad

    def latency_reference(self) -> tuple:
        contents = parity_sample(self.domain, self.cfg["parity_docs"])[0]
        return contents, self.relational_reference()[1]


class IncrementalCrawl(Workload):
    """Soccer domain; each operation is CLI ``incremental`` from an
    extracted base snapshot to a new snapshot with seeded churn."""

    name = "incremental_crawl"
    domain = "soccer"

    def make_inputs(self):
        n = self.cfg["n_docs"]
        key = {"w": self.name, "n": n, "seed": self.seed, "churn": CHURN,
               "code": self.bench.corpus_hash}

        def build(d):
            from obiemachinelearningframework_spark.fixtures import generate_corpus

            n_new = max(1, round(n * CHURN["new"]))
            c = generate_corpus(self.domain, n + n_new, self.seed)
            src = c["source"]
            base = src.iloc[:n].reset_index(drop=True)
            rng = np.random.RandomState([self.seed, 1])
            pick = rng.permutation(n)
            n_del = max(1, round(n * CHURN["deleted"]))
            n_chg = max(1, round(n * CHURN["changed"]))
            deleted, changed = pick[:n_del], pick[n_del:n_del + n_chg]
            new = base.copy()
            new.loc[changed, "content"] = new.loc[changed, "content"] + " noise"
            new = pd.concat([new.drop(index=deleted), src.iloc[n:]], ignore_index=True)
            keys = set(doc_keys(new))
            gold = c["gold_triples"]
            write_table(with_sha(base), f"{d}/prev")
            write_table(with_sha(new), f"{d}/new")
            write_table(gold[gold.doc_key.isin(keys)], f"{d}/gold")
            with open(f"{d}/churn.json", "w") as f:
                json.dump({"docs": len(new), "reextract": n_chg + n_new,
                           "deleted": n_del}, f)

        self.inputs = self.cached("corpus", key, build)
        with open(f"{self.inputs}/churn.json") as f:
            self.churn = json.load(f)
        self.docs_per_op = self.churn["docs"]

    def setup(self):
        self.prev_out = self.bench.fresh_dir("prev")
        run_cli("extract", "--domain", self.domain, "--source", f"{self.inputs}/prev",
                "--weights", self.weights, "--output", self.prev_out)

    def warm_up(self):
        # the reference output: a full extract of the new snapshot
        self.full_out = self.bench.fresh_dir("full")
        run_cli("extract", "--domain", self.domain, "--source", f"{self.inputs}/new",
                "--weights", self.weights, "--output", self.full_out)
        self.op()

    def op(self):
        out, ck = self.bench.fresh_dir("out"), self.bench.fresh_dir("ck")
        run_cli("incremental", "--domain", self.domain, "--source", f"{self.inputs}/new",
                "--weights", self.weights, "--prev-source", f"{self.inputs}/prev",
                "--prev-triples", self.prev_out, "--output", out, "--checkpoint-dir", ck)
        rec = sha_ok(self.spark, ck)
        if (rec["n_changed"], rec["n_deleted"]) != (self.churn["reextract"],
                                                   self.churn["deleted"]):
            raise OpFailed(f"CDC saw {rec}, inputs have {self.churn}")
        self.outputs.append(out)
        return {"docs": self.docs_per_op, "triples": rec["n_triples"], "output": out,
                "reextracted": rec["n_changed"], **sink_layout(out)}

    def check_after(self) -> list:
        """Every operation's output == the full extract of the new snapshot,
        whose P/R is at least QUALITY_FLOOR."""
        if not self.outputs:
            return ["no operation produced output"]
        spark = self.spark
        full = triple_set(spark, self.full_out)
        self.quality = prf(full, triple_set(spark, f"{self.inputs}/gold"))
        bad = []
        if below_floor(self.quality):
            bad.append(f"full extract: P/R {self.quality} below {QUALITY_FLOOR}")
        for out in self.outputs:
            got = triple_set(spark, out)
            if got != full or not full:
                bad.append(f"{out}: {len(got - full)} extra, {len(full - got)} missing")
        return bad

    def latency_reference(self) -> tuple:
        src = pd.read_parquet(f"{self.inputs}/new").iloc[:LATENCY_PARITY_DOCS]
        keys = set(doc_keys(src))
        full = triple_set(self.spark, self.full_out)
        return src, {t for t in full if t[0] in keys}


class TrainEval(Workload):
    """Disease domain; each operation is CLI ``train`` on a fixed sample,
    then load_weights -> relational predict -> triple_prf + tree_prf on the
    held-out documents."""

    name = "train_eval"
    domain = "disease"
    uses_model = False

    def make_inputs(self):
        n, n_train = self.cfg["n_docs"], self.cfg["n_train"]
        key = {"w": self.name, "n": n, "t": n_train, "seed": self.seed,
               "code": self.bench.corpus_hash}

        def build(d):
            from obiemachinelearningframework_spark.fixtures import generate_corpus

            c = generate_corpus(self.domain, n, self.seed)
            src = c["source"]
            keys = doc_keys(src)
            train_keys, held_keys = set(keys[:n_train]), set(keys[n_train:])
            gt, gn = c["gold_triples"], c["gold_nodes"]
            write_table(with_sha(src.iloc[:n_train]), f"{d}/train_source")
            write_table(gt[gt.doc_key.isin(train_keys)], f"{d}/train_gold")
            write_table(with_sha(src.iloc[n_train:]), f"{d}/held_source")
            write_table(gt[gt.doc_key.isin(held_keys)], f"{d}/held_gold")
            write_table(gn[gn.doc_key.isin(held_keys)], f"{d}/held_nodes")

        self.inputs = self.cached("corpus", key, build)
        self.docs_per_op = n

    first = None  # the warm-up cycle's signature

    def warm_up(self):
        out = self.op()
        self.first = out["signature"]
        self.weights = out["weights"]

    def op(self):
        from obiemachinelearningframework_spark.operators import evaluator, states
        from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline

        spark, d = self.spark, self.inputs
        model_dir = self.bench.fresh_dir("model")
        os.makedirs(model_dir)
        weights = os.path.join(model_dir, "weights.jsonl")
        t0 = time.perf_counter()
        run_cli("train", "--domain", self.domain, "--source", f"{d}/train_source",
                "--gold", f"{d}/train_gold", "--weights", weights)
        t1 = time.perf_counter()
        onto = self.ontology()
        pipe = OBIEPipeline(spark, onto).load_weights(weights)
        out = pipe.predict(pipe.prepare(spark.read.parquet(f"{d}/held_source")))
        triples = out["triples"].cache()
        assignments = out["assignments"].cache()
        gold = spark.read.parquet(f"{d}/held_gold")
        m = evaluator.triple_prf(triples, gold)
        nodes = states.assignments_to_nodes(assignments, onto)
        tm = evaluator.micro_prf(
            evaluator.tree_prf(nodes, spark.read.parquet(f"{d}/held_nodes"), onto))
        pipe.release_caches()
        n_gold = gold.count()
        if m["tp"] + m["fn"] != n_gold or m["tp"] + m["fp"] == 0:
            raise OpFailed(f"evaluation counts inconsistent: {m}, gold={n_gold}")
        if below_floor((m["precision"], m["recall"])):
            raise OpFailed(f"P/R below {QUALITY_FLOOR}: {m}")
        with open(weights, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        sig = (digest, m["tp"], m["fp"], m["fn"], tm["tp"], tm["fp"], tm["fn"])
        if self.first is not None and sig != self.first:
            raise OpFailed(f"cycle differs from warm-up: {sig} != {self.first}")
        self.quality = (m["precision"], m["recall"])
        self.tree_f1 = tm["f1"]
        return {"docs": self.docs_per_op, "triples": m["tp"] + m["fp"], "signature": sig,
                "weights": weights, "train_s": t1 - t0, "eval_s": time.perf_counter() - t1}

    def check_after(self) -> list:
        return []

    def latency_reference(self):
        return None


WORKLOADS = {w.name: w for w in (BulkExtract, IncrementalCrawl, TrainEval)}


def layer_targets(tracer):
    """(owner, attr, span, force, counter) for every public call the traced
    run wraps. Functions a plan imports by name are patched where they are
    looked up."""
    from obiemachinelearningframework_spark.operators import (
        evaluator, filler, fused, linking, states, triples)
    from obiemachinelearningframework_spark.plans import pipeline
    from obiemachinelearningframework_spark.sources.catalog import Checkpointer

    import spark_submit_job
    from tracing import force_df, force_sized

    P = pipeline
    return [
        (spark_submit_job, "main", "cli", None, None),
        (fused, "unknown_vocabulary_df", "fused.vocab_scan", force_df, "fused.vocab_size"),
        (fused, "py_link_map", "fused.link_map", force_sized, "fused.links"),
        (fused, "extract_fused", "fused.kernel", force_df, None),
        (triples, "write_triples", "triples.write", None, None),
        (Checkpointer, "write", "catalog.commit", None, None),
        (Checkpointer, "log_metrics", "catalog.commit", None, None),
        (P, "detect_mentions", "mentions.detect", force_df, None),
        (linking, "link_map_auto", "linking.link_map", force_df, None),
        (P, "propose_roots", "candidates", force_df, None),
        (P, "generate_candidates", "candidates", force_df, None),
        (P, "build_pairs", "features.pairs", force_df, "features.pairs"),
        (filler, "build_pairs", "features.pairs", force_df, "features.pairs"),
        (P, "compute_features", "features.compute", force_df, None),
        (filler, "compute_features", "features.compute", force_df, None),
        (P, "label_pairs", "trainer.fit", force_df, None),
        (P, "train_weights", "trainer.fit", None, None),
        (P, "scored_pairs", "filler.score_fill", force_df, None),
        (P, "greedy_fill", "filler.score_fill", force_df, None),
        (P, "materialize_triples", "triples.materialize", force_df, None),
        (P.OBIEPipeline, "fit", "pipeline.fit", None, None),
        (P.OBIEPipeline, "predict", "pipeline.predict", None, None),
        (P.OBIEPipeline, "predict_fused", "pipeline.predict_fused", None, None),
        (states, "assignments_to_nodes", "evaluator.tree_prf", force_df, None),
        (evaluator, "triple_prf", "evaluator.triple_prf", None, None),
        (evaluator, "tree_prf", "evaluator.tree_prf", force_df, None),
        (evaluator, "micro_prf", "evaluator.tree_prf", None, None),
    ]


def doc_latency(workload) -> tuple:
    """extract_document / match_document per call, in-process on a fixed
    sample of LATENCY_DOCS documents of the workload's corpus. The kernel's
    inputs are prepared here the way extract_fused prepares them; before
    timing, that preparation is checked by running extract_document over
    the workload's reference documents (where it has some) and comparing
    with the reference triples. Returns (latencies, check failures)."""
    from obiemachinelearningframework_spark.functions.patterns import compile_pattern_table
    from obiemachinelearningframework_spark.operators import fused
    from obiemachinelearningframework_spark.operators.mentions import (
        compile_patterns, dictionary_token_set, linkable_span_band, match_document)
    from obiemachinelearningframework_spark.operators.trainer import (
        HASHED_DIM_FEATURE, THRESHOLD_PREFIX, hashed_dim, thresholds_from_weights)

    onto = workload.ontology()
    src_dir = {"bulk_extract": "source", "incremental_crawl": "new",
               "train_eval": "held_source"}[workload.name]
    contents = pd.read_parquet(f"{workload.inputs}/{src_dir}").content.tolist()
    docs = [contents[i % len(contents)] for i in range(LATENCY_DOCS)]
    ref = workload.latency_reference()
    ref_docs = list(zip(doc_keys(ref[0]), ref[0].content)) if ref is not None else []
    compiled = compile_patterns(compile_pattern_table(onto))
    dtoks, band = dictionary_token_set(onto), linkable_span_band(onto)
    vocab = set()
    for c in docs + [c for _, c in ref_docs]:
        vocab.update(u[0] for u in match_document(c, (), 2, True, dtoks, band)[1])
    link_map = fused.py_link_map(sorted(vocab), onto)
    wpdf = pd.read_json(workload.weights, orient="records", lines=True)
    w = wpdf[~wpdf.feature.str.startswith(THRESHOLD_PREFIX)
             & (wpdf.feature != HASHED_DIM_FEATURE)]
    weights = dict(zip(w.feature, w.weight.astype(float)))
    if hashed_dim(wpdf):
        weights = fused.HashedWeights(weights, hashed_dim(wpdf))
    spec, th = fused.ontology_spec(onto), thresholds_from_weights(wpdf)

    failures = []
    if ref is not None:
        got = {tuple(t) for k, c in ref_docs
               for t in fused.extract_document(k, c, compiled, link_map, spec, weights, th)}
        if got != ref[1] or not got:
            failures.append(f"latency kernel set-up drifted from the program: "
                            f"mirror-only={sorted(got - ref[1])[:3]} "
                            f"reference-only={sorted(ref[1] - got)[:3]}")

    match_ms, doc_ms = [], []
    for i, c in enumerate(docs):
        t0 = time.perf_counter()
        match_document(c, compiled, 2, True, spec.get("dict_tokens"), spec.get("span_band"))
        t1 = time.perf_counter()
        fused.extract_document(f"d{i}", c, compiled, link_map, spec, weights, th)
        t2 = time.perf_counter()
        match_ms.append((t1 - t0) * 1e3)
        doc_ms.append((t2 - t1) * 1e3)
    q = lambda xs, p: float(np.percentile(xs, p))  # noqa: E731
    return ({"fused.doc_ms_p50": q(doc_ms, 50), "fused.doc_ms_p99": q(doc_ms, 99),
             "mentions.match_ms_p50": q(match_ms, 50),
             "mentions.match_ms_p99": q(match_ms, 99)}, failures)
