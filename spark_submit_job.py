"""Cluster entrypoint — the north rule's execution mode:

    spark-submit --master <cluster> --py-files dist/obie_spark.zip \
        spark_submit_job.py train   --source s3://.../source --gold ... --weights ...
    spark-submit --master <cluster> --py-files dist/obie_spark.zip \
        spark_submit_job.py extract --source ... --weights ... --output ... \
        --checkpoint-dir ...

The job builds its SparkSession with ``getOrCreate()`` and NO master, so
spark-submit's ``--master`` / ``--num-executors`` control cluster size (the
N vs 4N runs of BASELINE.json differ only in submit flags). The package is
shipped via ``--py-files`` (build the zip with ``python tools/make_pyfiles.py``);
this file itself imports it like any cluster node would.

* ``train``: read the source table ``(repo, path, commit, lang, content)``
  and a gold-triples table, fit the pipeline (trainer auto-selects the
  distributed path beyond the driver-safe pair count), write the weights
  file — the constant-cost planning artifact every extract run broadcasts.
* ``extract``: read the source table, verify it (content digest and
  sha256 mismatch count in one aggregation), run the fused extraction
  kernel (one map stage, model broadcast, zero corpus-sized shuffles),
  write triples partitioned by (repo, lang) with hot-predicate salting to
  ``--output``, and commit that sink IN PLACE in ``--checkpoint-dir``
  (per-file lineage + manifest + metrics; sources/catalog.py) so an
  interrupted run resumes idempotently. The checkpoint holds no second
  copy of the triples; resume checks that the manifest names
  ``--output`` and that the sink still holds the committed row count.
* ``incremental``: crawl-over-crawl CDC — diff the new snapshot against
  ``--prev-source`` by (doc_key, sha256), run the fused kernel ONLY over
  changed/new documents, carry ``--prev-triples`` forward for unchanged
  ones, drop deleted documents' triples (delta-sized cost per crawl;
  pinned equal to a full extract in tests/test_spark_submit.py).

The per-row invariant of BASELINE.json (content sha256 equality vs the
source table) is checked inside ``extract`` and written to the metrics log.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession, functions as F


def _ontology(domain: str):
    from obiemachinelearningframework_spark.fixtures import (
        code_ontology,
        disease_ontology,
        soccer_ontology,
    )

    return {"soccer": soccer_ontology, "disease": disease_ontology,
            "code": code_ontology}[domain]()


def verify_source(source) -> tuple[str | None, int]:
    """(content digest, sha256 mismatch count) of the source, in ONE
    aggregation. The digest is an order-insensitive sum over per-row
    sha256(content) as THIS run reads it — the per-row invariant's carrier:
    a resumed/retried run recomputes it and compares against the value the
    committed manifest recorded, so a swapped or corrupted source between
    attempts is detected (an in-plan self-comparison would be a tautology:
    both sides would derive from the same bytes). The mismatch count is
    the rows whose stored ``sha256`` column (when the source has one)
    differs from the recomputed hash."""
    sha = F.sha2("content", 256)
    digest = F.sum(F.conv(F.substring(sha, 1, 15), 16, 10).cast("decimal(38,0)"))
    bad = (F.count_if(sha != F.col("sha256")) if "sha256" in source.columns
           else F.lit(0))
    row = source.agg(digest.cast("string"), bad).collect()[0]
    return row[0], int(row[1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("mode", choices=["train", "extract", "incremental"])
    ap.add_argument("--source", required=True,
                    help="parquet dir of (repo, path, commit, lang, content)")
    ap.add_argument("--domain", default="soccer", choices=["soccer", "disease", "code"])
    ap.add_argument("--weights", required=True, help="weights file (json-lines)")
    ap.add_argument("--gold", help="train: parquet dir of gold (doc_key, subj, pred, obj)")
    ap.add_argument("--output", help="extract: triples sink dir")
    ap.add_argument("--checkpoint-dir", help="extract: stage checkpoint + lineage dir")
    ap.add_argument("--prev-source",
                    help="incremental: parquet dir of the PREVIOUS snapshot")
    ap.add_argument("--prev-triples",
                    help="incremental: triples dir of the previous extract run")
    args = ap.parse_args()
    if args.mode == "train" and not args.gold:
        ap.error("--gold required for train")
    if args.mode != "train" and not args.output:
        ap.error(f"--output required for {args.mode}")
    if args.mode == "incremental" and not (args.prev_source and args.prev_triples):
        ap.error("--prev-source and --prev-triples required for incremental")

    # master/executors come from spark-submit flags — never hardcoded here
    spark = SparkSession.builder.appName(f"obie-{args.mode}").getOrCreate()

    from obiemachinelearningframework_spark.operators.triples import write_triples
    from obiemachinelearningframework_spark.plans.pipeline import OBIEPipeline

    source = spark.read.parquet(args.source)
    pipe = OBIEPipeline(spark, _ontology(args.domain))
    inst = pipe.prepare(source)

    if args.mode == "train":
        gold = spark.read.parquet(args.gold)
        pipe.fit(inst, gold)
        pipe.save_weights(args.weights)
        print(f"trained: {len(pipe.weights)} weights -> {args.weights}")
        return

    # one source scan serves both the resume check and the commit gate
    digest, bad = verify_source(source)

    ck = None
    if args.checkpoint_dir:
        from obiemachinelearningframework_spark.sources.catalog import Checkpointer

        ck = Checkpointer(spark, args.checkpoint_dir)
        if ck.exists("triples"):
            # idempotent resume (north rule): the manifest is the atomic
            # commit point — a re-run after success (or a retry racing a
            # finished attempt) does no work and changes nothing, but the
            # content invariant IS re-checked against the committed digest
            # and the committed sink against --output and its row count.
            # The digest lives IN the manifest meta (committed in the same
            # os.replace as the stage), so there is no crash window where a
            # committed stage lacks its digest; a manifest without one is a
            # foreign/corrupt checkpoint and resume must fail, not skip the
            # integrity check.
            committed = ck.manifest("triples").get("meta", {}).get("content_digest")
            if committed is None:
                raise RuntimeError(
                    "committed triples manifest has no content_digest — refusing "
                    "to resume without source-integrity verification")
            if committed != digest:
                raise RuntimeError(
                    f"source content changed since the committed run "
                    f"(digest {digest} != committed {committed})")
            n = ck.verify("triples", args.output)
            print(f"resume: triples stage already committed ({n} rows); skipping extraction")
            return
    # per-row invariant vs the source table (BASELINE.json): every stored
    # sha256 must match the recomputed hash. It gates the sink write and
    # so the COMMIT: a committed manifest over a violating source would
    # let the idempotent-resume path mask the violation on every retry
    if bad:
        raise RuntimeError(f"{bad} rows failed the content sha256 invariant")
    pipe.load_weights(args.weights)
    inst = inst.cache()

    extra_metrics = {}
    if args.mode == "incremental":
        # crawl-over-crawl CDC (the kg_incremental_extract loop on the
        # production pipeline): re-run the fused kernel ONLY over
        # documents whose (doc_key, sha256) pair is new or changed since
        # the previous snapshot; carry the previous run's triples forward
        # for unchanged documents; triples of deleted documents drop out.
        # At 10^12 files a crawl touches a small fraction of the table —
        # this turns the per-crawl cost from corpus-sized to delta-sized.
        prev_sha = pipe.prepare(spark.read.parquet(args.prev_source)).select(
            "doc_key", F.col("sha256").alias("psha"))
        new_sha = inst.select("doc_key", "sha256")
        cdc = new_sha.join(prev_sha, "doc_key", "full").cache()
        is_changed = F.col("sha256").isNotNull() & (
            F.col("psha").isNull() | (F.col("sha256") != F.col("psha")))
        is_unchanged = F.col("sha256") == F.col("psha")
        extra_metrics = cdc.agg(
            F.count_if(is_changed).alias("n_changed"),
            F.count_if(is_unchanged).alias("n_unchanged"),
            F.count_if(F.col("sha256").isNull()).alias("n_deleted"),
        ).collect()[0].asDict()
        changed = cdc.filter(is_changed).select("doc_key")
        unchanged = cdc.filter(is_unchanged).select("doc_key")
        re_extracted = pipe.predict_fused(
            inst.join(changed, "doc_key", "left_semi").cache(),
            carry_cols=("repo", "lang"),
        )
        cols = ["doc_key", "subj", "pred", "obj", "repo", "lang"]
        carried = (
            spark.read.parquet(args.prev_triples)
            .select(*cols)
            .join(unchanged, "doc_key", "left_semi")
        )
        write_triples(carried.unionByName(re_extracted.select(*cols)), args.output)
        print(
            f"incremental: re-extracted {extra_metrics['n_changed']} changed docs, "
            f"carried {extra_metrics['n_unchanged']} unchanged, "
            f"dropped {extra_metrics['n_deleted']} deleted"
        )
    else:
        # (repo, lang) ride through the fused kernel onto every triple, so
        # the partitioned+salted sink is a pure map->shuffle-on-write — no
        # join (and especially no broadcast) against the corpus-sized
        # instance table
        triples = pipe.predict_fused(inst, carry_cols=("repo", "lang"))
        write_triples(triples, args.output)

    if ck is None:
        n_triples = spark.read.parquet(args.output).count()
    else:
        # the sink is committed where it was written (no copy); the digest
        # rides IN the manifest meta so it commits in the same os.replace
        # as the stage — no crash window between "stage committed" and
        # "digest recorded" for the resume path to hit
        n_triples = ck.commit("triples", args.output, partition_by=["repo", "lang"],
                              meta={"mode": args.mode, "content_digest": digest})["rows"]
        ck.log_metrics("triples", {"n_triples": n_triples, "sha256_mismatches": bad,
                                   "content_digest": digest, **extra_metrics})
    print(f"extracted: {n_triples} triples -> {args.output}; sha256 mismatches: {bad}")


if __name__ == "__main__":
    main()
