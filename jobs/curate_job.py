#!/usr/bin/env python
"""Corpus curation as one resumable spark-submit job: near-dup dedup ->
dedup groups -> leakage-safe split -> sequence packing, all over the
SHIPPED text (PII-redacted first when --redact-pii). The production shape
of tests/test_curation_pipeline.py, and the job the curation scaling axis
runs (bench_scaling.py curation).

    spark-submit --py-files /tmp/schema_inference_spark.zip \
        jobs/curate_job.py \
        --input <documents parquet> --output <dir> \
        [--id-col doc_id] [--text-col text] \
        [--n-perm 4] [--band-size 2] [--threshold 0.6] \
        [--max-tokens 2048] [--pack-groups 0 (0 = shuffle.partitions)] \
        [--redact-pii] [--tokenizer ws|bpe_ish|<registered>] \
        [--against <prior curation output dir>] [--resume]

Outputs under --output (each stage is a parquet table + _SUCCESS marker):
  cross_batch/ (only with --against) new-batch docs duplicating the prior
               corpus: (id_new, id_prior, jaccard, kind exact|near)
  pairs/       verified near-dup pairs (id_a, id_b, jaccard)
  components/  (id, component) dedup groups over the pairs
  corpus/      deduped docs + 'split' column (+ PII-redacted text if
               --redact-pii), the training-ready table
  signatures/  (id, content_hash, mh0..mh{n_perm-1}) of the kept corpus —
               the persisted table a LATER batch dedups --against
  packed/      (id, n_tokens, bin_id, truncated) token-budget bins
  metrics.json summary counts + per-stage rows and wall seconds ('stages')

One signature pass: MinHash signatures of the shipped text are computed
once per run (operators/dedup.py dedup_signatures, materialized with
localCheckpoint) and read three times — by the cross-batch band join, by
the within-batch band join (operators/dedup.py band_pairs, then
verify_pairs) and by the signatures/ stage. Under --redact-pii every
comparison therefore sees redacted text: two docs that differ only in
their PII are near-dups.

Cross-snapshot incremental dedup (r5, VERDICT r4 #1): production crawls
are rolling, so --against <prior output> first drops new docs that
duplicate the ALREADY-CURATED corpus — exact via content-hash join
against the prior signatures/ table (each hash match text-verified so a
60-bit collision cannot falsely drop a unique doc), near via band-bucket
join of the new batch's MinHash signatures against it (prior TEXT is read
only for hash-matched / candidate members). The prior run's recorded
n_perm/band_size/redact_pii must match (band buckets are scheme-dependent
and prior signatures hash the shipped, post-redaction text). This is
the reference's persisted-derived-state pattern — re-analysis resumes
from persisted output, not the raw scan (SeqScanAsJson.java:66-77).

Resume: --resume skips any stage whose _SUCCESS marker exists and reads
its table back. Curation stages are global (components and splits must
see all pairs), so the resume unit is the stage; partition-level resume
belongs to jobs/validate_job.py --checkpoint. The stages run through the
package's one step runner (plans/steps.py), whose params guard makes
--resume REFUSE (exit 2) when the flags recorded in params.json differ:
a resumed run with, say, --redact-pii added would otherwise reuse the
unredacted corpus/ table.

--tokenizer names the token counter used for packing budgets (the r5
swap point — functions/text.py TOKEN_COUNTERS; production registers the
real-tokenizer UDF there and passes its name).

Exit 0 on success; 1 if the input has no rows.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--n-perm", type=int, default=4)
    ap.add_argument("--band-size", type=int, default=2)
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--max-tokens", type=int, default=2048)
    ap.add_argument("--pack-groups", type=int, default=0)
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--tokenizer", default="ws")
    ap.add_argument("--against", default=None)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args(argv)

    from schema_inference_spark.plans.steps import Steps

    # every flag that changes what a stage WOULD compute (not how it runs)
    params = {k: v for k, v in vars(args).items() if k not in ("output", "resume")}
    run = Steps("curate", args.output, params, args.resume)
    if run.refused():
        return 2

    # --against validation runs BEFORE anything is written to --output (a
    # refused invocation must leave no params.json behind) and before the
    # Spark session (it is pure file inspection)
    if args.against:
        prior_sigs_path = os.path.join(args.against, "signatures")
        prior_corpus_path = os.path.join(args.against, "corpus")
        if not all(
            os.path.exists(os.path.join(p, "_SUCCESS"))
            for p in (prior_sigs_path, prior_corpus_path)
        ):
            print(
                f"curate: --against {args.against} lacks signatures/ or corpus/ "
                "(it must be a completed output of this job)"
            )
            return 3
        prior_params_path = os.path.join(args.against, "params.json")
        if not os.path.exists(prior_params_path):
            print(
                f"curate: --against {args.against} has no params.json, so the "
                "prior signature scheme (n_perm/band_size/redact_pii) cannot be "
                "verified — a band_size mismatch makes the band-bucket join "
                "silently empty. Refusing; restore the prior run's params.json."
            )
            return 3
        pp = json.load(open(prior_params_path, encoding="utf-8"))
        scheme_diff = {
            k: {"prior": pp.get(k), "current": getattr(args, k)}
            for k in ("n_perm", "band_size", "redact_pii")
            if pp.get(k) != getattr(args, k)
        }
        if scheme_diff:
            print(
                "curate: --against signature scheme mismatch: "
                f"{json.dumps(scheme_diff)} — band buckets are n_perm/band_size-"
                "dependent (a mismatch makes the join silently empty) and the "
                "prior signatures were built on the SHIPPED text, so a "
                "redact_pii mismatch compares raw PII against redaction markers "
                "and silently misses cross-batch dups"
            )
            return 3

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from schema_inference_spark.functions import text as TX
    from schema_inference_spark.operators.dedup import (
        band_pairs,
        cross_batch_exact_dups,
        dedup_signatures,
        duplicate_components,
        verify_pairs,
    )
    from schema_inference_spark.operators.packing import pack_documents
    from schema_inference_spark.operators.sampling import leakage_safe_split
    from schema_inference_spark.sources.tables import ensure_utc

    spark = SparkSession.builder.getOrCreate()
    ensure_utc(spark)
    id_col, text_col = args.id_col, args.text_col
    token_count = TX.get_token_counter(args.tokenizer)[0]  # fail fast on typos
    docs = spark.read.parquet(args.input)
    if docs.limit(1).count() == 0:
        print("curate: input has no rows")
        return 1

    run.begin(spark)

    # the text as it ships: every dedup comparison, the persisted
    # signatures and the corpus see it, so a dup of a PII-bearing doc
    # compares redaction marker to redaction marker (the prior signatures a
    # later batch reads --against were built on this text too)
    shipped = docs
    if args.redact_pii:
        from schema_inference_spark.functions.pii import redact_expr

        shipped = docs.withColumn(text_col, redact_expr(F.col(text_col)))

    @functools.cache
    def signatures():
        # the run's one MinHash pass, materialized once (localCheckpoint:
        # no CacheManager entry) for its three readers — the cross-batch
        # band join, the within-batch band join and the signatures/ stage;
        # computed on first use, so a fully resumed run never pays it
        return dedup_signatures(
            shipped, id_col, text_col, n_perm=args.n_perm
        ).localCheckpoint()

    # 0. (--against) cross-snapshot dedup FIRST: docs duplicating the prior
    # curated corpus never enter the within-batch pipeline
    batch, n_cross_dropped, drop_new = shipped, 0, None
    if args.against:
        prior_sigs = spark.read.parquet(prior_sigs_path)
        prior_corpus = spark.read.parquet(prior_corpus_path)

        def build_cross_batch():
            # prior_docs verifies each 60-bit hash match by comparing the
            # actual texts (collision-candidates only), so a hash collision
            # at 10^12-doc scale cannot falsely drop a unique doc; it also
            # recovers id_prior in the same join
            exact = cross_batch_exact_dups(
                shipped, prior_sigs, id_col, text_col, prior_docs=prior_corpus,
                new_sigs=signatures(),
            ).select(
                "id_new", "id_prior",
                F.lit(1.0).alias("jaccard"), F.lit("exact").alias("kind"),
            )
            cands = band_pairs(
                signatures(), prior_sigs, id_col,
                n_perm=args.n_perm, band_size=args.band_size,
            )
            near = (
                verify_pairs(
                    cands, shipped, prior_corpus, id_col, text_col,
                    threshold=args.threshold,
                )
                .select(
                    F.col("id_a").alias("id_new"), F.col("id_b").alias("id_prior"), "jaccard"
                )
                # an exact dup also band-collides and verifies at 1.0 —
                # report it once, under the stronger kind
                .join(exact.select("id_new"), "id_new", "left_anti")
                .select("id_new", "id_prior", "jaccard", F.lit("near").alias("kind"))
            )
            return exact.unionByName(near)

        cross = run.step("cross_batch", build_cross_batch)
        drop_new = cross.select(F.col("id_new").alias(id_col)).distinct()
        n_cross_dropped = drop_new.count()
        batch = shipped.join(drop_new, id_col, "left_anti")

    # 1. near-dup pairs: LSH candidates of the docs that survived step 0,
    # exact-Jaccard verified
    def build_pairs():
        sigs = signatures()
        if drop_new is not None:
            sigs = sigs.join(drop_new, id_col, "left_anti")
        cands = band_pairs(sigs, None, id_col, n_perm=args.n_perm, band_size=args.band_size)
        return verify_pairs(cands, batch, None, id_col, text_col, threshold=args.threshold)

    pairs = run.step("pairs", build_pairs)

    # 2. dedup groups; representative = smallest id in the component
    comps = run.step("components", lambda: duplicate_components(pairs, id_col))

    # 3. deduped, split, training-ready corpus. Split routing uses the
    # VERIFIED pairs (a near-dup of a test doc must never reach train);
    # candidates that failed verification are not near-dups and may split.
    def build_corpus():
        drop = comps.where(F.col(id_col) != F.col("component")).select(id_col)
        kept = batch.join(drop, id_col, "left_anti")
        return leakage_safe_split(kept, pairs, id_col).withColumn(
            "n_tokens", token_count(F.col(text_col)).cast("long")
        )

    corpus = run.step("corpus", build_corpus)

    # 3b. persist the signature table of the SHIPPED corpus (post-dedup,
    # post-redaction text) — the table a later batch dedups --against
    run.step(
        "signatures",
        lambda: signatures().join(corpus.select(id_col), id_col, "left_semi"),
    )

    # 4. pack the train split into token-budget bins
    packed = run.step(
        "packed",
        lambda: pack_documents(
            corpus.where(F.col("split") == "train").select(id_col, "n_tokens"),
            id_col=id_col,
            token_col="n_tokens",
            max_tokens=args.max_tokens,
            n_partitions=args.pack_groups or None,
        ),
    )

    splits = {
        r["split"]: r["n"]
        for r in corpus.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_input = docs.count()
    summary = run.finish(
        input_docs=n_input,
        cross_batch_dropped=n_cross_dropped,
        near_dup_pairs=run.rows("pairs", pairs),
        docs_dropped=n_input - run.rows("corpus", corpus),
        splits=splits,
        packed_docs=run.rows("packed", packed),
        bins=packed.select("bin_id").distinct().count(),
    )
    print(
        f"curate: {summary['input_docs']} docs -> {summary['docs_dropped']} dropped, "
        f"splits {splits}, {summary['packed_docs']} train docs in "
        f"{summary['bins']} bins"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
