"""End-to-end drive of the curation production job (jobs/curate_job.py):
dedup -> groups -> leakage-safe split -> PII redaction -> packing, plus
stage-level resume semantics."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from jobs.curate_job import main


def _corpus(spark, n=400):
    """Deterministic corpus: every 50th doc is a near-copy of its
    predecessor; every 40th carries an email."""
    expr = (
        "concat_ws(' ', transform(sequence(0, 24), "
        "j -> substr(md5(concat(cast(CASE WHEN id % 50 = 49 AND j > 0 "
        "THEN id - 1 ELSE id END AS string), '-', cast(j AS string))), 1, 8)))"
    )
    return spark.range(n).selectExpr(
        "id AS doc_id",
        f"CASE WHEN id % 40 = 0 THEN concat({expr}, ' mail u', cast(id AS string), "
        f"'@example.com') ELSE {expr} END AS text",
    )


def test_curate_job_end_to_end_and_resume(spark):
    with tempfile.TemporaryDirectory() as d:
        docs = _corpus(spark)
        docs.write.mode("overwrite").parquet(f"{d}/in")
        rc = main([
            "--input", f"{d}/in", "--output", f"{d}/out",
            "--threshold", "0.6", "--max-tokens", "256",
            "--pack-groups", "4", "--redact-pii",
        ])
        assert rc == 0
        m = json.load(open(f"{d}/out/metrics.json"))
        assert m["input_docs"] == 400
        # 8 planted near-dup pairs (every 50th); LSH at n_perm=4/band_size=2
        # is probabilistic, so require most found — and every found pair
        # (they are disjoint) drops exactly one doc
        assert 6 <= m["near_dup_pairs"] <= 8
        assert m["docs_dropped"] == m["near_dup_pairs"]
        assert sum(m["splits"].values()) == 400 - m["docs_dropped"]

        corpus = spark.read.parquet(f"{d}/out/corpus")
        # PII redacted in the output table, token counts match redacted text
        assert corpus.where(F.col("text").contains("@example.com")).count() == 0
        assert corpus.where(F.col("text").contains("<EMAIL>")).count() > 0

        # leakage safety: both members of any surviving pair share a split
        pairs = spark.read.parquet(f"{d}/out/pairs")
        sp = corpus.select("doc_id", "split")
        joined = (
            pairs.join(sp.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
            .join(sp.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
        )
        assert joined.where(F.col("sa") != F.col("sb")).count() == 0

        # packing invariants on the train split
        packed = spark.read.parquet(f"{d}/out/packed")
        assert packed.count() == m["splits"]["train"]
        over = (
            packed.where(~F.col("truncated"))
            .groupBy("bin_id").agg(F.sum("n_tokens").alias("t"))
            .where(F.col("t") > 256).count()
        )
        assert over == 0

        # RESUME: drop the packed stage only; earlier stages must be read
        # back, not recomputed (their parquet mtimes cannot change)
        packed_rows = {(r["doc_id"], r["bin_id"]) for r in packed.collect()}
        pairs_mtime = os.path.getmtime(f"{d}/out/pairs/_SUCCESS")
        for f in os.listdir(f"{d}/out/packed"):
            os.remove(os.path.join(f"{d}/out/packed", f))
        os.rmdir(f"{d}/out/packed")
        rc = main([
            "--input", f"{d}/in", "--output", f"{d}/out",
            "--threshold", "0.6", "--max-tokens", "256",
            "--pack-groups", "4", "--redact-pii", "--resume",
        ])
        assert rc == 0
        m2 = json.load(open(f"{d}/out/metrics.json"))
        assert m2["stages"]["pairs"] == {"resumed": True}
        assert m2["stages"]["corpus"] == {"resumed": True}
        assert "rows" in m2["stages"]["packed"]  # recomputed
        assert os.path.getmtime(f"{d}/out/pairs/_SUCCESS") == pairs_mtime
        # identical result after resume
        repacked = {
            (r["doc_id"], r["bin_id"])
            for r in spark.read.parquet(f"{d}/out/packed").collect()
        }
        assert repacked == packed_rows

        # PARAMS GUARD (ADVICE r4): resuming with semantics-changing flags
        # (threshold changed, --redact-pii dropped) must refuse with exit 2
        # and touch nothing — otherwise stale stage outputs would be reused
        # as if the new flags had applied
        metrics_mtime = os.path.getmtime(f"{d}/out/metrics.json")
        rc = main([
            "--input", f"{d}/in", "--output", f"{d}/out",
            "--threshold", "0.7", "--max-tokens", "256",
            "--pack-groups", "4", "--resume",
        ])
        assert rc == 2
        assert os.path.getmtime(f"{d}/out/metrics.json") == metrics_mtime
        recorded = json.load(open(f"{d}/out/params.json"))
        assert recorded["threshold"] == 0.6 and recorded["redact_pii"] is True
        # matching flags still resume cleanly
        rc = main([
            "--input", f"{d}/in", "--output", f"{d}/out",
            "--threshold", "0.6", "--max-tokens", "256",
            "--pack-groups", "4", "--redact-pii", "--resume",
        ])
        assert rc == 0


def test_curate_job_fresh_run_clears_stale_stage_markers(spark):
    """A fresh (non-resume) run records its params BEFORE recomputing
    stages, so if it crashes mid-way the previous run's stage tables must
    not be left looking resumable under the new params.json — the job
    clears every stage _SUCCESS marker first. Scenario: run1 (--redact-pii)
    completes; run2 (no redaction, new input missing the text column)
    crashes in the pairs stage; a later --resume must NOT see run1's
    redacted stages as done."""
    import pytest

    with tempfile.TemporaryDirectory() as d:
        docs = _corpus(spark, n=100)
        docs.write.mode("overwrite").parquet(f"{d}/in")
        assert main([
            "--input", f"{d}/in", "--output", f"{d}/out", "--redact-pii",
        ]) == 0
        markers = [
            f"{d}/out/{s}/_SUCCESS"
            for s in ("pairs", "components", "corpus", "signatures", "packed")
        ]
        assert all(os.path.exists(m) for m in markers)

        # run2: changed flags (no --redact-pii), input whose text column is
        # missing -> the pairs stage raises after params.json is rewritten
        docs.withColumnRenamed("text", "body").write.mode("overwrite").parquet(
            f"{d}/in_broken"
        )
        with pytest.raises(Exception):
            main(["--input", f"{d}/in_broken", "--output", f"{d}/out"])
        # params.json now records run2's flags, but no stale stage from run1
        # is marked done — a --resume cannot silently reuse redacted tables
        recorded = json.load(open(f"{d}/out/params.json"))
        assert recorded["redact_pii"] is False
        assert not any(os.path.exists(m) for m in markers)


def test_curate_job_against_prior_corpus(spark):
    """Cross-snapshot incremental dedup through the production job (VERDICT
    r4 #1): batch B curated --against batch A's output must drop exactly
    the planted cross-batch dups (one exact, one near), keep fresh docs,
    resume from the cross_batch checkpoint, and refuse a signature-scheme
    mismatch."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # batch A: 200 unique docs (no within-batch dups, no PII)
        a_expr = (
            "concat_ws(' ', transform(sequence(0, 24), "
            "j -> substr(md5(concat(cast(id AS string), '-', cast(j AS string))), 1, 8)))"
        )
        batch_a = spark.range(200).selectExpr("id AS doc_id", f"{a_expr} AS text")
        batch_a.write.mode("overwrite").parquet(f"{d}/in_a")
        assert main(["--input", f"{d}/in_a", "--output", f"{d}/a"]) == 0
        m_a = json.load(open(f"{d}/a/metrics.json"))
        assert m_a["cross_batch_dropped"] == 0
        # the signature table is part of the shipped output
        sigs = spark.read.parquet(f"{d}/a/signatures")
        assert sigs.count() == 200 - m_a["docs_dropped"]
        assert {"doc_id", "content_hash"} <= set(sigs.columns)

        # batch B (ids 1000+): fresh docs, PLUS an exact copy of A doc 7's
        # text and a near copy (last word changed) of A doc 9's text
        a_texts = {r["doc_id"]: r["text"] for r in batch_a.collect()}
        near = a_texts[9].split()
        near[-1] = "changedword"
        b_expr = a_expr.replace("cast(id AS string)", "cast(id + 5000 AS string)")
        rows = [(1005, a_texts[7]), (1010, " ".join(near))]
        fresh = spark.range(1100, 1200).selectExpr(
            "id AS doc_id", f"{b_expr} AS text"
        )
        planted = spark.createDataFrame(rows, "doc_id long, text string")
        fresh.unionByName(planted).write.mode("overwrite").parquet(f"{d}/in_b")

        rc = main([
            "--input", f"{d}/in_b", "--output", f"{d}/b", "--against", f"{d}/a",
        ])
        assert rc == 0
        m_b = json.load(open(f"{d}/b/metrics.json"))
        assert m_b["cross_batch_dropped"] == 2
        cross = {
            (r["id_new"], r["id_prior"], r["kind"])
            for r in spark.read.parquet(f"{d}/b/cross_batch").collect()
        }
        assert cross == {(1005, 7, "exact"), (1010, 9, "near")}
        corpus_b = spark.read.parquet(f"{d}/b/corpus")
        kept = {r["doc_id"] for r in corpus_b.select("doc_id").collect()}
        assert 1005 not in kept and 1010 not in kept
        assert len(kept) == 100  # every fresh doc survives

        # resume: nuke packed only; cross_batch must be read back, outputs
        # identical
        packed_before = {
            (r["doc_id"], r["bin_id"])
            for r in spark.read.parquet(f"{d}/b/packed").collect()
        }
        for f in os.listdir(f"{d}/b/packed"):
            os.remove(os.path.join(f"{d}/b/packed", f))
        os.rmdir(f"{d}/b/packed")
        rc = main([
            "--input", f"{d}/in_b", "--output", f"{d}/b", "--against", f"{d}/a",
            "--resume",
        ])
        assert rc == 0
        m_b2 = json.load(open(f"{d}/b/metrics.json"))
        assert m_b2["stages"]["cross_batch"] == {"resumed": True}
        assert m_b2["cross_batch_dropped"] == 2
        packed_after = {
            (r["doc_id"], r["bin_id"])
            for r in spark.read.parquet(f"{d}/b/packed").collect()
        }
        assert packed_after == packed_before

        # params guard extends to --against: resuming WITHOUT it must refuse
        assert main([
            "--input", f"{d}/in_b", "--output", f"{d}/b", "--resume",
        ]) == 2

        # signature-scheme mismatch refuses before any work — including
        # before params.json is written (a refused run must leave nothing)
        assert main([
            "--input", f"{d}/in_b", "--output", f"{d}/b2", "--against", f"{d}/a",
            "--n-perm", "8",
        ]) == 3
        assert not os.path.exists(f"{d}/b2/params.json")

        # redact_pii is part of the signature scheme: the prior signatures
        # hash the SHIPPED text, so a mismatch would compare raw PII against
        # redaction markers and silently miss cross-batch dups
        assert main([
            "--input", f"{d}/in_b", "--output", f"{d}/b3", "--against", f"{d}/a",
            "--redact-pii",
        ]) == 3

        # a prior dir whose params.json was lost cannot be scheme-verified:
        # refuse rather than risk a silently-empty band-bucket join
        os.rename(f"{d}/a/params.json", f"{d}/a/params.json.bak")
        assert main([
            "--input", f"{d}/in_b", "--output", f"{d}/b4", "--against", f"{d}/a",
        ]) == 3
        os.rename(f"{d}/a/params.json.bak", f"{d}/a/params.json")


def test_curate_job_against_redacted_prior(spark):
    """--against must compare like-for-like under --redact-pii: the prior
    signatures are built on the SHIPPED (redacted) corpus text, so a new
    batch carrying the same PII-bearing doc (raw) must still be caught as
    an exact cross-batch dup — hashing the new batch's raw text would
    compare 'u@example.com' against '<EMAIL>' and silently miss it."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        base_expr = (
            "concat_ws(' ', transform(sequence(0, 24), "
            "j -> substr(md5(concat(cast(id AS string), '-', cast(j AS string))), 1, 8)))"
        )
        # doc 3 carries an email in BOTH batches (identical raw text)
        expr = (
            f"CASE WHEN id = 3 THEN concat({base_expr}, ' mail bob@example.com') "
            f"ELSE {base_expr} END AS text"
        )
        batch_a = spark.range(50).selectExpr("id AS doc_id", expr)
        batch_a.write.mode("overwrite").parquet(f"{d}/in_a")
        assert main([
            "--input", f"{d}/in_a", "--output", f"{d}/a", "--redact-pii",
        ]) == 0

        # batch B: doc 1003 has the SAME raw text as A's doc 3 (PII and
        # all); the rest are fresh
        a3 = batch_a.where("doc_id = 3").collect()[0]["text"]
        fresh_expr = expr.replace("cast(id AS string)", "cast(id + 7000 AS string)")
        fresh = spark.range(1100, 1150).selectExpr("id AS doc_id", f"{fresh_expr}")
        planted = spark.createDataFrame([(1003, a3)], "doc_id long, text string")
        fresh.unionByName(planted).write.mode("overwrite").parquet(f"{d}/in_b")
        assert main([
            "--input", f"{d}/in_b", "--output", f"{d}/b", "--against", f"{d}/a",
            "--redact-pii",
        ]) == 0
        cross = {
            (r["id_new"], r["id_prior"], r["kind"])
            for r in spark.read.parquet(f"{d}/b/cross_batch").collect()
        }
        assert (1003, 3, "exact") in cross
        kept = {r["doc_id"] for r in spark.read.parquet(f"{d}/b/corpus").collect()}
        assert 1003 not in kept


def _shingles(text: str, k: int = 3) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_curate_job_redact_pii_dedups_on_shipped_text(spark):
    """Under --redact-pii the within-batch pairs are found and verified on
    the redacted text that ships: two docs that differ only in long PII
    strings are a near-dup pair, although their raw texts are not."""
    from schema_inference_spark.functions.pii import redact_expr

    words = [f"word{i}" for i in range(12)]

    def doc(user: str) -> str:
        tokens = []
        for i, w in enumerate(words):
            tokens.append(w)
            if i % 2:
                tokens.append(f"{user}.account{i}@mail-{user}.example.org")
        return " ".join(tokens)

    a, b = doc("alice"), doc("bob")
    red = spark.createDataFrame([(a,), (b,)], "text string").select(
        redact_expr(F.col("text")).alias("t")
    ).collect()
    red_a, red_b = (r["t"] for r in red)
    assert _jaccard(a, b) < 0.6 <= _jaccard(red_a, red_b)

    with tempfile.TemporaryDirectory() as d:
        planted = spark.createDataFrame([(900, a), (901, b)], "doc_id long, text string")
        _corpus(spark, n=60).unionByName(planted).write.mode("overwrite").parquet(f"{d}/in")
        assert main([
            "--input", f"{d}/in", "--output", f"{d}/out", "--redact-pii",
        ]) == 0
        pairs = {
            (r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{d}/out/pairs").collect()
        }
        assert (900, 901) in pairs


def test_curate_job_computes_signatures_once(spark, monkeypatch):
    """One MinHash pass per run, with and without --against: the
    cross-batch join, the within-batch join and the signatures/ stage all
    read the same materialized signature frame. The new batch's text is
    md5-hashed once per run too: the cross-batch exact join takes its
    content hashes from that frame instead of hashing the text again."""
    from schema_inference_spark.operators import dedup

    calls, md5s = [], []
    real, real_md5 = dedup._minhash_aggregated, dedup.md5_long_expr

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    def counted_md5(*args, **kwargs):
        md5s.append(1)
        return real_md5(*args, **kwargs)

    monkeypatch.setattr(dedup, "_minhash_aggregated", counted)
    monkeypatch.setattr(dedup, "md5_long_expr", counted_md5)
    with tempfile.TemporaryDirectory() as d:
        _corpus(spark, n=100).write.mode("overwrite").parquet(f"{d}/in_a")
        assert main(["--input", f"{d}/in_a", "--output", f"{d}/a"]) == 0
        assert len(calls) == 1

        # batch B: docs 50..99 repeat A's texts, 100..199 are fresh
        _corpus(spark, n=200).where("doc_id >= 50").selectExpr(
            "doc_id + 1000 AS doc_id", "text"
        ).write.mode("overwrite").parquet(f"{d}/in_b")
        calls.clear()
        md5s.clear()
        assert main([
            "--input", f"{d}/in_b", "--output", f"{d}/b", "--against", f"{d}/a",
        ]) == 0
        assert len(calls) == 1
        assert len(md5s) == 1
        assert json.load(open(f"{d}/b/metrics.json"))["cross_batch_dropped"] >= 49


def test_curate_job_fresh_run_job_count(spark):
    """A fresh run on the test corpus starts 73 Spark jobs (94 before the
    step runner): each stage's rows come from an observation on its own
    write, and its table is read back by the written frame's schema, so no
    stage pays a schema-inference job or a count job after its write."""
    import uuid

    with tempfile.TemporaryDirectory() as d:
        _corpus(spark).write.mode("overwrite").parquet(f"{d}/in")
        sc = spark.sparkContext
        group = f"curate-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            assert main([
                "--input", f"{d}/in", "--output", f"{d}/out",
                "--max-tokens", "256", "--pack-groups", "4",
            ]) == 0
        finally:
            sc._jsc.clearJobGroup()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        stages = json.load(open(f"{d}/out/metrics.json"))["stages"]
    assert n_jobs == 73
    assert list(stages) == ["pairs", "components", "corpus", "signatures", "packed"]
    assert all(set(s) == {"rows", "sec"} for s in stages.values())
    assert stages["corpus"]["rows"] == stages["signatures"]["rows"] == 393
