"""Text-analysis functions on synthetic multilingual fixtures (the driver's
documents table carries language labels but shares one vocabulary, so real
language separation is exercised here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from schema_inference_spark.functions import text as TX

FIXTURES = [
    ("en", "the cat sat on the mat and looked to the window for a while"),
    ("de", "der hund und die katze sind mit dem ball zu den kindern gelaufen"),
    ("fr", "le chien et le chat sont dans la maison pour la nuit et le jour"),
    ("es", "el perro y el gato están en la casa para la noche y el día"),
    ("und", "zzz qqq xxx yyy www"),
]


def test_lang_id_separates_languages(spark):
    df = spark.createDataFrame(FIXTURES, "expected string, text string")
    got = {
        r["expected"]: r["pred"]
        for r in df.select("expected", TX.lang_id_expr(F.col("text")).alias("pred")).collect()
    }
    assert got == {lang: lang for lang, _ in FIXTURES}


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one-token",), ("don't stop, now!",)], "text string"
    )
    rows = df.select(
        TX.token_count_expr(F.col("text")).alias("ws"),
        TX.bpe_ish_token_count_expr(F.col("text")).alias("sub"),
    ).collect()
    assert [r["ws"] for r in rows] == [3, 0, 0, 1, 3]
    # "don't stop, now!" -> don ' t stop , now !  = 7 subword tokens
    assert rows[4]["sub"] == 7
    assert rows[3]["sub"] == 3  # one - token


def test_quality_score_ranges(spark):
    good = "the quick brown fox jumps over the lazy dog and runs to the hills again"
    bad = "!!! ### 123 $$$ %%%"
    df = spark.createDataFrame([(good,), (bad,)], "text string")
    rows = df.select(TX.quality_score_expr(F.col("text")).alias("q")).collect()
    assert rows[0]["q"] > 0.8
    assert rows[1]["q"] < 0.4


def test_fingerprint_stability_and_sensitivity(spark):
    from schema_inference_spark.operators.dedup import document_fingerprints

    base = "alpha bravo charlie delta echo foxtrot golf hotel"
    df = spark.createDataFrame([(0, base), (1, base), (2, base + " extra")], "id int, text string")
    fps = {r["id"]: r["fingerprint"] for r in document_fingerprints(df, "id", "text").collect()}
    rows = [fps[i] for i in range(3)]
    assert rows[0] == rows[1]  # deterministic
    # appending text can only add shingles -> fingerprint (min-hash) <= original
    assert rows[2] <= rows[0]


def test_pii_redaction_semantics(spark):
    """PII scrub invariants: planted PII is replaced with markers, benign
    look-alikes survive untouched, redaction is idempotent (a second pass
    is a no-op — markers never re-match), and counts agree with the number
    of replacements."""
    from pyspark.sql import functions as F

    from schema_inference_spark.functions.pii import (
        PII_PATTERNS,
        pii_count_expr,
        redact_expr,
    )

    rows = [
        # (text, expected_redacted, email, ipv4, phone, phone_us)
        ("write jo.doe+x@ex-ample.co.uk today", "write <EMAIL> today", 1, 0, 0, 0),
        # counts are per-pattern on the RAW text: '+1 (555)...' matches both
        # phone forms, but sequential redaction replaces the text once
        ("call +1 (415) 555-0134 now", "call <PHONE> now", 0, 0, 1, 1),
        ("gateway 192.168.1.250 up", "gateway <IP> up", 0, 1, 0, 0),
        ("root@10.0.0.1 is not an email", "root@<IP> is not an email", 0, 1, 0, 0),
        # US formats without '+' (VERDICT r4: the majority class in English
        # web text that the '+'-anchored pattern missed)
        ("dial (555) 123-4567 x89", "dial <PHONE> x89", 0, 0, 0, 1),
        ("fax 555-123-4567 ok", "fax <PHONE> ok", 0, 0, 0, 1),
        ("or 555.123.4567 works", "or <PHONE> works", 0, 0, 0, 1),
        ("also 555 123 4567 here", "also <PHONE> here", 0, 0, 0, 1),
        # benign look-alikes that must NOT match phone_us: ZIP+4, dotted
        # dates, IP octets (IP redacts first and stays <IP>), 10-digit runs
        # without separators, version strings, prices, TLD-less at-signs
        (
            "zip 12345-6789 date 2026.08.18 ip 192.168.1.250",
            "zip 12345-6789 date 2026.08.18 ip <IP>",
            0, 1, 0, 0,
        ),
        ("ref 5551234567 raw", "ref 5551234567 raw", 0, 0, 0, 0),
        ("v1.2.3 costs 3.50 via a@b", "v1.2.3 costs 3.50 via a@b", 0, 0, 0, 0),
        ("", "", 0, 0, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, *_ in rows], "t string")
    got = df.select(
        "t",
        redact_expr(F.col("t")).alias("red"),
        redact_expr(redact_expr(F.col("t"))).alias("red2"),
        *(pii_count_expr(F.col("t"), k).alias(k) for k, _, _ in PII_PATTERNS),
    ).collect()
    by_text = {r["t"]: r for r in got}
    for text, expected, e, i, p, pu in rows:
        r = by_text[text]
        assert r["red"] == expected, (text, r["red"])
        assert r["red2"] == r["red"], "redaction must be idempotent"
        assert (r["email"], r["ipv4"], r["phone"], r["phone_us"]) == (e, i, p, pu), text
