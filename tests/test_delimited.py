"""Reference delimited-format parsing (P1/P2 semantics) on synthetic rows
shaped like the reference's fvalues fixtures (game events with nested JSON
values) — written fresh, not copied."""

from __future__ import annotations

from schema_inference_spark.sources.delimited import parse_delimited

A, B, C = "\x01", "\x02", "\x03"

ROWS = [
    # well-formed: 3 fields, nested-JSON-ish values
    f"1589500000{A}host-1{A}eventType{B}CHAMPION_KILL{C}gameId{B}123{C}dmg{B}45.5",
    f"1589500001{A}host-2{A}eventType{B}SKILL_UP{C}gameId{B}124{C}lvl{B}3",
    # dropped: only 2 fields
    f"1589500002{A}host-3",
    # dropped: empty payload
    f"1589500003{A}host-4{A}",
    # value cleaning: empty + 'null' values removed
    f"1589500004{A}host-5{A}a{B}{C}b{B}null{C}c{B}ok",
]


def test_parse_and_clean(spark):
    df = spark.createDataFrame([(r,) for r in ROWS], "value string")
    out = parse_delimited(df).collect()
    assert len(out) == 3  # two malformed rows dropped
    first = out[0]
    assert first["ts"] == "1589500000" and first["hostname"] == "host-1"
    assert first["kv"] == {"eventType": "CHAMPION_KILL", "gameId": "123", "dmg": "45.5"}
    assert out[2]["kv"] == {"c": "ok"}  # empty + 'null' values dropped


def test_production_value_hygiene(spark):
    """P2 production cleaning (formJsonFromRow + isPureAscii): values are
    sanitized (NUL/CR/LF stripped, trimmed) and dropped when empty, 'null'
    (case-insensitive), or non-ASCII — keys with dropped values vanish."""
    payload = "\x03".join(
        [
            "keep\x02 value ",          # trimmed, kept
            "noisy\x02a\nb\rc\x00d",    # control chars stripped -> 'abcd'
            "empty\x02",                # dropped
            "nul\x02NULL",              # dropped (case-insensitive)
            "uni\x02café",         # dropped (non-ASCII)
        ]
    )
    raw = f"123\x01host\x01{payload}"
    df = spark.createDataFrame([(raw,)], "value string")
    kv = dict(parse_delimited(df, "value").collect()[0]["kv"])
    assert kv == {"keep": "value", "noisy": "abcd"}
