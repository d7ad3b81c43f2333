"""Reference delimited-format parsing (P1/P2 semantics) on synthetic rows
shaped like the reference's fvalues fixtures (game events with nested JSON
values) — written fresh, not copied. The parse is an Arrow kernel, so these
run without Spark."""

from __future__ import annotations

import pyarrow as pa

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


def _parsed(rows, drop_empty=True):
    return [r for r in parse_delimited(pa.array(rows, pa.string()), drop_empty).to_pylist() if r]


def test_parse_and_clean():
    out = _parsed(ROWS)
    assert len(out) == 3  # two malformed rows dropped
    first = out[0]
    assert first["ts"] == "1589500000" and first["hostname"] == "host-1"
    assert dict(first["kv"]) == {"eventType": "CHAMPION_KILL", "gameId": "123", "dmg": "45.5"}
    assert dict(out[2]["kv"]) == {"c": "ok"}  # empty + 'null' values dropped


def test_rejected_rows_are_null_in_place():
    """The kernel keeps the batch's row positions: a rejected row (2 or 4
    fields, empty payload, null) is null where it stood."""
    rows = ROWS + [f"1{A}h{A}k{B}v{A}extra", None, ""]
    got = parse_delimited(pa.array(rows, pa.string())).to_pylist()
    assert [r is None for r in got] == [False, False, True, True, False, True, True, True]


def test_a_batch_with_no_pairs():
    """A batch in which every row is rejected, or has an empty map, has no
    pairs at all: the kernel still returns one entry per row."""
    assert parse_delimited(pa.array([None, "", f"1{A}h"], pa.string())).to_pylist() == [None] * 3
    got = parse_delimited(pa.array([f"1{A}h{A}k{B}", None], pa.string())).to_pylist()
    assert got == [{"ts": "1", "hostname": "h", "kv": []}, None]
    assert parse_delimited(pa.array([], pa.string())).to_pylist() == []


def test_production_value_hygiene():
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
            "tab\x02\t",                # kept: the trim strips only spaces
        ]
    )
    kv = dict(_parsed([f"123\x01host\x01{payload}"])[0]["kv"])
    assert kv == {"keep": "value", "noisy": "abcd", "tab": "\t"}


def test_repeated_key_keeps_last_value_before_the_filter():
    """A repeated key keeps its last value, and the repeat is resolved
    before the value filter: a later pair with no ^B nulls the key, which
    the hygiene then drops."""
    rows = [
        f"1{A}h{A}k{B}1{C}k{B}abc",
        f"2{A}h{A}k{B}1{C}k{C}j{B}2",
        f"3{A}h{A}k{B}1{C}k{B}",
    ]
    assert [dict(r["kv"]) for r in _parsed(rows)] == [{"k": "abc"}, {"j": "2"}, {}]
    assert [dict(r["kv"]) for r in _parsed(rows, drop_empty=False)] == [
        {"k": "abc"}, {"k": None, "j": "2"}, {"k": ""},
    ]


def test_entries_come_in_key_order_and_a_trailing_pair_sep_is_an_empty_key():
    row = f"1{A}h{A}z{B}1{C}a{B}2{C}"
    assert _parsed([row], drop_empty=False)[0]["kv"] == [("", None), ("a", "2"), ("z", "1")]
    assert _parsed([row])[0]["kv"] == [("a", "2"), ("z", "1")]
