"""Control-character-delimited record parsing — the reference's input format.

The reference consumed rows of the form

    ts ^A hostname ^A fvalue          (Constants.java:24, 3 fields)
    fvalue = k1 ^B v1 ^C k2 ^B v2 …   (Constants.java:25-26)

parsed per-row in Java (ProcessTextColumn2.java:27-45 rejects rows without
exactly 3 fields or an empty fvalue; ProcessColumn.java:28-59 explodes the
KV payload, dropping null/empty/'null' values). This module is the same
contract as one Arrow kernel over a batch of raw rows:

    parse_delimited(values: pa.Array) ->
        struct<ts string, hostname string, kv map<string,string>>

It runs inside the shape UDF's Python worker (functions/json_shape.kv_shape),
one Arrow batch at a time: ``pyarrow.compute`` splits every row of the batch
at once, so no per-row Python and no interpreted Spark lambda touches the
payload.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

FIELD_SEP = "\x01"  # ^A
KV_SEP = "\x02"  # ^B
PAIR_SEP = "\x03"  # ^C


def last_per_key(row_ids: np.ndarray, keys: pa.Array) -> np.ndarray:
    """Positions of the pairs to keep, ordered by (row, key): of a row's
    pairs with equal keys only the last one. Keys are sorted by their rank
    in the sorted dictionary of the batch's distinct keys (byte order,
    which is code-point order), so the sort compares integers."""
    enc = pc.dictionary_encode(keys)
    rank = np.empty(len(enc.dictionary), dtype=np.int64)
    rank[pc.array_sort_indices(enc.dictionary).to_numpy()] = np.arange(len(enc.dictionary))
    key_rank = rank[enc.indices.to_numpy()]
    order = np.lexsort((key_rank, row_ids))  # stable: equal pairs keep their order
    row, key = row_ids[order], key_rank[order]
    last = np.ones(len(order), dtype=bool)
    last[:-1] = (row[1:] != row[:-1]) | (key[1:] != key[:-1])
    return order[last]


def parse_delimited(values: pa.Array, drop_empty: bool = True) -> pa.StructArray:
    """Split ^A records and the ^C/^B KV payload of a batch of raw rows.

    A row with != 3 fields or an empty payload is null (reference P1
    null-filter semantics, ProcessTextColumn2.java:33-41 + P4). A pair
    with no ^B has a null value, and a payload that repeats a key keeps its
    last value (the reference's splitFColumnIntoMap fills a map pair by
    pair). The repeat is resolved before the value filter, so a later pair
    with no ^B drops the key. Each map's entries come in key order.

    ``drop_empty`` applies the production value hygiene
    (ProcessColumn.formJsonFromRow:61-91): strip NUL/CR/LF and trim spaces,
    then drop null, empty and 'null' (any case) values
    (checkAndProcessIfJson, JsonUtils.java:93-105) and any non-ASCII value
    (CommonUtils.isPureAscii:138-148). Pass False to keep every value as
    split — the reference's schema-tree fixture (src/test/resources/json/
    12.json) types empty values as 'null' instead of dropping them."""
    n = len(values)
    fields = pc.split_pattern(values, FIELD_SEP)
    three = pc.fill_null(pc.equal(pc.list_value_length(fields), 3), False)
    rows = np.flatnonzero(three.to_numpy(zero_copy_only=False))
    fields = fields.take(rows)
    fvalue = pc.list_element(fields, 2)
    nonempty = np.flatnonzero(pc.greater(pc.binary_length(fvalue), 0).to_numpy(zero_copy_only=False))
    rows, fields, fvalue = rows[nonempty], fields.take(nonempty), fvalue.take(nonempty)

    pairs = pc.split_pattern(fvalue, PAIR_SEP)
    row_ids = rows[pc.list_parent_indices(pairs).to_numpy()]
    kv = pc.split_pattern(pc.list_flatten(pairs), KV_SEP, max_splits=1)
    starts = kv.offsets.to_numpy()[:-1]
    parts = pc.list_flatten(kv)
    no_sep = pc.list_value_length(kv).to_numpy() < 2
    keys = parts.take(starts)
    vals = parts.take(pa.array(starts + 1, mask=no_sep))

    keep = last_per_key(row_ids, keys)
    row_ids, keys, vals = row_ids[keep], keys.take(keep), vals.take(keep)
    if drop_empty:
        vals = pc.utf8_trim(pc.replace_substring_regex(vals, r"[\x00\n\r]", ""), characters=" ")
        ok = pc.and_(
            pc.and_(pc.string_is_ascii(vals), pc.not_equal(vals, "")),
            pc.not_equal(pc.ascii_lower(vals), "null"),
        )
        ok = np.flatnonzero(pc.fill_null(ok, False).to_numpy(zero_copy_only=False))
        row_ids, keys, vals = row_ids[ok], keys.take(ok), vals.take(ok)

    rejected = np.ones(n, dtype=bool)
    rejected[rows] = False
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(row_ids, minlength=n), out=offsets[1:])
    where = np.zeros(n, dtype=np.int64)
    where[rows] = np.arange(len(rows))
    at = pa.array(where, mask=rejected)
    return pa.StructArray.from_arrays(
        [
            pc.list_element(fields, 0).take(at),
            pc.list_element(fields, 1).take(at),
            pa.MapArray.from_arrays(pa.array(offsets, mask=np.append(rejected, False)), keys, vals),
        ],
        names=["ts", "hostname", "kv"],
        mask=pa.array(rejected),
    )
