"""Per-row JSON shape (JSON-Schema) extraction.

The reference's core scalar function (SchemaGenerator.java:46-147) turns each
row's JSON document into a JSON-Schema tree; shapes are then counted across
the corpus. Here:

* ``kv_shape`` — the reference job's own path: one Arrow UDF from the raw
  ^A/^B/^C row to the canonical recursive shape string. Per Arrow batch it
  runs the parse (sources/delimited.parse_delimited), types scalars with an
  Arrow port of the lattice (``_lattice_codes``), sorts each row's keys and
  joins the pieces, all in ``pyarrow.compute``. Only a batch's distinct
  nested values (``[`` or ``{``) go through ``kv_value_schema``, memoized
  per worker, and only keys that JSON must escape through ``json.dumps``.
  No interpreted Spark lambda and no per-row Python.
* ``flat_json_shape_expr`` — for flat JSON objects (string->scalar maps, the
  shape of the driver's ``events.props``): ``from_json`` (JVM, codegen)
  extracts the string map and the same lattice and assembly build the flat
  shape string in one Arrow UDF. Keys stay unescaped, byte for byte like the
  DuckDB twin ``flat_json_shape_sql``; ``flat_shape_schema`` reads such a
  string back, also where a key makes it invalid JSON.
* ``json_shape_of`` / ``make_shape_udf`` — the fully recursive version
  (nested objects, arrays with element-schema merging, reference
  SchemaGenerator.java:56-89) as an Arrow-batched pandas UDF for payloads the
  flat path can't express. ``_infer_json_type_py`` / ``kv_value_schema`` are
  the Python definitions the kernels are tested against.

Canonical form (sorted keys, no whitespace) so that equal shapes compare
equal as strings — the distributed groupBy key is this string, exactly like
the reference's ObjectNode value-equality groupBy (SeqFilesScan.java:297-316).
"""

from __future__ import annotations

import functools
import json
import re
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schema_inference_spark.functions.type_inference import (  # noqa: F401
    JSON_TYPE_FOR,
    infer_json_type_sql,
    merge_schemas,
)
from schema_inference_spark.sources.delimited import last_per_key, parse_delimited


_LETTER_PAT = re.compile(r"[a-zA-Z]")
_DIGITS_PAT = re.compile(r"^[0-9]+$")


def _infer_json_type_py(v: str | None) -> str:
    """Python port of ``infer_json_type_expr`` over an extracted string value
    (InferJsonDatatype.java:11-27 rule chain; float/double collapse to
    'number' in JSON-Schema so the after-last-dot quirk is moot here).
    Guards keep Python's float() aligned with SQL try_cast semantics:
    underscores ('1_0') and non-ASCII digits parse in Python but are NULL in
    both engines' casts."""
    if v is None:
        return "null"
    if v.lower() in ("true", "false"):
        return "boolean"
    if _LETTER_PAT.search(v):
        return "string"
    if _DIGITS_PAT.search(v):
        return "integer"
    if "_" not in v and v.isascii():
        try:
            float(v)
            return "number"
        except ValueError:
            pass
    return "null"


def flat_json_shape_expr(col: Column) -> Column:
    """Canonical JSON-Schema string for a flat JSON-object column.

    ``{"type":"object","properties":{"k":{"type":"integer"},...}}`` with keys
    sorted; null for unparseable rows (filtered like reference P4). Keys are
    written as they are, unescaped, byte for byte like ``flat_json_shape_sql``.
    """
    return F.arrow_udf(flat_shape_udf, T.StringType())(F.from_json(col, "map<string,string>"))


def flat_shape_schema(shape: str) -> dict:
    """The schema a flat shape string spells, keys as they are: what
    ``json.loads`` returns for it, also where a key holds a character JSON
    must escape (``"``, ``\\``, a control character), which the flat
    shape keeps raw. A key that itself spells a type fragment followed by
    ``,"`` splits there; two such documents share one shape string."""
    body, props, pos = shape[len(_SHAPE_PREFIX):-2], {}, 0
    while pos < len(body):
        m = _FLAT_ENTRY.match(body, pos)
        props[m.group(1)] = {"type": _TYPES[_FRAGMENTS.index(m.group(2))]}
        pos = m.end()
    return {"type": "object", "properties": props}


def flat_json_shape_sql(col_sql: str) -> str:
    """DuckDB-compatible SQL computing the identical canonical shape string."""
    val = f"json_extract_string({col_sql}, '$.' || k)"
    type_case = infer_json_type_sql(val)
    # coalesce: DuckDB's array_to_string([]) is NULL (Spark's array_join is '')
    return (
        '\'{"type":"object","properties":{\' || coalesce(array_to_string('
        f"list_transform(list_sort(json_keys({col_sql})), "
        f"k -> '\"' || k || '\":{{\"type\":\"' || ({type_case}) || '\"}}'"
        "), ','), '') || '}}'"
    )


# ---------------------------------------------------------------------------
# Recursive shape (pandas UDF path) — mirrors SchemaGenerator.java:46-119.
# ---------------------------------------------------------------------------


def json_shape_of(value: Any) -> dict:
    """JSON-Schema dict of a parsed JSON value (recursive).

    Objects recurse per key (SchemaGenerator.java:56-66); arrays merge the
    schemas of their items (SchemaGenerator.java:68-89, via the same widening
    lattice used for cross-row merging); scalars map bool->boolean,
    int->integer, float->number, str->string, None->null
    (SchemaGenerator.java:121-147, Long coerced to integer at :138-141).
    """
    if isinstance(value, dict):
        return {
            "type": "object",
            "properties": {k: json_shape_of(v) for k, v in value.items()},
        }
    if isinstance(value, list):
        items: dict | None = None
        for item in value:
            items = merge_schemas(items, json_shape_of(item))
        out = {"type": "array"}
        if items is not None:
            out["items"] = items
        return out
    if isinstance(value, bool):
        return {"type": "boolean"}
    if isinstance(value, int):
        return {"type": "integer"}
    if isinstance(value, float):
        return {"type": "number"}
    if isinstance(value, str):
        return {"type": "string"}
    return {"type": "null"}


def _type_first(schema: dict) -> dict:
    """Fixed serialization order: 'type' first, then 'items'/'properties'
    (property NAMES sorted). Matches ``flat_json_shape_expr``'s literal
    assembly so flat and recursive paths produce byte-identical canonical
    strings for the same flat document (they are groupBy keys)."""
    out: dict = {"type": schema["type"]}
    if "items" in schema:
        out["items"] = _type_first(schema["items"])
    if "properties" in schema:
        out["properties"] = {
            k: _type_first(v) for k, v in sorted(schema["properties"].items())
        }
    return out


def canonical_shape_string(value: Any) -> str:
    """Canonical (type-first, sorted-property, compact) serialization of
    ``json_shape_of``."""
    return json.dumps(
        _type_first(json_shape_of(value)), separators=(",", ":"), ensure_ascii=True
    )


def kv_value_schema(v: str | None) -> dict:
    """Schema of one delimited-KV value (reference ProcessColumn.java:62-92 +
    SchemaGenerator): empty/'null' -> null; values that are themselves JSON
    objects/arrays recurse; scalars go through the type lattice (the
    reference assembles a JSON doc embedding raw values, so Jackson's node
    types and the lattice coincide)."""
    if v is None:
        return {"type": "null"}
    v = v.strip()
    if v == "" or v.lower() == "null":
        return {"type": "null"}
    if v[0] in "[{":
        try:
            return json_shape_of(json.loads(v))
        except ValueError:
            pass
    return {"type": _infer_json_type_py(v)}


# ---------------------------------------------------------------------------
# Arrow kernels: one batch of rows -> one batch of canonical shape strings.
# ---------------------------------------------------------------------------

_TYPES = ("null", "boolean", "string", "integer", "number")
_FRAGMENTS = tuple(f'":{{"type":"{t}"}}' for t in _TYPES)  # '"' + key + fragment
_SHAPE_PREFIX = '{"type":"object","properties":{'
# one '"' + key + fragment entry of a flat shape, up to the next entry or the end
_FLAT_ENTRY = re.compile(
    '"(.*?)(' + "|".join(map(re.escape, _FRAGMENTS)) + ')(?:,(?=")|$)', re.S
)
# float() accepts these around a number; str.strip() also removes \x1c-\x1f
_FLOAT_WS = r"[ \t\n\x0b\x0c\r]*"
_NUMBER_RE = rf"^{_FLOAT_WS}[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+){_FLOAT_WS}$"
_STRIP_CHARS = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "


def _mask(bools: pa.Array) -> np.ndarray:
    return pc.fill_null(bools, False).to_numpy(zero_copy_only=False)


def _lattice_codes(values: pa.Array) -> np.ndarray:
    """``_infer_json_type_py`` over a batch: an index into ``_TYPES`` per
    value. RE2's ``$`` does not match before a final newline as Python's
    does, hence ``\\n?$``; letters exclude exponents, so a number is digits
    with at most one dot inside the whitespace ``float()`` accepts."""
    return np.select(
        [
            _mask(pc.is_in(pc.ascii_lower(values), value_set=pa.array(["true", "false"]))),
            _mask(pc.match_substring_regex(values, "[a-zA-Z]")),
            _mask(pc.match_substring_regex(values, r"^[0-9]+\n?$")),
            _mask(pc.match_substring_regex(values, _NUMBER_RE)),
        ],
        [1, 2, 3, 4],
        0,
    ).astype(np.int32)


@functools.lru_cache(maxsize=1 << 14)  # per worker process
def _nested_fragment(value: str) -> str:
    """Type fragment of one stripped nested value: ``kv_value_schema``,
    so a value ``json.loads`` rejects takes the scalar lattice."""
    return '":' + json.dumps(_type_first(kv_value_schema(value)), separators=(",", ":"),
                             ensure_ascii=True)


def _shape_strings(offsets: np.ndarray, nulls: np.ndarray, keys: pa.Array,
                   codes: np.ndarray, vocab: list[str]) -> pa.Array:
    """One shape string per row from its (key-sorted) entries: row i owns
    entries ``offsets[i]:offsets[i+1]`` and is null where ``nulls``; entry j
    has type fragment ``vocab[codes[j]]``."""
    frags = pa.array(vocab, pa.string()).take(pa.array(codes))
    pieces = pc.binary_join_element_wise('"', keys, frags, "")
    rows = pa.ListArray.from_arrays(pa.array(offsets, mask=np.append(nulls, False)), pieces)
    return pc.binary_join_element_wise(_SHAPE_PREFIX, pc.binary_join(rows, ","), "}}", "")


def _map_entries(maps: pa.MapArray) -> tuple[np.ndarray, pa.Array, pa.Array]:
    """(offsets from 0, keys, items) of a possibly sliced map array."""
    offsets = maps.offsets.to_numpy()
    lo, hi = int(offsets[0]), int(offsets[-1])
    return offsets - lo, maps.keys.slice(lo, hi - lo), maps.items.slice(lo, hi - lo)


def kv_shape_udf(values: pa.Array) -> pa.Array:
    """Canonical recursive shape string of each raw ^A/^B/^C row, null for
    a rejected row: the schema of its parsed payload, ``kv_value_schema``
    per value, serialized like ``canonical_shape_string``. Scalars are
    typed by ``_lattice_codes``; only values that start with ``[`` or
    ``{`` go through ``kv_value_schema`` (``_nested_fragment``). Keys are
    escaped as ``json.dumps`` escapes them, after the sort."""
    kv = parse_delimited(values).field("kv")
    offsets, keys, vals = _map_entries(kv)
    nulls = kv.is_null().to_numpy(zero_copy_only=False)
    stripped = pc.utf8_trim(vals, characters=_STRIP_CHARS)  # kv_value_schema's strip
    codes = _lattice_codes(stripped)
    codes[_mask(pc.equal(pc.ascii_lower(stripped), "null"))] = 0
    nested = np.flatnonzero(_mask(pc.match_substring_regex(stripped, r"^[\[{]")))
    docs = stripped.take(nested)
    distinct = pc.unique(docs)
    codes[nested] = len(_FRAGMENTS) + pc.index_in(docs, value_set=distinct).to_numpy()
    vocab = list(_FRAGMENTS) + [_nested_fragment(d) for d in distinct.to_pylist()]

    escaped = pa.array(_mask(pc.match_substring_regex(keys, r'[^ -~]|["\\]')))
    if pc.any(escaped).as_py():
        keys = pc.replace_with_mask(keys, escaped, pa.array(
            [json.dumps(k, ensure_ascii=True)[1:-1] for k in keys.filter(escaped).to_pylist()],
            pa.string()))
    return _shape_strings(offsets, nulls, keys, codes, vocab)


def kv_shape(col: Column) -> Column:
    """Shape string of a raw ^A/^B/^C row column (``kv_shape_udf`` as one
    Arrow UDF); null for a row the parse rejects."""
    return F.arrow_udf(kv_shape_udf, T.StringType())(col)


def flat_shape_udf(maps: pa.Array) -> pa.Array:
    """Flat shape string of each ``map<string,string>`` (null stays null):
    the last of repeated keys wins, as ``dict`` does; keys are sorted and
    not escaped; values are typed by ``_lattice_codes``, a nested value
    included."""
    offsets, keys, vals = _map_entries(maps)
    row_of = np.repeat(np.arange(len(maps)), np.diff(offsets))
    keep = last_per_key(row_of, keys)
    offsets = np.zeros(len(maps) + 1, dtype=np.int32)
    np.cumsum(np.bincount(row_of[keep], minlength=len(maps)), out=offsets[1:])
    nulls = maps.is_null().to_numpy(zero_copy_only=False)
    return _shape_strings(offsets, nulls, keys.take(keep), _lattice_codes(vals.take(keep)),
                          list(_FRAGMENTS))


def make_shape_udf():
    """Arrow-batched pandas UDF: JSON document string -> canonical shape string."""

    @F.pandas_udf(T.StringType())
    def shape_udf(docs: pd.Series) -> pd.Series:
        def one(doc):
            if doc is None:
                return None
            try:
                return canonical_shape_string(json.loads(doc))
            except (ValueError, TypeError):
                return None  # malformed rows -> null, filtered like reference P4

        return docs.map(one)

    return shape_udf


__all__ = [
    "JSON_TYPE_FOR",
    "flat_json_shape_expr",
    "kv_shape",
    "flat_json_shape_sql",
    "json_shape_of",
    "canonical_shape_string",
    "make_shape_udf",
]
