"""Protobuf-hierarchy emission from a merged schema.

The reference's artifact stage (GenerateProtobufHierarchy.java:27-38 walks
the merged schema into a proto-path map; TransformProtobufHierarchy.java:38-52
renders messages; TransformProtoIntoSparkDataset.java:38-139 writes line
tables and whole-file concatenations). Semantics preserved:

* type mapping integer->int32, number->float, boolean/string pass through
  (InferProtoDatatype.java:14-30);
* nested objects -> sub-messages, arrays -> ``repeated`` fields (arrays of
  objects -> repeated sub-messages), matching the SUB-PROTO/SUB-ARRAY-PROTO
  markers (Constants.java:61-62);
* per-file assembly is ORDER-SAFE: ``array_join(sort_array(collect_list(
  struct(line_number, line))))`` — the reference relied on a non-commutative
  ``reduceByKey`` after ``coalesce(1).sortByKey()``
  (TransformProtoIntoSparkDataset.java:87-119), which this rewrite replaces
  with a partition-count-independent aggregate.

The schema walk runs on the driver (schemas are top-k-merged dicts, tiny by
construction). The line table it yields is one Arrow local relation
(``sources.tables.local_frame``): reading it starts no Spark job and no
Python worker, so the file assembly is the first distributed step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schema_inference_spark.sources.tables import local_frame

PROTO_TYPE_FOR = {
    "integer": "int32",
    "number": "float",
    "boolean": "bool",
    "string": "string",
    "null": "string",  # nulls widen to string in emitted protos
}


def _message_name(path: str) -> str:
    return "".join(p.capitalize() for p in path.split(".") if p)


def proto_hierarchy(schema: dict, root: str = "Event") -> dict[str, dict[str, str]]:
    """proto-path -> {field -> proto type or message reference}.

    Mirrors GenerateProtobufHierarchy.generate's recursive walk; message
    names capitalize the field path (StringUtils.capitalize analog)."""
    out: dict[str, dict[str, str]] = {}

    def walk(node: dict, path: str) -> None:
        fields: dict[str, str] = {}
        for name, sub in sorted(node.get("properties", {}).items()):
            stype = sub.get("type")
            if stype == "object":
                child = f"{path}.{name}"
                fields[name] = _message_name(child)
                walk(sub, child)
            elif stype == "array":
                items = sub.get("items") or {"type": "string"}
                if items.get("type") == "object":
                    child = f"{path}.{name}"
                    fields[name] = f"repeated {_message_name(child)}"
                    walk(items, child)
                else:
                    fields[name] = f"repeated {PROTO_TYPE_FOR.get(items.get('type'), 'string')}"
            else:
                fields[name] = PROTO_TYPE_FOR.get(stype, "string")
        out[_message_name(path)] = fields

    if schema.get("type") == "object":
        walk(schema, root)
    return out


# the reference injects a hardcoded envelope message into every emitted
# hierarchy (TransformProtobufHierarchy.createMetadataFileWriter:244-252):
# the sequence-file row metadata (ts/hostname) + the hourly partition keys
# (dt/h) that accompany each payload.
METADATA_MESSAGE = "Metadata"
METADATA_FIELDS = {"ts": "integer", "hostname": "string", "dt": "string", "h": "string"}


def with_metadata_message(hierarchy: dict[str, dict[str, str]]) -> dict[str, dict[str, str]]:
    """Hierarchy + the reference's metadata envelope message (types mapped
    through the same lattice->proto table)."""
    out = dict(hierarchy)
    out[METADATA_MESSAGE] = {
        f: PROTO_TYPE_FOR[t] for f, t in METADATA_FIELDS.items()
    }
    return out


def proto_lines(hierarchy: dict[str, dict[str, str]]) -> list[tuple[str, int, str]]:
    """(file_name, line_number, line) triples — one .proto file per message."""
    rows: list[tuple[str, int, str]] = []
    for message, fields in sorted(hierarchy.items()):
        file_name = f"{message}.proto"
        n = 0

        def emit(line: str) -> None:
            nonlocal n
            n += 1
            rows.append((file_name, n, line))

        emit('syntax = "proto3";')
        imports = sorted(
            {t.replace("repeated ", "") for t in fields.values() if t.replace("repeated ", "") in hierarchy}
        )
        for imp in imports:
            emit(f'import "{imp}.proto";')
        emit(f"message {message} {{")
        for i, (fname, ftype) in enumerate(sorted(fields.items()), start=1):
            emit(f"  {ftype} {fname} = {i};")
        emit("}")
    return rows


def proto_lines_df(spark: SparkSession, hierarchy: dict[str, dict[str, str]]) -> DataFrame:
    return local_frame(
        spark, proto_lines(hierarchy), "file_name string, line_number int, line string"
    )


def concat_proto_files(lines: DataFrame) -> DataFrame:
    """One row per proto file with the full text — order-safe at any
    partitioning (reference A6 rewritten without coalesce(1))."""
    # sort_array (SortArray, no comparator lambda — array_sort desugars to
    # an interpreted lambdafunction comparator) + GetArrayStructFields
    # (.getField) keep the whole assembly codegen'd.
    return lines.groupBy("file_name").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.struct("line_number", "line"))).getField("line"),
            "\n",
        ).alias("content")
    )
