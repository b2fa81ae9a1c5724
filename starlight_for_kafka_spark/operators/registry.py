"""Schema registry as a dimension table + compatibility checking.

Reference: a Confluent-compatible registry storing (subject, version, id,
type, definition) with BACKWARD/FORWARD/FULL(+TRANSITIVE) compatibility
enforcement (schema-registry/.../model/Schema.java, SchemaStorage.java,
CompatibilityChecker.java:88-163) and the Confluent 5-byte wire header
``0x00 + int32 schemaId`` prepended to payloads
(kafka-impl/.../utils/ByteBufUtils.prependSchemaId:301-312).

Spark-first: the registry IS a small dimension table; lookups are broadcast
joins; compatibility is a pure function over schema definitions evaluated
driver-side at registration time (it guards writes — it is not a data-plane
operator). Wire-format encode/decode are column expressions.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starlight_for_kafka_spark.functions import avro_codec as ac
from starlight_for_kafka_spark.plans.kernels import kernel
from starlight_for_kafka_spark.plans.local import local_frame

SUBJECT_SCHEMA = "subject string, version int, id int, type string, definition string"

MAGIC_BYTE = b"\x00"


# --------------------------------------------------------------------- #
# compatibility rules — per schema type, as the reference wires one
# checker per type (CompatibilityChecker.createChecker:125-136: AVRO,
# JSON, PROTOBUF; protobuf supports only BACKWARD modes, Mode
# .SUPPORTED_FOR_PROTOBUF:148-149, unsupported levels verify false via
# the IllegalStateException catch at :120-122)
# --------------------------------------------------------------------- #


def _avro_can_read(reader_def: str, writer_def: str) -> bool:
    """Full Avro Schema Resolution verdict (nested records, unions,
    defaults, numeric/string promotions) — functions/avro_codec.py is the
    single authority for resolution, so the registration-time verdict and
    the data-plane decode can never disagree."""
    from starlight_for_kafka_spark.functions.avro_codec import can_read

    return can_read(reader_def, writer_def)


def _json_superset(sup, sub) -> bool:
    """True if every instance valid under JSON Schema ``sub`` is valid
    under ``sup`` (structural approximation in the spirit of the diffing
    checker the reference delegates to): type sets may only widen
    (integer ⊆ number), enums may only widen, ``sup``'s required set must
    be ⊆ ``sub``'s, shared object properties / array items recurse, and a
    closed object (additionalProperties=false) cannot accept an open one."""

    def types(s):
        t = s.get("type")
        if t is None:
            return None  # accepts anything
        return {t} if isinstance(t, str) else set(t)

    sup_t, sub_t = types(sup), types(sub)
    if sup_t is not None:
        if sub_t is None:
            return False
        widened = set(sup_t) | ({"integer"} if "number" in sup_t else set())
        if not sub_t <= widened:
            return False
    if "enum" in sup:
        if "enum" not in sub or not set(map(str, sub["enum"])) <= set(map(str, sup["enum"])):
            return False
    if "minimum" in sup and sub.get("minimum", float("-inf")) < sup["minimum"]:
        return False
    if "maximum" in sup and sub.get("maximum", float("inf")) > sup["maximum"]:
        return False
    sup_props = sup.get("properties", {})
    sub_props = sub.get("properties", {})
    if not set(sup.get("required", [])) <= set(sub.get("required", [])):
        return False
    if sup.get("additionalProperties", True) is False:
        if sub.get("additionalProperties", True) is not False:
            return False
        if not set(sub_props) <= set(sup_props):
            return False
    for name in set(sup_props) & set(sub_props):
        if not _json_superset(sup_props[name], sub_props[name]):
            return False
    if "items" in sup:
        if "items" not in sub:
            return False
        if not _json_superset(sup["items"], sub["items"]):
            return False
    return True


def _json_can_read(reader_def: str, writer_def: str) -> bool:
    """Reader (validating) schema accepts all data produced under the
    writer schema."""
    return _json_superset(json.loads(reader_def), json.loads(writer_def))


_PROTO_FIELD = None  # compiled lazily


def _proto_parse(
    definition: str,
) -> tuple[dict[int, tuple[str, str, str]], set[int], dict[int, str]]:
    """Parse a single-message .proto body into {number: (label, type,
    name)} + the reserved number set + {number: oneof_name} for fields
    declared inside ``oneof`` blocks. Regex-level parsing — enough for
    the field-number/type/label/oneof rules the protobuf checker
    enforces (nested message declarations are out of scope, as in the
    rest of this single-message checker)."""
    import re

    global _PROTO_FIELD
    if _PROTO_FIELD is None:
        _PROTO_FIELD = re.compile(
            r"^\s*(optional|required|repeated)?\s*([A-Za-z_][\w.]*)\s+(\w+)\s*=\s*(\d+)\s*;"
        )
    fields: dict[int, tuple[str, str, str]] = {}
    reserved: set[int] = set()
    oneofs: dict[int, str] = {}
    current_oneof: str | None = None
    for line in definition.splitlines():
        om = re.match(r"^\s*oneof\s+(\w+)\s*\{", line)
        if om:
            current_oneof = om.group(1)
            continue
        if current_oneof is not None and re.match(r"^\s*\}", line):
            current_oneof = None
            continue
        m = _PROTO_FIELD.match(line)
        if m and m.group(2) not in ("message", "enum", "syntax", "option"):
            label, ftype, name, num = m.groups()
            fields[int(num)] = (label or "optional", ftype, name)
            if current_oneof is not None:
                oneofs[int(num)] = current_oneof
        rm = re.match(r"^\s*reserved\s+([\d,\sto]+);", line)
        if rm:
            # both spellings: 'reserved 2, 15;' and 'reserved 15 to 20;'
            for part in rm.group(1).split(","):
                toks = part.split()
                if "to" in toks:
                    i = toks.index("to")
                    reserved |= set(range(int(toks[i - 1]), int(toks[i + 1]) + 1))
                else:
                    reserved |= {int(x) for x in toks}
    return fields, reserved, oneofs


# Scalar wire-compatibility groups from the public protobuf language
# guide ("Updating A Message Type"): types in one group share a wire
# representation, so swapping within a group is a compatible "widening";
# crossing groups corrupts decoded values (int32 -> sint32 flips zigzag,
# fixed32 -> int32 flips wire type). Named message/enum types are not in
# any group and must match exactly (the checker cannot resolve their
# definitions from a single-message body — conservative, like treating
# FIELD_NAMED_TYPE_CHANGED as incompatible).
_PROTO_WIRE_GROUPS = [
    {"int32", "int64", "uint32", "uint64", "bool"},
    {"sint32", "sint64"},
    {"string", "bytes"},
    {"fixed32", "sfixed32"},
    {"fixed64", "sfixed64"},
]


def _proto_wire_compatible(old_type: str, new_type: str) -> bool:
    if old_type == new_type:
        return True
    return any(
        old_type in g and new_type in g for g in _PROTO_WIRE_GROUPS
    )


def _proto_backward_ok(new_def: str, old_def: str) -> bool:
    """Protobuf backward compatibility (new schema reads old data),
    mirroring the publicly documented Confluent/protobuf rules:

    - a field number present in both must keep its label and a
      WIRE-COMPATIBLE type (:data:`_PROTO_WIRE_GROUPS` — int32/int64/
      uint32/uint64/bool interchange, sint pair, string/bytes,
      fixed/sfixed pairs; named types must match exactly);
    - a field number dropped by the new schema must be reserved there
      (so it can never be reused with a different type) — and a field
      dropped FROM A ONEOF is incompatible outright (ONEOF_FIELD_REMOVED:
      readers lose the case discrimination old data relies on);
    - oneof moves: moving ONE existing field into a NEW oneof is the
      documented safe refactor; moving it into a oneof that already
      existed, moving MULTIPLE existing fields into the same new oneof,
      moving a field OUT of a oneof, or moving it BETWEEN oneofs are all
      breaking (the public Confluent compat spec / protobuf oneof
      migration notes)."""
    new_fields, new_reserved, new_oneofs = _proto_parse(new_def)
    old_fields, _, old_oneofs = _proto_parse(old_def)
    old_oneof_names = set(old_oneofs.values())
    for num, (label, ftype, _name) in old_fields.items():
        if num in new_fields:
            nlabel, nftype, _n = new_fields[num]
            if not _proto_wire_compatible(ftype, nftype) or nlabel != label:
                return False
        else:
            if num in old_oneofs:
                return False  # removed from a oneof: breaking regardless
            if num not in new_reserved:
                return False
    moved_into_new_oneof: dict[str, int] = {}
    for num, oname in new_oneofs.items():
        if num not in old_fields:
            continue  # brand-new field inside a oneof: fine
        old_oneof = old_oneofs.get(num)
        if old_oneof == oname:
            continue  # stayed put
        if old_oneof is not None:
            return False  # moved between oneofs
        if oname in old_oneof_names:
            return False  # moved into a pre-existing oneof
        moved_into_new_oneof[oname] = moved_into_new_oneof.get(oname, 0) + 1
    if any(c > 1 for c in moved_into_new_oneof.values()):
        return False  # multiple existing fields fused into one new oneof
    for num in old_oneofs:
        if num in new_fields and num not in new_oneofs:
            return False  # moved out of a oneof
    return True


def check_compatibility(
    mode: str, new_def: str, prior_defs: list[str], schema_type: str = "AVRO"
) -> bool:
    """Verdict for registering ``new_def`` after ``prior_defs`` (oldest →
    newest) under ``mode`` — the reference's verify loop
    (CompatibilityChecker.java:88-123): non-TRANSITIVE modes check only the
    latest prior version; TRANSITIVE modes check all; the checker is
    selected by schema type (:125-136). PROTOBUF supports only BACKWARD
    modes — other modes report incompatible (:120-122, :148-149)."""
    mode = mode.upper()
    if not prior_defs or mode == "NONE":
        return True
    transitive = mode.endswith("_TRANSITIVE")
    base = mode.replace("_TRANSITIVE", "")
    if base not in ("BACKWARD", "FORWARD", "FULL"):
        raise ValueError(f"unknown compatibility mode: {mode}")
    schema_type = schema_type.upper()
    if schema_type == "PROTOBUF":
        if base != "BACKWARD":
            return False
        can_read = _proto_backward_ok
    elif schema_type == "JSON":
        can_read = _json_can_read
    else:
        can_read = _avro_can_read
    against = prior_defs if transitive else prior_defs[-1:]
    for prior in against:
        backward = can_read(new_def, prior)  # new schema reads old data
        forward = can_read(prior, new_def)  # old schema reads new data
        ok = {
            "BACKWARD": backward,
            "FORWARD": forward,
            "FULL": backward and forward,
        }[base]
        if not ok:
            return False
    return True


# --------------------------------------------------------------------- #
# registry table operations
# --------------------------------------------------------------------- #


def create_registry(spark: SparkSession, rows: list | None = None) -> DataFrame:
    return local_frame(spark, rows or [], SUBJECT_SCHEMA)


# --------------------------------------------------------------------- #
# per-subject compatibility config (ConfigResource.java GET/PUT
# /config/{subject}; MemorySchemaStorage.get/setCompatibilityMode:186-193
# — unset subjects default to NONE, exactly as :187's getOrDefault)
# --------------------------------------------------------------------- #

CONFIG_SCHEMA = "subject string, compatibility string"
_VALID_MODES = {
    "NONE", "BACKWARD", "FORWARD", "FULL",
    "BACKWARD_TRANSITIVE", "FORWARD_TRANSITIVE", "FULL_TRANSITIVE",
}


def create_config(spark: SparkSession, rows: list | None = None) -> DataFrame:
    """The compat-config dimension table: one (subject, compatibility) row
    per configured subject. Subjects without a row resolve to NONE."""
    return local_frame(spark, rows or [], CONFIG_SCHEMA)


def set_compatibility(config: DataFrame, subject: str, mode: str) -> DataFrame:
    """PUT /config/{subject} (ConfigResource.PutConfig): upsert the
    subject's compatibility mode."""
    mode = mode.upper()
    if mode not in _VALID_MODES:
        raise ValueError(f"unknown compatibility mode: {mode}")
    spark = config.sparkSession
    new_row = local_frame(spark, [(subject, mode)], CONFIG_SCHEMA)
    return config.filter(F.col("subject") != subject).unionByName(new_row)


def get_compatibility(config: DataFrame, subject: str) -> str:
    """GET /config/{subject}: the subject's mode, NONE when unset
    (MemorySchemaStorage.getCompatibilityMode:187)."""
    row = config.filter(F.col("subject") == subject).select("compatibility").first()
    return row[0] if row else "NONE"


# --------------------------------------------------------------------- #
# schema references (SubjectResource.CreateSchemaRequest.references —
# [{name, subject, version}]): referenced subjects' definitions are
# resolved from the registry and inlined wherever the new schema uses the
# reference's name as a type, so compatibility sees the full schema
# --------------------------------------------------------------------- #


def resolve_references(
    registry: DataFrame, definition: str, references: list[dict] | None
) -> str:
    """Resolve each reference {name, subject, version} against the
    registry ('latest' or -1 picks the subject's newest version) and
    inline the referenced definition wherever ``definition`` uses the
    reference name as a type. Raises if a reference doesn't resolve —
    the registration-time guard a registry must enforce. Control-plane:
    the registry is a handful of rows."""
    if not references:
        return definition
    resolved: dict[str, object] = {}
    for ref in references:
        name, subj = ref["name"], ref["subject"]
        version = ref.get("version", "latest")
        rows = registry.filter(F.col("subject") == subj)
        if version in ("latest", -1, "-1"):
            row = rows.orderBy(F.col("version").desc()).first()
        else:
            row = rows.filter(F.col("version") == int(version)).first()
        if row is None:
            raise ValueError(
                f"unresolvable schema reference {name!r} -> {subj}/{version}"
            )
        resolved[name] = json.loads(row.definition)

    def inline(node):
        if isinstance(node, str) and node in resolved:
            return resolved[node]
        if isinstance(node, list):
            return [inline(x) for x in node]
        if isinstance(node, dict):
            return {k: (inline(v) if k in ("type", "items", "values", "fields") else v)
                    for k, v in node.items()}
        return node

    return json.dumps(inline(json.loads(definition)))


def register_schema(
    registry: DataFrame,
    subject: str,
    schema_type: str,
    definition: str,
    mode: str | None = "BACKWARD",
    config: DataFrame | None = None,
    references: list[dict] | None = None,
) -> DataFrame:
    """CREATE version: validate compatibility against the subject's history,
    then append with the next version/id (SchemaStorage.create path).

    ``mode=None`` resolves the mode from the per-subject ``config`` table
    (CompatibilityChecker.verify:44-50 reads schemaStorage
    .getCompatibilityMode before checking; unset → NONE). ``references``
    are resolved and inlined before the check (SubjectResource
    .CreateSchemaRequest.references)."""
    if mode is None:
        mode = get_compatibility(config, subject) if config is not None else "NONE"
    checked = resolve_references(registry, definition, references)
    rows = (
        registry.filter(F.col("subject") == subject).orderBy("version").collect()
    )
    history = [r.definition for r in rows]
    if not check_compatibility(mode, checked, history, schema_type):
        raise ValueError(f"incompatible schema for subject {subject} under {mode}")
    spark = registry.sparkSession
    # max+1, NOT len+1: after delete_version the count is smaller than the
    # highest surviving number, and len+1 would re-issue an existing
    # version - breaking delete_version's never-reused contract
    next_version = max((r.version for r in rows), default=0) + 1
    next_id = (registry.agg(F.coalesce(F.max("id"), F.lit(0))).first()[0] or 0) + 1
    new_row = local_frame(
        spark, [(subject, next_version, next_id, schema_type, checked)], SUBJECT_SCHEMA
    )
    return registry.unionByName(new_row)


def latest_schemas(registry: DataFrame) -> DataFrame:
    """GET /subjects/{s}/versions/latest for every subject — the same
    latest-wins shape as offset compaction."""
    w = Window.partitionBy("subject").orderBy(F.col("version").desc())
    return (
        registry.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def delete_subject(registry: DataFrame, subject: str) -> tuple[DataFrame, DataFrame]:
    """DELETE /subjects/{s} (SchemaStorage.deleteSubject): remove every
    version of the subject, returning (new registry, deleted versions) —
    the deleted-version list is what the REST API answers with."""
    deleted = registry.filter(F.col("subject") == subject).select(
        "subject", "version", "id"
    )
    return registry.filter(F.col("subject") != subject), deleted


def delete_version(registry: DataFrame, subject: str, version: int) -> DataFrame:
    """DELETE /subjects/{s}/versions/{v}: drop one version; later versions
    keep their numbers (Confluent semantics — version numbers are never
    reused or compacted)."""
    return registry.filter(
        ~((F.col("subject") == subject) & (F.col("version") == version))
    )


# --------------------------------------------------------------------- #
# Confluent wire format (ByteBufUtils.prependSchemaId:301-312)
# --------------------------------------------------------------------- #


def prepend_schema_id(value: Column, schema_id: Column | int) -> Column:
    """value → 0x00 + int32(schemaId) + value, as on the reference's decode
    path when kafkaApplyAvroSchemaOnDecode is set."""
    sid = F.lit(schema_id) if isinstance(schema_id, int) else schema_id
    header = F.concat(
        F.lit(MAGIC_BYTE),
        F.unhex(F.lpad(F.hex(sid.cast("int")), 8, "0")),
    )
    return F.concat(header, value)


def strip_schema_id(value: Column) -> tuple[Column, Column]:
    """Inverse: returns (schema_id, payload) columns."""
    sid = F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("int")
    payload = F.substring(value, 6, 2147483647)
    return sid, payload


def typed_view(log: DataFrame, payload_schema: str) -> DataFrame:
    """A typed view over a log table with JSON payloads (from_json — the
    JVM fast path for JSON subjects). Avro subjects use
    :func:`typed_view_avro`, which decodes real Confluent-framed Avro
    binary."""
    return log.withColumn(
        "typed", F.from_json(F.col("value").cast("string"), payload_schema)
    )


# --------------------------------------------------------------------- #
# Avro wire path (real binary decode, no external deps)
# --------------------------------------------------------------------- #


def avro_encode(
    log: DataFrame,
    schemas_by_id: dict[int, str],
    schema_id_col: str = "schema_id",
    record_col: str = "record",
    out_col: str = "value",
) -> DataFrame:
    """Encode a struct column to Confluent-framed Avro binary:
    ``0x00 + int32 schemaId + avro_binary(record)``, each row framed with
    its own writer schema (``schemas_by_id[row[schema_id_col]]``).

    Mirrors the reference's produce-side framing
    (ByteBufUtils.prependSchemaId:301-312). Runs as mapInPandas over Arrow
    batches — per-record byte encoding is inherently row-at-a-time, same
    as the JVM reference; batches bound executor memory.
    """
    parsed = {sid: ac.parse_schema(s) for sid, s in schemas_by_id.items()}
    keep = [f for f in log.schema.fields if f.name not in (record_col, out_col)]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in keep] + [f"{out_col} binary"]
    )
    keep_names = [f.name for f in keep]

    def op(batches):
        import struct as _struct

        for pdf in batches:
            sids = pdf[schema_id_col]
            recs = pdf[record_col]
            framed = [
                b"\x00"
                + _struct.pack(">i", int(sid))
                + ac.encode(rec, parsed[int(sid)])
                for sid, rec in zip(sids, recs)
            ]
            out = pdf[keep_names].copy()
            out[out_col] = framed
            yield out

    return log.mapInPandas(kernel(op, ac), out_schema)


def avro_decode(
    log: DataFrame,
    schemas_by_id: dict[int, str],
    reader_schema: str,
    value_col: str = "value",
    out_col: str = "typed",
) -> DataFrame:
    """Decode Confluent-framed Avro payloads into a typed struct column.

    Per record: strip the 5-byte wire header, look up the WRITER schema by
    the embedded id (the registry is control-plane tiny — shipped in the
    task closure, the moral equivalent of a broadcast dim), then decode
    with full reader/writer resolution (promotions, defaults, unions —
    functions/avro_codec.py). This is the reference's consume-side schema
    path (ByteBufUtils.java:301-312, format/PulsarAdminSchemaManager.java)
    re-expressed as an Arrow-batched operator; with the spark-avro jar
    available, ``from_avro`` replaces the kernel one-for-one.
    """
    from pyspark.sql import types as T

    parsed = {sid: ac.parse_schema(s) for sid, s in schemas_by_id.items()}
    reader = ac.parse_schema(reader_schema)
    typed_ddl = ac.to_spark_type(reader)
    # schema_id is re-derived from the wire header — drop any stale column
    keep = [
        f for f in log.schema.fields if f.name not in (value_col, out_col, "schema_id")
    ]
    out_fields = list(keep) + [
        T.StructField("schema_id", T.IntegerType(), True),
        T.StructField(out_col, T._parse_datatype_string(typed_ddl), True),
    ]
    out_schema = T.StructType(out_fields)
    keep_names = [f.name for f in keep]

    def op(batches):
        import struct as _struct

        import pandas as pd

        for pdf in batches:
            sids, typed = [], []
            for raw in pdf[value_col]:
                # tombstones (NULL value) and frames with an unregistered
                # schema id null out like malformed frames do - one bad
                # record must never kill the task (schema_id is emitted,
                # so callers can quarantine unknown-id rows)
                if raw is None:
                    sids.append(None)
                    typed.append(None)
                    continue
                buf = bytes(raw)
                if len(buf) < 5 or buf[0:1] != b"\x00":
                    sids.append(None)
                    typed.append(None)
                    continue
                sid = _struct.unpack(">i", buf[1:5])[0]
                sids.append(sid)
                typed.append(
                    ac.decode(buf[5:], parsed[sid], reader)
                    if sid in parsed
                    else None
                )
            out = pdf[keep_names].copy()
            out["schema_id"] = pd.Series(sids, dtype="object")
            out[out_col] = pd.Series(typed, dtype="object")
            yield out

    return log.mapInPandas(kernel(op, ac), out_schema)
