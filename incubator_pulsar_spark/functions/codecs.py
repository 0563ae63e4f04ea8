"""Avro / Protobuf schema codecs (Schema.AVRO / Schema.PROTOBUF surface).

Reference: ``pulsar-client-api/src/main/java/org/apache/pulsar/client/
api/Schema.java:286-456`` — PROTOBUF (:286), AVRO (:329), JSON (:350),
NATIVE_AVRO (:456). A schema'd topic stores the writer schema in the
registry; clients encode/decode payload bytes against a (possibly
older/newer) reader schema under the namespace compatibility strategy.

Spark-first split of responsibilities:

- **Schema translation** (StructType ↔ Avro record schema JSON) is pure
  Python — always available, fully tested. The registry keeps
  StructTypes, so Avro-declared topics join the same
  BACKWARD/FORWARD/FULL compat machinery as JSON topics
  (``registry.is_compatible``).
- **Payload encode/decode** wraps Spark's built-in ``from_avro/to_avro``
  (org.apache.spark.sql.avro) and ``from_protobuf/to_protobuf``
  (spark-protobuf). Those modules ship with a full Spark distribution
  but not with the pip pyspark used here, so the wrappers are
  package-gated: probe once, raise a clear error naming the missing
  package, and let tests ``skipif`` on the probe.

At scale both codecs run JVM-side per column batch (no Python
boundary); the schema JSON is a literal in the plan.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import types as T

from ..registry import SchemaRegistry

# ---------------------------------------------------------- schema mapping

_SPARK_TO_AVRO: dict[type, str] = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",       # Avro has no 16-bit type
    T.ByteType: "int",        # nor 8-bit
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}

_AVRO_TO_SPARK: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
    "null": T.NullType(),
}


def _avro_type(dt: T.DataType, name: str) -> object:
    if type(dt) in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[type(dt)]
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.DecimalType):
        return {"type": "bytes", "logicalType": "decimal",
                "precision": dt.precision, "scale": dt.scale}
    if isinstance(dt, T.ArrayType):
        items = _avro_type(dt.elementType, f"{name}_item")
        if dt.containsNull:
            items = ["null", items]
        return {"type": "array", "items": items}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError("Avro maps require string keys")
        values = _avro_type(dt.valueType, f"{name}_value")
        if dt.valueContainsNull:
            values = ["null", values]
        return {"type": "map", "values": values}
    if isinstance(dt, T.StructType):
        return _record(dt, name)
    raise ValueError(f"no Avro mapping for Spark type {dt}")


def _record(struct: T.StructType, name: str) -> dict:
    fields = []
    for f in struct.fields:
        ft = _avro_type(f.dataType, f"{name}_{f.name}")
        entry: dict = {"name": f.name, "type": ["null", ft] if f.nullable else ft}
        if f.nullable:
            entry["default"] = None
        fields.append(entry)
    return {"type": "record", "name": name, "fields": fields}


def spark_to_avro_schema(struct: T.StructType, *, name: str = "Record",
                         namespace: str | None = None) -> str:
    """StructType → Avro record schema JSON (Schema.AVRO's generated
    schema, AvroSchema.of(pojo)). Nullable fields become
    ``["null", T]`` unions with a null default — exactly what Avro
    schema evolution needs for BACKWARD-compatible added fields."""
    rec = _record(struct, name)
    if namespace:
        rec["namespace"] = namespace
    return json.dumps(rec)


def _spark_type(avro: object) -> tuple[T.DataType, bool]:
    """(spark type, nullable) for one Avro type node."""
    if isinstance(avro, str):
        return _AVRO_TO_SPARK[avro], False
    if isinstance(avro, list):  # union — only [null, T] / [T, null] supported
        non_null = [a for a in avro if a != "null"]
        if len(non_null) != 1:
            raise ValueError(f"unsupported Avro union {avro}")
        dt, _ = _spark_type(non_null[0])
        return dt, True
    assert isinstance(avro, dict)
    t = avro["type"]
    logical = avro.get("logicalType")
    if logical == "date":
        return T.DateType(), False
    if logical in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType(), False
    if logical == "decimal":
        return T.DecimalType(avro["precision"], avro["scale"]), False
    if t == "array":
        dt, nullable = _spark_type(avro["items"])
        return T.ArrayType(dt, nullable), False
    if t == "map":
        dt, nullable = _spark_type(avro["values"])
        return T.MapType(T.StringType(), dt, nullable), False
    if t == "record":
        fields = []
        for f in avro["fields"]:
            dt, nullable = _spark_type(f["type"])
            fields.append(T.StructField(f["name"], dt, nullable))
        return T.StructType(fields), False
    if t == "enum":
        return T.StringType(), False
    if t == "fixed":
        return T.BinaryType(), False
    return _spark_type(t)  # {"type": "string"} wrapper form


def avro_to_spark_schema(avro_json: str) -> T.StructType:
    """Avro record schema JSON → StructType (the AUTO_CONSUME direction
    for an Avro-schema'd topic)."""
    schema = json.loads(avro_json)
    dt, _ = _spark_type(schema)
    if not isinstance(dt, T.StructType):
        raise ValueError("top-level Avro schema must be a record")
    return dt


def register_avro(registry: SchemaRegistry, topic: str, avro_json: str) -> int:
    """Register an Avro-declared topic schema: translate to StructType and
    run it through the same compatibility gate as every other schema
    (SchemaRegistry.register → is_compatible)."""
    return registry.register(topic, avro_to_spark_schema(avro_json))


# --------------------------------------------- protobuf schema translation
#
# Schema.PROTOBUF / PROTOBUF_NATIVE (Schema.java:286, :145) declare a topic
# schema from a protobuf message. Like the Avro path above, the TRANSLATION
# is pure Python (always available, registry-integrated); the payload codec
# wraps spark-protobuf and stays package-gated below.

_PROTO_SCALARS: dict[str, T.DataType] = {
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "int32": T.IntegerType(),
    "sint32": T.IntegerType(),
    "sfixed32": T.IntegerType(),
    "uint32": T.LongType(),      # unsigned 32 needs 64 signed bits
    "fixed32": T.LongType(),
    "int64": T.LongType(),
    "sint64": T.LongType(),
    "sfixed64": T.LongType(),
    "uint64": T.LongType(),      # may overflow; spark-protobuf does the same
    "fixed64": T.LongType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

_SPARK_TO_PROTO: dict[type, str] = {
    T.DoubleType: "double",
    T.FloatType: "float",
    T.IntegerType: "int32",
    T.ShortType: "int32",
    T.ByteType: "int32",
    T.LongType: "int64",
    T.BooleanType: "bool",
    T.StringType: "string",
    T.BinaryType: "bytes",
    T.DateType: "int32",          # days-since-epoch convention
    T.TimestampType: "int64",     # micros-since-epoch convention
}

_TOKEN = re.compile(
    r"//[^\n]*|/\*.*?\*/|\"(?:[^\"\\]|\\.)*\"|[A-Za-z_][A-Za-z0-9_.]*|\d+|[{}<>=;,]",
    re.DOTALL)


def _tokenize_proto(text: str) -> list[str]:
    return [t for t in _TOKEN.findall(text) if not t.startswith(("//", "/*"))]


class _ProtoParser:
    """Minimal proto2/proto3 message parser — enough for the schema
    surface Pulsar topics use: scalar fields, repeated, map<,>, nested
    messages (forward references allowed, as in real .proto files),
    enums (→ string, matching spark-protobuf's default
    ``enums.as.ints=false`` rendering), optional/required labels.
    Options, services, oneof bodies, extensions and reserved ranges are
    skipped structurally.

    Two phases: syntax pass collects raw field tuples per message, then
    a resolve pass builds StructTypes (so ``Address`` may be declared
    after the field that uses it)."""

    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0
        # message name -> list of ('field'|'map', label, type, name, number)
        # (number feeds the wire codec in proto_binary.py; schema
        # translation ignores it)
        self.raw: dict[str, list[tuple[str, str | None, str, str, int]]] = {}
        self.enums: set[str] = set()

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t

    def skip_statement(self) -> None:
        depth = 0
        while self.i < len(self.toks):
            t = self.next()
            if t == "{":
                depth += 1
            elif t == "}":
                depth -= 1
                if depth <= 0:
                    return
            elif t == ";" and depth == 0:
                return

    def parse_file(self) -> None:
        while self.i < len(self.toks):
            t = self.peek()
            if t == "message":
                self.next()
                self.parse_message(self.next())
            elif t == "enum":
                self.next()
                self.enums.add(self.next())
                self.skip_statement()
            elif t == ";":
                self.next()
            else:
                self.skip_statement()

    def parse_message(self, name: str, prefix: str = "") -> None:
        # Messages register under their QUALIFIED name only
        # (Parent.Inner): two nested messages sharing a bare name in
        # different parents must not clobber each other; bare field
        # references resolve innermost-scope-first in _resolve_type,
        # matching protobuf's own name resolution.
        full = f"{prefix}{name}"
        assert self.next() == "{", f"expected '{{' after message {name}"
        fields = self.raw.setdefault(full, [])
        while True:
            t = self.peek()
            if t is None:
                raise ValueError(f"unterminated message block {name!r}")
            if t == "}":
                self.next()
                return
            if t == "message":
                self.next()
                inner = self.next()
                self.parse_message(inner, prefix=f"{full}.")
                continue
            if t == "enum":
                self.next()
                self.enums.add(self.next())
                self.skip_statement()
                continue
            if t in ("option", "reserved", "extensions", "oneof"):
                self.next()
                self.skip_statement()
                continue
            fields.append(self.parse_field())

    def parse_field(self) -> tuple[str, str | None, str, str, int]:
        label = None
        if self.peek() in ("optional", "required", "repeated"):
            label = self.next()
        ftype = self.next()
        if ftype == "map":
            assert self.next() == "<"
            ktype = self.next()
            self.next()  # ,
            vtype = self.next()
            assert self.next() == ">"
            fname = self.next()
            number = self._field_number_then_semicolon()
            if ktype != "string":
                raise ValueError("Spark maps from protobuf require string keys")
            return ("map", None, vtype, fname, number)
        fname = self.next()
        number = self._field_number_then_semicolon()
        return ("field", label, ftype, fname, number)

    def _field_number_then_semicolon(self) -> int:
        number = 0
        if self.peek() == "=":
            self.next()
            number = int(self.next())
        self._skip_to_semicolon()
        return number

    def _skip_to_semicolon(self) -> None:
        while self.peek() != ";":
            self.next()
        self.next()

    # ---- resolve pass

    def resolve(self, message_name: str,
                _stack: tuple[str, ...] = ()) -> T.StructType:
        if message_name in _stack:
            raise ValueError(
                f"recursive message {message_name!r} has no finite Spark schema")
        fields: list[T.StructField] = []
        for kind, label, tname, fname, _num in self.raw[message_name]:
            dt = self._resolve_type(tname, _stack + (message_name,),
                                    scope=message_name)
            if kind == "map":
                fields.append(T.StructField(
                    fname, T.MapType(T.StringType(), dt, True), True))
            elif label == "repeated":
                fields.append(T.StructField(fname, T.ArrayType(dt, True), True))
            else:
                fields.append(T.StructField(fname, dt, label != "required"))
        return T.StructType(fields)

    def _resolve_type(self, tname: str, _stack: tuple[str, ...],
                      scope: str = "") -> T.DataType:
        if tname in _PROTO_SCALARS:
            return _PROTO_SCALARS[tname]
        if tname in self.enums:
            return T.StringType()
        # protobuf scoping: a (possibly dotted) reference resolves from
        # the innermost enclosing message outward to the file scope.
        segments = scope.split(".") if scope else []
        for k in range(len(segments), -1, -1):
            candidate = ".".join(segments[:k] + [tname])
            if candidate in self.raw:
                return self.resolve(candidate, _stack)
        raise ValueError(f"unknown protobuf type {tname!r} in scope {scope!r}")


def proto_to_spark_schema(proto_text: str, message_name: str) -> T.StructType:
    """.proto source → StructType for ``message_name`` — the
    Schema.PROTOBUF_NATIVE declaration direction, mirroring what
    spark-protobuf derives from a compiled descriptor (enums as strings,
    unsigned ints widened, repeated → array, map → map)."""
    p = _ProtoParser(_tokenize_proto(proto_text))
    p.parse_file()
    if message_name not in p.raw:
        raise ValueError(f"message {message_name!r} not found "
                         f"(have {sorted(p.raw)})")
    return p.resolve(message_name)


def _proto_field_lines(struct: T.StructType, indent: str, nested: list[str],
                       prefix: str) -> list[str]:
    lines = []
    for idx, f in enumerate(struct.fields, start=1):
        dt = f.dataType
        if isinstance(dt, T.ArrayType):
            inner = dt.elementType
            tname = _proto_type_name(inner, f.name, nested, prefix)
            lines.append(f"{indent}repeated {tname} {f.name} = {idx};")
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise ValueError("protobuf maps require string keys")
            vname = _proto_type_name(dt.valueType, f.name, nested, prefix)
            lines.append(f"{indent}map<string, {vname}> {f.name} = {idx};")
        else:
            tname = _proto_type_name(dt, f.name, nested, prefix)
            lines.append(f"{indent}{tname} {f.name} = {idx};")
    return lines


def _proto_type_name(dt: T.DataType, fname: str, nested: list[str],
                     prefix: str) -> str:
    if isinstance(dt, T.StructType):
        mname = f"{prefix}{fname.capitalize()}"
        body = "\n".join(_proto_field_lines(dt, "  ", nested, mname))
        nested.append(f"message {mname} {{\n{body}\n}}")
        return mname
    if type(dt) in _SPARK_TO_PROTO:
        return _SPARK_TO_PROTO[type(dt)]
    raise ValueError(f"no protobuf mapping for Spark type {dt}")


def spark_to_proto_schema(struct: T.StructType, *, message_name: str = "Record",
                          syntax: str = "proto3") -> str:
    """StructType → .proto source (AUTO_PRODUCE validation / topic schema
    export direction). Nested structs become sibling messages."""
    nested: list[str] = []
    body = "\n".join(_proto_field_lines(struct, "  ", nested, message_name))
    parts = [f'syntax = "{syntax}";', *nested,
             f"message {message_name} {{\n{body}\n}}"]
    return "\n\n".join(parts)


def register_protobuf(registry: SchemaRegistry, topic: str, proto_text: str,
                      message_name: str) -> int:
    """Register a protobuf-declared topic schema through the same
    compatibility gate as JSON/Avro schemas."""
    return registry.register(topic, proto_to_spark_schema(proto_text, message_name))


# ------------------------------------------------------- gated payload codecs

def avro_functions_available(spark: SparkSession) -> bool:
    """True when org.apache.spark.sql.avro is on the classpath (full
    Spark distributions; absent from pip pyspark)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst")
        return True
    except Exception:
        return False


def avro_serialize(data: Column) -> Column:
    """Struct column → Avro binary (SerDe.serialize for Schema.AVRO) —
    JVM path, needs spark-avro. Jar-free twin with the same wire
    format: ``functions.avro_binary.avro_encode`` (pure-Python Avro
    binary codec, spec-vector-tested)."""
    from pyspark.sql.avro.functions import to_avro

    return to_avro(data)


def avro_deserialize(data: Column, avro_json: str,
                     options: dict[str, str] | None = None) -> Column:
    """Avro binary → struct under the registry's reader schema."""
    from pyspark.sql.avro.functions import from_avro

    return from_avro(data, avro_json, options or {})


def protobuf_functions_available() -> bool:
    """True when both spark-protobuf (JVM) and google.protobuf (Python
    descriptor tooling) are importable."""
    try:
        import google.protobuf  # noqa: F401
        from pyspark.sql.protobuf import functions as _  # noqa: F401
        return True
    except Exception:
        return False


def protobuf_serialize(data: Column, message_name: str,
                       desc_file_path: str) -> Column:
    """Struct → protobuf bytes (Schema.PROTOBUF_NATIVE, Schema.java:145)."""
    from pyspark.sql.protobuf.functions import to_protobuf

    return to_protobuf(data, message_name, desc_file_path)


def protobuf_deserialize(data: Column, message_name: str,
                         desc_file_path: str) -> Column:
    """Protobuf bytes → struct."""
    from pyspark.sql.protobuf.functions import from_protobuf

    return from_protobuf(data, message_name, desc_file_path)


def payload_codec(schema_type, *, avro_json: str | None = None,
                  proto_text: str | None = None,
                  message_name: str | None = None):
    """SerDe dispatch by registry schema type (the AutoProduce /
    AutoConsume codec-selection step): returns ``(encode, decode)``
    DataFrame transformers for JSON / AVRO / PROTOBUF payloads, all
    runnable in THIS container (JSON via JVM to_json/from_json; AVRO and
    PROTOBUF via the pure-Python wire codecs in ``avro_binary`` /
    ``proto_binary``; the jar-backed paths remain the full-distribution
    hot swaps with the same wire formats).

    ``encode(df, struct_col, out_col)`` → df with a binary column;
    ``decode(df, bin_col, out_col)`` → df with a struct column.
    """
    from ..registry import SchemaType

    if schema_type == SchemaType.AVRO:
        from . import avro_binary

        if avro_json is None:
            raise ValueError("AVRO codec needs the registry's avro_json")

        def enc(df, struct_col, out_col="value"):
            return avro_binary.avro_encode(df, struct_col,
                                           schema_json=avro_json,
                                           out_col=out_col)

        def dec(df, bin_col, out_col="record"):
            return avro_binary.avro_decode(df, bin_col, avro_json,
                                           out_col=out_col)

        return enc, dec

    if schema_type == SchemaType.PROTOBUF:
        from . import proto_binary

        if proto_text is None or message_name is None:
            raise ValueError("PROTOBUF codec needs proto_text+message_name")

        def enc(df, struct_col, out_col="value"):
            return proto_binary.proto_encode(df, struct_col, proto_text,
                                             message_name, out_col=out_col)

        def dec(df, bin_col, out_col="record"):
            return proto_binary.proto_decode(df, bin_col, proto_text,
                                             message_name, out_col=out_col)

        return enc, dec

    if schema_type == SchemaType.JSON:
        from pyspark.sql import functions as F

        reader = avro_to_spark_schema(avro_json) if avro_json else None

        def enc(df, struct_col, out_col="value"):
            return df.withColumn(out_col,
                                 F.to_json(F.col(struct_col)).cast("binary")) \
                     .drop(struct_col)

        def dec(df, bin_col, out_col="record"):
            if reader is None:
                raise ValueError("JSON decode needs a reader schema "
                                 "(pass avro_json)")
            return df.withColumn(out_col,
                                 F.from_json(F.col(bin_col).cast("string"),
                                             reader)).drop(bin_col)

        return enc, dec

    raise ValueError(f"no payload codec for {schema_type}")
