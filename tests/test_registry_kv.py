"""KeyValue encoding, AUTO_CONSUME inference, and window-matrix tests.

The window matrix mirrors the reference's richest operator spec
(WindowManagerTest.java, 836 lines: tumbling/sliding × count/time
trigger+eviction assertions) as parametrized pytest cases.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_pulsar_spark import registry as reg
from incubator_pulsar_spark.operators import windows as w


# ------------------------------------------------------------- key-value

@pytest.mark.parametrize("encoding", [reg.KeyValueEncodingType.INLINE,
                                      reg.KeyValueEncodingType.SEPARATED])
def test_key_value_roundtrip(spark, encoding):
    df = spark.createDataFrame(
        [Row(key="k1", value=10), Row(key="k2", value=20)],
        "key STRING, value INT")
    schema = reg.key_value_schema(T.StringType(), T.IntegerType())
    enc = reg.encode_key_value(df, encoding=encoding)
    dec = reg.decode_key_value(enc, schema, encoding=encoding)
    got = sorted((r.kv.key, r.kv.value) for r in dec.collect())
    assert got == [("k1", 10), ("k2", 20)]


def test_auto_consume_inference(spark):
    df = spark.createDataFrame(
        [Row(value=b'{"a": 1, "b": "x"}'), Row(value=b'{"a": 2, "b": "y", "c": 1.5}')])
    schema = reg.infer_schema(spark, df)
    names = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert names == {"a": "bigint", "b": "string", "c": "double"}


# --------------------------------------------------- window matrix (count)

def _events(spark, n=10, keys=("a",)):
    rows = [Row(key=k, sequence=i, value=float(i))
            for k in keys for i in range(1, n + 1)]
    return spark.createDataFrame(rows, "key STRING, sequence LONG, value DOUBLE")


@pytest.mark.parametrize("n,count,expect_windows,expect_last_size", [
    (10, 5, 2, 5),   # exact multiple → all panes full
    (10, 3, 4, 1),   # remainder pane of 1
    (2, 5, 1, 2),    # fewer rows than pane → single partial pane
])
def test_tumbling_count_matrix(spark, n, count, expect_windows, expect_last_size):
    df = _events(spark, n)
    out = w.tumbling_count_window(df, key_col="key", order_col="sequence",
                                  count=count).orderBy("window_id").collect()
    assert len(out) == expect_windows
    assert out[-1].window_size == expect_last_size
    # pane membership: window k holds sequences (k*count, (k+1)*count]
    assert out[0].window_size == min(count, n)


@pytest.mark.parametrize("length,slide,n", [
    (3, 1, 6),   # every record fires a pane of ≤3
    (4, 2, 8),   # panes at even positions
    (2, 2, 5),   # tumbling degenerate (length == slide)
])
def test_sliding_count_matrix(spark, length, slide, n):
    df = _events(spark, n)
    out = {r.window_end_pos: r.window_size
           for r in w.sliding_count_window(df, key_col="key", order_col="sequence",
                                           length=length, slide=slide).collect()}
    # fired triggers: multiples of slide ≤ n; pane holds trailing `length`
    expected = {t: min(length, t) for t in range(slide, n + 1, slide)}
    assert out == expected


def test_count_windows_independent_per_key(spark):
    df = _events(spark, 7, keys=("a", "b"))
    out = w.tumbling_count_window(df, key_col="key", order_col="sequence",
                                  count=3)
    per_key = {(r.key, r.window_id): r.window_size for r in out.collect()}
    for k in ("a", "b"):  # 7 rows → panes 3,3,1 for each key independently
        assert per_key[(k, 0)] == 3 and per_key[(k, 1)] == 3 and per_key[(k, 2)] == 1


# --------------------------------------------------- late-data watermarking

def test_split_late_watermark_semantics(spark):
    # arrival order: ts 10, 20 (wm=20), then 15 → late if maxLag=0
    rows = [Row(sequence=1, event_time=_ts(10)), Row(sequence=2, event_time=_ts(20)),
            Row(sequence=3, event_time=_ts(15))]
    df = spark.createDataFrame(rows)
    on_time, late = w.split_late(df, ts_col="event_time", arrival_col="sequence",
                                 max_lag="0 seconds")
    assert [r.sequence for r in late.collect()] == [3]
    assert sorted(r.sequence for r in on_time.collect()) == [1, 2]
    # with generous lag the same row is on time (maxLagMs semantics)
    on_time2, late2 = w.split_late(df, ts_col="event_time", arrival_col="sequence",
                                   max_lag="10 minutes")
    assert late2.count() == 0


def _ts(minute):
    import datetime as dt

    return dt.datetime(2024, 1, 1, 0, minute, 0)


def test_validate_produce(spark):
    reg_ = reg.SchemaRegistry()
    declared = T.StructType([T.StructField("a", T.LongType(), True),
                             T.StructField("b", T.StringType(), True)])
    reg_.register("t1", declared)
    ok = spark.createDataFrame([Row(a=1, b="x")], declared)
    assert reg.validate_produce(ok, reg_, "t1") is ok
    # wrong type for a declared field → rejected before write
    bad = spark.createDataFrame([Row(a="not-long", b="x")],
                                "a STRING, b STRING")
    with pytest.raises(ValueError):
        reg.validate_produce(bad, reg_, "t1")
    with pytest.raises(ValueError):
        reg.validate_produce(ok, reg_, "unregistered-topic")


# ------------------------------------------------------------- avro codecs

def test_avro_schema_roundtrip():
    """StructType → Avro record JSON → StructType preserves names, types,
    nullability, nesting (Schema.AVRO's generated schema shape)."""
    from incubator_pulsar_spark.functions import codecs

    st = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), True), True),
        T.StructField("born", T.DateType(), True),
        T.StructField("seen", T.TimestampType(), True),
        T.StructField("nested", T.StructType([
            T.StructField("x", T.IntegerType(), False),
            T.StructField("y", T.BinaryType(), True),
        ]), True),
    ])
    avro_json = codecs.spark_to_avro_schema(st, name="Person", namespace="ns")
    back = codecs.avro_to_spark_schema(avro_json)
    assert back == st
    rec = json.loads(avro_json)
    assert rec["name"] == "Person" and rec["namespace"] == "ns"
    # nullable fields are [null, T] unions with null default (evolution-ready)
    by_name = {f["name"]: f for f in rec["fields"]}
    assert by_name["name"]["type"][0] == "null"
    assert by_name["name"]["default"] is None
    assert by_name["id"]["type"] == "long"


def test_register_avro_compat_gate():
    """Avro-declared schemas flow through the same BACKWARD/FORWARD/FULL
    registry gate as JSON schemas (Schema.java:329 + compat strategy)."""
    from incubator_pulsar_spark.functions import codecs

    registry = reg.SchemaRegistry(strategy=reg.Compatibility.BACKWARD)
    v1 = codecs.spark_to_avro_schema(T.StructType([
        T.StructField("id", T.LongType(), False)]), name="E")
    assert codecs.register_avro(registry, "t", v1) == 0
    # adding a nullable field is BACKWARD-compatible
    v2 = codecs.spark_to_avro_schema(T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("note", T.StringType(), True)]), name="E")
    assert codecs.register_avro(registry, "t", v2) == 1
    # adding a REQUIRED field is not (old data can't be read)
    v3 = codecs.spark_to_avro_schema(T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("must", T.LongType(), False)]), name="E")
    with pytest.raises(ValueError):
        codecs.register_avro(registry, "t", v3)


# --------------------------------------------------------- protobuf schemas

PROTO_SRC = """
syntax = "proto3";
package demo;

// a Pulsar-style typed topic message
message Person {
  int64 id = 1;
  string name = 2;
  optional double score = 3;
  repeated string tags = 4;
  map<string, int64> attrs = 5;
  Address home = 6;
  Kind kind = 7;
  uint32 flags = 8;
  bytes raw = 9;
  message Address {
    string city = 1;
    int32 zip = 2;
  }
  enum Kind { UNKNOWN = 0; ADMIN = 1; }
}
"""


def test_proto_to_spark_schema():
    """.proto → StructType: scalars, widened unsigned, repeated → array,
    map → map, nested message → struct, enum → string
    (Schema.PROTOBUF_NATIVE declaration, Schema.java:145)."""
    from incubator_pulsar_spark.functions import codecs

    st = codecs.proto_to_spark_schema(PROTO_SRC, "Person")
    by = {f.name: f.dataType for f in st.fields}
    assert by["id"] == T.LongType()
    assert by["name"] == T.StringType()
    assert by["score"] == T.DoubleType()
    assert by["tags"] == T.ArrayType(T.StringType(), True)
    assert by["attrs"] == T.MapType(T.StringType(), T.LongType(), True)
    assert isinstance(by["home"], T.StructType)
    assert {f.name for f in by["home"].fields} == {"city", "zip"}
    assert by["kind"] == T.StringType()          # enums render as strings
    assert by["flags"] == T.LongType()           # uint32 widened to 64-bit
    assert by["raw"] == T.BinaryType()


def test_spark_to_proto_roundtrip():
    """StructType → .proto text → StructType is stable (the AUTO_PRODUCE
    export direction)."""
    from incubator_pulsar_spark.functions import codecs

    st = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType(), True), True),
        T.StructField("nested", T.StructType([
            T.StructField("x", T.IntegerType(), True)]), True),
    ])
    proto = codecs.spark_to_proto_schema(st, message_name="Rec")
    assert 'syntax = "proto3";' in proto
    back = codecs.proto_to_spark_schema(proto, "Rec")
    assert back == st


def test_register_protobuf_compat_gate():
    """Protobuf-declared schemas flow through the same registry compat
    gate as JSON/Avro ones."""
    from incubator_pulsar_spark.functions import codecs

    registry = reg.SchemaRegistry(strategy=reg.Compatibility.BACKWARD)
    v1 = 'syntax = "proto3"; message E { int64 id = 1; }'
    assert codecs.register_protobuf(registry, "t", v1, "E") == 0
    v2 = 'syntax = "proto3"; message E { int64 id = 1; optional string note = 2; }'
    assert codecs.register_protobuf(registry, "t", v2, "E") == 1


def test_proto_parser_rejects_unknown_type():
    from incubator_pulsar_spark.functions import codecs

    with pytest.raises(ValueError):
        codecs.proto_to_spark_schema(
            'syntax = "proto3"; message E { Missing m = 1; }', "E")


def test_proto_nested_same_bare_name_does_not_clobber():
    """Two nested messages named Meta in different parents stay distinct:
    each parent's bare `Meta` reference resolves to ITS OWN nested
    message (protobuf innermost-scope-first resolution), and qualified
    references work from anywhere."""
    from incubator_pulsar_spark.functions import codecs

    src = """
    syntax = "proto3";
    message A { message Meta { string x = 1; } Meta m = 1; }
    message B { message Meta { int64 y = 1; } Meta m = 1; }
    message C { A.Meta am = 1; B.Meta bm = 2; }
    """
    a = codecs.proto_to_spark_schema(src, "A")
    b = codecs.proto_to_spark_schema(src, "B")
    assert a["m"].dataType == T.StructType([T.StructField("x", T.StringType(), True)])
    assert b["m"].dataType == T.StructType([T.StructField("y", T.LongType(), True)])
    c = codecs.proto_to_spark_schema(src, "C")
    assert c["am"].dataType == a["m"].dataType
    assert c["bm"].dataType == b["m"].dataType
    # nested messages are addressable by qualified name only
    nested = codecs.proto_to_spark_schema(src, "A.Meta")
    assert nested == a["m"].dataType
    with pytest.raises(ValueError):
        codecs.proto_to_spark_schema(src, "Meta")


def test_avro_payload_roundtrip_if_available(spark):
    """Package-gated (like protobuf): executes only on a full Spark
    distribution where org.apache.spark.sql.avro is on the classpath."""
    from incubator_pulsar_spark.functions import codecs

    if not codecs.avro_functions_available(spark):
        pytest.skip("spark-avro not on classpath (pip pyspark)")
    st = T.StructType([T.StructField("id", T.LongType(), False),
                       T.StructField("name", T.StringType(), True)])
    avro_json = codecs.spark_to_avro_schema(st, name="R")
    df = spark.createDataFrame([(1, "a"), (2, None)], st)
    enc = df.select(codecs.avro_serialize(F.struct("id", "name")).alias("payload"))
    dec = enc.select(codecs.avro_deserialize(F.col("payload"), avro_json).alias("r")) \
             .select("r.id", "r.name")
    assert sorted((r.id, r.name) for r in dec.collect()) == [(1, "a"), (2, None)]


def test_protobuf_gated_probe():
    from incubator_pulsar_spark.functions import codecs

    assert codecs.protobuf_functions_available() in (True, False)


def test_registry_save_load_roundtrip(tmp_path):
    """Broker-style durable schemas: versions + strategy survive a
    restart; compat enforcement continues against the reloaded history."""
    r1 = reg.SchemaRegistry(strategy=reg.Compatibility.BACKWARD)
    v1 = T.StructType([T.StructField("id", T.LongType(), False)])
    v2 = T.StructType([T.StructField("id", T.LongType(), False),
                       T.StructField("note", T.StringType(), True)])
    r1.register("t", v1)
    r1.register("t", v2)
    p = str(tmp_path / "schemas.json")
    r1.save(p)
    r2 = reg.SchemaRegistry.load(p)
    assert r2.strategy == reg.Compatibility.BACKWARD
    assert r2.versions("t") == 2
    assert r2.latest("t") == v2
    assert r2.version("t", 0) == v1
    bad = T.StructType([T.StructField("id", T.LongType(), False),
                        T.StructField("must", T.LongType(), False)])
    with pytest.raises(ValueError):
        r2.register("t", bad)


# ------------------------------------------------------- time pane deltas

def test_pane_deltas_time_lifecycle(spark):
    """Time-trigger pane views: length 4s, slide 2s, events at t=1..7s →
    triggers at 2/4/6 (a key's triggers fire only up to its max ts)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [("k", base + dt.timedelta(seconds=s)) for s in range(1, 8)]
    df = spark.createDataFrame(rows, "key string, event_time timestamp")
    out = w.pane_deltas_time(df, length_seconds=4, slide_seconds=2)
    got = {}
    for r in out.collect():
        sec = (r["window_end_ts"] - base).seconds
        got.setdefault((sec, r["delta"]), []).append(
            (r["event_time"] - base).seconds)
    for v in got.values():
        v.sort()
    assert got == {
        (2, "new"): [1, 2],
        (4, "new"): [3, 4], (4, "carried"): [1, 2],
        (6, "new"): [5, 6], (6, "carried"): [3, 4], (6, "expired"): [1, 2],
    }


def test_pane_deltas_time_requires_divisible(spark):
    df = spark.createDataFrame([("k",)], "key string")
    with pytest.raises(ValueError):
        w.pane_deltas_time(df, length_seconds=5, slide_seconds=2)


def test_payload_codec_dispatch_all_types(spark):
    """payload_codec selects a working encode/decode pair for JSON, AVRO
    and PROTOBUF — all runnable in this container via the pure-Python
    wire codecs (the AutoProduce/AutoConsume codec-selection step)."""
    from incubator_pulsar_spark.functions import codecs

    st = T.StructType([T.StructField("id", T.LongType(), False),
                       T.StructField("name", T.StringType(), True)])
    df = spark.createDataFrame([Row(id=1, rec=Row(id=10, name="a")),
                                Row(id=2, rec=Row(id=20, name=None))],
                               T.StructType([
                                   T.StructField("id", T.LongType(), False),
                                   T.StructField("rec", st, False)]))
    avro_json = codecs.spark_to_avro_schema(st)
    proto = "message Rec { int64 id = 1; string name = 2; }"

    cases = [
        codecs.payload_codec(reg.SchemaType.JSON, avro_json=avro_json),
        codecs.payload_codec(reg.SchemaType.AVRO, avro_json=avro_json),
        codecs.payload_codec(reg.SchemaType.PROTOBUF, proto_text=proto,
                             message_name="Rec"),
    ]
    for enc, dec in cases:
        enc_df = enc(df, "rec", out_col="payload")
        assert dict(enc_df.dtypes)["payload"] == "binary"
        back = dec(enc_df, "payload", out_col="rec")
        got = {r["id"]: (r["rec"]["id"], r["rec"]["name"])
               for r in back.collect()}
        # proto3 renders absent strings as "", JSON/Avro keep NULL —
        # both are the codec's documented presence semantics
        assert got[1] == (10, "a")
        assert got[2][0] == 20 and got[2][1] in (None, "")


def test_kv_inline_byte_framing(spark):
    """Byte-exact INLINE KeyValue framing (KeyValueSchemaImpl.encode):
    [int32 key-len][key][int32 value-len][value], big-endian, -1 for
    NULL sides — verified against a hand-built byte vector, then
    round-tripped with Avro-serialized keys and values."""
    import struct as _struct

    from pyspark.sql import Row

    from incubator_pulsar_spark import registry as rg
    from incubator_pulsar_spark.functions.avro_binary import (
        avro_decode, avro_encode)
    from incubator_pulsar_spark.functions.codecs import spark_to_avro_schema

    # 1) hand vector
    df = spark.createDataFrame([Row(id=1, k=b"KY", v=b"VAL"),
                                Row(id=2, k=None, v=b"x")],
                               "id LONG, k BINARY, v BINARY")
    got = {r["id"]: bytes(r["payload"]) for r in
           rg.kv_inline_encode(df).collect()}
    assert got[1] == _struct.pack(">i", 2) + b"KY" + _struct.pack(">i", 3) + b"VAL"
    assert got[2] == _struct.pack(">i", -1) + _struct.pack(">i", 1) + b"x"
    back = {r["id"]: (r["k"] and bytes(r["k"]), bytes(r["v"])) for r in
            rg.kv_inline_decode(rg.kv_inline_encode(df)).collect()}
    assert back[1] == (b"KY", b"VAL") and back[2] == (None, b"x")

    # 2) composed with Avro payload codecs: KeyValue<Avro, Avro>
    kst = "STRUCT<uid: LONG>"
    vst = "STRUCT<name: STRING, n: LONG>"
    data = spark.createDataFrame(
        [Row(id=1, kk=Row(uid=7), vv=Row(name="a", n=1))],
        f"id LONG, kk {kst}, vv {vst}")
    k_json = spark_to_avro_schema(data.schema["kk"].dataType)
    v_json = spark_to_avro_schema(data.schema["vv"].dataType)
    enc = avro_encode(avro_encode(data, "kk", out_col="k"), "vv", out_col="v")
    framed = rg.kv_inline_encode(enc)
    unframed = rg.kv_inline_decode(framed)
    dec = avro_decode(avro_decode(unframed, "k", k_json, out_col="kk"),
                      "v", v_json, out_col="vv")
    r = dec.collect()[0]
    assert r["kk"] == Row(uid=7) and r["vv"] == Row(name="a", n=1)
