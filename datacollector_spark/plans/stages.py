"""The stage registry: one ``STAGES`` entry per pipeline-spec stage type.

An entry is everything :class:`~datacollector_spark.plans.spec.PipelineSpec`
needs to validate and wire one stage (the reference finds every stage
through one ``@StageDef`` registry the same way):

* ``required`` — config keys the stage needs (``VALIDATION_0003``);
* ``inputs`` — where it reads: ``"in"`` (one lane), ``"in_lanes"`` (fan-in)
  or None (an origin);
* ``out`` / ``extra`` — its output lanes: the default of the main ``out``
  lane, and any other lanes; ``lanes(st)`` names them all as {slot: lane}
  (a target has none);
* ``build(spark, st, src, offsets)`` — ``src`` is the input frame (the list
  of frames for ``in_lanes``, None for an origin); ``offsets`` collects the
  next offset per origin stage name. A stage with lanes returns
  {slot: DataFrame} covering every declared slot. A target returns either
  the frame exposed under its stage name, or a zero-argument writer that
  ``run_targets()`` calls — connector destinations write only then, so
  ``build()`` stays lazy.

Adding a stage type is one entry here.
"""

from __future__ import annotations

import dataclasses
import json
import os
import uuid
from functools import reduce
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacollector_spark.functions.el import el_dir_template
from datacollector_spark.lake.table import LakeTable
from datacollector_spark.model import payload_columns_of
from datacollector_spark.operators import processors as P
from datacollector_spark.operators.collapse import lww_collapse
from datacollector_spark.sources.cassandra import CassandraConfig, cassandra_target
from datacollector_spark.sources.elasticsearch import (
    EsScrollConfig,
    es_scroll_batch,
    es_scroll_offsets,
)
from datacollector_spark.sources.http import http_client_origin_batch
from datacollector_spark.sources.kafka import encode_for_kafka
from datacollector_spark.sources.kinesis import (
    KinesisClientConfig,
    kinesis_origin_batch,
)
from datacollector_spark.sources.mongodb import (
    MongoOplogConfig,
    MongoSourceConfig,
    MongoTargetConfig,
    mongodb_oplog_read_batch,
    mongodb_read_batch,
    mongodb_write,
)
from datacollector_spark.sources.rabbitmq import (
    RabbitConfig,
    rabbit_origin_batch,
    rabbit_target,
)
from datacollector_spark.sources.redis import redis_kv_lookup, redis_target
from datacollector_spark.sources.s3 import S3ClientConfig, s3_spool_batch
from datacollector_spark.sources.salesforce import (
    ForceConfig,
    force_bulk_query,
    force_next_offset,
)
from datacollector_spark.sources.sdc_record import read_sdc_record_files
from datacollector_spark.sources.sdcipc import sdc_ipc_target


class ValidationError(ValueError):
    pass


_IN = object()  # lane default: the stage's input lane, rewritten in place
# required keys whose value must also be a callable (user code, not config)
CALLABLE_KEYS = ("transformer", "func")


def _no_lanes(_st: dict) -> dict[str, str]:
    return {}


class Stage(NamedTuple):
    build: Callable[..., Any]
    required: tuple[str, ...] = ()
    inputs: str | None = "in"
    # default of the main ``out`` lane (_IN: the input lane); None: no main lane
    out: Any = _IN
    # the other output lanes of a stage dict, {slot: lane}
    extra: Callable[[dict], dict[str, str]] = _no_lanes

    def unmet(self, st: dict) -> str | None:
        """What stage ``st`` lacks of its input and required keys, if any."""
        if self.inputs and not st.get(self.inputs):
            return repr(self.inputs)
        for key in self.required:
            if key in CALLABLE_KEYS and not callable(st.get(key)):
                return f"a callable {key!r}"
            if key not in st:
                return repr(key)
        return None

    def consumed(self, st: dict) -> list[str]:
        """The lanes stage ``st`` reads, in order."""
        if not self.inputs:
            return []
        lanes = st[self.inputs]
        return [lanes] if isinstance(lanes, str) else list(lanes)

    def lanes(self, st: dict) -> dict[str, str]:
        """{slot: lane} for every output lane of stage ``st``."""
        if self.out is None:
            return self.extra(st)
        main = st.get("out", st.get("in") if self.out is _IN else self.out)
        return {"out": main, **self.extra(st)}


def _origin(build, *required) -> Stage:
    return Stage(build, required, None, "main")


def _target(build, *required) -> Stage:
    return Stage(build, required, out=None)


def _processor(fn, *required) -> Stage:
    """A processor whose stage keys are exactly ``fn``'s keyword args."""

    def build(_spark, st, src, _offsets):
        cfg = {k: v for k, v in st.items() if k not in ("name", "type", "in", "out")}
        return {"out": fn(src, **cfg)}

    return Stage(build, required)


def _kw(st: dict, *keys: str, **coerce) -> dict:
    """The optional stage keys ``keys``, and those ``coerce`` maps to their
    int()/bool()/... cast, that ``st`` sets — as keyword args, so an unset
    key takes the callee's default."""
    return {k: coerce.get(k, _same)(st[k]) for k in (*keys, *coerce) if k in st}


def _same(v):
    return v


def _config(cls, st: dict, **coerce):
    """Connector config dataclass ``cls`` from the stage keys named like its
    fields: the defaults live on the dataclass only."""
    return cls(**_kw(st, *(f.name for f in dataclasses.fields(cls)), **coerce))


def _rabbit_config(st: dict):
    return _config(
        RabbitConfig,
        st,
        queue_durable=bool,
        queue_exclusive=bool,
        queue_auto_delete=bool,
        exchanges=lambda v: list(v or []),
        mandatory=bool,
        properties=lambda v: dict(v or {}),
        single_message_per_batch=bool,
    )


def _client_config(cls, st: dict):
    """S3 / Kinesis client config: anonymous unless keys are given."""
    return cls(
        st["endpoint"],
        st.get("access_key", ""),
        st.get("secret_key", ""),
        **_kw(st, "region"),
    )


# ------------------------------------------------------------------ origins
def _parquet_origin(spark, st, _src, _offsets):
    reader = spark.read
    if "schema" in st:
        reader = reader.schema(st["schema"])
    return {"out": reader.format(st.get("format", "parquet")).load(st["path"])}


def _http_origin(spark, st, _src, _offsets):
    df, _off = http_client_origin_batch(
        spark,
        st["resource_url"],
        st["record_schema"],
        **_kw(
            st,
            "transport",
            "pagination_mode",
            "result_field_path",
            start_at=int,
            max_pages=int,
        ),
    )
    # downstream stages see record columns only, like the
    # reference's parsed records (page/pos are origin internals)
    if not st.get("keep_page_meta", False):
        df = df.drop("page", "request_url", "pos_in_page")
    return {"out": df}


def _s3_origin(spark, st, _src, offsets):
    df, offsets[st["name"]] = s3_spool_batch(
        spark,
        _client_config(S3ClientConfig, st),
        st["bucket"],
        st.get("common_prefix", ""),
        **_kw(st, "prefix_pattern", "ordering", "last_offset", fetch_partitions=int),
    )
    return {"out": df}


def _kinesis_origin(spark, st, _src, offsets):
    # a spec tails from LATEST like the reference's
    # initialPositionInStream default, not the engine API's TRIM_HORIZON
    df, offsets[st["name"]] = kinesis_origin_batch(
        spark,
        _client_config(KinesisClientConfig, st),
        st["stream"],
        st.get("initial_position", "LATEST"),
        **_kw(st, "last_offsets"),
    )
    return {"out": df}


def _json_spool_origin(spark, st, _src, _offsets):
    reader = spark.read
    if st.get("record_schema"):
        reader = reader.schema(st["record_schema"])
    return {"out": reader.json(st["spool_dir"])}


def _sdc_record_spool_origin(spark, st, _src, _offsets):
    # the reference's own SDC_RECORD (SDC_JSON) wire format:
    # distributed binaryFile scan + Arrow-batched decode
    df = read_sdc_record_files(
        spark,
        st["spool_dir"],
        st["record_schema"],
        **_kw(st, "glob", "with_headers", "with_error_headers"),
    )
    if not st.get("keep_file_column", False):
        df = df.drop("_file")
    return {"out": df}


def _es_scroll_origin(spark, st, _src, offsets):
    es_cfg = _config(
        EsScrollConfig,
        st,
        num_slices=int,
        max_batch_size=int,
        delete_cursor=bool,
        incremental=bool,
    )
    df = es_scroll_batch(spark, es_cfg, st["record_schema"], **_kw(st, "last_offsets"))
    if es_cfg.incremental:
        df = df.persist()
        # merge with the fed-back offsets so quiet slices keep
        # theirs; es_scroll_batch accepts this JSON string back
        offsets[st["name"]] = json.dumps(
            es_scroll_offsets(
                df, es_cfg.offset_field, cfg=es_cfg, previous=st.get("last_offsets")
            )
        )
    if not st.get("keep_slice_column", False):
        df = df.drop("_slice", "_id")
    return {"out": df}


def _force_bulk_origin(spark, st, _src, offsets):
    f_cfg = _config(ForceConfig, {"username": "", "password": "", **st})
    df = force_bulk_query(
        spark, f_cfg, st["record_schema"], **_kw(st, "last_offset")
    ).persist()
    nxt = force_next_offset(df, f_cfg.offset_column)
    if nxt is not None:
        offsets[st["name"]] = str(nxt)
    return {"out": df}


def _rabbitmq_origin(spark, st, _src, _offsets):
    df = rabbit_origin_batch(
        spark, _rabbit_config(st), st["record_schema"], **_kw(st, consumers=int)
    )
    # queue consumption is destructive — persist so a second
    # action (extra target, preview count) replays the cached
    # drain instead of re-reading an already-acked empty queue
    df = df.persist()
    if not st.get("keep_delivery_columns", False):
        df = df.drop("_delivery_tag", "_routing_key")
    return {"out": df}


def _mongodb_origin(spark, st, _src, _offsets):
    mg_cfg = _config(
        MongoSourceConfig, st, port=int, batch_size=int, num_partitions=int
    )
    last = _kw(st, "last_offset")
    return {"out": mongodb_read_batch(spark, mg_cfg, st["record_schema"], **last)}


def _mongodb_oplog_origin(spark, st, _src, _offsets):
    og_cfg = _config(
        MongoOplogConfig,
        st,
        port=int,
        initial_ts=int,
        initial_ordinal=int,
        filter_op_types=lambda v: tuple(v or MongoOplogConfig.filter_op_types),
        batch_size=int,
        num_partitions=int,
    )
    return {"out": mongodb_oplog_read_batch(spark, og_cfg, **_kw(st, "last_offset"))}


# --------------------------------------------------------------- processors
def _stream_selector(_spark, st, src, _offsets):
    conditions = [tuple(c) for c in st["conditions"]]
    return P.stream_selector(src, conditions, **_kw(st, "default_lane"))


def _selector_lanes(st: dict) -> dict[str, str]:
    # P.stream_selector returns {lane: frame}: the slots are the lanes
    lanes = [c[0] for c in st["conditions"]] + [st.get("default_lane", "default")]
    return {lane: lane for lane in lanes}


def _precondition_filter(_spark, st, src, _offsets):
    ok, err = P.precondition_filter(
        src, st.get("condition", ""), **_kw(st, "required_fields", "stage_name")
    )
    return {"out": ok, "error_lane": err}


def _spark_evaluator(_spark, st, src, _offsets):
    result, errors = P.spark_evaluator(
        src, st["transformer"], **_kw(st, "init_params")
    )
    return {"out": result, "error_lane": errors if errors is not None else src.limit(0)}


def _record_dedup(_spark, st, src, _offsets):
    # two output lanes: unique + duplicate (DeDupProcessor.java:
    # OutputStreams UNIQUE/DUPLICATE ordinals)
    unique, dup = P.record_deduplicator(src, **_kw(st, "columns", "order_column"))
    return {"out": unique, "dup_lane": dup}


def _jdbc_lookup(spark, st, src, _offsets):
    # dimension join: external DB -> local dim extract
    # (jdbc-lib/.../jdbclookup/JdbcLookupDProcessor.java)
    dim = spark.read.parquet(st["dim_path"])
    for a, b in (st.get("renames") or {}).items():
        dim = dim.withColumnRenamed(a, b)
    return {"out": P.broadcast_lookup(src, dim, st["on"], **_kw(st, "multiple"))}


def _geolocation_lookup(spark, st, src, _offsets):
    # range-dim probe (geolocation/GeolocationProcessor.java)
    ok, err = P.geolocation_lookup(
        src,
        spark.read.parquet(st["ranges_path"]),
        [tuple(c) for c in st["field_configs"]],
        **_kw(st, "lo_column", "hi_column", "missing_action"),
    )
    return {"out": ok, "error_lane": err}


def _geolocation_lanes(st: dict) -> dict[str, str]:
    # TO_ERROR grows an error lane for unmatched addresses
    if (st.get("missing_action") or "").upper() != "TO_ERROR":
        return {}
    return {"error_lane": st.get("error_lane", f"{st['name']}#errors")}


def _http_client(_spark, st, src, _offsets):
    url = el_dir_template(st["resource_url"], st.get("time_col", "ts"))
    return {
        "out": P.http_client_processor(
            src.withColumn("__http_url", url),
            "__http_url",
            response_column=st["into"],
            transport=st.get("transport"),
        ).drop("__http_url")
    }


def _lane_combiner(_spark, _st, srcs, _offsets):
    # fan-in: runner/CombinerPipe.java — union of the input lanes
    return {"out": reduce(DataFrame.unionByName, srcs)}


def _redis_lookup(_spark, st, src, _offsets):
    df = src
    for lk in st["lookups"]:
        keyed = df.withColumn("__redis_key", F.expr(lk["key_expr"]))
        df = redis_kv_lookup(
            keyed, "__redis_key", st["uri"], lk["into"], **_kw(lk, "data_type")
        ).drop("__redis_key")
    return {"out": df}


# ------------------------------------------------------------------ targets
def _memory_target(_spark, _st, src, _offsets):
    return src


def _kafka_encode_target(_spark, st, src, _offsets):
    # Kafka producer target: the encode + partition-strategy
    # half runs here (the broker write is jar-gated —
    # kafka_producer_sink wires writeStream.format("kafka")).
    # The encoded producer frame lands on the stage's lane.
    return encode_for_kafka(
        src,
        st["topic"],
        **_kw(
            st,
            "key_expr",
            "value_format",
            "partition_strategy",
            "partition_expr",
            num_partitions=int,
        ),
    )


def _solr_target(_spark, st, src, _offsets):
    return lambda: P.solr_sink(
        src,
        st["solr_uri"],
        st["collection"],
        st["field_map"],
        **_kw(st, "indexing_mode", "transport", batch_size=int),
    ).collect()


def _cassandra_target(_spark, st, src, _offsets):
    cfg = CassandraConfig(
        st["contact_point"],
        **_kw(st, "consistency", "batch_type", port=int, max_batch_size=int),
    )
    return lambda: cassandra_target(
        src, cfg, st["qualified_table"], st["column_map"]
    )


def _rabbitmq_target(_spark, st, src, _offsets):
    return lambda: rabbit_target(src, _rabbit_config(st))


def _fs_dir_template_target(_spark, st, src, _offsets):
    def write():
        base = st["base_dir"]
        prefix = st.get("unique_prefix", "sdc")
        suffix = st.get("file_name_suffix", "")
        dir_col = el_dir_template(st["dir_path_template"], st.get("time_col", "ts"))
        encoded = src.select(
            dir_col.alias("__dir"),
            F.to_json(F.struct(*src.columns)).alias("__line"),
        ).repartition(F.col("__dir"))

        def write_part(rows):
            handles: dict = {}
            try:
                for row in rows:
                    d = os.path.join(base, row["__dir"].lstrip("/"))
                    fh = handles.get(d)
                    if fh is None:
                        os.makedirs(d, exist_ok=True)
                        fname = f"{prefix}_{uuid.uuid4().hex}{suffix}"
                        fh = open(os.path.join(d, fname), "w")
                        handles[d] = fh
                    fh.write(row["__line"] + "\n")
            finally:
                for fh in handles.values():
                    fh.close()

        encoded.foreachPartition(write_part)
        n_files = sum(len(fs) for _, _, fs in os.walk(base) if fs)
        return {"files_written": n_files}

    return write


def _lake_target(mode: str | None):
    """MERGE into a lake table: ``mode`` fixes the merge mode (Kudu is MOR
    delta ingest), None takes the stage's ``mode`` (default COW)."""

    def build(_spark, st, src, _offsets):
        def write():
            df = src
            for fld, col in (st.get("renames") or {}).items():
                df = df.withColumnRenamed(fld, col)
            # non-CDC inputs (changeLogFormat NONE) carry no envelope —
            # synthesize it from the stage's default operation
            # (JdbcRecordReader.java:48-77 default-op fallback)
            if "op" not in df.columns:
                df = df.withColumn("op", F.lit(int(st.get("default_op_code", 1))))
            if "lsn" not in df.columns:
                df = df.withColumn("lsn", F.lit(0).cast("long"))
            if "seq_in_tx" not in df.columns:
                df = df.withColumn("seq_in_tx", F.lit(0))
            keys = list(st["key_columns"])
            collapsed = lww_collapse(df, key_columns=keys)
            path = st["table_path"]
            spark_s = src.sparkSession
            if not os.path.exists(os.path.join(path, "_manifests")):
                payload = payload_columns_of(collapsed.schema)
                LakeTable.create(
                    spark_s,
                    path,
                    collapsed.select(*payload).schema,
                    keys,
                    num_buckets=int(st.get("num_buckets", 16)),
                )
            res = LakeTable(spark_s, path).merge(
                collapsed,
                commit_key=st.get("commit_key"),
                mode=mode or st.get("mode", "cow"),
            )
            return res.as_dict()

        return write

    return build


def _mongodb_target(_spark, st, src, _offsets):
    cfg = _config(MongoTargetConfig, st, port=int, max_batch=int)

    def write():
        meters = mongodb_write(src, cfg).collect()
        return {
            m: sum(r[m] for r in meters)
            for m in ("inserted", "upserted", "deleted", "errors")
        }

    return write


def _redis_target(_spark, st, src, _offsets):
    # no field mappings is a PUBLISH-mode target
    return lambda: redis_target(
        src,
        st["uri"],
        st.get("field_mappings") or [],
        **_kw(st, "mode", "channel", batch_size=int),
    )


def _sdcipc_target(_spark, st, src, _offsets):
    return lambda: sdc_ipc_target(
        src,
        list(st["host_ports"]),
        st["app_id"],
        **_kw(st, compression=bool, retries_per_batch=int, back_off=int),
    )


STAGES: dict[str, Stage] = {
    # origins
    "parquet_origin": _origin(_parquet_origin, "path"),
    "http_origin": _origin(_http_origin, "resource_url", "record_schema"),
    "s3_origin_spool": _origin(_s3_origin, "endpoint", "bucket"),
    "kinesis_origin": _origin(_kinesis_origin, "endpoint", "stream"),
    "json_spool_origin": _origin(_json_spool_origin, "spool_dir"),
    "sdc_record_spool_origin": _origin(
        _sdc_record_spool_origin, "spool_dir", "record_schema"
    ),
    "es_scroll_origin": _origin(
        _es_scroll_origin, "http_uri", "index", "record_schema"
    ),
    "rabbitmq_origin": _origin(_rabbitmq_origin, "uri", "queue", "record_schema"),
    "force_bulk_origin": _origin(
        _force_bulk_origin, "login_url", "soql_query", "record_schema"
    ),
    "mongodb_origin": _origin(
        _mongodb_origin, "host", "port", "database", "collection", "record_schema"
    ),
    "mongodb_oplog_origin": _origin(_mongodb_oplog_origin, "host", "port"),
    # routing, fan-in and multi-lane processors
    "stream_selector": Stage(
        _stream_selector, ("conditions",), out=None, extra=_selector_lanes
    ),
    "lane_combiner": Stage(_lane_combiner, (), "in_lanes", "combined"),
    "precondition_filter": Stage(
        _precondition_filter,
        out="ok",
        extra=lambda st: {"error_lane": st.get("error_lane", "errors")},
    ),
    "record_dedup": Stage(
        _record_dedup,
        out="unique",
        extra=lambda st: {"dup_lane": st.get("dup_lane", "duplicates")},
    ),
    "spark_evaluator": Stage(
        _spark_evaluator,
        ("transformer",),
        extra=lambda st: (
            {"error_lane": st["error_lane"]} if st.get("error_lane") else {}
        ),
    ),
    "geolocation_lookup": Stage(
        _geolocation_lookup,
        ("ranges_path", "field_configs"),
        extra=_geolocation_lanes,
    ),
    # enrichment processors
    "jdbc_lookup": Stage(_jdbc_lookup, ("dim_path", "on")),
    "http_client": Stage(_http_client, ("resource_url", "into")),
    "redis_lookup": Stage(_redis_lookup, ("uri", "lookups")),
    # processors whose stage keys are the operator's keyword args
    "field_masker": _processor(P.field_masker, "columns"),
    "field_hasher": _processor(P.field_hasher, "columns", "target"),
    "field_remover": _processor(P.field_remover, "columns"),
    "field_renamer": _processor(P.field_renamer, "renames"),
    "field_splitter": _processor(P.field_splitter, "column", "separator", "to"),
    "field_type_converter": _processor(P.field_type_converter, "conversions"),
    "field_type_converter_by_type": _processor(
        P.field_type_converter_by_type, "conversions"
    ),
    "field_order": _processor(P.field_order, "order"),
    "value_replacer": _processor(P.value_replacer),
    "expression_evaluator": _processor(P.expression_evaluator, "expressions"),
    "json_parser": _processor(P.json_parser, "column", "schema", "into"),
    "xml_parser": _processor(P.xml_parser, "column", "schema", "into"),
    "log_parser": _processor(P.log_parser, "column", "pattern", "groups"),
    "base64_codec": _processor(P.base64_codec, "column", "into"),
    "static_lookup": _processor(
        P.static_lookup, "mapping", "key_column", "value_column"
    ),
    "list_pivot": _processor(P.list_pivot, "column"),
    "field_zip": _processor(P.field_zip, "into", "left", "right"),
    "field_merger": _processor(P.field_merger, "into", "columns"),
    "field_struct_merge": _processor(P.field_struct_merge, "from_col", "to_col"),
    "field_flattener": _processor(P.field_flattener, "column"),
    "field_flattener_entire": _processor(P.field_flattener_entire),
    "fuzzy_field_rename": _processor(P.fuzzy_field_rename, "expected"),
    "scripting": _processor(P.scripting_processor, "func"),
    # targets
    "memory_target": _target(_memory_target),
    "kafka_encode_target": _target(_kafka_encode_target, "topic"),
    "solr_target": _target(_solr_target, "solr_uri", "collection", "field_map"),
    "cassandra_target": _target(
        _cassandra_target, "contact_point", "qualified_table", "column_map"
    ),
    "rabbitmq_target": _target(_rabbitmq_target, "uri"),
    "fs_dir_template_target": _target(
        _fs_dir_template_target, "base_dir", "dir_path_template"
    ),
    # the reference's CDC apply destinations -> MERGE INTO the lake table
    "jdbc_producer_lake": _target(_lake_target(None), "table_path", "key_columns"),
    "kudu_lake": _target(_lake_target("mor"), "table_path", "key_columns"),
    "mongodb_target": _target(
        _mongodb_target, "host", "port", "database", "collection"
    ),
    "redis_target": _target(_redis_target, "uri"),
    "sdcipc_target": _target(_sdcipc_target, "host_ports", "app_id"),
}
