"""Port stock SDC pipeline-config exports onto pipeline specs.

``SDC_PORTS`` maps an exported stage's simple class name (the text after
the last ``_`` of its ``stageName``) to a port function. A port function
reads one exported stage (a :class:`_Port`) and returns the spec type and
config of the stage that replaces it, ``(type, cfg)``, or a list of them
for a chain of in-place stages. :func:`port_pipeline` does the rest once
for every stage: the ``name`` / ``in`` / ``out`` keys, the precondition
filter, the fan-in combiner, the chain's synthetic lanes, and an origin's
or target's overrides merged into its stage.

Porting a new class is one ``SDC_PORTS`` entry (plus one ``STAGES`` entry
in :mod:`~datacollector_spark.plans.stages` if its spec type is new).
"""

from __future__ import annotations

import re
from typing import Any, Callable, NoReturn

from datacollector_spark.functions.el import (
    ELContext,
    _sql_str_lit,
    el_to_sql,
    path_to_column,
)
from datacollector_spark.plans.stages import CALLABLE_KEYS, STAGES, ValidationError
from datacollector_spark.sources.formats import APACHE_COMMON_GROUPS, APACHE_COMMON_LOG

# a port's result: one (spec type, cfg), or a chain of them
Ported = tuple[str, dict] | list[tuple[str, dict]]


class _Port:
    """One exported stage on its way to spec form."""

    def __init__(self, st: dict, ctx: ELContext, origin_ov: dict, stage_ov: dict):
        self.name = st["instanceName"]
        self.klass = st.get("stageName", "")
        self.simple = self.klass.rsplit("_", 1)[-1]
        self.conf = {c["name"]: c.get("value") for c in st.get("configuration", [])}
        self.ins = list(st.get("inputLanes", []))
        self.outs = st.get("outputLanes", [])
        self.ctx = ctx
        # origins and targets stand in for an external system: their
        # overrides (sandbox endpoints, local paths) flow into the stage
        self.is_origin = self.simple.endswith("DSource")
        self.endpoint = self.is_origin or self.simple.endswith("DTarget")
        self.ov_arg = "origin_overrides" if self.is_origin else "stage_overrides"
        self.ov = (origin_ov if self.is_origin else stage_ov).get(self.name) or {}
        # override keys a port has already folded into the stage
        self.consumed: set[str] = set()
        # per-stage required fields + preconditions (every exported
        # stage carries stageRequiredFields/stageRecordPreconditions)
        self.required_fields = self.conf.get("stageRequiredFields") or []
        self.preconditions = self.conf.get("stageRecordPreconditions") or []
        # a precondition stage runs first; it owns the '<name>#errors' lane
        self.checked = bool(self.ins and (self.required_fields or self.preconditions))

    def el(self, s: str) -> str:
        return el_to_sql(s, self.ctx)

    def get(self, *names, default=None):
        """Exported nested config beans use dotted names
        (``config.fields``, ``conf.values``) — try each spelling."""
        for n in names:
            if self.conf.get(n) is not None:
                return self.conf[n]
        return default

    def fail(self, msg: str, code: str = "0003") -> NoReturn:
        raise ValidationError(f"VALIDATION_{code}: {self.name}: {msg}")

    def need(self, *keys: str, why: str = "") -> dict:
        """The overrides entry, which must carry ``keys`` (0008 for an
        origin or target, 0009 for a processor)."""
        missing = [
            k
            for k in keys
            if k not in self.ov or (k in CALLABLE_KEYS and not callable(self.ov[k]))
        ]
        if missing:
            self.fail(
                f"{self.simple} needs {missing} in its {self.ov_arg} entry{why}",
                "0008" if self.endpoint else "0009",
            )
        return self.ov

    def setting(self, ov_key: str, conf_key: str):
        """An endpoint setting: the override ``ov_key``, else the export's
        ``conf_key``."""
        self.consumed.add(ov_key)
        value = self.ov.get(ov_key) or self.conf.get(conf_key)
        if not value:
            self.fail(
                f"{self.simple} needs {conf_key!r} "
                f"(or {ov_key!r} in its {self.ov_arg} entry)",
                "0008",
            )
        return value

    def host_port(self, ov_key: str, conf_key: str) -> tuple[str, int]:
        """host, port of a ``scheme://host:port[/db]`` connection string."""
        conn = self.setting(ov_key, conf_key)
        host, _, port = conn.split("://", 1)[-1].split("/", 1)[0].partition(":")
        return host, int(port or 27017)


def _literal(s):
    """Config replacement values are strings; the reference converts to the
    field's type at runtime (FieldValueReplacerProcessor convertToType) —
    here numeric/boolean-looking strings become typed literals so when/
    otherwise branches keep the column's type."""
    if not isinstance(s, str):
        return s
    t = s.strip()
    for cast in (int, float):
        try:
            return cast(t)
        except ValueError:
            pass
    if t.lower() in ("true", "false"):
        return t.lower() == "true"
    return s


def _sql_literal(s) -> str:
    v = _literal(s)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    return _sql_str_lit(v)


def _as_map(value) -> dict:
    """MAP-type configs export as [{key, value}] lists."""
    if isinstance(value, dict):
        return value
    return {e["key"]: e["value"] for e in (value or [])}


# SDC Field.Type -> Spark SQL type
_SDC_TYPES = {
    "BOOLEAN": "boolean", "BYTE": "tinyint", "SHORT": "smallint",
    "INTEGER": "int", "LONG": "bigint", "FLOAT": "float",
    "DOUBLE": "double", "DECIMAL": "decimal(38,9)",
    "STRING": "string", "DATE": "date", "DATETIME": "timestamp",
}
_SCHEMA_WHY = " (Spark parses with a schema; the reference infers per record)"


# --------------------------------------------------------------- processors
def _selector(p: _Port) -> Ported:
    # lanePredicates [{outputLane, predicate}] where the last predicate is
    # the literal "default" (SelectorProcessor.java:66-67,92-110)
    preds = p.conf.get("lanePredicates") or []
    if not preds or preds[-1].get("predicate") != "default":
        p.fail(
            "selector needs lanePredicates ending with the 'default' "
            "predicate (SELECTOR_07)"
        )
    return "stream_selector", {
        "conditions": [[c["outputLane"], p.el(c["predicate"])] for c in preds[:-1]],
        "default_lane": preds[-1]["outputLane"],
    }


def _expression(p: _Port) -> Ported:
    # expressionProcessorConfigs [{fieldToSet, expression}]
    # (ExpressionProcessorConfig.java:41,54)
    return "expression_evaluator", {
        "expressions": {
            path_to_column(e["fieldToSet"]): p.el(e["expression"])
            for e in p.conf.get("expressionProcessorConfigs", [])
        }
    }


def _field_renamer(p: _Port) -> Ported:
    return "field_renamer", {
        "renames": {
            path_to_column(r["fromFieldExpression"]):
                path_to_column(r["toFieldExpression"])
            for r in p.conf.get("renameMapping", [])
        }
    }


def _type_converter(p: _Port) -> Ported:
    # FieldTypeConverterConfig.java:41-49 {fields, targetType}. Exported
    # configs carry dozens of defaulted keys we deliberately ignore.
    def target_of(c: dict) -> str:
        tt = (c.get("targetType") or "").upper()
        if tt not in _SDC_TYPES:
            p.fail(f"unsupported targetType {tt!r}")
        if tt == "DATETIME" and c.get("otherDateFormat"):
            return f"timestamp:{c['otherDateFormat']}"
        return _SDC_TYPES[tt]

    whole = p.conf.get("wholeTypeConverterConfigs") or []
    if whole or (p.conf.get("convertBy") or "").upper() == "BY_TYPE":
        # BY_TYPE mode: convert every field whose CURRENT type
        # matches (FieldTypeConverterProcessor.java:60-102) —
        # a schema walk here, sourceType in SDC Field.Type
        # names mapped onto Spark simpleStrings
        src_map = dict(_SDC_TYPES, DECIMAL="decimal")
        by_type: dict[str, str] = {}
        for c in whole:
            src = (c.get("sourceType") or "").upper()
            if src not in src_map:
                p.fail(f"unsupported sourceType {src!r}")
            by_type[src_map[src]] = target_of(c)
        return "field_type_converter_by_type", {"conversions": by_type}
    conversions: dict[str, str] = {}
    for c in p.conf.get("fieldTypeConverterConfigs", []):
        target = target_of(c)
        for fld in c.get("fields", []):
            conversions[path_to_column(fld)] = target
    return "field_type_converter", {"conversions": conversions}


def _field_hasher(p: _Port) -> Ported:
    # FieldHasherConfig.java:38-49: each source field is hashed IN PLACE —
    # one field_hasher stage per field, chained on synthetic lanes
    algo_map = {"MD5": "md5", "SHA1": "sha1", "SHA2": "sha256"}
    return [
        (
            "field_hasher",
            {
                "columns": [path_to_column(fld)],
                "target": path_to_column(fld),
                "algo": algo_map.get((hc.get("hashType") or "SHA2").upper(), "sha256"),
            },
        )
        for hc in p.conf.get("fieldHasherConfigs", [])
        for fld in hc.get("sourceFieldsToHash", [])
    ]


def _field_mask(p: _Port) -> Ported:
    # FieldMaskConfig.java:28-88 (all four mask types) — one masker stage
    # per config entry (each entry may cover several fields with one mask)
    def mask_stage(mc: dict) -> tuple[str, dict]:
        mt = (mc.get("maskType") or "VARIABLE_LENGTH").upper()
        stage = {
            "columns": [path_to_column(f) for f in mc.get("fields", [])],
            "mask_type": mt,
        }
        if mt == "CUSTOM":
            stage["custom_mask"] = mc.get("mask") or ""
        if mt == "REGEX":
            stage["regex"] = mc.get("regex") or ""
            groups = str(mc.get("groupsToShow") or "").strip()
            shown = sorted(int(g) for g in groups.split(",") if g.strip())
            # the engine's REGEX mode reveals the first N
            # groups; a non-prefix selection ("2,4") would
            # change semantics silently — refuse it instead
            if shown != list(range(1, len(shown) + 1)):
                p.fail(f"groupsToShow {groups!r} must be the prefix 1..N")
            stage["groups_to_show"] = len(shown)
        return "field_masker", stage

    return [mask_stage(mc) for mc in p.conf.get("fieldMaskConfigs", [])]


def _value_replacer(p: _Port) -> Ported:
    # fieldsToReplaceIfNull + fieldsToConditionallyReplace +
    # nullReplacerConditionalConfigs, applied in
    # FieldValueReplacerProcessor.java order: conditional
    # null-out, then null backfill, then conditional replace
    op_map = {
        "EQUALS": "=", "NOT_EQUALS": "!=", "LESS_THAN": "<",
        "LESS_THAN_EQUALS": "<=", "GREATER_THAN": ">",
        "GREATER_THAN_EQUALS": ">=",
    }
    conditional = []
    for c in p.conf.get("fieldsToConditionallyReplace") or []:
        op = (c.get("operator") or "EQUALS").upper()
        if op not in op_map:
            p.fail(f"unsupported operator {op!r}")
        for f in c.get("fieldNames", []):
            col = path_to_column(f)
            conditional.append(
                [
                    col,
                    f"{col} {op_map[op]} {_sql_literal(c.get('comparisonValue'))}",
                    _literal(c.get("replacementValue")),
                ]
            )
    return "value_replacer", {
        "null_when": [
            [path_to_column(f), p.el(c["condition"])]
            for c in p.conf.get("nullReplacerConditionalConfigs") or []
            for f in c.get("fieldsToNull", [])
        ],
        "null_defaults": {
            path_to_column(f): _literal(c.get("newValue"))
            for c in p.conf.get("fieldsToReplaceIfNull") or []
            for f in c.get("fields", [])
        },
        "conditional": conditional,
    }


def _splitter(p: _Port) -> Ported:
    # fieldPath/separator/fieldPathsForSplits/tooManySplitsAction/
    # remainingSplitsPath/originalFieldAction (SplitterProcessor.java:95-147)
    action = p.conf.get("tooManySplitsAction")
    too_many = {"TO_LAST_FIELD": "to_last_field", "TO_LIST": "to_list"}.get(
        (action or "TO_LAST_FIELD").upper()
    )
    if too_many is None:
        p.fail(f"unsupported tooManySplitsAction {action!r}")
    stage = {
        "column": path_to_column(p.conf["fieldPath"]),
        "separator": p.conf["separator"],
        "to": [path_to_column(f) for f in p.conf["fieldPathsForSplits"]],
        "too_many": too_many,
        "keep_original": (
            (p.conf.get("originalFieldAction") or "REMOVE").upper() == "KEEP"
        ),
    }
    if too_many == "to_list":
        stage["remaining_to"] = path_to_column(
            p.conf.get("remainingSplitsPath") or "/remainingSplits"
        )
    return "field_splitter", stage


def _json_parser(p: _Port) -> Ported:
    # fieldPathToParse/parsedFieldPath; Spark needs a declared parse
    # schema where the reference infers per record
    ov = p.need("schema", why=_SCHEMA_WHY)
    return "json_parser", {
        "column": path_to_column(p.conf["fieldPathToParse"]),
        "into": path_to_column(p.conf["parsedFieldPath"]),
        "schema": ov["schema"],
    }


def _list_pivot(p: _Port) -> Ported:
    # listPath/newPath/copyFields/saveOriginalFieldName
    # (ListPivotDProcessor.java:55-106)
    stage = {
        "column": path_to_column(p.conf["listPath"]),
        "copy_fields": bool(p.conf.get("copyFields", True)),
    }
    if p.conf.get("newPath"):
        stage["into"] = path_to_column(p.conf["newPath"])
    if p.conf.get("saveOriginalFieldName") and p.conf.get("originalFieldNamePath"):
        stage["original_name_to"] = path_to_column(p.conf["originalFieldNamePath"])
    return "list_pivot", stage


def _field_order(p: _Port) -> Ported:
    # config.fields/missingFieldAction/defaultValue/extraFieldAction
    # (OrderConfigBean.java)
    order = [path_to_column(f) for f in p.get("config.fields", "fields", default=[])]
    missing = (
        p.get("config.missingFieldAction", "missingFieldAction") or "TO_ERROR"
    ).upper()
    extra = (p.get("config.extraFieldAction", "extraFieldAction") or "TO_ERROR").upper()
    stage = {"order": order, "extra": "drop" if extra == "DISCARD" else "error"}
    if missing == "USE_DEFAULT":
        dv = _literal(p.get("config.defaultValue", "defaultValue"))
        stage["defaults"] = {c: dv for c in order}
    return "field_order", stage


def _field_flattener(p: _Port) -> Ported:
    # ENTIRE_RECORD and SPECIFIC_FIELDS (FieldFlattenerConfig.java)
    ftype = (p.get("config.flattenType", "flattenType") or "ENTIRE_RECORD").upper()
    sep = p.get("config.nameSeparator", "nameSeparator") or "_"
    if ftype == "ENTIRE_RECORD":
        return "field_flattener_entire", {"separator": sep}
    return [
        (
            "field_flattener",
            {"column": path_to_column(f), "separator": sep, "recursive": True},
        )
        for f in p.get("config.fields", "fields", default=[])
    ]


def _field_merger(p: _Port) -> Ported:
    # mergeMapping fromField -> toField map-merge (FieldMergerProcessor.java)
    overwrite = bool(p.conf.get("overwriteExisting"))
    return [
        (
            "field_struct_merge",
            {
                "from_col": path_to_column(m["fromField"]),
                "to_col": path_to_column(m["toField"]),
                "overwrite": overwrite,
            },
        )
        for m in p.conf.get("mergeMapping", [])
    ]


def _field_zip(p: _Port) -> Ported:
    return [
        (
            "field_zip",
            {
                "into": path_to_column(z["zippedFieldPath"]),
                "left": path_to_column(z["firstField"]),
                "right": path_to_column(z["secondField"]),
            },
        )
        for z in p.get(
            "fieldZipConfigBean.fieldZipConfigs", "fieldZipConfigs", default=[]
        )
    ]


def _local_lookup(p: _Port) -> Ported:
    # conf.values KV map + conf.lookups keyExpr/outputFieldPath
    # (kv/local/LocalLookupProcessor.java)
    values = _as_map(p.get("conf.values", "values", default={}))
    return [
        (
            "static_lookup",
            {
                "mapping": values,
                "key_column": p.el(lk["keyExpr"]),
                "value_column": path_to_column(lk["outputFieldPath"]),
            },
        )
        for lk in p.get("conf.lookups", "lookups", default=[])
    ]


def _dedup(p: _Port) -> Ported:
    # two output lanes (UNIQUE, DUPLICATE); compareFields ALL_FIELDS/
    # SPECIFIED_FIELDS (DeDupProcessor.java:116-154). The record-count/time
    # windows are the reference's bounded-memory cache — the batch engine
    # compares globally (a strictly stronger dedup)
    compare = (p.conf.get("compareFields") or "ALL_FIELDS").upper()
    return "record_dedup", {
        "dup_lane": p.outs[1] if len(p.outs) > 1 else f"{p.name}#dup",
        "columns": (
            [path_to_column(f) for f in p.conf.get("fieldsToCompare", [])]
            if compare == "SPECIFIED_FIELDS"
            else None
        ),
    }


def _jdbc_lookup(p: _Port) -> Ported:
    # jdbc-lib/.../jdbclookup: the lookup queries an EXTERNAL
    # database per record; the scale-correct Spark form is a
    # broadcast join against a local extract of the dimension
    # (same pattern as origin_overrides: the caller supplies
    # {path, on}). columnMappings rename dim columns onto the
    # record's field paths.
    ov = p.need(
        "path",
        "on",
        why=" — the dimension extract {'path': parquet, 'on': [join cols]} "
        "(the query runs against an external DB the sandbox lacks)",
    )
    multiple = (p.conf.get("multipleValuesBehavior") or "FIRST_ONLY").upper()
    return "jdbc_lookup", {
        "dim_path": ov["path"],
        "on": ov["on"],
        "renames": {
            m["columnName"]: path_to_column(m["field"])
            for m in p.conf.get("columnMappings", [])
        },
        "multiple": multiple.replace("SPLIT_INTO_MULTIPLE_RECORDS", "SPLIT"),
    }


def _http_processor(p: _Port) -> Ported:
    # basic-lib/.../processor/http/HttpProcessorConfig.java:
    # resourceUrl is an EL TEMPLATE (literal text + ${...}
    # tokens) resolved per record; outputField receives the
    # response. The transport is injectable (no network here) —
    # supplied via stage_overrides, like the engine operator.
    url = p.get("conf.resourceUrl", "resourceUrl")
    out_field = p.get("conf.outputField", "outputField")
    if not url or not out_field:
        p.fail("HTTP processor needs conf.resourceUrl and conf.outputField")
    return "http_client", {
        "resource_url": url,
        "into": path_to_column(out_field),
        "transport": p.ov.get("transport"),
        "time_col": p.ov.get("time_col", "ts"),
    }


def _xml_parser(p: _Port) -> Ported:
    # declared schema via stage_overrides (like the JSON parser)
    ov = p.need("schema", why=_SCHEMA_WHY)
    return "xml_parser", {
        "column": path_to_column(p.get("configs.fieldPathToParse", "fieldPathToParse")),
        "into": path_to_column(p.get("configs.parsedFieldPath", "parsedFieldPath")),
        "schema": ov["schema"],
    }


def _log_parser(p: _Port) -> Ported:
    # LogParserDProcessor.java:58-135 — REGEX mode (regex +
    # fieldPathsToGroupName) and COMMON_LOG_FORMAT (the stock
    # Apache CLF regex, sources/formats.py) port; grok/log4j
    # custom formats are jar-side parser configs -> refuse by
    # name rather than mis-parse
    mode = (p.conf.get("logMode") or "COMMON_LOG_FORMAT").upper()
    if mode == "REGEX":
        pattern = p.conf.get("regex") or ""
        groups = {
            path_to_column(g["fieldPath"]): int(g.get("group", 1))
            for g in p.conf.get("fieldPathsToGroupName", [])
        }
    elif mode == "COMMON_LOG_FORMAT":
        pattern, groups = APACHE_COMMON_LOG, dict(APACHE_COMMON_GROUPS)
    else:
        p.fail(f"logMode {mode!r} is not ported (REGEX and COMMON_LOG_FORMAT are)")
    return "log_parser", {
        "column": path_to_column(p.conf["fieldPathToParse"]),
        "pattern": pattern,
        "groups": groups,
    }


def _base64(decode: bool) -> Callable[[_Port], Ported]:
    # originFieldPath -> resultFieldPath
    def port(p: _Port) -> Ported:
        return "base64_codec", {
            "column": path_to_column(p.conf["originFieldPath"]),
            "into": path_to_column(p.conf["resultFieldPath"]),
            "decode": decode,
        }

    return port


def _field_remover(p: _Port) -> Ported:
    # fields + filterOperation
    return "field_remover", {
        "columns": [path_to_column(f) for f in p.conf.get("fields", [])],
        "keep": (p.conf.get("filterOperation") or "REMOVE").upper() == "KEEP",
    }


def _spark_evaluator(p: _Port) -> Ported:
    # Spark Evaluator: the exported config names a JVM SparkTransformer
    # class; here user code is a Python callable supplied at port time —
    # the engine runs it natively on the live lane
    cls_name = p.conf.get("sparkProcessorConfigBean.transformerClass")
    ov = p.need(
        "transformer",
        why=f" — transformerClass ({cls_name!r}) is a JVM class that cannot "
        "load here; supply the equivalent callable",
    )
    return "spark_evaluator", {
        "transformer": ov["transformer"],
        "init_params": ov.get("init_params"),
    }


def _fuzzy_field(p: _Port) -> Ported:
    # fuzzy/FuzzyFieldDProcessor.java — the supported shape is
    # the in-place single-candidate mode; allCandidates=true
    # emits per-candidate {score, header, value} maps (a
    # record-introspection shape with no columnar meaning).
    # rootFieldPaths scopes matching "up to 1 level deep" — the
    # flat frame IS that level, so every column is a candidate.
    if p.conf.get("allCandidates"):
        p.fail(
            "allCandidates=true emits per-candidate score maps — port with "
            "allCandidates=false (in-place rename)"
        )
    if p.conf.get("inPlace") is False:
        p.fail("inPlace=false keeps candidate metadata — port with inPlace=true")
    return "fuzzy_field_rename", {
        "expected": [path_to_column(f) for f in p.conf.get("outputFieldNames") or []],
        "threshold": float(p.conf.get("matchThreshold", 60)) / 100.0,
        "preserve_unmatched": bool(p.conf.get("preserveUnmatchedFields", True)),
    }


def _geolocation(p: _Port) -> Ported:
    # geolocation/GeolocationDProcessor.java — dbConfigs name
    # GeoIP2 .mmdb binaries (vendor artifact, jar-side reader);
    # the columnar port probes a (range_lo, range_hi, attr...)
    # extract of the same database, broadcast like any dim
    ov = p.need(
        "ranges_path",
        why=f" — the GeoIP2 database ({p.conf.get('dbConfigs')!r}) is a binary "
        "maxmind artifact; supply a (range_lo, range_hi, attr...) parquet extract",
    )
    missing = (p.conf.get("missingAddressAction") or "REPLACE_WITH_NULLS").upper()
    stage = {
        "ranges_path": ov["ranges_path"],
        # GeolocationFieldConfig {inputFieldName, outputFieldName,
        # targetType: GeolocationField} — the attr column carries
        # the enum's lowercase name (COUNTRY_NAME -> country_name)
        "field_configs": [
            [
                path_to_column(c["inputFieldName"]),
                path_to_column(c["outputFieldName"]),
                (c.get("targetType") or "").lower(),
            ]
            for c in p.conf.get("fieldTypeConverterConfigs", [])
        ],
        "missing_action": missing,
        "lo_column": ov.get("lo_column", "range_lo"),
        "hi_column": ov.get("hi_column", "range_hi"),
    }
    if missing == "TO_ERROR":
        # next to a precondition stage's '#errors', both error lanes survive
        stage["error_lane"] = f"{p.name}#{'geo_' if p.checked else ''}errors"
    return "geolocation_lookup", stage


def _scripting(p: _Port) -> Ported:
    # scripting processors: the exported 'script' config is
    # JS/Jython/Groovy source with the records binding — no
    # engine for it here, and a faithful per-record interpreter
    # would be the slow path anyway. The port contract mirrors
    # the Spark-evaluator doctrine: the user supplies the
    # vectorized pandas equivalent (runs via mapInPandas,
    # Arrow-batched — commonlib AbstractScriptingProcessor's
    # batch mode without the per-record loop).
    ov = p.need(
        "func",
        why=" — the 'script' source cannot execute here; supply the vectorized "
        "pandas equivalent {'func': fn, 'schema': ...}",
    )
    stage = {"func": ov["func"]}
    if ov.get("schema") is not None:
        stage["schema"] = ov["schema"]
    return "scripting", stage


def _xml_flattening(p: _Port) -> Ported:
    # xmlflattener/XMLFlatteningDProcessor.java — parse the XML
    # text in fromField and flatten the element tree into
    # record fields named root<fieldDelimiter>child... Spark
    # parses with a declared schema (the reference infers per
    # record), and the flattened prefix is the document's root
    # element — both supplied via stage_overrides. Attributes
    # appear iff the override schema declares them
    # (ignoreAttributes is schema-driven here); name
    # collisions resolve by select order (newFieldOverwrites).
    ov = p.need("schema", "root", why=" — {'schema': ..., 'root': 'elem'}")
    if p.conf.get("recordDelimiter"):
        p.fail(
            "recordDelimiter (one record per repeated child element) is not "
            "ported directly — port as an XML parser stage + List Pivot over "
            "the repeated array field"
        )
    if (p.conf.get("outputField") or "").strip("/"):
        p.fail("only record-root output (empty outputField) is ported")
    source = path_to_column(p.conf["fromField"])
    chain = [
        ("xml_parser", {"column": source, "into": ov["root"], "schema": ov["schema"]}),
        (
            "field_flattener",
            {
                "column": ov["root"],
                "separator": p.conf.get("fieldDelimiter") or ".",
                "recursive": True,
            },
        ),
    ]
    if not p.conf.get("keepOriginalFields", True):
        chain.append(("field_remover", {"columns": [source]}))
    return chain


def _redis_lookup(p: _Port) -> Ported:
    # Redis KV Lookup (redis-lib/.../kv/redis/
    # RedisLookupProcessor.java:107,145 — keyExpr is EL,
    # evaluated per record; conf.lookups rows carry
    # {keyExpr, outputFieldPath, dataType}).  The Redis
    # endpoint rides the export's conf.uri or a
    # stage_overrides {'uri': ...} (tests point it at the
    # loopback RESP fake).
    uri = p.setting("uri", "conf.uri")
    lookups = p.conf.get("conf.lookups") or []
    if not lookups:
        p.fail("conf.lookups is empty")
    return "redis_lookup", {
        "uri": uri,
        "lookups": [
            {
                "key_expr": p.el(lk["keyExpr"]),
                "into": path_to_column(lk["outputFieldPath"]),
                "data_type": lk.get("dataType", "STRING"),
            }
            for lk in lookups
        ],
    }


# ------------------------------------------------------------------ origins
def _parquet_origin(p: _Port) -> Ported:
    # the established origin-replacement pattern: a local 'path' override
    # swaps the origin for a parquet read (tests / previews against lake
    # extracts; sandbox origins read files, not the jar-bound system)
    p.need("path")
    return "parquet_origin", {}


def _http_origin(p: _Port) -> Ported:
    # HTTP Client origin (HttpClientSourceConfigBean): resourceUrl
    # with ${startAt}, pagination bean, resultFieldPath. The
    # endpoint itself is external, so origin_overrides supplies
    # the transport (tests) or nothing (default urllib) plus the
    # record schema the dataFormatConfig implies.
    p.need("record_schema", why=" (and optionally 'transport')")
    rfp = p.conf.get("conf.pagination.resultFieldPath") or None
    return "http_origin", {
        "resource_url": p.conf.get("conf.resourceUrl", ""),
        "pagination_mode": p.conf.get("conf.pagination.mode", "NONE"),
        "start_at": p.conf.get("conf.pagination.startAt", 0),
        "result_field_path": path_to_column(rfp) if rfp else None,
    }


def _s3_origin(p: _Port) -> Ported:
    # S3 origin (S3ConfigBean: s3Config.bucket/commonPrefix,
    # s3FileConfig.prefixPattern/objectOrdering); regional AWS
    # endpoints are unreachable here, so overrides supply
    # endpoint+credentials (or the export's OTHER-region
    # s3Config.endpoint is honored)
    pfx = "s3ConfigBean."
    return "s3_origin_spool", {
        "endpoint": p.setting("endpoint", pfx + "s3Config.endpoint"),
        "access_key": p.conf.get(pfx + "s3Config.awsConfig.awsAccessKeyId", ""),
        "secret_key": p.conf.get(pfx + "s3Config.awsConfig.awsSecretAccessKey", ""),
        "bucket": p.conf.get(pfx + "s3Config.bucket", ""),
        "common_prefix": p.conf.get(pfx + "s3Config.commonPrefix", ""),
        "prefix_pattern": p.conf.get(pfx + "s3FileConfig.prefixPattern", "*"),
        "ordering": p.conf.get(pfx + "s3FileConfig.objectOrdering", "LEXICOGRAPHICAL"),
    }


def _kinesis_origin(p: _Port) -> Ported:
    # Kinesis origin (KinesisConfigBean.streamName/endpoint,
    # initialPositionInStream default LATEST)
    return "kinesis_origin", {
        "endpoint": p.setting("endpoint", "kinesisConfig.endpoint"),
        "access_key": p.conf.get("kinesisConfig.awsConfig.awsAccessKeyId", ""),
        "secret_key": p.conf.get("kinesisConfig.awsConfig.awsSecretAccessKey", ""),
        "stream": p.conf.get("kinesisConfig.streamName", ""),
        "initial_position": p.conf.get(
            "kinesisConfig.initialPositionInStream", "LATEST"
        ),
    }


def _sdcipc_origin(p: _Port) -> Ported:
    # SDC RPC origin: the LISTENER is process state
    # (sources/sdcipc.SdcIpcOrigin), not pipeline config; the
    # ported stage reads the listener's spool landing dir
    p.need(
        "spool_dir",
        why=" — the running listener's spool dir (start one with "
        f"SdcIpcOrigin(spool_dir, app_id={p.conf.get('configs.appId')!r}))",
    )
    return "json_spool_origin", {}


def _spool_dir(p: _Port) -> Ported:
    # Directory origin (SpoolDirConfigBean: conf.spoolDir /
    # conf.filePattern / conf.dataFormat — basic-lib/.../
    # spooldir/SpoolDirConfigBean.java:34-77).  JSON rides
    # Spark's native json reader; SDC_JSON is the reference's
    # own record wire format (RecordWriterReaderFactory JSON1),
    # read jar-free by sources/sdc_record.py — it needs the
    # record schema the value LIST_MAP carries (the reference
    # gets it from the records themselves; a columnar plan
    # needs it declared up front).
    if "path" in p.ov:
        return "parquet_origin", {}
    spool = p.setting("spool_dir", "conf.spoolDir")
    fmt = p.conf.get("conf.dataFormat", "JSON")
    if fmt == "SDC_JSON":
        p.need("record_schema", why=" (StructType of the record's root field)")
        return "sdc_record_spool_origin", {
            "spool_dir": spool,
            "glob": p.conf.get("conf.filePattern", "*.sdc"),
        }
    if fmt != "JSON":
        p.fail(
            f"Directory origin dataFormat {fmt!r} is not config-portable here "
            "(JSON and SDC_JSON are; use the engine API in sources/spooldir.py "
            "+ sources/formats.py for the other formats)",
            "0006",
        )
    return "json_spool_origin", {"spool_dir": spool}


def _force_origin(p: _Port) -> Ported:
    # Salesforce origin (salesforce-lib ForceDSource:
    # forceConfig.{username,password,authEndpoint,apiVersion,
    # soqlQuery,offsetColumn,initialOffset,useBulkAPI}).  Only
    # the Bulk path is columnar-portable; the SOAP row API and
    # the streaming (CometD) subscription raise by name.  The
    # login endpoint is external — origin_overrides supplies
    # the loopback 'login_url' in tests (the export's
    # authEndpoint is honored, scheme-prefixed); the origin
    # also needs the record_schema of the selected columns.
    if not p.conf.get("forceConfig.useBulkAPI", True):
        p.fail(
            "only the Bulk API path is config-portable (useBulkAPI=false is "
            "the SOAP row API)",
            "0006",
        )
    if p.conf.get("forceConfig.subscribeToStreaming"):
        p.fail("the CometD streaming subscription is not portable", "0006")
    login_url = p.setting("login_url", "forceConfig.authEndpoint")
    p.need("record_schema")
    return "force_bulk_origin", {
        "login_url": (
            login_url if login_url.startswith("http") else "https://" + login_url
        ),
        "username": p.conf.get("forceConfig.username", ""),
        "password": p.conf.get("forceConfig.password", ""),
        "api_version": str(p.conf.get("forceConfig.apiVersion", "52.0")),
        "soql_query": p.conf.get("forceConfig.soqlQuery", ""),
        "offset_column": p.conf.get("forceConfig.offsetColumn", "Id"),
        "initial_offset": p.conf.get("forceConfig.initialOffset", "000000000000000"),
    }


def _rabbit(p: _Port) -> Ported:
    # RabbitMQ origin/target (rabbitmq-lib): conf.uri,
    # conf.queue.{name,durable,exclusive,autoDelete},
    # conf.exchanges [{name,type,routingKey,durable,autoDelete}],
    # conf.credentialsConfig.{username,password}; target adds
    # conf.mandatory + conf.singleMessagePerBatch.  The broker
    # endpoint is external — origin/stage overrides supply the
    # loopback uri in tests; the origin also needs the JSON
    # record_schema (the reference parses dynamically).
    uri = p.setting("uri", "conf.uri")
    if uri == "amqp://":  # the export's unset default
        p.fail(
            f"{p.simple} needs a non-default 'conf.uri' (or an overrides uri)", "0008"
        )
    stage = {
        "uri": uri,
        "queue": p.conf.get("conf.queue.name", ""),
        "queue_durable": p.conf.get("conf.queue.durable", True),
        "queue_exclusive": p.conf.get("conf.queue.exclusive", False),
        "queue_auto_delete": p.conf.get("conf.queue.autoDelete", False),
        "exchanges": [
            {
                "name": ex.get("name", ""),
                "type": str(ex.get("type", "DIRECT")).lower(),
                "routingKey": ex.get("routingKey", ""),
                "durable": ex.get("durable", True),
                "autoDelete": ex.get("autoDelete", False),
            }
            for ex in (p.conf.get("conf.exchanges") or [])
        ],
        "username": p.conf.get("conf.credentialsConfig.username", "guest"),
        "password": p.conf.get("conf.credentialsConfig.password", "guest"),
    }
    if p.is_origin:
        p.need("record_schema")
        return "rabbitmq_origin", stage
    stage["mandatory"] = p.conf.get("conf.mandatory", False)
    stage["single_message_per_batch"] = p.conf.get("conf.singleMessagePerBatch", False)
    return "rabbitmq_target", stage


def _elasticsearch_origin(p: _Port) -> Ported:
    # Elasticsearch scroll origin (elasticsearch-protolib/...
    # /origin/elasticsearch/ElasticsearchSource.java): numSlices
    # parallel scroll cursors — one executor task per slice
    # here.  The endpoint rides conf.httpUris (first entry) or
    # an origin_overrides {'http_uri': ...}; SDC parses JSON
    # hits dynamically, a columnar plan declares the _source
    # schema via origin_overrides {'record_schema': ...}.
    uris = p.conf.get("conf.httpUris") or []
    http_uri = p.ov.get("http_uri") or (uris[0] if uris else None)
    if not http_uri:
        p.fail(
            "Elasticsearch origin needs conf.httpUris (or an origin_overrides "
            "http_uri)",
            "0008",
        )
    p.consumed.add("http_uri")
    p.need("record_schema", why=" (StructType of _source)")
    sec_user = p.conf.get("conf.securityConfig.securityUser") or ""
    username = password = None
    if p.conf.get("conf.useSecurity") and sec_user:
        username, _, password = sec_user.partition(":")
    return "es_scroll_origin", {
        "http_uri": http_uri if http_uri.startswith("http") else "http://" + http_uri,
        "index": p.conf.get("conf.index", ""),
        "mapping": p.conf.get("conf.mapping") or None,
        "query": p.conf.get("conf.query", '{"query": {"match_all": {}}}'),
        "num_slices": int(p.conf.get("conf.numSlices", 1)),
        "max_batch_size": int(p.conf.get("conf.maxBatchSize", 1000)),
        "cursor_timeout": p.conf.get("conf.cursorTimeout", "1m"),
        "delete_cursor": bool(p.conf.get("conf.deleteCursor", True)),
        "incremental": bool(p.conf.get("conf.isIncrementalMode", False)),
        "offset_field": p.conf.get("conf.offsetField", "timestamp"),
        "initial_offset": p.conf.get("conf.initialOffset", ""),
        "username": username,
        "password": password,
    }


def _mongodb_oplog_origin(p: _Port) -> Ported:
    # MongoDB Oplog CDC origin (mongodb-protolib/.../origin/
    # mongodb/oplog/MongoDBOplogDSource.java): shares
    # configBean.mongoConfig with the plain origin; the oplog
    # bean carries initialTs/initialOrdinal (must be set
    # together, MONGODB_34/35) + filterOplogOpTypes (enum names
    # -> oplog op letters, OplogOpType.java:25-30).
    host, port = p.host_port(
        "connection_string", "configBean.mongoConfig.connectionString"
    )
    op_letters = {
        "INSERT": "i", "DELETE": "d", "UPDATE": "u",
        "NOOP": "n", "CMD": "c", "DB": "db",
    }
    bean = "mongoDBOplogSourceConfigBean."
    coll = p.conf.get("configBean.mongoConfig.collection") or "oplog.rs"
    return "mongodb_oplog_origin", {
        "host": host,
        "port": port,
        "database": p.conf.get("configBean.mongoConfig.database", "local") or "local",
        "collection": coll.split(".", 1)[-1] if coll.startswith("local.") else coll,
        "initial_ts": int(p.conf.get(bean + "initialTs", -1)),
        "initial_ordinal": int(p.conf.get(bean + "initialOrdinal", -1)),
        "filter_op_types": [
            op_letters.get(str(t).upper(), str(t))
            for t in p.conf.get(bean + "filterOplogOpTypes")
            or ["INSERT", "UPDATE", "DELETE"]
        ],
        "batch_size": int(p.conf.get("configBean.batchSize", 1000)),
    }


def _mongodb_origin(p: _Port) -> Ported:
    # MongoDB origin (mongodb-protolib/.../origin/mongodb/
    # MongoDBDSource.java): configBean.mongoConfig.* carries the
    # endpoint (MongoDBConfig.java:45-92), configBean.offset*
    # the cursor state (MongoSourceConfigBean.java:30-88).  The
    # connectionString is mongodb://host:port[/db]; documents
    # are dynamic in SDC, a columnar plan declares the schema
    # via origin_overrides {'record_schema': ...}.
    host, port = p.host_port(
        "connection_string", "configBean.mongoConfig.connectionString"
    )
    p.need("record_schema")
    return "mongodb_origin", {
        "host": host,
        "port": port,
        "database": p.conf.get("configBean.mongoConfig.database", ""),
        "collection": p.conf.get("configBean.mongoConfig.collection", ""),
        "offset_field": p.conf.get("configBean.offsetField", "_id"),
        "offset_type": p.conf.get("configBean.offsetType", "OBJECTID"),
        "initial_offset": p.conf.get("configBean.initialOffset", ""),
        "batch_size": int(p.conf.get("configBean.batchSize", 1000)),
    }


# ------------------------------------------------------------------ targets
def _memory_target(p: _Port) -> Ported:
    # a target collecting its lane (Trash / null / unported destinations)
    return "memory_target", {}


def _solr_target(p: _Port) -> Ported:
    fmap = {
        path_to_column(m["field"]): m["solrFieldName"]
        for m in (p.conf.get("fieldNamesMap") or [])
    }
    if not fmap:
        p.fail("Solr target needs a non-empty fieldNamesMap (SOLR_02)")
    return "solr_target", {
        "solr_uri": p.conf.get("solrURI", ""),
        "collection": p.conf.get("defaultCollection") or "collection1",
        "field_map": fmap,
        "indexing_mode": p.conf.get("indexingMode", "BATCH"),
    }


def _cassandra_target(p: _Port) -> Ported:
    contact_points = p.conf.get("conf.contactPoints") or []
    return "cassandra_target", {
        "contact_point": contact_points[0] if contact_points else "",
        "port": p.conf.get("conf.port", 9042),
        "qualified_table": p.conf.get("conf.qualifiedTableName", ""),
        "column_map": {
            path_to_column(m["field"]): m["columnName"]
            for m in (p.conf.get("conf.columnNames") or [])
        },
        "batch_type": p.conf.get("conf.batchType", "LOGGED"),
        "max_batch_size": p.conf.get("conf.maxBatchSize", 65535),
    }


def _sdcipc_target(p: _Port) -> Ported:
    return "sdcipc_target", {
        "host_ports": p.conf.get("config.hostPorts") or [],
        "app_id": p.conf.get("config.appId", ""),
        "compression": p.conf.get("config.compression", False),
        "retries_per_batch": p.conf.get("config.retriesPerBatch", 3),
        "back_off": p.conf.get("config.backOff", 0),
    }


def _redis_target(p: _Port) -> Ported:
    # Redis destination (redis-lib/.../destination/redis/
    # RedisTarget.java): BATCH mode maps conf.redisFieldMapping
    # rows {keyExpr, valExpr, dataType, ttl} (field PATHS, not
    # EL — RedisTarget.java:204-207 record.get) onto pipelined
    # SET/LPUSH/SADD/HSET; PUBLISH mode takes the first
    # conf.channel entry.
    channels = p.conf.get("conf.channel") or []
    return "redis_target", {
        "uri": p.setting("uri", "conf.uri"),
        "mode": p.conf.get("conf.mode", "BATCH"),
        "field_mappings": [
            {
                "key": path_to_column(m["keyExpr"]),
                "value": path_to_column(m["valExpr"]),
                "data_type": m.get("dataType", "STRING"),
                "ttl": m.get("ttl", -1),
            }
            for m in (p.conf.get("conf.redisFieldMapping") or [])
        ],
        "channel": channels[0] if channels else None,
    }


def _kafka_target(p: _Port) -> Ported:
    # Kafka producer (kafka_target-protolib/.../destination/
    # kafka/KafkaDTarget.java; KafkaTargetConfig.java:72-181 —
    # conf.topic, conf.partitionStrategy, conf.partition is a
    # record-EL expression, conf.dataFormat).  The encode +
    # partitioning are ported exactly; the broker send is the
    # jar-gated writeStream wiring.
    fmt = str(p.conf.get("conf.dataFormat") or "JSON").upper()
    vfmt = {"JSON": "json", "DELIMITED": "csv"}.get(fmt)
    if vfmt is None:
        p.fail(f"Kafka target dataFormat {fmt!r} not portable (JSON/DELIMITED only)")
    strategy = str(p.conf.get("conf.partitionStrategy") or "DEFAULT").upper()
    return "kafka_encode_target", {
        "topic": p.conf.get("conf.topic", ""),
        "value_format": vfmt,
        "partition_strategy": strategy,
        "partition_expr": (
            p.el(p.conf.get("conf.partition") or "")
            if strategy == "EXPRESSION"
            else None
        ),
        "brokers": p.conf.get("conf.metadataBrokerList", ""),
    }


def _fs_target(p: _Port) -> Ported:
    # Hadoop FS / Local FS target (hdfs-protolib/.../destination/
    # hdfs/HdfsTargetConfigBean.java:90-379): dirPathTemplate is
    # an EL path template resolved per record on the timeDriver
    # clock; files get uniquePrefix/fileNameSuffix names.  The
    # sandbox has no HDFS — base_dir rides stage_overrides (or a
    # file:// hdfsUri).
    pfx = "hdfsTargetConfigBean."
    uri = p.conf.get(pfx + "hdfsUri") or ""
    base = p.ov.get("base_dir") or (
        uri[len("file://"):] if uri.startswith("file://") else None
    )
    if not base:
        p.fail(
            "FS target needs a stage_overrides 'base_dir' (or a file:// hdfsUri)",
            "0008",
        )
    tpl = p.ov.get("dir_path_template") or p.conf.get(pfx + "dirPathTemplate")
    if not tpl:
        p.fail("FS target needs 'dirPathTemplate'")
    fmt = str(p.conf.get(pfx + "dataFormat") or "JSON").upper()
    if fmt != "JSON":
        p.fail(f"FS target dataFormat {fmt!r} not portable (JSON only)")
    time_col = p.ov.get("time_col")
    driver_el = p.conf.get(pfx + "timeDriver") or "${time:now()}"
    m = re.fullmatch(r"\$\{record:value\('([^']+)'\)\}", driver_el.strip())
    if m:
        time_col = time_col or path_to_column(m.group(1))
    elif not time_col:
        p.fail(
            f"timeDriver {driver_el!r} is processing-time; a deterministic port "
            "needs a stage_overrides 'time_col' (record-time basis)",
            "0008",
        )
    p.consumed.update(("base_dir", "dir_path_template", "time_col"))
    return "fs_dir_template_target", {
        "base_dir": base,
        "dir_path_template": tpl,
        "time_col": time_col,
        "unique_prefix": p.conf.get(pfx + "uniquePrefix", "sdc"),
        "file_name_suffix": p.conf.get(pfx + "fileNameSuffix", ""),
    }


def _lake_target(kudu: bool) -> Callable[[_Port], Ported]:
    # JDBC Producer (jdbc-lib/.../destination/jdbc/
    # JdbcDTarget.java) and Kudu target (kudu-protolib/...
    # KuduDTarget.java) — the reference's CDC apply
    # destinations; the engine's analog is MERGE INTO on the
    # lake table (SURVEY §2.5): COW for the JDBC producer,
    # MOR delta ingest for Kudu.  The reference discovers
    # primary keys from DB metadata at runtime
    # (JdbcBaseRecordWriter.java:108-124) and writes to a live
    # endpoint — a port supplies both via stage_overrides
    # {'table_path', 'key_columns'}.
    def port(p: _Port) -> Ported:
        p.need(
            "table_path",
            "key_columns",
            why=" (primary keys come from DB metadata in the reference; "
            "none exists in a port)",
        )
        if kudu:
            mappings = p.conf.get("kuduConfigBean.fieldMappingConfigs") or []
            default_op = p.conf.get("kuduConfigBean.defaultOperation", "UPSERT")
        else:
            mappings = p.conf.get("columnNames") or []
            default_op = p.conf.get("defaultOperation", "INSERT")
        op_codes = {"INSERT": 1, "DELETE": 2, "UPDATE": 3, "UPSERT": 4}
        return "kudu_lake" if kudu else "jdbc_producer_lake", {
            "change_log_format": p.conf.get("changeLogFormat", "NONE"),
            "default_op_code": op_codes.get(str(default_op).upper(), 1),
            "renames": {path_to_column(m["field"]): m["columnName"] for m in mappings},
            "commit_key": p.name,
        }

    return port


def _mongodb_target(p: _Port) -> Ported:
    # MongoDB destination (mongodb-protolib/.../destination/
    # mongodb/MongoDBDTarget.java): op-code-aware bulk apply,
    # uniqueKeyField is a /field path
    # (MongoTargetConfigBean.java:30-54; MongoDBTarget.java
    # removeLeadingSlash :233-238).
    bean = "mongoTargetConfigBean."
    host, port = p.host_port("connection_string", bean + "mongoConfig.connectionString")
    return "mongodb_target", {
        "host": host,
        "port": port,
        "database": p.conf.get(bean + "mongoConfig.database", ""),
        "collection": p.conf.get(bean + "mongoConfig.collection", ""),
        "unique_key_field": path_to_column(
            p.conf.get(bean + "uniqueKeyField") or "_id"
        ),
    }


# exact simple class name -> port function
SDC_PORTS: dict[str, Callable[[_Port], Ported]] = {
    "SelectorDProcessor": _selector,
    "ExpressionDProcessor": _expression,
    "FieldRemoverDProcessor": _field_remover,
    "FieldRenamerDProcessor": _field_renamer,
    # BY_FIELD (fieldTypeConverterConfigs) and BY_TYPE
    # (wholeTypeConverterConfigs)
    "FieldTypeConverterDProcessor": _type_converter,
    # in place, chained; an empty config list is a VALIDATION_0003
    "FieldHasherDProcessor": _field_hasher,
    "FieldMaskDProcessor": _field_mask,
    "FieldValueReplacerDProcessor": _value_replacer,
    "SplitterDProcessor": _splitter,
    # declared parse schema via stage_overrides {"schema": ...}
    "JsonParserDProcessor": _json_parser,
    "XmlParserDProcessor": _xml_parser,
    "ListPivotDProcessor": _list_pivot,
    "FieldOrderDProcessor": _field_order,
    "FieldFlattenerDProcessor": _field_flattener,
    "FieldMergerDProcessor": _field_merger,
    "FieldZipDProcessor": _field_zip,
    "LocalLookupDProcessor": _local_lookup,
    "DeDupDProcessor": _dedup,
    # local dimension extract via stage_overrides {path, on}
    "JdbcLookupDProcessor": _jdbc_lookup,
    # injectable transport via stage_overrides
    "HttpDProcessor": _http_processor,
    # REGEX and COMMON_LOG_FORMAT; grok/log4j refuse by name
    "LogParserDProcessor": _log_parser,
    "Base64EncodingDProcessor": _base64(decode=False),
    "Base64DecodingDProcessor": _base64(decode=True),
    # the JVM transformer's Python equivalent via stage_overrides
    "StandaloneSparkDProcessor": _spark_evaluator,
    "FuzzyFieldDProcessor": _fuzzy_field,
    "GeolocationDProcessor": _geolocation,
    # the script's vectorized pandas equivalent via stage_overrides
    "JavaScriptDProcessor": _scripting,
    "JythonDProcessor": _scripting,
    "GroovyDProcessor": _scripting,
    "XMLFlatteningDProcessor": _xml_flattening,
    "RedisLookupDProcessor": _redis_lookup,
    "HttpClientDSource": _http_origin,
    "AmazonS3DSource": _s3_origin,
    "KinesisDSource": _kinesis_origin,
    "SdcIpcDSource": _sdcipc_origin,
    "SdcIpcWithDiskBufferDSource": _sdcipc_origin,
    # JSON and SDC_JSON data formats, or a parquet 'path' override
    "SpoolDirDSource": _spool_dir,
    # the Bulk API path only
    "ForceDSource": _force_origin,
    "RabbitDSource": _rabbit,
    "ElasticsearchDSource": _elasticsearch_origin,
    "MongoDBOplogDSource": _mongodb_oplog_origin,
    "MongoDBDSource": _mongodb_origin,
    "SolrDTarget": _solr_target,
    "CassandraDTarget": _cassandra_target,
    "SdcIpcDTarget": _sdcipc_target,
    "RabbitDTarget": _rabbit,
    "RedisDTarget": _redis_target,
    # encode + partitioning; the broker send is jar-gated
    "KafkaDTarget": _kafka_target,
    "HdfsDTarget": _fs_target,
    "LocalFileSystemDTarget": _fs_target,
    # CDC apply -> lake MERGE: COW for JDBC, MOR for Kudu
    "JdbcDTarget": _lake_target(kudu=False),
    "KuduDTarget": _lake_target(kudu=True),
    "MongoDBDTarget": _mongodb_target,
}


def _port_of(p: _Port) -> Callable[[_Port], Ported]:
    """The port for ``p``'s class; unlisted origins and targets fall back
    to a parquet origin / memory target."""
    port = SDC_PORTS.get(p.simple)
    if port is None and p.is_origin:
        return _parquet_origin
    if port is None and p.simple.endswith(("DTarget", "Trash")):
        return _memory_target
    if port is None:
        raise ValidationError(
            f"VALIDATION_0006: unsupported SDC stage class {p.klass!r}"
        )
    return port


def port_pipeline(
    pipeline_config: dict,
    origin_overrides: dict[str, dict] | None = None,
    stage_overrides: dict[str, dict] | None = None,
) -> dict:
    """An SDC pipeline-config export -> a spec dict (see
    :meth:`~datacollector_spark.plans.spec.PipelineSpec.from_sdc_config`)."""
    cfg = pipeline_config.get("pipelineConfig", pipeline_config)
    info = cfg.get("info", {}) or {}
    ctx = ELContext(
        pipeline={
            "id": str(
                cfg.get("pipelineId")
                or info.get("pipelineId")
                or cfg.get("title", "ported")
            ),
            "title": str(cfg.get("title", "ported")),
            "name": str(info.get("name") or cfg.get("title", "ported")),
            "version": str(info.get("sdcVersion") or cfg.get("version", 1)),
        }
    )
    stages: list[dict] = []
    for st in cfg["stages"]:
        p = _Port(st, ctx, origin_overrides or {}, stage_overrides or {})
        port = _port_of(p)
        if len(p.ins) > 1:
            # fan-in: CombinerPipe.java — union the input lanes into
            # one synthetic lane feeding this stage
            stages.append(
                {
                    "name": f"{p.name}#combiner",
                    "type": "lane_combiner",
                    "in_lanes": p.ins,
                    "out": f"{p.name}#fanin",
                }
            )
            p.ins = [f"{p.name}#fanin"]
        # per-stage preconditions + required fields: the reference
        # evaluates them BEFORE the stage and routes failures to the
        # error sink — PreconditionsPredicate.java /
        # RequiredFieldsPredicate.java. Ignoring a non-empty one
        # would silently drop a filter the pipeline depends on.
        if p.checked:
            stages.append(
                {
                    "name": f"{p.name}#preconditions",
                    "type": "precondition_filter",
                    "in": p.ins[0],
                    "out": f"{p.name}#pre",
                    "error_lane": f"{p.name}#errors",
                    "condition": " AND ".join(
                        f"({p.el(c)})" for c in p.preconditions
                    ),
                    "required_fields": [
                        path_to_column(f) for f in p.required_fields
                    ],
                    "stage_name": p.name,
                }
            )
            p.ins = [f"{p.name}#pre"]
        stages.extend(_wire(p, port(p)))
    return {"pipeline": cfg.get("title", "ported"), "stages": stages}


def _wire(p: _Port, ported: Ported) -> list[dict]:
    """Spec stages for ``p``'s ported ``(type, cfg)``, or for a chain of
    them: an in-place chain runs on synthetic lanes and its last stage
    takes the exported name and output lane. An empty chain raises
    clearly instead of leaving the output lane unproduced."""
    links = ported if isinstance(ported, list) else [ported]
    if not links:
        p.fail("empty processor configuration (no fields configured)")
    out: list[dict] = []
    lane_in = p.ins[0] if p.ins else None
    for i, (typ, body) in enumerate(links):
        last = i == len(links) - 1
        stage: dict[str, Any] = {
            "name": p.name if last else f"{p.name}#{i}",
            "type": typ,
        }
        if lane_in:
            stage["in"] = lane_in
        if p.outs and STAGES[typ].out is not None:
            stage["out"] = p.outs[0] if last else f"{p.name}#lane{i}"
        stage.update(body)
        if p.endpoint:
            stage.update({k: v for k, v in p.ov.items() if k not in p.consumed})
        out.append(stage)
        lane_in = stage.get("out")
    return out
