"""Pipeline spec: a declarative JSON-able pipeline config -> DataFrame DAG.

The reference's "query" is a pipeline-config JSON that goes through
validation (validation/PipelineConfigurationValidator.java:69 — DAG
well-formedness, lane consistency, config constraints), bean creation
(creation/PipelineBeanCreator.java:59), and physical wiring into a pipe
graph (runner/Pipeline.java:366-). This module is the same lifecycle on
Spark: spec dict -> validate() -> build(spark) returns the terminal
DataFrames per output lane; Catalyst is the physical planner.

Spec shape::

    {
      "pipeline": "my-pipe",
      "stages": [
        {"name": "src",  "type": "parquet_origin", "path": ..., "out": "main"},
        {"name": "sel",  "type": "stream_selector", "in": "main",
         "conditions": [["errors", "event_type = 'error'"]],
         "default_lane": "ok"},
        {"name": "mask", "type": "field_masker", "in": "ok",
         "columns": ["text"], "mask_type": "VARIABLE_LENGTH", "out": "masked"},
        {"name": "sink", "type": "memory_target", "in": "masked"}
      ]
    }

Each stage consumes a named lane (``in``) and produces one (``out``) or many
(selector lanes). Unconnected lanes, duplicate producers, unknown stage
types, and missing configs are validation errors, mirroring the reference's
validation issue codes. What a stage type requires, reads, produces and
builds is its entry in :data:`~datacollector_spark.plans.stages.STAGES`;
validate() and build() are loops over those entries.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from datacollector_spark.plans.sdc_port import port_pipeline
from datacollector_spark.plans.stages import STAGES, ValidationError


class PipelineSpec:
    def __init__(self, spec: dict):
        self.spec = spec
        self.validate()

    # ------------------------------------------------------------ validate
    def validate(self) -> None:
        """DAG well-formedness + config constraints (the reference's
        PipelineConfigurationValidator pass), driven by each stage's
        ``STAGES`` entry. Lanes are wired topologically: a consumed lane
        must already have a producer earlier in the stage list. A lane has
        one producer, except that a stage may rewrite a lane it consumes
        in place (the default for single-lane processors)."""
        stages = self.spec.get("stages")
        if not stages:
            raise ValidationError("VALIDATION_0001: pipeline has no stages")
        producers: dict[str, str] = {}
        names = set()
        for st in stages:
            name = st.get("name")
            if not name or name in names:
                raise ValidationError(f"VALIDATION_0002: missing/duplicate stage name {name!r}")
            names.add(name)
            typ = st.get("type")
            entry = STAGES.get(typ)
            if entry is None:
                raise ValidationError(f"VALIDATION_0006: unknown stage type {typ!r}")
            unmet = entry.unmet(st)
            if unmet:
                raise ValidationError(f"VALIDATION_0003: {name}: {typ} needs {unmet}")
            consumed = entry.consumed(st)
            for lane in consumed:
                if lane not in producers:
                    raise ValidationError(
                        f"VALIDATION_0005: stage {name!r} consumes unproduced lane {lane!r}"
                    )
            for lane in entry.lanes(st).values():
                if lane in producers and lane not in consumed:
                    raise ValidationError(f"VALIDATION_0004: lane {lane!r} produced twice")
                producers[lane] = name

    # --------------------------------------------------------------- build
    def build(
        self,
        spark: SparkSession,
        overrides: dict[str, Any] | None = None,
    ) -> dict[str, DataFrame]:
        """Wire the stages; returns {lane: DataFrame} for every lane.

        ``overrides`` — {lane: DataFrame | list[row dict]}: inject literal
        stage OUTPUTS mid-DAG; downstream stages consume the injected frame
        instead of the computed one (the reference preview's stagesOverride,
        container/.../runner/preview/sync/SyncPreviewer.java:196 — test a
        downstream stage in isolation from its real upstream). The computed
        lane is still returned under '<lane>:computed' so a preview shows
        both what the stage produced and what downstream consumed."""
        overrides = overrides or {}
        # connector destinations register side-effecting writers here;
        # build() stays lazy, run_targets() performs the writes
        self.target_writers: dict[str, Any] = {}
        self.last_offsets: dict[str, str] = {}

        def _place(lane: str, df: DataFrame) -> None:
            if lane in overrides:
                ov = overrides[lane]
                if not isinstance(ov, DataFrame):
                    ov = spark.createDataFrame(ov, schema=df.schema)
                lanes[f"{lane}:computed"] = df
                lanes[lane] = ov
            else:
                lanes[lane] = df

        lanes: dict[str, DataFrame] = {}
        targets: dict[str, DataFrame] = {}
        for st in self.spec["stages"]:
            entry = STAGES[st["type"]]
            frames = [lanes[lane] for lane in entry.consumed(st)]
            src = frames if entry.inputs == "in_lanes" else next(iter(frames), None)
            out = entry.build(spark, st, src, self.last_offsets)
            declared = entry.lanes(st)
            if declared:
                for slot, lane in declared.items():
                    _place(lane, out[slot])
            elif isinstance(out, DataFrame):
                targets[st["name"]] = out
            else:
                targets[st["name"]] = src
                self.target_writers[st["name"]] = out
        lanes.update(targets)
        return lanes

    def run_targets(self) -> dict[str, Any]:
        """Execute every connector destination registered by the last
        ``build()`` (the write IS the action — the reference's runner
        commits a batch to its targets the same way). Returns {stage: sink
        meters or None}."""
        return {name: fn() for name, fn in self.target_writers.items()}

    # ------------------------------------------------- SDC config porting
    @classmethod
    def from_sdc_config(
        cls,
        pipeline_config: dict,
        origin_overrides: dict[str, dict] | None = None,
        stage_overrides: dict[str, dict] | None = None,
    ) -> "PipelineSpec":
        """Port a stock SDC pipeline-config JSON (the reference's export
        format: ``stages[]`` with ``instanceName``/``stageName``/
        ``configuration``/``inputLanes``/``outputLanes`` —
        container/.../config/PipelineConfiguration.java) into a
        PipelineSpec, translating every EL expression through
        :func:`~datacollector_spark.functions.el.el_to_sql` with an
        :class:`~datacollector_spark.functions.el.ELContext` built from
        the export's own pipeline metadata (so ``pipeline:title()`` etc.
        resolve to the ported pipeline's values).

        The supported stage classes, and each one's caveats, are the
        entries of :data:`~datacollector_spark.plans.sdc_port.SDC_PORTS`
        (keyed by the exact simple class name). Any other ``*DSource`` is
        replaced by a parquet origin the caller supplies via
        ``origin_overrides`` {instanceName: {"path": ..., "format": ...}}
        (sandbox origins read files, not the jar-bound external system);
        any other ``*DTarget`` / ``*Trash`` collects its lane
        (memory_target). ``stage_overrides`` supply what an export cannot
        carry for a processor or target (parse schemas, user callables,
        local dimension extracts, sandbox endpoints).

        SDC lane names (``Selector_01OutputLane1``) are kept verbatim, so
        ported previews read like the original pipeline. Fan-in (multiple
        inputLanes) becomes a ``lane_combiner`` stage (unionByName — the
        runner's CombinerPipe.java semantics).
        """
        return cls(port_pipeline(pipeline_config, origin_overrides, stage_overrides))

    # ------------------------------------------------------------- preview
    def preview(
        self,
        spark: SparkSession,
        limit_rows: int = 10,
        overrides: dict[str, Any] | None = None,
    ) -> dict[str, list[dict]]:
        """Dry-run: build the DAG, capture up to ``limit_rows`` rows from
        EVERY lane, commit nothing (the reference's preview runner,
        container/.../runner/preview/sync/SyncPreviewer.java:73,196 —
        limited-batch run with per-stage output capture and no offset
        commit). Sinks are never written; origins are read through the
        normal scan path, so preview exercises the real plan. ``overrides``
        injects literal stage outputs mid-DAG (see :meth:`build`)."""
        lanes = self.build(spark, overrides=overrides)
        return {
            lane: [r.asDict(recursive=True) for r in df.limit(limit_rows).collect()]
            for lane, df in lanes.items()
        }
