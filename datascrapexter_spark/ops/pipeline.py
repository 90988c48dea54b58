"""Composed five-stage processing pipeline.

Reference: internal/pipeline/pipeline.go:115-215 `Process()` — the ordered
stage chain extraction → transformation → validation → deduplication →
enrichment, each stage optional (skipped when its component is nil), each
recording per-stage counters (pipeline.go:316-338 metrics); components are
wired once by NewPipeline (pipeline.go:50-77).

Spark mapping: every stage is a lazy DataFrame transformation composed
into ONE logical plan that Catalyst fuses — there are no per-stage row
copies (the reference materializes five staged maps per record,
pipeline.go:50-77 ProcessedData). Per-stage metrics therefore must not be
separate jobs (each would re-run the plan up to that stage); they ride the
SAME action via `DataFrame.observe`, Spark's zero-extra-pass aggregating
accumulator — the column-shaped equivalent of the reference's per-stage
counters. Stage wall-times are intentionally NOT reported: stages fuse
into shared whole-stage-codegen spans, so per-stage timing is not an
observable quantity in this execution model.

Scale: the composition adds nothing on top of its parts — extraction is
the one Arrow crossing per page batch, and transform chains with no
Catalyst form run inside it (extract/engine.py); the rest of the
transforms are codegen, validation is pure codegen, dedup is the
digest-keyed shuffle, enrichment is a (broadcastable) keyed join. Without
extraction, a non-native chain is one pandas UDF. Observations are
driver-side accumulator merges, O(stages), independent of data size.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..extract.engine import extract_fields_df
from ..extract.fields import FieldConfig
from ..extract.validation import ValidationRule, validate_df
from ..functions.transforms import compile_chain, native_chain
from .dedup import exact_dedup
from .enrich import enrich


@dataclass
class PipelineConfig:
    """Which stages run, mirroring NewPipeline's optional components."""

    fields: list[FieldConfig] | None = None        # extraction
    html_col: str = "html"
    transforms: dict[str, list[dict]] | None = None  # col -> rule chain
    validation_rules: list[ValidationRule] | None = None
    strict: bool = False
    dedup_cols: list[str] | None = None            # content identity
    dedup_order_col: str = "doc_id"                # keep-first tiebreak
    enrich_source: DataFrame | None = None
    enrich_on: str | list[str] | None = None
    enrich_broadcast: bool | str = "auto"


@dataclass
class PipelineRun:
    """The composed (still lazy) result + its stage observations."""

    df: DataFrame
    observations: dict[str, Observation] = field(default_factory=dict)

    def metrics(self) -> dict[str, dict]:
        """Per-stage counters (valid after an action on `df`). Each stage
        reports `rows` leaving it; validation adds
        `rows_with_violations`. In strict mode the validation stage
        observes survivors (the failed records were filtered, exactly as
        the reference's strict Validate fails the record)."""
        return {name: o.get for name, o in self.observations.items()}


def process_pipeline(df: DataFrame, cfg: PipelineConfig) -> PipelineRun:
    """Run the reference's staged Process() chain over a DataFrame.

    Stage order is fixed (pipeline.go:123-215); a stage with no
    configuration is skipped exactly like a nil component. Error
    semantics per stage match the components: extraction continues on
    per-field errors, a failed transform chain yields NULL, non-strict
    validation substitutes defaults and records `_violations`, strict
    validation drops the record.
    """
    run = PipelineRun(df=df)

    def observed(stage: str, d: DataFrame, *extra: Column) -> DataFrame:
        # unnamed (UUID) observation: Spark registers an observation under
        # (name, Dataset) once, so a stage-named one on an input shared with
        # an earlier, never-executed pipeline would never receive metrics
        o = Observation()
        run.observations[stage] = o
        return d.observe(o, F.count(F.lit(1)).alias("rows"), *extra)

    transforms = cfg.transforms or {}
    # chains with no Catalyst form run inside the extraction batch
    in_batch = ({col: rules for col, rules in transforms.items()
                 if native_chain(rules) is None} if cfg.fields else {})
    out = observed("input", df)
    if cfg.fields:
        out = observed("extraction",
                       extract_fields_df(out, cfg.fields,
                                         html_col=cfg.html_col,
                                         chains=in_batch))
    if transforms:
        for col, rules in sorted(transforms.items()):
            if col not in in_batch:
                out = out.withColumn(col, compile_chain(rules)(F.col(col)))
        out = observed("transformation", out)
    if cfg.validation_rules:
        out = observed(
            "validation",
            validate_df(out, cfg.validation_rules, strict=cfg.strict),
            F.sum((F.size("_violations") > 0).cast("long"))
            .alias("rows_with_violations"))
    if cfg.dedup_cols:
        out = observed("deduplication",
                       exact_dedup(out, cfg.dedup_cols,
                                   cfg.dedup_order_col))
    if cfg.enrich_source is not None:
        if cfg.enrich_on is None:
            raise ValueError("enrich_source requires enrich_on")
        out = observed("enrichment",
                       enrich(out, cfg.enrich_source, cfg.enrich_on,
                              broadcast=cfg.enrich_broadcast))
    run.df = out
    return run
