"""Spark surface of the extraction engine.

The reference processes one page per goroutine (engine.go:306-402,
pipeline.go:225-304); here a whole crawl round's pages are one DataFrame and
extraction is a single `mapInArrow` pass: each Arrow batch is parsed,
extracted and run through its Python transform chains in one Python call,
Arrow in and Arrow out (input_hint: vectorized Arrow UDFs, no per-row
Python crossings, no pandas layer on either side).

Scale notes:
- `html` is the fat column. Catalyst prunes it everywhere except this one
  projection, and the UDF drops it on output unless asked to keep it —
  downstream stages (dedup, scheduling) never shuffle page bodies.
  Passthrough columns go from the input batch to the output batch as Arrow
  arrays; only one a transform chain targets is converted to Python.
- The UDF is schema-stable: output StructType is derived from the field
  config at plan time (config-declared schema, like the reference's YAML
  fields list — config.go:35 — but statically typed).
- Transform chains that have no Catalyst form (functions/transforms.py) run
  here, on the batch's columns after extraction, instead of as a second
  Python crossing per chain.
"""

from __future__ import annotations

import json as _json
from typing import Any, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.transforms import chain_or_null, validate_rules
from ..html import parse_html
from .config import FieldConfig
from .fields import extract_all, get_default_value

_SPARK_TYPE_BY_FIELD_TYPE: dict[str, T.DataType] = {
    "text": T.StringType(),
    "html": T.StringType(),
    "main_content": T.StringType(),
    "attr": T.StringType(),
    "url": T.StringType(),
    "email": T.StringType(),
    "phone": T.StringType(),
    "date": T.StringType(),
    "datetime": T.StringType(),
    "time": T.StringType(),
    "list": T.ArrayType(T.StringType()),
    "number": T.DoubleType(),
    "float": T.DoubleType(),
    "integer": T.LongType(),
    "count": T.IntegerType(),
    "boolean": T.BooleanType(),
    "exists": T.BooleanType(),
    "json": T.StringType(),  # canonical JSON dump of the parsed tree
    "jsonld": T.StringType(),  # canonical JSON dump of the parsed graph(s)
    "microdata": T.StringType(),  # canonical JSON dump of the item tree(s)
    "rdfa": T.StringType(),  # canonical JSON dump of the item tree(s)
    "social_meta": T.StringType(),  # canonical JSON dump of the og:/twitter: map
    "media": T.ArrayType(T.MapType(T.StringType(), T.StringType())),
    "outline": T.ArrayType(T.MapType(T.StringType(), T.StringType())),
    "csv": T.ArrayType(T.ArrayType(T.StringType())),
    "table": T.StructType([
        T.StructField("headers", T.ArrayType(T.StringType())),
        T.StructField("rows", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        T.StructField("count", T.IntegerType()),
    ]),
}

ERROR_FIELD = T.StructField(
    "_errors",
    T.ArrayType(T.StructType([
        T.StructField("field", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("severity", T.StringType()),
    ])),
)
SUCCESS_FIELD = T.StructField("_success", T.BooleanType())


def field_spark_type(cfg: FieldConfig) -> T.DataType:
    # transforms stringify the value (extractor.go:84-90)
    if cfg.transform:
        return T.StringType()
    return _SPARK_TYPE_BY_FIELD_TYPE[cfg.type]


def extraction_output_schema(
    input_schema: T.StructType,
    fields: list[FieldConfig],
    keep_html: bool = False,
    html_col: str = "html",
) -> T.StructType:
    out = [f for f in input_schema.fields if keep_html or f.name != html_col]
    out.extend(T.StructField(cfg.name, field_spark_type(cfg)) for cfg in fields)
    out.append(ERROR_FIELD)
    out.append(SUCCESS_FIELD)
    return T.StructType(out)


def _to_cell(cfg: FieldConfig, value: Any):
    """Convert the extracted Python value to its Arrow-compatible cell."""
    if value is None:
        return None
    if cfg.transform:
        return value if isinstance(value, str) else str(value)
    t = cfg.type
    if t in ("json", "jsonld", "microdata", "rdfa", "social_meta"):
        return _json.dumps(value, separators=(",", ":"), sort_keys=True)
    if t in ("media", "outline"):
        return list(value)
    if t in ("number", "float"):
        return float(value)
    if t == "integer":
        return int(value)
    if t == "count":
        return int(value)
    if t == "table":
        if not isinstance(value, dict) or "headers" not in value:
            return None
        return (value.get("headers", []), value.get("rows", []),
                value.get("count", 0))
    if t in ("list", "csv"):
        return list(value) if not isinstance(value, dict) else []
    if t in ("text", "html", "attr", "url", "email", "phone", "date",
             "datetime", "time"):
        return value if isinstance(value, str) else str(value)
    return value


def extract_fields_df(
    df: DataFrame,
    fields: list[FieldConfig],
    html_col: str = "html",
    continue_on_error: bool = True,
    keep_html: bool = False,
    chains: dict[str, list[dict]] | None = None,
) -> DataFrame:
    """Run config-driven extraction over `df[html_col]` (binary or string).

    Adds one typed column per field plus `_errors` / `_success`; drops the
    html column by default so downstream shuffles stay narrow. `chains`
    maps a string column (an extracted field or a passthrough input column)
    to a transform chain that runs on the batch after extraction, with the
    Python port's semantics: NULL stays NULL and a failing chain gives NULL.
    """
    for cfg in fields:
        cfg.validate()
    chains = chains or {}
    out_schema = extraction_output_schema(df.schema, fields, keep_html, html_col)
    for col, rules in chains.items():
        validate_rules(rules)
        if col not in out_schema.names:
            raise ValueError(f"transform chain on unknown column {col!r}")
        if out_schema[col].dataType != T.StringType():
            raise ValueError(
                f"transform chain on non-string column {col!r} "
                f"({out_schema[col].dataType.simpleString()})")
    arrow_types = {f.name: to_arrow_type(f.dataType) for f in out_schema.fields}
    out_names = out_schema.names
    fields_local = fields  # close over plain dataclasses (picklable)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            cols: dict[str, list] = {cfg.name: [None] * n for cfg in fields_local}
            errs, succ = [None] * n, [True] * n
            pages = batch.column(html_col).to_numpy(zero_copy_only=False)
            for i, html in enumerate(pages.tolist()):
                doc = parse_html(html or "")
                data, errors, success = extract_all(
                    doc, fields_local, continue_on_error
                )
                for cfg in fields_local:
                    if cfg.name in data:
                        cols[cfg.name][i] = _to_cell(cfg, data[cfg.name])
                    elif not cfg.required:
                        cols[cfg.name][i] = _to_cell(cfg, get_default_value(cfg))
                errs[i] = [
                    (e.field_name, e.message, e.code, e.severity)
                    for e in errors
                ]
                succ[i] = success
            cols["_errors"], cols["_success"] = errs, succ
            for col, rules in chains.items():
                vals = cols[col] if col in cols else \
                    batch.column(col).to_numpy(zero_copy_only=False).tolist()
                cols[col] = [chain_or_null(rules, v) for v in vals]
            arrays = []
            for name in out_names:
                if name in cols:
                    arrays.append(pa.array(cols[name], arrow_types[name],
                                           from_pandas=True))
                else:
                    arrays.append(_nan_to_null(batch.column(name)))
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(run, schema=out_schema)


def _nan_to_null(arr: pa.Array) -> pa.Array:
    """NaN -> NULL in a floating passthrough column, as `from_pandas=True`
    does for the extracted number cells."""
    if not pa.types.is_floating(arr.type) or not pc.any(pc.is_nan(arr)).as_py():
        return arr
    return pc.if_else(pc.is_nan(arr), pa.scalar(None, arr.type), arr)


def extraction_metrics(results: DataFrame,
                       fields: list[FieldConfig]) -> DataFrame:
    """Per-field extraction success/error rates over an extract_fields_df
    result — the RecordExtractionSuccess / RecordExtractionError counter
    family (internal/monitoring/metrics.go:650-661) as one codegen
    aggregation pass (no Python, no shuffle beyond the final global agg).

    Returns (field, n_rows, n_success, n_error, error_rate): a field counts
    as an error on a row when `_errors` holds an ERROR/CRITICAL entry for
    it (warnings don't fail extraction — extractor.go:126-140)."""
    def _has_err(name: str):
        return F.exists(
            "_errors",
            lambda e: (e["field"] == name)
            & F.upper(e["severity"]).isin("ERROR", "CRITICAL"),
        )

    # coalesce: F.sum over zero rows is NULL — empty crawls report 0s
    aggs = [F.coalesce(F.sum(_has_err(cfg.name).cast("long")),
                       F.lit(0)).alias(cfg.name)
            for cfg in fields]
    counted = results.agg(F.count("*").alias("_n"), *aggs)
    per_field = F.explode(F.array(*[
        F.struct(
            F.lit(cfg.name).alias("field"),
            F.col(cfg.name).alias("n_error"),
        )
        for cfg in fields
    ])).alias("m")
    return (
        counted.select(F.col("_n"), per_field)
        .select(
            F.col("m.field").alias("field"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col("m.n_error")).alias("n_success"),
            F.col("m.n_error").alias("n_error"),
            F.when(F.col("_n") > 0,
                   F.col("m.n_error") / F.col("_n"))
            .otherwise(F.lit(0.0)).alias("error_rate"),
        )
    )
