"""extract_pipeline: `ops.pipeline.process_pipeline` (seven fields, two
transform chains, exact dedup on the product name) followed by
`sources.sinks.write_output(..., "parquet")` over generated product pages.
One timed operation is one pipeline run plus its write."""

from __future__ import annotations

import hashlib
import json
import os

from . import gen
from .common import dir_bytes, force_timed

SAMPLE_PAGES = 150   # driver-side parse/extract micro-measurement
# untimed pipeline runs before timing: a fresh JVM's first four runs are
# 20-60% slower than later ones, and runs still get faster until about
# the sixth
WARMUP_RUNS = 6


def fields():
    from datascrapexter_spark.extract.config import FieldConfig

    return [
        FieldConfig(name="name", selector="h1.product-name", required=True),
        FieldConfig(name="brand", selector="div.brand",
                    transform=[{"type": "normalize_spaces"}]),
        FieldConfig(name="price", selector="span.price", type="number"),
        FieldConfig(name="features", selector="ul.features li", type="list"),
        FieldConfig(name="n_reviews", selector="div.review", type="count"),
        FieldConfig(name="specs", selector="table.specs", type="table"),
        FieldConfig(name="description", selector="div.description p"),
    ]


# name: native Catalyst chain; brand: title_case has no native form, so it
# runs the Python port in one Arrow-batched UDF
TRANSFORMS = {"name": [{"type": "trim"}, {"type": "uppercase"}],
              "brand": [{"type": "title_case"}]}


class ExtractPipeline:
    name = "extract_pipeline"

    def __init__(self, spark, work: str, seed: int, n_pages: int = 1200):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_pages = n_pages
        self.out_path = os.path.join(work, "out", "results")

    def prepare(self) -> None:
        self.rows = gen.product_pages(self.seed, self.n_pages)

    def build_state(self) -> None:
        import pyarrow as pa
        from datascrapexter_spark.ops.pipeline import PipelineConfig

        path = os.path.join(self.work, "product_pages")
        doc_id, url, html = map(list, zip(*self.rows))
        gen.write_rows(path, {"doc_id": doc_id, "url": url, "html": html},
                       {"doc_id": pa.int64(), "url": pa.string(),
                        "html": pa.string()}, n_files=8)
        self.pages = self.spark.read.parquet(path)
        self.cfg = PipelineConfig(fields=fields(), transforms=TRANSFORMS,
                                  dedup_cols=["name"],
                                  dedup_order_col="doc_id")

    def warmup(self) -> None:
        for _ in range(WARMUP_RUNS):
            self.op()

    def op(self) -> dict:
        from datascrapexter_spark.ops.pipeline import process_pipeline
        from datascrapexter_spark.sources.sinks import write_output

        run = process_pipeline(self.pages, self.cfg)
        write_output(run.df, "parquet", self.out_path)
        return {"pages": self.n_pages, "rows": run.metrics()["deduplication"]["rows"]}

    # -- correctness ------------------------------------------------------

    def expected(self) -> dict[str, str]:
        """Driver-side twin: parse_html + extract_all per page, the Python
        transform port, keep-first dedup on name; per-column digests."""
        from datascrapexter_spark.extract.fields import (extract_all,
                                                         get_default_value)
        from datascrapexter_spark.functions.transforms import (TransformError,
                                                               apply_chain)
        from datascrapexter_spark.html import parse_html

        cfgs = fields()
        out, kept = [], set()
        for doc_id, url, html in self.rows:
            data, errors, success = extract_all(parse_html(html), cfgs, True)
            rec = {"doc_id": doc_id, "url": url}
            for c in cfgs:
                v = data.get(c.name)
                if c.name not in data and not c.required:
                    v = get_default_value(c)
                rec[c.name] = v
            for col, rules in TRANSFORMS.items():
                try:
                    rec[col] = (None if rec[col] is None
                                else apply_chain(rules, rec[col]))
                except TransformError:
                    rec[col] = None
            rec["_errors"] = [{"field": e.field_name, "message": e.message,
                               "code": e.code, "severity": e.severity}
                              for e in errors]
            rec["_success"] = success
            if rec["name"] not in kept:
                kept.add(rec["name"])
                out.append(rec)
        return _digests(out)

    def check(self, results: list[dict]) -> list[bool]:
        """The last timed write, read back, must match the twin column by
        column; every timed run must keep the same number of rows."""
        rows = self.spark.read.parquet(self.out_path).collect()
        got = _digests([r.asDict(recursive=True) for r in rows])
        want = self.expected()
        return [got == want and r["rows"] == int(want["_rows"])
                for r in results]

    # -- traced run -------------------------------------------------------

    def trace(self, tracer) -> dict:
        """Stage self times by prefix forcing, the sink's own time and
        bytes, pipeline ratios, and single-threaded driver calls to
        parse_html / extract_all on a fixed page sample."""
        from datascrapexter_spark.extract.engine import extract_fields_df
        from datascrapexter_spark.extract.fields import extract_all
        from datascrapexter_spark.frontier.links import extract_links_df
        from datascrapexter_spark.functions.transforms import compile_chain
        from datascrapexter_spark.html import parse_html
        from datascrapexter_spark.ops.dedup import exact_dedup
        from datascrapexter_spark.sources.sinks import write_output
        from pyspark.sql import functions as F

        extracted = extract_fields_df(self.pages, self.cfg.fields)
        transformed = extracted
        for col, rules in sorted(TRANSFORMS.items()):
            transformed = transformed.withColumn(
                col, compile_chain(rules)(F.col(col)))
        deduped = exact_dedup(transformed, ["name"], "doc_id")
        out = {}
        prev = scan_s = force_timed(tracer, "input.scan", self.pages)
        for metric, df in (("extract.stage_s", extracted),
                           ("functions.transforms.stage_s", transformed),
                           ("ops.dedup.stage_s", deduped)):
            wall = force_timed(tracer, metric.rsplit("_s", 1)[0], df)
            out[metric] = wall - prev
            prev = wall
        writes = []
        for _ in range(2):
            with tracer.span("sources.write_output") as sp:
                write_output(deduped, "parquet", self.out_path)
            writes.append(sp.dur)
        out["sources.write_s"] = min(writes) - prev
        # out-link extraction over the same pages: the crawl loop's HTML
        # consumer, priced against the plain scan
        links = extract_links_df(self.pages.withColumnRenamed("url",
                                                              "url_canon"))
        out["frontier.links.extract_s"] = force_timed(
            tracer, "frontier.links.extract_links_df", links) - scan_s
        res = self.spark.read.parquet(self.out_path)
        n_out = res.count()
        n_ok = extracted.filter(F.col("_success")).count()
        out.update({
            "sources.bytes_per_page":
                dir_bytes(self.out_path) / self.n_pages,
            "extract.success_ratio": n_ok / self.n_pages,
            "ops.dedup.keep_ratio": n_out / self.n_pages,
        })
        sample = [html for _, _, html in self.rows[:SAMPLE_PAGES]]
        cfgs = fields()
        with tracer.span("html.parse_html", pages=len(sample)) as sp:
            docs = [parse_html(h) for h in sample]
        out["html.parse_ms_per_page"] = sp.dur * 1e3 / len(sample)
        with tracer.span("extract.extract_all", pages=len(sample)) as sp:
            for d in docs:
                extract_all(d, cfgs, True)
        out["extract.fields_ms_per_page"] = sp.dur * 1e3 / len(sample)
        return out


def _digests(recs: list[dict]) -> dict[str, str]:
    """Per-column sha256 over rows in doc_id order."""
    recs = sorted(recs, key=lambda r: r["doc_id"])
    out = {}
    for col in sorted(recs[0]) if recs else ():
        h = hashlib.sha256()
        for r in recs:
            h.update(json.dumps(r[col], sort_keys=True).encode())
            h.update(b"\n")
        out[col] = h.hexdigest()
    out["_rows"] = str(len(recs))
    return out
