"""The Spark side of each workload: one batch, and the traced chain.

A batch is one input slice taken through the workload's whole job, with
every result consumed inside the batch.  ``chain`` lists the cumulative
prefixes of the same job that the traced run times one by one: Spark is
lazy, so a layer's cost shows only as the difference between the action
that stops before it and the action that includes it.

Every function here calls the package's public functions; the package is
imported only after the session exists, so worker processes find it on
the ``PYTHONPATH`` the runner sets.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import inputs, reference

SCAN_COLUMNS = ["url", "warc_ts", "text", "lang", "doc_id"]


def noop(df: DataFrame) -> None:
    """Run ``df`` to completion and discard the rows."""
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------------
# pages: scan -> parse -> enrich -> derive -> route -> rollup + sink fan-out
# --------------------------------------------------------------------------
def pipeline_spec(dim: DataFrame):
    from opentelemetry_collector_components_spark.plans.pipeline import PipelineSpec

    return PipelineSpec(
        stages=[
            {"type": "parse", "engine": "sql"},
            {"type": "enrich", "dim": dim},
            {"type": "derive"},
            {"type": "route"},
        ]
    )


def _pages_inputs(spark: SparkSession, slice_dir: str):
    return (spark.read.parquet(f"{slice_dir}/pages.parquet"),
            spark.read.parquet(f"{slice_dir}/domain_dim.parquet"))


def _commit_unit(spark, routed: DataFrame, out_dir: str, run_id: str, span) -> int:
    """Fan-out write plus lineage rows: one resumable commit unit."""
    from opentelemetry_collector_components_spark.plans import sinks

    with span("sinks.write"):
        sinks.write_fanout(routed, out_dir)
    with span("sinks.lineage"):
        sinks.append_lineage(spark, sinks.lineage_rows(routed, run_id=run_id), out_dir)
        return int(sinks.read_lineage(spark, out_dir).agg(F.sum("rows_out")).first()[0])


def pages_batch(spark, slice_dir: str, out_dir: str, run_id: str, span, observe=False):
    """Rollup the routed slice on (sink, geo) and commit its fan-out.

    The routed frame feeds three actions, so it is persisted for the
    batch, as ``plans.sinks.lineage_rows`` advises, and released after."""
    from opentelemetry_collector_components_spark.operators.aggregate import (
        interval_rollup_union,
    )
    from opentelemetry_collector_components_spark.plans.checkpoint import run_resumable

    pages, dim = _pages_inputs(spark, slice_dir)
    spec = pipeline_spec(dim)
    routed = spec.build(pages, spark, observe=observe).persist()
    with span("aggregate.action"):
        rollup = interval_rollup_union(routed, keys=["sink", "geo"]).toArrow()
    stage_rows = spec.stage_metrics() if observe else {}
    with span("checkpoint.unit"):
        run_resumable(
            spark, out_dir,
            {"batch": lambda: _commit_unit(spark, routed, out_dir, run_id, span)},
            run_id=run_id,
        )
    routed.unpersist()
    return {"rollup": rollup, "stage_rows": stage_rows}


def pages_chain(spark, slice_dir: str):
    """Cumulative prefixes of the pages job, each one action."""
    from opentelemetry_collector_components_spark.operators.aggregate import (
        interval_rollup_union,
    )
    from opentelemetry_collector_components_spark.plans.pipeline import PipelineSpec

    pages, dim = _pages_inputs(spark, slice_dir)
    stages = pipeline_spec(dim).stages

    def upto(n):
        return PipelineSpec(stages=stages[:n]).build(pages, spark)

    return [
        ("sources.scan", lambda: noop(pages.select(*SCAN_COLUMNS))),
        ("parse", lambda: noop(upto(1))),
        ("enrich", lambda: noop(upto(3))),
        ("route", lambda: noop(upto(4))),
        ("aggregate", lambda: interval_rollup_union(upto(4), keys=["sink", "geo"]).toArrow()),
    ]


# --------------------------------------------------------------------------
# wire protocols + crawl joins
# --------------------------------------------------------------------------
def _wire_query(name: str):
    from opentelemetry_collector_components_spark.queries import SPARK_QUERIES

    return SPARK_QUERIES[name]


def _crawl_parts(spark, slice_dir: str):
    """The four crawl operators reduced to (op, a, b, c, d) summary rows
    (layout in ``reference.crawl_summary``): per operator its own frame,
    and all of them unioned into one."""
    from opentelemetry_collector_components_spark.operators.redirects import resolve_redirects
    from opentelemetry_collector_components_spark.operators.robots import (
        parse_robots,
        robots_allowed,
    )
    from opentelemetry_collector_components_spark.operators.webgraph import host_link_edges
    from opentelemetry_collector_components_spark.sources.warc import (
        parse_http_response,
        parse_warc_records,
    )

    def read(name):
        return spark.read.parquet(f"{slice_dir}/{name}.parquet")

    def row(op, *cols):
        cols = list(cols) + [F.lit(0)] * (4 - len(cols))
        return [F.lit(op).alias("op")] + [
            F.coalesce(c.cast("long"), F.lit(0).cast("long")).alias(n)
            for c, n in zip(cols, "abcd")
        ]

    def count():
        return F.count(F.lit(1))

    edges = host_link_edges(read("linked")).agg(*row("edges", count(), F.sum("n_links")))
    redir = resolve_redirects(read("fetch")).agg(*row(
        "redirects", count(), F.sum("hops"),
        F.sum((F.col("outcome") == "dangling").cast("int")),
        F.sum((F.col("outcome") == "too_many").cast("int")),
    ))
    verdict = robots_allowed(read("frontier"), parse_robots(read("robots")), "ccbot")
    robots = verdict.agg(*row(
        "robots", count(), F.sum(F.col("allowed").cast("int")),
        F.sum(F.when(F.col("allowed"), F.col("url_id"))),
        F.sum(F.col("matched_rule").isNull().cast("int")),
    ))
    rec = parse_warc_records(read("warc"))
    warc = rec.agg(*row("warc", count(), F.sum("content_length"),
                        F.sum((F.col("warc_type") == "response").cast("int"))))
    resp = parse_http_response(rec.where(F.col("warc_type") == "response"))
    http = resp.agg(*row("http", count(), F.sum("http_status"),
                         F.sum(F.length("body"))))
    parts = {"webgraph": edges, "redirects": redir, "robots": robots,
             "warc": warc.unionByName(http)}
    union = edges.unionByName(redir).unionByName(robots).unionByName(warc).unionByName(http)
    return parts, union


CRAWL_INPUTS = {"webgraph": ["linked"], "redirects": ["fetch"],
                "robots": ["frontier", "robots"], "warc": ["warc"]}


def wire_crawl_batch(spark, slice_dir: str, out_dir: str, run_id: str, span, observe=False):
    """The Python-codec wire round trips through their registry queries,
    then the crawl operators' summary frame, each collected."""
    out = {}
    for q in reference.WIRE_QUERIES:
        with span(f"wire.{q}"):
            out[q] = _wire_query(q)(spark, slice_dir).toArrow()
    with span("crawl.action"):
        out["crawl"] = _crawl_parts(spark, slice_dir)[1].toArrow()
    return out


@contextmanager
def _capture(module, names: list[str], store: dict):
    """Wrap module functions so each call's returned frame is recorded."""
    saved = {n: getattr(module, n) for n in names}

    def wrap(name, fn):
        def inner(*args, **kwargs):
            store[name] = fn(*args, **kwargs)
            return store[name]
        return inner

    try:
        for n, fn in saved.items():
            setattr(module, n, wrap(n, fn))
        yield store
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


WIRE_CODECS = {
    "forward": ("forward_msgpack_decode", "forward",
                ["generate_forward_messages", "decode_forward"]),
    "jaeger": ("jaeger_batch_decode", "jaeger",
               ["generate_jaeger_batches", "decode_jaeger_batches"]),
    "otlp": ("otlp_metrics_roundtrip", "otlp",
             ["encode_otlp_metrics", "decode_otlp_metrics"]),
}


def wire_crawl_chain(spark, slice_dir: str):
    """Per codec: scan -> +encode -> +decode -> +aggregate (the registry
    query); per crawl operator: scan its inputs -> +operator.  The encode
    and decode prefixes are the very frames the registry query builds,
    recorded by wrapping the codec functions while the query plans."""
    import importlib

    steps = []
    events = spark.read.parquet(f"{slice_dir}/events.parquet")
    steps.append(("wire.scan", lambda: noop(events)))
    for codec, (query, module, (enc, dec)) in WIRE_CODECS.items():
        mod = importlib.import_module(
            f"opentelemetry_collector_components_spark.sources.{module}")
        with _capture(mod, [enc, dec], {}) as frames:
            full = _wire_query(query)(spark, slice_dir)
        steps += [
            (f"{codec}.encode", lambda f=frames[enc]: noop(f)),
            (f"{codec}.decode", lambda f=frames[dec]: noop(f)),
            (f"{codec}.aggregate", lambda f=full: f.toArrow()),
        ]
    parts, _ = _crawl_parts(spark, slice_dir)
    for op, names in CRAWL_INPUTS.items():
        frames = [spark.read.parquet(f"{slice_dir}/{n}.parquet") for n in names]
        steps.append((f"{op}.scan", lambda fs=frames: [noop(f) for f in fs]))
        steps.append((f"{op}.op", lambda f=parts[op]: f.toArrow()))
    return steps


# --------------------------------------------------------------------------
# what the traced run reads beyond the spans and the status stores
# --------------------------------------------------------------------------
def pages_layer_counts(con, result: dict, out_dir: str) -> dict:
    """Counts the traced pages batch left in its result and on disk."""
    rollup = result["rollup"].to_pylist()
    base = [r for r in rollup if r["metricset_interval"] == "1m"]
    malformed, sinks, errors = con.execute(
        f"SELECT sum(malformed), count(DISTINCT sink), "
        f"coalesce(sum(rows_out) FILTER (sink = 'logs.error'), 0) "
        f"FROM read_parquet('{out_dir}/_lineage/*.parquet')").fetchone()
    units = con.execute(
        f"SELECT count(*) FROM read_parquet('{out_dir}/_checkpoint/*.parquet') "
        "WHERE status = 'done'").fetchone()[0]
    files = [os.path.join(p, f) for p, _, fs in os.walk(f"{out_dir}/fanout")
             for f in fs if f.endswith(".parquet")]
    return {
        "parse.rows_out": result["stage_rows"]["stage0:parse"]["rows_out"],
        "parse.malformed_rows": malformed,
        "enrich.unknown_dim_rows": sum(r["docs"] for r in base if r["geo"] == "unknown"),
        "route.sinks": sinks,
        "route.error_rows": errors,
        "aggregate.base_groups": len(base),
        "checkpoint.units_done": units,
        "sinks.files_written": len(files),
        "sinks.bytes_written": sum(os.path.getsize(f) for f in files),
    }


def no_layer_counts(con, result: dict, out_dir: str) -> dict:
    return {}


PAGES_LAYERS = ("sources.scan_s", "parse.self_s", "enrich.self_s", "route.self_s",
                "aggregate.self_s", "sinks.write_s", "sinks.lineage_s",
                "checkpoint.commit_s")


def pages_accounted(metrics: dict, prefix_s: dict) -> float:
    """Seconds of a pages batch the traced layers account for."""
    return sum(metrics[k][0] for k in PAGES_LAYERS)


def wire_crawl_accounted(metrics: dict, prefix_s: dict) -> float:
    """Seconds of a wire_crawl batch its whole codec queries and crawl
    operators, each timed as one prefix, account for."""
    codecs = [c for c, (query, *_) in WIRE_CODECS.items() if query in reference.WIRE_QUERIES]
    return (sum(prefix_s.get(f"{c}.aggregate", 0.0) for c in codecs)
            + sum(prefix_s.get(f"{op}.op", 0.0) for op in CRAWL_INPUTS))


# The why of each workload is recorded in BENCHMARK.json.  ``scaling``
# says whether the traced run also times the job on local[1].
WORKLOADS = {
    "pages_pipeline": {
        "sizes": {"pages": 100_000},
        "write_inputs": inputs.write_pages,
        "batch": pages_batch,
        "check": reference.check_pages,
        "chain": pages_chain,
        "layer_counts": pages_layer_counts,
        "accounted": pages_accounted,
        "scaling": True,
    },
    "wire_crawl": {
        "sizes": {"events": 5_000, "linked": 5_000, "fetch": 5_000,
                  "robots_hosts": 500, "frontier": 10_000, "warc": 5_000},
        "write_inputs": inputs.write_wire_crawl,
        "batch": wire_crawl_batch,
        "check": reference.check_wire_crawl,
        "chain": wire_crawl_chain,
        "layer_counts": no_layer_counts,
        "accounted": wire_crawl_accounted,
        "scaling": False,
    },
}


def out_dir_for(work: str, batch_ix: int) -> str:
    return os.path.join(work, "out", f"b{batch_ix}")
