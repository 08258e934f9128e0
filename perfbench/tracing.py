"""Traced run: the per-layer metrics.

Separate from the timed runs. Spans are recorded from the benchmark's
side around every call into a layer (name, start, end, parent span and a
pass id shared by the spans of one workload pass), kept in memory and
written once, when the run ends, to ``<work>/trace/spans.json``. Spark's
event log is turned on through ``session.get_spark(extra_conf=...)``; every
Spark job carries the name of the layer that ran it (a local property),
so the log is summarised per layer.

Passes, in order, in one session:

1. ``setup``: session start and the warm-up pass (``session.start_s``,
   ``warmup.s``);
2. ``op<i>``: two end-to-end operations, a traced one (spans around the
   ``pipeline.extracted_documents`` call, forcing ``executedPlan`` and
   execution) then an untraced one (``pipeline.*``, ``spark.*``,
   ``trace.overhead_frac``);
3. ``layers``: over one main input unit, each layer's public function
   applied to the previous layer's materialized output and forced with a
   ``noop`` write, minus a scan-only pass over the same input
   (``<layer>.s``); counts come from the layer's output and the event log;
4. ``lineage``: ``lineage.run_extract_job`` in manifest format with
   ``jobs/run_extract.py``'s ``batch_size=8`` over 16 units, killed at
   half the units (``fail_after=8``) and resumed (``lineage.*``). The
   script's default of 64 units is 8 batches of ~20 s each, too long for
   one run.

Every output of passes 2 to 4 is checked; wrong documents count as
failures.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import gen
import host
from check import check_flat, check_lineage, check_nested, expected_set
from workloads import Runner, run_ops

LAYER = "perfbench.layer"  # Spark local property naming the layer of a job
MB = 1 << 20
E2E_OPS = 2  # traced, untraced
REPEATS = 1  # layer and scan passes per layer
CKPT_DOCS = 512
CKPT_JOB = {"num_parts": 16, "batch_size": 8}
KILL_AFTER = 8  # units committed before the injected kill: half


class Tracer:
    """Spans kept in memory; ``span`` also tags the Spark jobs it runs."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id = "setup"
        self.sc = None

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if layer is not None:
            self.sc.setLocalProperty(LAYER, layer)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class LayerStats:
    def __init__(self):
        self.jobs = 0
        self.task_ms: list[int] = []
        self.gc_ms = 0
        self.spill_bytes = 0
        self.shuffle_bytes = 0
        self.python_bytes = 0
        self.python_init_ms = 0


_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PYTHON_INIT = "time to initialize Python workers"


def read_event_log(log_dir: str) -> dict[str, LayerStats]:
    """Per-layer job, task, GC, spill, shuffle and Arrow byte counts from
    the event log of the run's one application."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or sorted(glob.glob(os.path.join(log_dir, "*")))
    stats: dict[str, LayerStats] = {}
    stage_layer: dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    layer = (e.get("Properties") or {}).get(LAYER, "untagged")
                    stats.setdefault(layer, LayerStats()).jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    st = stats.setdefault(stage_layer.get(e["Stage ID"], "untagged"), LayerStats())
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") in _PYTHON_BYTES:
                            st.python_bytes += int(acc.get("Update", 0))
                        elif acc.get("Name") == _PYTHON_INIT:
                            st.python_init_ms += int(acc.get("Update", 0))
    return stats


def codegen_compiles(spark) -> int:
    """Whole-stage and expression classes compiled so far (Spark's
    CodegenMetrics; executors share the driver JVM in local mode)."""
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layers(spark):
    """(name, function) of each layer, in pipeline order; each takes the
    previous layer's output, as ``pipeline.extract_spans`` chains them."""
    from nolock_social_ocr_services_spark.extract.html import strip_boilerplate
    from nolock_social_ocr_services_spark.extract.ocr import concat_pages, run_ocr
    from nolock_social_ocr_services_spark.extract.records import route_and_extract
    from nolock_social_ocr_services_spark.operators.classify import classify_mime
    from nolock_social_ocr_services_spark.operators.reassemble import reassemble_spans
    from nolock_social_ocr_services_spark.operators.salt import salted_repartition

    partitions = max(spark.sparkContext.defaultParallelism * 3, 64)  # as extract_spans

    def html(df):
        kind = F.col("kind")
        return df.withColumn(
            "extracted_text",
            F.when(kind == "html", strip_boilerplate(F.when(kind == "html", F.col("text"))))
            .when(kind == "text", F.col("text"))
            .otherwise(F.col("ocr_text")),
        )

    def reassemble(df):
        flat = df.select(
            "doc_id", "offset", "kind", F.col("extracted_text").alias("text"), "media_ref"
        )
        return reassemble_spans(flat, span_fields=("kind", "text", "media_ref", "offset"))

    return [
        ("salt", lambda df: salted_repartition(df, num_partitions=partitions)),
        (
            "classify",
            lambda df: classify_mime(df, data_url_col="media_ref", out_col="mime", engine="expr"),
        ),
        ("ocr", lambda df: concat_pages(run_ocr(df))),
        ("html", html),
        ("records", lambda df: route_and_extract(df, text_col="ocr_text")),
        ("reassemble", reassemble),
    ]


def _layer_counts(name: str, fn, inp, out) -> dict:
    """Counts of one layer's work, from its input and materialized output."""
    col = F.col
    if name == "salt":
        sizes = [r[1] for r in fn(inp).groupBy(F.spark_partition_id()).count().collect()]
        parts = fn(inp).rdd.getNumPartitions()
        sizes += [0] * (parts - len(sizes))
        return {
            "salt.partitions": (parts, "count"),
            "salt.empty_partitions": (sizes.count(0), "count"),
            "salt.rows_max_over_median": (max(sizes) / max(statistics.median(sizes), 1), "ratio"),
        }
    if name == "classify":
        r = out.agg(
            F.count("mime").alias("spans"),
            F.count(F.when(col("mime") != "application/octet-stream", 1)).alias("known"),
        ).first()
        return {
            "classify.spans": (r.spans, "count"),
            "classify.known_frac": (r.known / max(r.spans, 1), "ratio"),
        }
    if name == "ocr":
        r = out.agg(
            F.count("ocr_pages").alias("spans"), F.sum(F.size("ocr_pages")).alias("pages")
        ).first()
        return {"ocr.spans": (r.spans, "count"), "ocr.pages": (r.pages or 0, "count")}
    if name == "html":
        r = out.filter(col("kind") == "html").agg(
            F.count("*").alias("spans"),
            F.sum(F.length("extracted_text")).alias("kept"),
            F.sum(F.length("text")).alias("chars"),
        ).first()
        return {
            "html.spans": (r.spans, "count"),
            "html.kept_frac": ((r.kept or 0) / max(r.chars or 0, 1), "ratio"),
        }
    if name == "records":
        known = col("mime").isNotNull() & (col("mime") != "application/octet-stream")
        parsed = col("receipt").isNotNull() | col("check").isNotNull()
        full = col("receipt_full").isNotNull() | col("check_full").isNotNull()
        r = out.agg(
            F.count(F.when(known, 1)).alias("base"),
            F.count(F.when(known & parsed, 1)).alias("parsed"),
            F.count(F.when(known & full, 1)).alias("full"),
        ).first()
        return {
            "records.parsed_frac": (r.parsed / max(r.base, 1), "ratio"),
            "records.full_frac": (r.full / max(r.base, 1), "ratio"),
        }
    return {"reassemble.docs": (out.count(), "count")}


def _layer_pass(spark, tracer: Tracer, src: str, expected, work: str):
    """Self time and counts of every layer over input unit ``src``; the
    final layer's output is checked like an operation's."""
    from nolock_social_ocr_services_spark.pipeline import explode_spans

    base = os.path.join(work, "layers")
    shutil.rmtree(base, ignore_errors=True)
    prev = os.path.join(base, "explode")
    with tracer.span("explode", layer="prep"):
        explode_spans(spark.read.parquet(src)).write.parquet(prev)
    metrics = {}
    for name, fn in _layers(spark):
        inp = spark.read.parquet(prev)
        for _ in range(REPEATS):
            with tracer.span(f"{name}.scan", layer=f"{name}.scan"):
                _noop(inp)
            with tracer.span(name, layer=name):
                _noop(fn(inp))
        self_s = statistics.median(tracer.seconds(name)) - statistics.median(
            tracer.seconds(f"{name}.scan")
        )
        metrics[f"{name}.s"] = (self_s, "s")
        spark.sparkContext.setLocalProperty(LAYER, "prep")
        if name in ("salt", "records"):
            # side layers: salt only moves rows, and reassemble does not
            # read the records fields; the next layer takes this input
            metrics.update(_layer_counts(name, fn, inp, fn(inp)))
            continue
        prev = os.path.join(base, name)
        fn(inp).write.parquet(prev)
        metrics.update(_layer_counts(name, fn, inp, spark.read.parquet(prev)))
    attempted, failed = check_nested(expected, spark.read.parquet(prev))
    return metrics, attempted, failed


def _lineage_pass(spark, tracer: Tracer, ckpt: str, expected, work: str):
    """Kill the checkpointed job at half its units, resume it, check the
    committed output and lineage rows."""
    from nolock_social_ocr_services_spark import lineage

    out = os.path.join(work, "ckpt_out")
    shutil.rmtree(out, ignore_errors=True)
    docs = spark.read.parquet(ckpt)
    problems = []
    with tracer.span("lineage.killed", layer="lineage"):
        try:
            lineage.run_extract_job(
                spark, docs, out, run_id="bench", fail_after=KILL_AFTER, **CKPT_JOB
            )
            problems.append("the job was not killed")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
    data = os.path.join(out, "data")
    written = {int(d.split("=", 1)[1]) for d in os.listdir(data) if d.startswith("part_id=")}
    with tracer.span("lineage.committed_parts", layer="lineage.read"):
        committed = lineage.committed_parts(spark, out)
    with tracer.span("lineage.resume", layer="lineage"):
        processed = set(lineage.run_extract_job(spark, docs, out, run_id="bench", **CKPT_JOB))
    with tracer.span("lineage.read_output", layer="lineage.read"):
        flat = lineage.read_output(spark, out)
        _noop(flat)
    spark.sparkContext.setLocalProperty(LAYER, "check")
    units = CKPT_JOB["num_parts"]
    redone = committed & processed
    if committed | processed != set(range(units)):
        problems.append(f"{units - len(committed | processed)} units never committed")
    if redone:
        problems.append(f"{len(redone)} committed units extracted again")
    problems += check_lineage(expected, lineage.read_lineage(spark, out))
    attempted, failed = check_flat(expected, flat)
    metrics = {
        "lineage.units": (units, "count"),
        "lineage.units_redone": (len(redone), "count"),
        "lineage.redo_frac": (len(written & processed) / units, "ratio"),
        "lineage.committed_parts_ms": (1000 * tracer.seconds("lineage.committed_parts")[0], "ms"),
        "lineage.read_output_s": (tracer.seconds("lineage.read_output")[0], "s"),
        "lineage.killed_run_s": (tracer.seconds("lineage.killed")[0], "s"),
        "lineage.resume_s": (tracer.seconds("lineage.resume")[0], "s"),
    }
    return metrics, attempted + 1, failed + int(bool(problems)), problems


def run(wl, args, work: str) -> tuple[dict, int, int, list]:
    inputs, build_s = gen.build(work, wl.kind, args.seed, (*wl.sizes, CKPT_DOCS), host.cpus())
    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer()
    sampler = host.RssSampler()
    with tracer.span("session.start"):
        spark = host.start_session(work, event_log=log_dir)
    tracer.sc = spark.sparkContext
    lines, metrics = [], {"corpus.build_s": (build_s, "s")}
    try:
        runner = Runner(spark, wl, inputs, work)
        with tracer.span("warmup", layer="warmup"):
            runner.warm_up()

        compiles = []  # classes compiled during each operation

        def op(runner, path, i):
            tracer.pass_id = f"op{i}"
            compiles.append(-codegen_compiles(spark))
            try:
                if i % 2:  # untraced: no spans, no plan forcing
                    tracer.sc.setLocalProperty(LAYER, "e2e")
                    return runner.execute(runner.build(path))
                with tracer.span("op", layer="e2e"):
                    with tracer.span("pipeline.build"):
                        df = runner.build(path)
                    with tracer.span("pipeline.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute"):
                        return runner.execute(df)
            finally:  # the output check that follows is not the op's work
                tracer.sc.setLocalProperty(LAYER, "check")
                compiles[-1] += codegen_compiles(spark)

        ops = run_ops(runner, 0, sampler, op=op, count=E2E_OPS)
        attempted, failed = ops["attempted"], ops["failed"]
        lat = ops["lat"]

        tracer.pass_id = "layers"
        src = inputs.main[0]
        unit = int(src.rsplit("unit=", 1)[1])
        layer_expected = expected_set(spark, inputs.expected, "main").filter(F.col("unit") == unit)
        layer_metrics, a, f = _layer_pass(spark, tracer, src, layer_expected, work)
        attempted, failed = attempted + a, failed + f

        tracer.pass_id = "lineage"
        lin_metrics, a, f, problems = _lineage_pass(
            spark, tracer, inputs.ckpt[0], expected_set(spark, inputs.expected, "ckpt"), work
        )
        attempted, failed = attempted + a, failed + f
        lines += [f"{wl.name} lineage problem: {p}" for p in problems]
    finally:
        sampler.close()
        host.shutdown(spark)
        tracer.write(os.path.join(work, "trace", "spans.json"))

    stats = read_event_log(log_dir)
    e2e = stats.get("e2e", LayerStats())
    traced = [x for i, x in enumerate(lat) if i % 2 == 0]
    untraced = [x for i, x in enumerate(lat) if i % 2]
    metrics |= {
        "session.start_s": (tracer.seconds("session.start")[0], "s"),
        "warmup.s": (tracer.seconds("warmup")[0], "s"),
        "pipeline.build_ms": (1000 * statistics.median(tracer.seconds("pipeline.build")), "ms"),
        "pipeline.plan_ms": (1000 * statistics.median(tracer.seconds("pipeline.plan")), "ms"),
    }
    metrics |= layer_metrics
    for name in ("salt", "reassemble"):
        metrics[f"{name}.shuffle_mb"] = (stats.get(name, LayerStats()).shuffle_bytes / REPEATS / MB, "MB")
    metrics["ocr.python_mb"] = (stats.get("ocr", LayerStats()).python_bytes / REPEATS / MB, "MB")
    metrics |= lin_metrics
    metrics["lineage.spark_jobs"] = (stats.get("lineage", LayerStats()).jobs, "count")
    task_ms = e2e.task_ms or [0]
    metrics |= {
        "spark.jobs": (e2e.jobs / E2E_OPS, "count"),
        "spark.tasks": (len(e2e.task_ms) / E2E_OPS, "count"),
        "spark.task_p50_ms": (statistics.median(task_ms), "ms"),
        "spark.task_max_ms": (max(task_ms), "ms"),
        "spark.gc_ms": (e2e.gc_ms / E2E_OPS, "ms"),
        "spark.spill_mb": (e2e.spill_bytes / E2E_OPS / MB, "MB"),
        "spark.codegen_compiles": (sum(compiles) / E2E_OPS, "count"),
        "spark.python_init_ms": (e2e.python_init_ms / E2E_OPS, "ms"),
        "trace.overhead_frac": (statistics.median(traced) / statistics.median(untraced) - 1, "ratio"),
    }
    lines += [
        f"{wl.name} op_s = {[round(x, 3) for x in lat]} (even: traced, odd: untraced)",
        f"{wl.name} peak_rss_mb = {sampler.peak_mb:.1f} MB (traced)",
    ]
    return metrics, attempted, failed, lines
