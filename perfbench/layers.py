"""The traced run: every layer's public function called in turn on the
workload's corpus, each layer's output materialised before the next span
opens, with counters read from Spark's own plan metrics and status store.

A layer's output is materialised with an eager local checkpoint of the
frame itself: that executes the frame's own query, so its physical plan
then carries the counters, and the next layer reads the kept rows instead
of recomputing this one.

Layers that the workload's timed job runs are marked ``on_path``; their
summed span time minus the untimed job median is the tracing overhead.
"""
from __future__ import annotations

import os
import shutil
import statistics
from collections import defaultdict

from pyspark.sql import functions as F

from pdf_extractor_spark.kernels.segment import extract_turn
from pdf_extractor_spark.plans.manifest import (
    BUCKET_COL,
    pending_work,
    record_metrics,
    with_bucket,
)
from pdf_extractor_spark.plans.pipeline import (
    assemble_conversations,
    extract_transcripts,
)
from pdf_extractor_spark.plans.training_data import iter_curate_stages

from probes import StageReader, Tracer, metric_sum, plan_nodes
from workloads import data_files

CURATE_STAGES = ("extract_assemble", "quality_gate", "boilerplate_c4",
                 "repetition_gate", "redact_dedup_split")
KINDS = ("pdf", "html", "layout")

# layer -> workloads whose timed job runs it
ON_PATH = {
    "sources": {"payload_mix", "resume_chat"},
    "extract": {"payload_mix"},
    "assemble": {"payload_mix"},
    "curate": set(),
    "resume": {"resume_chat"},
    "kernels": set(),  # timed in-process; the job runs it inside UDF workers
}

# layer -> its top span
LAYER_SPANS = {
    "session": "session",
    "sources": "sources.scan",
    "extract": "plans.pipeline.extract_transcripts",
    "kernels": "kernels",
    "assemble": "plans.pipeline.assemble_conversations",
    "curate": "plans.training_data",
    "resume": "plans.manifest",
    "job": "job",
}


def traced_walk(spark, wl, run, setup: Tracer, t0: float):
    sc = spark.sparkContext
    tr = Tracer(sc)
    stages = StageReader(sc)
    job = f"{wl.name}:{wl.seed}:traced"
    m: dict[str, float] = {}

    def span(name, layer):
        return tr.span(name, job, layer, wl.name in ON_PATH.get(layer, ()))

    def groups(name):
        rec = tr.find(name)
        return [rec["group"]] + [s["group"] for s in tr.descendants(rec["id"])]

    def expect(ok, what):
        # a counter that read the wrong plan or matched no job comes back as
        # 0; these cross-checks make that a failed run, not a quiet number
        if not ok:
            run.problems.append(f"traced {wl.name}: {what}")

    with tr.span("job", job, "job"):
        # sources: the parquet scan, materialised
        with span("sources.scan", "sources"):
            src = wl.spark.read.parquet(wl.corpus)
            scan = src.localCheckpoint(eager=True)
        nodes = plan_nodes(src)
        m["scan.rows"] = metric_sum(nodes, "Scan parquet", "numOutputRows")
        m["scan.bytes"] = metric_sum(nodes, "Scan parquet", "filesSize")
        expect(m["scan.rows"] == wl.in_rows,
               f"scan.rows {m['scan.rows']} != {wl.in_rows} input rows")
        n_convs = scan.select("conv_id").distinct().count()

        # extraction map: JVM router + Arrow UDF
        with span("plans.pipeline.extract_transcripts", "extract"):
            ext = extract_transcripts(scan)
            extracted = ext.localCheckpoint(eager=True)
        nodes = plan_nodes(ext)
        m["udf.rows_sent"] = metric_sum(nodes, "ArrowEvalPython", "pythonNumRowsReceived")
        m["udf.bytes_sent"] = metric_sum(nodes, "ArrowEvalPython", "pythonDataSent")
        m["udf.bytes_received"] = metric_sum(nodes, "ArrowEvalPython", "pythonDataReceived")
        m["udf.python_s"] = metric_sum(nodes, "ArrowEvalPython", "pythonTotalTime") / 1e3
        expect(m["udf.rows_sent"] == m["scan.rows"],
               f"udf.rows_sent {m['udf.rows_sent']} != scan.rows {m['scan.rows']}")
        payload = extracted.where(F.col("kind") != "plain")
        m["udf.payload_rows"] = payload.count()
        m["udf.useful_share"] = (
            m["udf.payload_rows"] / m["udf.rows_sent"] if m["udf.rows_sent"] else 0.0
        )

        # kernels, in-process on this corpus's payload turns
        texts = defaultdict(list)
        for r in scan.join(
            payload.select("conv_id", "turn_idx", "kind"), ["conv_id", "turn_idx"]
        ).select("kind", "text").collect():
            texts[r["kind"]].append(r["text"])
        pages = problems = repaired = 0
        with span("kernels", "kernels"):
            for kind in KINDS:
                with span(f"kernels.{kind}", "kernels"):
                    results = [extract_turn(t) for t in texts[kind]]
                pages += sum(r["n_pages"] for r in results)
                problems += sum(len(r["problems"]) for r in results)
                repaired += sum(len(r["repaired_pages"]) for r in results)
        kernel_s = sum(tr.duration(f"kernels.{k}") for k in KINDS)
        payload_bytes = sum(len(t.encode()) for k in KINDS for t in texts[k])
        for k in KINDS:
            m[f"kernel.{k}.s"] = tr.duration(f"kernels.{k}")
        m["kernel.payload_mb_per_s"] = payload_bytes / kernel_s / 1e6 if kernel_s else 0.0
        m["kernel.pages"] = pages
        m["kernel.problems"] = problems
        m["kernel.repaired_pages"] = repaired

        # per-conversation assembly: the one shuffle
        with span("plans.pipeline.assemble_conversations", "assemble"):
            asm = assemble_conversations(extracted)
            asm.localCheckpoint(eager=True)
        nodes = plan_nodes(asm)
        m["assemble.shuffle_bytes"] = metric_sum(nodes, "Exchange", "shuffleBytesWritten")
        m["assemble.spill_bytes"] = (
            metric_sum(nodes, "ObjectHashAggregate", "spillSize")
            + metric_sum(nodes, "Sort", "spillSize")
        )
        m["assemble.partitions"] = (
            metric_sum(nodes, "AQEShuffleRead", "numPartitions")
            or metric_sum(nodes, "Exchange", "numPartitions")
        )
        m["assemble.skew"] = stages.read_skew(
            groups("plans.pipeline.assemble_conversations")
        )
        m["assemble.sort_fallback_tasks"] = metric_sum(
            nodes, "ObjectHashAggregate", "numTasksFallBacked"
        )
        expect(m["assemble.shuffle_bytes"] > 0, "assemble.shuffle_bytes is 0")
        expect(m["assemble.partitions"] > 0, "assemble.partitions is 0")
        expect(stages.shuffle_write_bytes(
            groups("plans.pipeline.assemble_conversations")) > 0,
            "no shuffle stage found under the assemble span")

        # curation gates: one span per generator advance
        rows_out = {}
        with span("plans.training_data", "curate"):
            it = iter_curate_stages(scan)
            for stage in CURATE_STAGES:
                with span(f"curate.{stage}", "curate"):
                    name, frame = next(it)
                    if stage == CURATE_STAGES[-1]:
                        frame = frame.localCheckpoint(eager=True)
                if name != stage:
                    raise RuntimeError(f"curate stage {name!r}, expected {stage!r}")
                rows_out[stage] = frame.count()
        for stage in CURATE_STAGES:
            m[f"curate.{stage}.s"] = tr.duration(f"curate.{stage}")
            m[f"curate.{stage}.rows_out"] = rows_out[stage]
        first = rows_out[CURATE_STAGES[0]]
        m["curate.keep_share"] = rows_out[CURATE_STAGES[-1]] / first if first else 0.0
        m["curate.shuffle_bytes"] = stages.shuffle_write_bytes(groups("plans.training_data"))
        expect(first == n_convs,
               f"curate.extract_assemble.rows_out {first} != {n_convs} conversations")
        expect(m["curate.shuffle_bytes"] > 0, "no shuffle stage found under the curate span")

        # resumable write: run_resumable's steps, one span each
        d = os.path.join(wl.work, "traced_resume")
        shutil.rmtree(d, ignore_errors=True)
        manifest, out = os.path.join(d, "manifest"), os.path.join(d, "out")
        if wl.manifest_template:
            shutil.copytree(wl.manifest_template, manifest)
        with span("plans.manifest", "resume"):
            with span("resume.pending", "resume"):
                todo = pending_work(wl.spark, scan, manifest)
                todo = todo.localCheckpoint(eager=True)
            with span("resume.extract_cache", "resume"):
                res = extract_transcripts(todo).join(
                    with_bucket(todo.select("conv_id").distinct()), "conv_id"
                )
                res.cache()
                n = res.count()
            with span("resume.write", "resume"):
                if n:
                    (res.write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy(BUCKET_COL).parquet(out))
            with span("resume.record", "resume"):
                if n:
                    record_metrics(res, manifest, job)
            res.unpersist()
        for step in ("pending", "extract_cache", "write", "record"):
            m[f"resume.{step}.s"] = tr.duration(f"resume.{step}")
        m["resume.files_written"], m["resume.bytes_written"] = data_files(out)
        m["resume.skipped_share"] = 1 - n / m["scan.rows"] if m["scan.rows"] else 0.0
        done = wl.spark.read.parquet(manifest).select(BUCKET_COL).distinct().count()
        if done != with_bucket(scan).select(BUCKET_COL).distinct().count():
            run.problems.append(f"traced resume: manifest holds {done} buckets")
        shutil.rmtree(d, ignore_errors=True)

    m["scan.s"] = tr.duration("sources.scan")
    m["extract.s"] = tr.duration("plans.pipeline.extract_transcripts")
    m["assemble.s"] = tr.duration("plans.pipeline.assemble_conversations")
    for step in ("session", "corpus", "warmup"):
        m[f"setup.{step}_s"] = setup.duration(f"setup.{step}")

    # self time per layer, and the cost of tracing the on-path layers
    for layer, name in LAYER_SPANS.items():
        m[f"self.{layer}_s"] = (setup if layer == "session" else tr).self_time(name)
    traced = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["on_path"] and (s["parent"] is None or not tr.spans[s["parent"]]["on_path"])
    )
    untimed = statistics.median(s[0] for s in run.samples) if run.samples else 0.0
    m["trace.untimed_job_s"] = untimed
    m["trace.traced_job_s"] = traced
    m["trace.overhead_s"] = traced - untimed
    m["trace.spans"] = len(tr.spans) + len(setup.spans)

    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(m.items())}
    spans = setup.export(t0) + [
        {**s, "id": s["id"] + len(setup.spans),
         "parent": None if s["parent"] is None else s["parent"] + len(setup.spans)}
        for s in tr.export(t0)
    ]
    for s in spans:
        s["counts"] = {k: v for k, v in m.items() if _owner(k) == s["name"]}
    return metrics, spans


def unit_of(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("share", "skew")):
        return "ratio"
    return "count"


def _owner(metric: str) -> str:
    """The span a counter is recorded against."""
    head = metric.split(".")[0]
    return {
        "scan": "sources.scan",
        "udf": "plans.pipeline.extract_transcripts",
        "extract": "plans.pipeline.extract_transcripts",
        "kernel": "kernels",
        "assemble": "plans.pipeline.assemble_conversations",
        "curate": "plans.training_data",
        "resume": "plans.manifest",
        "setup": "session",
    }.get(head, "job")
