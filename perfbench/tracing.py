"""Traced-run collector: layer labels, Spark event-log parsing and the
in-process replay of the fused extract stage's sub-layers.

Nothing here edits the program. Layer boundaries come from the benchmark's
own thread: a Spark job-group label is set around each call into a module's
public function (``span``), and ``install`` wraps those functions where the
program calls them from threads the benchmark does not own (the KG job's
sink pool, the streaming dedup stage). Per-stage and per-task numbers come
from Spark's own event log, written uncompressed and read with ``json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

GROUP = "spark.jobGroup.id"


class NullTracer:
    """Untraced runs: labels and spans cost nothing."""

    def span(self, name):
        return contextlib.nullcontext()

    def label(self, name):
        return contextlib.nullcontext()


class Tracer:
    """Records (name, start, end) spans in epoch seconds and labels the
    Spark jobs submitted inside each span with the span's name."""

    PLAN_SPANS = ("pipeline.plan", "linking.plan", "cc.canonicalize_plan",
                  "materialize.plan")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.windows: dict = {}  # replay name -> (start, end)
        self.active = False
        self._local = threading.local()

    @contextlib.contextmanager
    def label(self, name):
        """Label this thread's jobs without recording a span."""
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP, prev)

    @contextlib.contextmanager
    def span(self, name):
        t0 = time.time()
        try:
            with self.label(name):
                yield
        finally:
            self.spans.append((name, t0, time.time()))

    def _wrap(self, fn, name, flag=None):
        tracer = self

        def wrapped(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            if flag:
                setattr(tracer._local, flag, True)
            try:
                with tracer.span(name):
                    return fn(*a, **kw)
            finally:
                if flag:
                    setattr(tracer._local, flag, False)

        return wrapped

    def install(self):
        """Wrap the module functions whose calls the traced passes time."""
        from pyspark.sql import functions as F
        from pyspark.sql.readwriter import DataFrameWriter

        from fastie_spark import kg_job
        from fastie_spark.streaming import stateful

        # plan-building calls: lazy, but their driver-side analysis is part
        # of the pass wall (driver.plan_s)
        for fn, name in (("run_extraction_fused", "pipeline.plan"),
                         ("link_triples", "linking.plan"),
                         ("link_mentions", "linking.plan"),
                         ("canonicalize", "cc.canonicalize_plan"),
                         ("build_graph_tables", "materialize.plan")):
            setattr(kg_job, fn, self._wrap(getattr(kg_job, fn), name))
        kg_job.connected_components = self._wrap(
            kg_job.connected_components, "cc.components")
        kg_job.materialize_snapshot = self._wrap(
            kg_job.materialize_snapshot, "materialize.provenance", "in_prov")

        tracer, parquet = self, DataFrameWriter.parquet

        def writer_parquet(w, path, *a, **kw):
            if not tracer.active or getattr(tracer._local, "in_prov", False):
                return parquet(w, path, *a, **kw)
            name = "materialize." + os.path.basename(str(path).rstrip("/"))
            with tracer.span(name):
                return parquet(w, path, *a, **kw)

        DataFrameWriter.parquet = writer_parquet

        dedup = stateful.dedup_stream_ttl

        def dedup_observed(*a, **kw):
            out = dedup(*a, **kw)
            if tracer.active:
                out = out.observe("perfbench_dedup", F.count(F.lit(1)).alias("rows"))
            return out

        stateful.dedup_stream_ttl = dedup_observed


# ---------------------------------------------------------------- event log
def read_event_log(path: str) -> dict:
    """jobs: [{id, group, t0, t1, stages}] and stages: {id: {...}} from an
    uncompressed Spark event log (times in epoch seconds)."""
    jobs, stages, tasks = {}, {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get(GROUP),
                    "t0": ev["Submission Time"] / 1000.0, "t1": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                t = tasks.setdefault(ev["Stage ID"], {
                    "run_ms": [], "shuffle_write": 0, "spill": 0})
                t["run_ms"].append(m.get("Executor Run Time", 0))
                t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                t["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", []):
                    try:
                        acc[a.get("Name")] = acc.get(a.get("Name"), 0) + int(a.get("Value", 0))
                    except (TypeError, ValueError):
                        continue
                stages[info["Stage ID"]] = {
                    "t0": (info.get("Submission Time") or 0) / 1000.0,
                    "t1": (info.get("Completion Time") or 0) / 1000.0,
                    "tasks": info.get("Number of Tasks", 0),
                    "acc": acc,
                }
    for sid, st in stages.items():
        st.update(tasks.get(sid, {"run_ms": [], "shuffle_write": 0, "spill": 0}))
    return {"jobs": [dict(j, id=k) for k, j in sorted(jobs.items())],
            "stages": stages}


def jobs_in(log: dict, t0: float, t1: float) -> list:
    return [j for j in log["jobs"] if t0 <= j["t0"] <= t1]


def stages_of(log: dict, jobs: list) -> list:
    seen, out = set(), []
    for j in jobs:
        for sid in j["stages"]:
            if sid in log["stages"] and sid not in seen:
                seen.add(sid)
                out.append(log["stages"][sid])
    return out


def acc_sum(stages: list, needle: str) -> int:
    return sum(v for st in stages for k, v in st["acc"].items()
               if k and needle in k)


def union_len(intervals: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def engine_metrics(log: dict, t0: float, t1: float) -> dict:
    jobs = jobs_in(log, t0, t1)
    st = stages_of(log, jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(st),
        "spark.tasks": sum(len(s["run_ms"]) for s in st),
        "spark.shuffle_bytes": sum(s["shuffle_write"] for s in st),
        "spark.executor_run_s": sum(sum(s["run_ms"]) for s in st) / 1000.0,
    }


def pipeline_metrics(log: dict, t0: float, t1: float) -> dict:
    """Extract-stage numbers from the pipeline.extract job that runs the
    Python stage (the fill action) and the url-hash repartition's map side
    that precedes it."""
    mine = [j for j in jobs_in(log, t0, t1) if j["group"] == "pipeline.extract"]
    jobs = [j for j in mine
            if any(acc_sum([s], "Python workers") for s in stages_of(log, [j]))]
    py = [s for s in stages_of(log, jobs) if acc_sum([s], "Python workers")]
    start = min((s["t0"] for s in py), default=t1)
    # adaptive execution runs the repartition's map side as its own job
    rep = [s for s in stages_of(log, mine)
           if s not in py and s["shuffle_write"] and s["t1"] <= start]
    runs = sorted(r for s in py for r in s["run_ms"])
    med = statistics.median(runs) if runs else 0
    return {
        "extract_jobs": [(j["t0"], j["t1"]) for j in jobs if j["t1"]],
        "pipeline.repartition_s": sum(s["t1"] - s["t0"] for s in rep),
        "pipeline.task_max_over_median": (max(runs) / med) if med else 0.0,
        "pipeline.py_worker_init_s": (acc_sum(py, "to start Python workers")
                                      + acc_sum(py, "to initialize Python workers")) / 1000.0,
        "pipeline.bytes_to_py": acc_sum(py, "data sent to Python workers"),
        "pipeline.bytes_from_py": acc_sum(py, "data returned from Python workers"),
    }


def labelled_jobs(log: dict, t0: float, t1: float) -> list:
    return [(j["t0"], j["t1"]) for j in jobs_in(log, t0, t1) if j["group"] and j["t1"]]


def group_metrics(log: dict, t0: float, t1: float, prefix: str) -> dict:
    jobs = [j for j in jobs_in(log, t0, t1) if (j["group"] or "").startswith(prefix)]
    st = stages_of(log, jobs)
    return {"jobs": len(jobs), "stages": len(st),
            "shuffle_bytes": sum(s["shuffle_write"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st)}


# ------------------------------------------------------- sub-layer replay
def replay_sublayers(vocab, sample: list, reps: int = 3) -> dict:
    """Time the fused extract stage's parts in this process over a fixed
    page sample [(url, html)], calling each module's public function the way
    the stage does, then the whole ``make_fused_doc_arrow_fn`` over the same
    pages as one Arrow batch. Per part: median over ``reps`` of us per doc;
    ``pipeline.arrow_us_per_doc`` is the whole stage minus the parts."""
    import pyarrow as pa

    from fastie_spark.chunking import char_bases, split_one
    from fastie_spark.decoders import (event_decode_from_argus, event_set2json,
                                       gplinker_decode_cells)
    from fastie_spark.pipeline import MAX_LENGTH, make_fused_doc_arrow_fn
    from fastie_spark.scorer import DictScorer
    from fastie_spark.text_extract import extract_text_py
    from fastie_spark.tokenizer import encode_meta

    pc = time.perf_counter
    scorer = DictScorer(vocab, MAX_LENGTH)
    ner = dict(enumerate(vocab.ner_labels()))
    pred = dict(enumerate(vocab.predicates()))
    fast = scorer._affix_free
    n = len(sample)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([u for u, _ in sample]), pa.array([h for _, h in sample], pa.binary())],
        names=["url", "html"])
    fused = make_fused_doc_arrow_fn(vocab)
    list(fused(iter([batch])))  # builds the worker-cached scorer once
    keys = ["text_extract", "chunking", "tokenizer", "scorer.mentions",
            "scorer.triples", "decoders.re", "scorer.event_views",
            "decoders.event", "whole"]
    runs = {k: [] for k in keys}
    for _ in range(reps):
        t = dict.fromkeys(keys, 0.0)
        for _url, html in sample:
            a = pc()
            text = extract_text_py(html)
            b = pc()
            chunks = split_one(text, MAX_LENGTH - 2)
            bases = char_bases(chunks)
            c = pc()
            masked = text[: MAX_LENGTH - 2].replace(" ", "-")
            enc = encode_meta(masked, MAX_LENGTH)
            d = pc()
            argus, eh, et = scorer.event_views(masked)
            e = pc()
            event_set2json(event_decode_from_argus(argus, eh, et, text, enc["offset_mapping"]))
            f = pc()
            t["text_extract"] += b - a
            t["chunking"] += c - b
            t["tokenizer"] += d - c
            t["scorer.event_views"] += e - d
            t["decoders.event"] += f - e
            for chunk, _base in zip(chunks, bases):
                a = pc()
                masked = chunk.replace(" ", "-")
                enc = encode_meta(masked, MAX_LENGTH)
                b = pc()
                scorer.mentions_fast(masked, chunk, enc["offset_mapping"], ner)
                c = pc()
                if fast:
                    scorer.triples_fast(masked, chunk, enc["offset_mapping"], pred)
                    d = e = pc()
                else:
                    ent, head, tail = scorer.re_cells(masked)
                    d = pc()
                    gplinker_decode_cells(ent, head, tail, enc["seq_len"], chunk,
                                          enc["offset_mapping"], pred)
                    e = pc()
                t["tokenizer"] += b - a
                t["scorer.mentions"] += c - b
                t["scorer.triples"] += d - c
                t["decoders.re"] += e - d
        a = pc()
        list(fused(iter([batch])))
        t["whole"] = pc() - a
        for k in keys:
            runs[k].append(t[k] * 1e6 / n)
    med = {k: statistics.median(v) for k, v in runs.items()}
    parts = sum(v for k, v in med.items() if k != "whole")
    return {
        "text_extract.us_per_doc": med["text_extract"],
        "chunking.us_per_doc": med["chunking"],
        "tokenizer.us_per_doc": med["tokenizer"],
        "scorer.mentions_us_per_doc": med["scorer.mentions"],
        "scorer.triples_us_per_doc": med["scorer.triples"],
        "decoders.re_us_per_doc": med["decoders.re"],
        "scorer.event_views_us_per_doc": med["scorer.event_views"],
        "decoders.event_us_per_doc": med["decoders.event"],
        "pipeline.arrow_us_per_doc": max(med["whole"] - parts, 0.0),
        "scorer.fast_re_share": 1.0 if fast else 0.0,
    }
