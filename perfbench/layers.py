"""Per-layer metrics of a traced run (--trace 1).

``live_layers`` runs while the session is up: JVM/process counters of the
timed passes, the isolated linking and canonicalize replays, the fused
sub-layer replay and, on kg_batch, the curate and streaming replays.
``log_layers`` reads Spark's event log once the session has stopped. Each
value is the median over the run's traced passes (untraced passes for the
JVM/process counters, which tracing would disturb); a layer a workload does
not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

import tracing as tr


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _ok(recs, traced):
    return [r for r in recs if "error" not in r and r["traced"] == traced]


def _replay_kg(spark, wl, tracer) -> dict:
    """Linking and canonicalize timed in isolation over one cached
    extraction of the pass input: inside run_kg_job they run fused into the
    sink jobs, where no label can separate them."""
    from pyspark.sql import functions as F

    from fastie_spark.cc import canonicalize, connected_components
    from fastie_spark.linking import link_mentions, link_triples
    from fastie_spark.pipeline import MENTION_COLS, TRIPLE_COLS, run_extraction_fused

    with tracer.label("replay.extract"):
        raw = run_extraction_fused(spark, wl.pages, wl.vocab, from_html=True,
                                   repartition=wl.spec.repartition)["_raw"]
        raw.count()
        comps = connected_components(wl.edges)
    trip = raw.filter(F.col("kind") == "triple").select(*TRIPLE_COLS)
    ment = raw.filter(F.col("kind") == "mention").select(*MENTION_COLS)
    for _ in range(2):  # the first round compiles the replay's own plans
        t0 = time.time()
        with tracer.label("replay.linking"):
            lt = link_triples(trip, wl.linker, strategy="broadcast")
            lm = link_mentions(ment, wl.linker, strategy="broadcast")
            a = lt.agg(F.count("*"), F.count("subj_id"), F.count("obj_id")).collect()[0]
            b = lm.agg(F.count("*"), F.count("entity_id")).collect()[0]
        t1 = time.time()
        with tracer.label("replay.canonicalize"):
            ct = canonicalize(canonicalize(lt, comps, "subj_id", "subj_comp"),
                              comps, "obj_id", "obj_comp")
            cm = canonicalize(lm, comps, "entity_id", "entity_comp")
            ct.agg(F.count("*"), F.count("subj_comp")).collect()
            cm.agg(F.count("*"), F.count("entity_comp")).collect()
        t2 = time.time()
    raw.unpersist()
    rows = 2 * a[0] + b[0]
    return {
        "linking.s": t1 - t0,
        "linking.rows_in": a[0] + b[0],
        "linking.hit_ratio": (a[1] + a[2] + b[1]) / rows if rows else 0.0,
        "linking.dict_rows": len(wl.linker_rows),
        "cc.edges": len(wl.edge_rows),
        # the same linking again with canonicalize on top, minus linking
        "cc.canonicalize_s": max((t2 - t1) - (t1 - t0), 0.0),
    }


def _replay_curate(wl, tracer) -> None:
    """One untimed curate pass over the slice, then one over the pages whose
    window log_layers reads the textops numbers from."""
    wl.curate_pass(warm=True)
    t0 = time.time()
    n = wl.curate_pass()[0]
    tracer.windows["textops"] = (t0, time.time())
    if n != wl.spec.size:
        raise RuntimeError(f"curate verdict has {n} rows for {wl.spec.size} pages")


def _replay_stream(wl, work: str) -> dict:
    """One drain of the backlog; the dedup output count comes from an
    observe() the tracer adds to the stateful dedup stage."""
    from workloads import clean

    out = os.path.join(work, "out", "stream")
    clean(out)
    prog = [p for p in wl.stream_pass(out) if p.get("numInputRows")]
    clean(out)
    rows_in = sum(p["numInputRows"] for p in prog)
    rows_out = sum((p.get("observedMetrics") or {}).get("perfbench_dedup", {}).get("rows", 0)
                   for p in prog)
    ops = prog[-1].get("stateOperators") if prog else None
    return {
        "streaming.batches": len(prog),
        "streaming.batch_s": _med([p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]),
        "streaming.dedup_drop_ratio": 1.0 - rows_out / rows_in if rows_in else 0.0,
        "streaming.state_rows": ops[0]["numRowsTotal"] if ops else 0,
    }


def live_layers(spark, wl, tracer, recs, start_s: float, work: str) -> dict:
    plain, traced = _ok(recs, False), _ok(recs, True)
    counts = traced[0]["res"].counts if traced else {}
    v = {
        "session.start_s": start_s,
        "jvm.jit_s": _med([r["jit_s"] for r in plain]),
        "jvm.gc_s": _med([r["gc_s"] for r in plain]),
        "jvm.cpu_s": _med([r["jvm_cpu"] for r in plain]),
        "py.cpu_s": _med([r["py_cpu"] for r in plain]),
        "materialize.bytes_written": _med([r["bytes_written"] for r in traced]),
        "materialize.files_written": _med([r["files_written"] for r in traced]),
    }
    v.update({f"pipeline.rows_{k}": counts.get(k, 0) for k in ("mention", "triple", "event")})
    v.update(_replay_kg(spark, wl, tracer))
    v.update(tr.replay_sublayers(wl.vocab, wl.sample))
    if wl.name == "kg_batch":
        tracer.active = True  # the streaming replay's dedup observe()
        try:
            v.update(_replay_stream(wl, work))
        finally:
            tracer.active = False
        _replay_curate(wl, tracer)
    return v


def log_layers(path: str, tracer, recs) -> dict:
    log = tr.read_event_log(path)
    rows = []
    for r in _ok(recs, True):
        t0, t1 = r["t0"], r["t1"]
        m = tr.engine_metrics(log, t0, t1)
        p = tr.pipeline_metrics(log, t0, t1)
        spans = {}
        for name, a, b in tracer.spans:
            if t0 <= a <= t1:
                spans.setdefault(name, []).append((a, b))
        extract = p.pop("extract_jobs")
        m.update(p)
        m["pipeline.extract_s"] = (tr.union_len(extract)
                                   + tr.union_len(spans.get("pipeline.plan", [])))
        m["driver.plan_s"] = tr.union_len(
            [iv for n in tracer.PLAN_SPANS for iv in spans.get(n, [])])
        m["cc.components_s"] = tr.union_len(spans.get("cc.components", []))
        m["cc.jobs"] = tr.group_metrics(log, t0, t1, "cc.components")["jobs"]
        for sink in ("provenance", "nodes", "edges"):
            m[f"materialize.{sink}_s"] = tr.union_len(spans.get(f"materialize.{sink}", []))
        covered = tr.labelled_jobs(log, t0, t1) + [iv for ivs in spans.values() for iv in ivs]
        covered = [(max(a, t0), min(b, t1)) for a, b in covered if b > t0 and a < t1]
        m["trace.layer_coverage"] = tr.union_len(covered) / (t1 - t0)
        rows.append(m)
    out = {k: _med([row[k] for row in rows]) for k in (rows[0] if rows else {})}
    if "textops" in tracer.windows:
        t0, t1 = tracer.windows["textops"]
        g = tr.group_metrics(log, t0, t1, "textops.")
        for name, a, b in tracer.spans:
            if t0 <= a <= t1:
                out[f"{name}_s"] = b - a
        out.update({"textops.shuffle_bytes": g["shuffle_bytes"],
                    "textops.spill_bytes": g["spill_bytes"],
                    "textops.stages": g["stages"]})
    plain = _med([r["wall"] for r in _ok(recs, False)])
    traced = _med([r["wall"] for r in _ok(recs, True)])
    out["trace.overhead"] = traced / plain - 1.0 if plain else 0.0
    return out
