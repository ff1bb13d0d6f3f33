"""The workloads: inputs, one pass, and the output check of a pass.

Both are closed loops: the next pass starts when the previous one ends.

- kg_batch: kg_job.run_kg_job over html pages from the default fixture
  vocabulary, with bench.py's arguments (url-bucketed parquet source,
  repartition=False). The paper's headline; time goes to the fused
  mapInArrow extract (scorer fast paths) and the three sinks, while linking
  and CC are trivial.
- kg_dict: the same job over a realistic dictionary: prefix-sharing
  surfaces (so the scorer's affix gate sends triples through the generic
  re_cells + gplinker_decode_cells decode), a many-alias linker table and a
  40k-edge alias graph, read from an un-bucketed source with
  repartition=True. Linking, CC, canonicalize, the url-hash repartition and
  the generic decode do real work here and almost none in kg_batch.

The traced run of kg_batch also replays textops.curate_verdict and the
streaming pipeline over the same pages (``curate_pass``, ``stream_pass``),
so their layers are measured although they have no workload of their own.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

from inputs import EDGES_DDL, LINKER_DDL, PAGES_DDL, load_tables

ORACLE_SAMPLE = 48  # pages re-decoded through oracle.OracleEngine per pass


@dataclass
class Spec:
    size: int  # pages per pass
    warmup: int  # untimed passes inside setup_s; the first runs on warm/
    n_files: int = 0  # input files; 0 = one per core (url-bucketed)
    repartition: bool = False


SPECS = {
    "kg_batch": Spec(10000, 2),
    "kg_dict": Spec(3000, 2, n_files=3, repartition=True),
}


@dataclass
class PassOut:
    pages: int
    triples: int
    counts: dict
    digest: list = field(default_factory=list)


def table_digest(spark, path: str, drop=()) -> list:
    """[rows, order-independent hash] of a parquet table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = sorted(c for c in df.columns if c not in drop)
    r = df.agg(F.count("*"), F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")).collect()[0]
    return [int(r[0]), int(r[1] or 0)]


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    """One workload's tables, session-side frames and oracle sample."""

    def __init__(self, name: str, inp: str, cores: int, tracer):
        self.name, self.spec, self.inp, self.cores = name, SPECS[name], inp, cores
        self.tracer = tracer
        self.vocab, self.linker_rows, self.edge_rows = load_tables(inp)
        self.sample = self._sample_pages()
        self.expected_re = self._oracle_triples()

    # -- outside any timing ------------------------------------------------
    def _sample_pages(self) -> list:
        """A deterministic hash sample of (url, html) pages."""
        import pyarrow.parquet as pq

        rows = {}
        for f in sorted(glob.glob(os.path.join(self.inp, "pages", "*.parquet"))):
            t = pq.read_table(f, columns=["url", "html"]).to_pydict()
            rows.update(zip(t["url"], t["html"]))
        keyed = sorted(rows, key=lambda u: hashlib.md5(u.encode()).hexdigest())
        return [(u, rows[u]) for u in keyed[:ORACLE_SAMPLE]]

    def _oracle_triples(self) -> set:
        from fastie_spark.oracle import OracleEngine
        from fastie_spark.text_extract import extract_text_py

        got = OracleEngine(self.vocab).predict_re(
            [extract_text_py(h) for _u, h in self.sample])
        return {(u, p, s, o) for (u, _h), tri in zip(self.sample, got)
                for p, s, o in tri}

    # -- setup_s ------------------------------------------------------------
    def setup(self, spark) -> None:
        from fastie_spark.session import local_df

        self.spark = spark
        self.linker = local_df(spark, self.linker_rows, LINKER_DDL)
        self.edges = local_df(spark, self.edge_rows, EDGES_DDL)
        self.pages, self.warm = (
            spark.read.schema(PAGES_DDL).parquet(os.path.join(self.inp, d))
            for d in ("pages", "warm"))

    # -- one pass -------------------------------------------------------------
    def run_pass(self, out: str, warm: bool = False) -> PassOut:
        """One run_kg_job pass; ``warm`` runs it over the leading slice."""
        from fastie_spark.kg_job import run_kg_job

        with self.tracer.label("pipeline.extract"):
            res = run_kg_job(
                self.spark, self.warm if warm else self.pages, self.vocab,
                self.linker, self.edges, out_dir=out, snapshot_id="bench",
                n_buckets=self.cores, repartition=self.spec.repartition,
            )
        return PassOut(self.spec.size, res["n_triples"], dict(res["counts"]))

    # -- output check (outside timing) ---------------------------------------
    def check(self, out: str, res: PassOut) -> list:
        """Fill res.digest and return the list of problems found: the
        provenance/nodes/edges digests plus per-kind counts must repeat on
        every pass, and the sample's provenance triples must equal the
        oracle's."""
        from pyspark.sql import functions as F

        res.digest = [table_digest(self.spark, os.path.join(out, "provenance"),
                                   ("partition_id", "snapshot_id"))]
        res.digest += [table_digest(self.spark, os.path.join(out, t))
                       for t in ("nodes", "edges")]
        res.digest.append(sorted(res.counts.items()))
        problems = []
        if res.digest[0][0] != res.triples:
            problems.append("provenance rows != manifest triple count")
        got = {
            (r[0], r[1], r[2], r[3]) for r in
            self.spark.read.parquet(os.path.join(out, "provenance"))
            .filter(F.col("url").isin([u for u, _h in self.sample]))
            .select("url", "pred", "subj", "obj").collect()
        }
        if got != self.expected_re:
            problems.append(f"oracle sample: {len(got ^ self.expected_re)} triples differ")
        return problems

    # -- layer replays of the traced kg_batch run ------------------------------
    def curate_pass(self, warm: bool = False) -> list:
        """textops.curate_verdict over the pages' text, as bench.py runs it;
        returns [rows, kept, in_sample, verdict hash]."""
        from pyspark.sql import functions as F

        from fastie_spark.textops import curate_verdict, release_caches

        docs = (self.warm if warm else self.pages).select(
            F.xxhash64("url").alias("doc_id"),
            F.substring_index(F.substring_index("url", "/", 3), "//", -1).alias("source"),
            "lang", "text",
        )
        with self.tracer.span("textops.curate_build"):
            v = curate_verdict(docs)
        with self.tracer.span("textops.verdict"):
            r = v.agg(
                F.count("*"), F.sum(F.col("keep").cast("long")),
                F.sum(F.col("in_sample").cast("long")),
                F.expr("bit_xor(xxhash64(doc_id, cluster_id, is_exact_winner, "
                       "is_canonical, keep, in_sample))"),
            ).collect()[0]
        release_caches()
        return [int(x) for x in r]

    def stream_pass(self, out: str) -> list:
        """Drain the backlog through run_streaming_kg_pipeline, one arrival
        file per epoch; returns the query's progress records."""
        from fastie_spark.streaming.incremental import run_streaming_kg_pipeline

        q = run_streaming_kg_pipeline(
            self.spark, os.path.join(self.inp, "backlog"), os.path.join(out, "graph"),
            os.path.join(out, "checkpoint"), self.vocab, self.linker,
            n_buckets=self.cores, max_files_per_trigger=1,
        )
        return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
