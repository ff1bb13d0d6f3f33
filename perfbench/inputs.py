"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size). ``ensure_inputs``
builds a workload's inputs once, in a child process, outside any timing, and
caches them as files under the work directory; later runs with the same key
reuse them. The program under test only ever receives the generated tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

GEN_VERSION = 2  # part of the cache key: bump when a generator changes

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
LINKER_DDL = "alias string, canonical_id string, entity_type string, prior double"
EDGES_DDL = "src string, dst string"

# kg_dict dictionary shape: prefix-sharing surfaces defeat the scorer's
# affix-free gate. The alias graph stays below cc.connected_components'
# 200k-edge driver threshold: above it the distributed label propagation
# takes 33-53 s per call on a 4-core box, more than a whole run may last
# (see README.md)
DICT_ENTITIES = 2400
DICT_RELATIONS = 1600
DICT_EVENTS = 48
DICT_AFFIX_SHARE = 0.25
DICT_EXTRA_ALIASES = 3
GRAPH_EDGES = 40_000

WARM_PAGES = 250  # the first warm-up pass runs over this leading slice
STREAM_PAGES = 2000  # kg_batch pages replayed through the streaming pipeline
STREAM_FILES = 2
STREAM_REDELIVER_SHARE = 0.2  # of each backlog file, urls re-sent in TTL
STREAM_REDELIVER_DELAY_S = 900  # inside the 1 h TTL, above the watermark


def vocab_to_json(vocab) -> dict:
    return {
        "entity_vocab": [list(e) for e in vocab.entity_vocab],
        "relation_vocab": [list(r) for r in vocab.relation_vocab],
        "event_vocab": [[et, [list(a) for a in args]]
                        for et, args in vocab.event_vocab],
    }


def vocab_from_json(d: dict):
    from fastie_spark.scorer import Vocab

    return Vocab(
        entity_vocab=[tuple(e) for e in d["entity_vocab"]],
        relation_vocab=[tuple(r) for r in d["relation_vocab"]],
        event_vocab=[(et, [tuple(a) for a in args])
                     for et, args in d["event_vocab"]],
    )


def dict_vocab(seed: int):
    """A realistic dictionary: thousands of entities, a share of them
    paired with an affixed variant ("X" and "X集团", "Y" and "Y Group"),
    Zipf-skewed relation subjects and a few dozen event patterns."""
    from fastie_spark.fixtures import EVENT_TYPES, NER_LABELS, PREDICATES
    from fastie_spark.scorer import Vocab

    rng = np.random.default_rng((seed, 1))
    syl = ["al", "bek", "cor", "dan", "el", "fir", "gor", "han", "il", "jor",
           "kam", "lin", "mor", "nel", "or", "pek", "qir", "ros", "sul", "tam"]

    def name():
        if rng.random() < 0.5:
            return "".join(rng.choice(syl) for _ in range(int(rng.integers(2, 4)))).capitalize()
        return "".join(chr(0x4E00 + int(rng.integers(0, 2048)))
                       for _ in range(int(rng.integers(2, 5))))

    surfaces, seen = [], set()
    while len(surfaces) < DICT_ENTITIES:
        s = name()
        if s in seen:
            continue
        seen.add(s)
        surfaces.append(s)
        if rng.random() < DICT_AFFIX_SHARE and len(surfaces) < DICT_ENTITIES:
            v = s + ("集团" if not s.isascii() else " Group")
            if v not in seen:
                seen.add(v)
                surfaces.append(v)
    ents = [(s, NER_LABELS[int(rng.integers(0, len(NER_LABELS)))]) for s in surfaces]
    w = 1.0 / np.arange(1, len(surfaces) + 1) ** 1.1
    w /= w.sum()
    rels = set()
    while len(rels) < DICT_RELATIONS:
        si, oi = int(rng.choice(len(surfaces), p=w)), int(rng.integers(0, len(surfaces)))
        if si != oi:
            rels.add((surfaces[si], PREDICATES[int(rng.integers(0, len(PREDICATES)))], surfaces[oi]))
    events = []
    for _ in range(DICT_EVENTS):
        etype, roles = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
        args = [("触发词", "".join(chr(0x4E00 + int(rng.integers(2048, 4096))) for _ in range(2)))]
        args += [(r, surfaces[int(rng.integers(0, len(surfaces)))])
                 for r in roles if rng.random() < 0.8]
        events.append((etype, args))
    return Vocab(entity_vocab=ents, relation_vocab=sorted(rels), event_vocab=events)


def dict_linker(vocab, seed: int) -> list:
    """The fixture linker's aliases plus DICT_EXTRA_ALIASES synthetic
    low-prior aliases per entity."""
    from fastie_spark.fixtures import build_linker_dict

    rng = np.random.default_rng((seed, 2))
    rows = build_linker_dict(vocab)
    for idx, (surf, lbl) in enumerate(vocab.entity_vocab):
        for k in range(DICT_EXTRA_ALIASES):
            alias = f"{surf}·{int(rng.integers(0, 1 << 20)):05x}{k}"
            rows.append({"alias": alias, "canonical_id": f"Q{idx:05d}",
                         "entity_type": lbl, "prior": 0.25})
    return rows


def dict_alias_edges(n_entities: int, seed: int) -> list:
    """GRAPH_EDGES alias edges: chains of 2-8 ids, each dictionary id in one
    chain, padded with knowledge-base ids outside the dictionary."""
    rng = np.random.default_rng((seed, 3))
    edges, nxt = [], 0
    ents = [f"Q{i:05d}" for i in rng.permutation(n_entities)]
    while len(edges) < GRAPH_EDGES:
        k = int(rng.integers(2, 9))
        chain = []
        if ents:
            chain.append(ents.pop())
        while len(chain) < k:
            chain.append(f"K{nxt:07d}")
            nxt += 1
        order = rng.permutation(len(chain))
        chain = [chain[j] for j in order]
        edges.extend({"src": a, "dst": b} for a, b in zip(chain, chain[1:]))
    return edges


def _write_table(rows: list, path: str) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False)
    pq.write_table(t, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def _write_pages(rows: list, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        if rows[f * per:(f + 1) * per]:
            _write_table(rows[f * per:(f + 1) * per],
                         os.path.join(path, f"part-{f:05d}.parquet"))


def _write_backlog(rows: list, path: str, seed: int) -> None:
    """STREAM_FILES arrival files for the streaming replay; each re-delivers
    a share of the previous file's urls with a later event time inside the
    TTL, so the stateful dedup drops them."""
    per = -(-len(rows) // STREAM_FILES)
    rng = np.random.default_rng((seed, 5))
    os.makedirs(path, exist_ok=True)
    for f in range(STREAM_FILES):
        part = rows[f * per:(f + 1) * per]
        if f:
            prev = rows[(f - 1) * per:f * per]
            pick = rng.choice(len(prev), int(len(prev) * STREAM_REDELIVER_SHARE),
                              replace=False)
            part = part + [
                dict(prev[j], warc_ts=prev[j]["warc_ts"]
                     + dt.timedelta(seconds=STREAM_REDELIVER_DELAY_S))
                for j in sorted(pick)
            ]
        name = os.path.join(path, f"arrival-{f:03d}.parquet")
        _write_table(part, name)
        # the file source admits files oldest-first by modification time
        os.utime(name, (1_700_000_000 + f, 1_700_000_000 + f))


def generate(workload: str, seed: int, size: int, n_files: int, out: str) -> None:
    """Write one workload's inputs under ``out``: pages/ (parquet), its
    leading slice warm/, for kg_batch a streaming backlog/, and a
    tables.json with the vocabulary, linker rows and alias edges."""
    from fastie_spark.fixtures import (build_alias_edges, build_linker_dict,
                                       build_page_row, build_vocab)

    if workload == "kg_dict":
        vocab = dict_vocab(seed)
        linker = dict_linker(vocab, seed)
        edges = dict_alias_edges(len(vocab.entity_vocab), seed)
    else:
        vocab = build_vocab()
        linker = build_linker_dict(vocab)
        edges = build_alias_edges(vocab, seed=seed + 6)[0]
    rows = [build_page_row(vocab, i, seed) for i in range(size)]
    if workload == "kg_dict":
        # un-bucketed source: rows land in files in seeded random order
        rows = [rows[j] for j in np.random.default_rng((seed, 4)).permutation(size)]
    _write_pages(rows, os.path.join(out, "pages"), n_files)
    _write_pages(rows[:WARM_PAGES], os.path.join(out, "warm"), n_files)
    if workload == "kg_batch":
        _write_backlog(rows[:STREAM_PAGES], os.path.join(out, "backlog"), seed)
    with open(os.path.join(out, "tables.json"), "w") as fh:
        json.dump({"vocab": vocab_to_json(vocab), "linker": linker, "edges": edges}, fh)


def ensure_inputs(work: str, workload: str, seed: int, size: int, n_files: int) -> str:
    """Path of the cached inputs for (workload, seed, size), generating
    them in a child process first if absent. Returns the directory."""
    out = os.path.join(work, "inputs", f"v{GEN_VERSION}-{workload}-s{seed}-n{size}-f{n_files}")
    if os.path.exists(os.path.join(out, "tables.json")):
        return out
    tmp = out + ".tmp"
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), workload, str(seed),
         str(size), str(n_files), tmp],
        check=True, cwd=ROOT, env=dict(os.environ, PYTHONPATH=ROOT),
    )
    os.replace(tmp, out)
    return out


def load_tables(path: str) -> tuple:
    with open(os.path.join(path, "tables.json")) as fh:
        d = json.load(fh)
    return vocab_from_json(d["vocab"]), d["linker"], d["edges"]


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    import shutil

    w, s, n, f, o = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]), sys.argv[5]
    shutil.rmtree(o, ignore_errors=True)
    generate(w, s, n, f, o)
