"""Extraction pipeline: pages -> one fused Arrow stage -> mention/triple/event rows.

Spark-first design notes (the architecture rationale):

- **One Python stage per page.** html->text, chunking (P6), space masking
  (P3), tokenize (T1), score and decode (M1/M8/M14) all run inside ONE
  ``mapInArrow`` pass, one input row per page. Token ids, offset maps and
  score grids never become DataFrame columns, so nothing O(L) or O(L^2) is
  ever shuffled; the stage's output is already the small
  mention/triple/event relation, read and written as Arrow arrays with no
  pandas block on either side of the boundary.

- **Explicit url-hash repartition** before the heavy stage (input_hint):
  sizes tasks evenly when the source's own splits are skewed. The stage is
  per-document, so co-location is never needed for correctness.

- **Chunk rejoin inside the stage.** Mention offsets are shifted by the
  chunk's char base (J1). Triples keep the reference J2 semantics (plain
  set union per url, offsets dropped) as an in-memory set per document, so
  no dedup shuffle is needed. Events are decoded on the document's first
  ``max_length - 2`` chars, whatever the chunk mode: the reference event
  driver truncates instead of chunking
  (.../event_extraction/gplinker/decode_utils.py:104-136).

- ``chunk_pages`` is the same fixed-window chunking as a relational
  operator (``sequence + transform + substring + explode``, no UDF), with
  ``char_base = chunk_idx * 510`` reproducing the J1 shift in closed form.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .decoders import event_decode_from_argus, event_set2json, gplinker_decode_cells
from .scorer import DictScorer, Vocab
from .tokenizer import encode_meta as encode

MAX_LENGTH = 512  # reference default (decode_utils.py:124)
CHUNK_LEN = MAX_LENGTH - 2  # max_predict_len (decode_utils.py:132)

EXTRACT_SCHEMA = (
    "url string, kind string, label string, start long, end long, "
    "surface string, subj string, pred string, obj string, "
    "event_type string, trigger string, role string, argument string, "
    "event_key string"
)

MENTION_COLS = ["url", "label", "start", "end", "surface"]
TRIPLE_COLS = ["url", "subj", "pred", "obj"]
EVENT_COLS = ["url", "event_type", "trigger", "role", "argument", "event_key"]


def repartition_by_url(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit partitioning by xxhash64(url) (input_hint)."""
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64("url"))
    return df.repartition(F.xxhash64("url"))


def chunk_pages(pages: DataFrame, chunk_len: int = CHUNK_LEN) -> DataFrame:
    """Relational P6 chunker: (url, chunk_idx, char_base, chunk_text)."""
    chunks = F.expr(
        f"""
        transform(
          sequence(0, greatest(cast(ceil(length(text) / {chunk_len}.0) as int), 1) - 1),
          i -> struct(
            i as chunk_idx,
            substring(text, i * {chunk_len} + 1, {chunk_len}) as chunk_text,
            cast(i * {chunk_len} as long) as char_base))
        """
    )
    return pages.select(
        "url", F.explode(chunks).alias("c")
    ).select("url", "c.chunk_idx", "c.char_base", "c.chunk_text")


def _event_key(url: str, etype: str, trigger: str, args: list) -> str:
    # separators are C0 controls >0 so the exact same concatenation is
    # reproducible in DuckDB (chr(0) is not representable in its VARCHAR)
    canon = etype + "\x1d" + (trigger or "") + "\x1d" + "\x1f".join(
        f"{r}\x1e{a}" for r, a in sorted(args)
    )
    return hashlib.md5((url + "\x1d" + canon).encode("utf-8")).hexdigest()


def make_fused_doc_arrow_fn(vocab: Vocab, max_length: int = MAX_LENGTH,
                            do_events: bool = True, from_html: bool = True,
                            split_sentence: bool = False, vocab_bc=None,
                            init_acc=None):
    """The fused stage as a ``mapInArrow`` function. Each input record
    batch carries ``url`` plus ``html`` (``text`` when ``from_html=False``);
    each page runs html->text, chunking (P6, or P5 sentence splitting with
    ``split_sentence``), space masking (P3), tokenize (T1), score, decode
    (M1/M8/M14) and chunk rejoin (J1/J2), and each input batch yields one
    EXTRACT_SCHEMA record batch. A null source, or html that does not
    decode, yields no rows: real crawls carry garbage bytes, and one poison
    page must not kill the task.

    Model init is per-PYTHON-WORKER, not per task: the scorer + label maps
    are built lazily through executor_init.get_or_build keyed by the vocab
    fingerprint, so with worker reuse the Nth task on a worker pays zero
    init cost — the seam where a real tokenizer/checkpoint load slots in
    (SURVEY §3.2). Pass ``vocab_bc`` (a Broadcast of the Vocab) to ship the
    artifacts once per executor instead of once per task closure, and
    ``init_acc`` (an accumulator) to observe actual build counts."""
    import pyarrow as pa

    from .chunking import auto_splitter, char_bases, split_one
    from .executor_init import get_or_build
    from .text_extract import extract_text_py

    cache_key = (
        f"dict_scorer|{(vocab_bc.value if vocab_bc else vocab).fingerprint()}"
        f"|{max_length}"
    )
    ship_vocab = None if vocab_bc is not None else vocab
    src_col = "html" if from_html else "text"
    fields = [f.split() for f in EXTRACT_SCHEMA.split(", ")]
    names = [n for n, _ in fields]
    types = [pa.int64() if t == "long" else pa.string() for _, t in fields]

    def build():
        v = vocab_bc.value if vocab_bc is not None else ship_vocab
        return (
            DictScorer(v, max_length),
            dict(enumerate(v.ner_labels())),
            dict(enumerate(v.predicates())),
        )

    def fn(batches) -> Iterator["pa.RecordBatch"]:
        scorer, ner_id2label, re_id2pred = get_or_build(
            cache_key, build, init_acc)
        # affix-free vocabularies take the fused scorer fast paths
        # (mentions_fast always valid; triples_fast needs the gate — see
        # scorer.py proof sketches); other vocabs keep the generic
        # grid-build + decode, output-identical by the parity tests
        fast_re = scorer._affix_free
        for batch in batches:
            rows = []
            for url, src in zip(batch.column("url").to_pylist(),
                                batch.column(src_col).to_pylist()):
                if src is None:
                    continue
                if from_html:
                    try:
                        text = extract_text_py(src)
                    except (UnicodeDecodeError, ValueError, TypeError,
                            AttributeError):
                        continue
                else:
                    text = src
                if split_sentence:
                    chunks, _ = auto_splitter([text], max_length - 2, True)
                else:
                    chunks = split_one(text, max_length - 2)
                if do_events:
                    # Only the first max_length-2 chars are decodable (the
                    # scorer truncation-filters spans to that prefix and
                    # seq_len caps there), so mask and scan ONLY the prefix:
                    # identical cells at a fraction of the matcher work on
                    # long docs. Running the event pass FIRST also makes its
                    # masked text equal chunk 0's (fixed-window mode), so
                    # the chunk loop's first occurrence scan is served from
                    # the scorer memo instead of re-scanning.
                    masked = text[: max_length - 2].replace(" ", "-")
                    mapping = encode(masked, max_length)["offset_mapping"]
                    # argus come out of the scorer already decoded
                    # (event_views), skipping the per-cell label split +
                    # dead bound checks of the generic decode
                    argus, eh, et = scorer.event_views(masked)
                    for ev in event_set2json(
                        event_decode_from_argus(argus, eh, et, text, mapping)
                    ):
                        etype, trigger = ev["event_type"], ev.get("trigger")
                        args = [(a["role"], a["argument"])
                                for a in ev["arguments"]]
                        key = _event_key(url, etype, trigger, args)
                        # a trigger-only event still exists: one null-role row
                        for role, arg in args or [(None, None)]:
                            rows.append(
                                (url, "event", None, None, None, None, None,
                                 None, None, etype, trigger, role, arg, key)
                            )
                doc_triples: set = set()
                for chunk, base in zip(chunks, char_bases(chunks)):
                    masked = chunk.replace(" ", "-")
                    enc = encode(masked, max_length)
                    mapping = enc["offset_mapping"]
                    for lbl, s, e, surf in scorer.mentions_fast(
                        masked, chunk, mapping, ner_id2label
                    ):
                        rows.append(
                            (url, "mention", lbl, s + base, e + base, surf,
                             None, None, None, None, None, None, None, None)
                        )
                    if fast_re:
                        doc_triples |= scorer.triples_fast(
                            masked, chunk, mapping, re_id2pred
                        )
                    else:
                        ent, head, tail = scorer.re_cells(masked)
                        doc_triples |= gplinker_decode_cells(
                            ent, head, tail, enc["seq_len"], chunk, mapping,
                            re_id2pred,
                        )
                for pred, subj, obj in doc_triples:  # J2 union done in-doc
                    rows.append(
                        (url, "triple", None, None, None, None,
                         subj, pred, obj, None, None, None, None, None)
                    )
            cols = list(zip(*rows)) if rows else [[] for _ in names]
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, type=t) for v, t in zip(cols, types)], names=names,
            )

    return fn


def run_extraction_fused(
    spark: SparkSession,
    pages: DataFrame,
    vocab: Vocab,
    num_partitions: int | None = None,
    do_events: bool = True,
    from_html: bool = True,
    persist: bool = True,
    repartition: bool = True,
    split_sentence: bool = False,
    max_length: int = MAX_LENGTH,
    broadcast_vocab: bool = False,
    init_acc=None,
) -> dict:
    """pages -> {'mentions', 'triples', 'events', '_raw'} DataFrames through
    the one fused ``mapInArrow`` stage (make_fused_doc_arrow_fn). pages
    needs (url, html) when from_html else (url, text). The three outputs
    are filters over ``_raw``, the stage's output (persisted when
    ``persist``). Triples come out already per-doc-deduped (J2), so there is
    no dedup shuffle; with unique urls they are the set of distinct
    (url, subj, pred, obj). split_sentence enables the P5 sentence-level
    auto_splitter chunking (reference flag, default off).

    repartition=False skips the explicit url-hash shuffle: the fused stage
    is per-document, so co-location is not needed for correctness — only
    for task sizing when the source's own splits are skewed. With a
    well-bucketed source (e.g. an Iceberg table already bucketed by url)
    the shuffle of the raw html bytes is pure cost.

    broadcast_vocab=True ships the vocab as a Spark broadcast (once per
    executor) instead of in the task closure — the real-checkpoint shape,
    where artifacts are MBs-GBs. init_acc: accumulator observing per-worker
    scorer builds (executor_init)."""
    cols = ["url", "html" if from_html else "text"]
    parts = num_partitions or spark.sparkContext.defaultParallelism
    src = pages.select(*cols)
    if repartition:
        src = repartition_by_url(src, parts)
    vocab_bc = (
        spark.sparkContext.broadcast(vocab) if broadcast_vocab else None
    )
    raw = src.mapInArrow(
        make_fused_doc_arrow_fn(
            vocab, max_length=max_length, do_events=do_events,
            from_html=from_html, split_sentence=split_sentence,
            vocab_bc=vocab_bc, init_acc=init_acc,
        ),
        schema=EXTRACT_SCHEMA,
    )
    if persist:
        raw = raw.persist()
    mentions = raw.filter(F.col("kind") == "mention").select(*MENTION_COLS)
    triples = raw.filter(F.col("kind") == "triple").select(*TRIPLE_COLS)
    events = raw.filter(F.col("kind") == "event").select(*EVENT_COLS)
    return {"mentions": mentions, "triples": triples, "events": events, "_raw": raw}
