"""Seeded input generator for the extraction benchmark.

Builds the inputs of one workload, plus the expected output of every
document, from ``corpus.py``'s construction rules, in DuckDB (the repo's
independent oracle engine, so generation needs no JVM and the expected
outputs do not come from the engine under test):

* a flat ``documents(doc_id, text, n_chars)`` driver table is drawn from
  the seed (word text and the doc_id range both change with the seed, so
  the seed changes the documents, not only their order);
* ``corpus.flat_spans_sql`` turns it into spans: the 40/30/20/10
  text/html/image/pdf mix, real magic signatures, unknown-signature
  payloads and the every-53rd 48-span documents;
* the bulk corpus gets a giant tail shaped like ``tools/bench_skew.py``'s
  inflation: one document in ``GIANT_EVERY`` has its span list repeated
  ``INFLATE`` times with shifted offsets;
* spans are nested in md5-shuffled physical order, as
  ``corpus.synthesize_documents`` does.

The expected output per document is a fingerprint of its ordered
``(kind, text, media_ref, offset)`` sequence, derived from the rules
alone: text spans keep their content, html spans reduce to the known body
between ``corpus.HTML_PREFIX`` and ``corpus.HTML_SUFFIX``, media spans
carry ``extract.ocr.oracle_ocr_text_sql`` of their intended MIME.

Documents are numbered by position in the generated range and split into
consecutive sets: ``warm`` (the untimed warm-up input), ``main`` (the
timed input) and ``ckpt`` (the checkpointed job's input, traced runs
only). Each set is written under ``docs/set=<set>/unit=<k>``: one unit
per 32-document request for the request workload, unit 0 otherwise.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus
from nolock_social_ocr_services_spark.extract.ocr import _sql_digits, oracle_ocr_text_sql

GENERATOR_VERSION = 6

# giant tail of the bulk corpus: 1 doc in GIANT_EVERY repeats its spans
# INFLATE times (0.2% of documents, about a fifth of all spans)
GIANT_EVERY = 500
INFLATE = 150

REQUEST_DOCS = 32  # documents per request file
ROW_GROUP_DOCS = 2048  # parquet row group size of the nested inputs

# fingerprint separators and NULL marker
_FIELD, _SPAN, _NULL = "\x01", "\x02", "\x03"

_WORDS = (
    "receipt invoice total merchant payment cash card check bank payee "
    "amount memo account routing date store coffee lunch fuel grocery "
    "market office supply travel hotel taxi rent utility water power phone "
    "internet insurance refund credit debit balance transfer deposit "
    "withdrawal statement number signed page appendix item quantity price "
    "tax subtotal discount order shipping delivery address street city "
    "state zip country name the a of and to in for"
).split()


@dataclass(frozen=True)
class Inputs:
    """Paths of one generated input set.

    ``warm``, ``main`` and ``ckpt`` list one nested parquet directory per
    unit (one per request for the request workload). ``expected`` holds
    ``(doc_id, set, unit, fp, n_spans)`` of the main and ckpt documents.
    """

    warm: list
    main: list
    ckpt: list
    expected: str
    main_docs: int
    main_spans: int


def _fp(arr: Column) -> Column:
    """sha256 of an ordered span array: positional, so a correct array
    must also be in offset order."""
    parts = F.transform(
        arr,
        lambda s: F.concat_ws(
            _FIELD,
            s["kind"],
            F.coalesce(s["text"], F.lit(_NULL)),
            F.coalesce(s["media_ref"], F.lit(_NULL)),
            s["offset"].cast("string"),
        ),
    )
    return F.sha2(F.array_join(parts, _SPAN), 256)


def fingerprint_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> (doc_id, fp) over the array as stored."""
    return docs.select("doc_id", _fp(F.col("spans")).alias("fp"))


def fingerprint_flat(flat: DataFrame) -> DataFrame:
    """Flat span rows -> (doc_id, fp), spans put in offset order."""
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("offset", "kind", "text", "media_ref"))),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return flat.groupBy("doc_id").agg(_fp(ordered).alias("fp"))


def python_fingerprint(spans) -> str:
    """Same fingerprint as :func:`fingerprint_docs` for collected rows."""
    parts = [
        _FIELD.join(
            (
                s["kind"],
                _NULL if s["text"] is None else s["text"],
                _NULL if s["media_ref"] is None else s["media_ref"],
                str(s["offset"]),
            )
        )
        for s in spans
    ]
    return hashlib.sha256(_SPAN.join(parts).encode("utf-8")).hexdigest()


def _driver_table(seed: int, n: int) -> tuple[pd.DataFrame, int]:
    rng = np.random.default_rng(seed)
    base = int(rng.integers(0, 40_000_000))
    lengths = rng.integers(16, 64, size=n)
    words = rng.integers(0, len(_WORDS), size=int(lengths.sum()))
    vocab = np.array(_WORDS, dtype=object)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(base, base + n, dtype="int64"),
            "text": texts,
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    return pdf, base


def build(
    work: str, kind: str, seed: int, sizes: tuple[int, int, int], threads: int
) -> tuple[Inputs, float]:
    """Generate (or reuse) the inputs of one workload.

    ``kind`` is ``"bulk"`` (the main set gets the giant tail) or
    ``"requests"`` (warm and main sets split into 32-document request
    files). ``sizes`` = (warm, main, ckpt) document counts. Returns the
    inputs and the seconds spent (``corpus.build_s``). Inputs live under
    ``<work>/inputs/<key>``, keyed by seed and sizes; other keys are
    evicted so the directory holds one input set at a time.
    """
    warm_docs, main_docs, ckpt_docs = sizes
    key = f"v{GENERATOR_VERSION}_{kind}_s{seed}_w{warm_docs}_m{main_docs}_c{ckpt_docs}"
    parent = os.path.join(work, "inputs")
    root = os.path.join(parent, key)
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(parent, ignore_errors=True)
        os.makedirs(root)
        _write(root, os.path.join(work, "tmp"), kind, seed, sizes, threads)
        with open(os.path.join(root, "_DONE"), "w") as fh:
            fh.write(key)
    build_s = time.perf_counter() - t0
    with open(os.path.join(root, "main_counts")) as fh:
        n_docs, n_spans = (int(x) for x in fh.read().split())

    def units(s: str, n: int) -> list:
        k = n // REQUEST_DOCS if kind == "requests" and s != "ckpt" else min(n, 1)
        first = warm_docs // REQUEST_DOCS if kind == "requests" and s == "main" else 0
        return [os.path.join(root, "docs", f"set={s}", f"unit={u}") for u in range(first, first + k)]

    inputs = Inputs(
        warm=units("warm", warm_docs),
        main=units("main", main_docs),
        ckpt=units("ckpt", ckpt_docs),
        expected=os.path.join(root, "expected.parquet"),
        main_docs=n_docs,
        main_spans=n_spans,
    )
    return inputs, build_s


def _write(root: str, tmp: str, kind: str, seed: int, sizes, threads: int) -> None:
    warm_docs, main_docs, ckpt_docs = sizes
    table, base = _driver_table(seed, sum(sizes))
    con = duckdb.connect(config={"threads": threads, "temp_directory": tmp})
    try:
        con.register("bench_documents", table)
        pre, suf = len(corpus.HTML_PREFIX), len(corpus.HTML_SUFFIX)
        # the oracle repeats the digit string of h = md5(media_ref) ~350
        # times; computing it once as a column is the same SQL, 5x faster
        digits = _sql_digits(corpus.DUCK, "h")
        ocr = oracle_ocr_text_sql(corpus.DUCK, mime="mime", h="h").replace(digits, "dg")
        pos = f"CAST(substr(doc_id, 5, 8) AS BIGINT) - {base}"
        unit = f"({pos}) // {REQUEST_DOCS}" if kind == "requests" else "0"
        giant = (
            f"set = 'main' AND pos % {GIANT_EVERY} = {GIANT_EVERY // 2}"
            if kind == "bulk"
            else "false"
        )
        con.execute(
            f"""
            CREATE TABLE spans AS
            WITH flat AS ({corpus.flat_spans_sql(corpus.DUCK, "bench_documents")}),
            placed AS (
              SELECT *, {pos} AS pos, {digits} AS dg,
                     CASE WHEN {pos} < {warm_docs} THEN 'warm'
                          WHEN {pos} < {warm_docs + main_docs} THEN 'main'
                          ELSE 'ckpt' END AS kind_set
              FROM (SELECT *, md5(media_ref) AS h FROM flat)
            )
            SELECT doc_id, set, unit, kind, text, media_ref, expected_text,
                   CAST("offset" + r * {corpus.MAX_SPANS} AS INTEGER) AS "offset"
            FROM (
              SELECT *, unnest(CASE WHEN {giant} THEN range(0, {INFLATE})
                                    ELSE [0] END) AS r
              FROM (
                SELECT doc_id, pos, kind_set AS set,
                       CASE WHEN kind_set = 'ckpt' THEN 0 ELSE {unit} END AS unit,
                       kind, text, media_ref, "offset",
                       CASE WHEN kind_set = 'warm' THEN NULL
                            WHEN kind = 'text' THEN text
                            WHEN kind = 'html' THEN
                              trim(substr(text, {pre + 1}, length(text) - {pre + suf}))
                            ELSE {ocr} END AS expected_text
                FROM placed
              )
            )
            """
        )
        docs = os.path.join(root, "docs")
        con.execute(
            f"""
            COPY (
              SELECT doc_id, set, unit,
                     list({{'kind': kind, 'text': text, 'media_ref': media_ref,
                            'offset': "offset"}}
                          ORDER BY md5(doc_id || '#' || CAST("offset" AS VARCHAR))) AS spans
              FROM spans GROUP BY doc_id, set, unit ORDER BY doc_id
            ) TO '{docs}' (FORMAT PARQUET, PARTITION_BY (set, unit),
                           ROW_GROUP_SIZE {ROW_GROUP_DOCS})
            """
        )
        expected = os.path.join(root, "expected.parquet")
        field, nul = f"chr({ord(_FIELD)})", f"chr({ord(_NULL)})"
        span = (
            f"concat_ws({field}, kind, coalesce(expected_text, {nul}), "
            f"coalesce(media_ref, {nul}), CAST(\"offset\" AS VARCHAR))"
        )
        con.execute(
            f"""
            COPY (
              SELECT doc_id, set, unit,
                     sha256(string_agg({span}, chr({ord(_SPAN)}) ORDER BY "offset")) AS fp,
                     count(*) AS n_spans
              FROM spans WHERE set <> 'warm' GROUP BY doc_id, set, unit
            ) TO '{expected}' (FORMAT PARQUET)
            """
        )
        n_docs, n_spans = con.execute(
            f"SELECT count(*), sum(n_spans) FROM '{expected}' WHERE set = 'main'"
        ).fetchone()
    finally:
        con.close()
    with open(os.path.join(root, "main_counts"), "w") as fh:
        fh.write(f"{n_docs} {n_spans}")
