"""Secondary query surface for the driver contract: training-data ops
(text analysis, dedup, similarity) and the relational built-in coverage
(joins, windows, set ops, JSON scalar functions) over the driver tables.

Each entry returns (callable, duckdb_sql | None); __spark_entry__ merges
them into queries()/oracle_sql(). Numeric outputs are decimals/ints (or
rounded) so the value-hash comparison is representation-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import corpus_ops as co
from .functions import dedup as dd
from .functions import sampling
from .functions import similarity as sim
from .functions import text as tx

from . import corpus as _corpus_mod

_ORACLE_FLAT = f"({_corpus_mod.oracle_flat_spans_sql()})"

MINHASH_K = 8  # shingle width
MINHASH_N = 16  # hash family size
MINHASH_BANDS = 4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# -- text analysis -------------------------------------------------------------


def q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.round(F.coalesce(tx.punct_ratio(F.col("text")), F.lit(0.0)), 6).alias(
            "punct_ratio_r"
        ),
    )


SQL_TEXT_STATS = r"""
SELECT doc_id,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
       CASE WHEN text IS NULL THEN 0
            ELSE len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) END AS n_bpe_tokens,
       round(CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
                  / length(text) END, 6) AS punct_ratio_r
FROM documents
"""


def q_lang_id(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", tx.predict_lang(F.col("text")).alias("pred_lang"))


def _sql_lang_hits(lang: str) -> str:
    words = "|".join(tx.LANG_MARKERS[lang])
    return rf"len(regexp_extract_all(lower(text), '\b({words})\b'))"


SQL_LANG_ID = f"""
WITH hits AS (
  SELECT doc_id,
         {_sql_lang_hits('en')} AS h_en,
         {_sql_lang_hits('es')} AS h_es,
         {_sql_lang_hits('de')} AS h_de,
         {_sql_lang_hits('fr')} AS h_fr
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN h_fr > greatest(h_en, h_es, h_de) THEN 'fr'
    WHEN h_de > greatest(h_en, h_es) THEN 'de'
    WHEN h_es > h_en THEN 'es'
    WHEN h_en > 0 THEN 'en'
    ELSE 'und' END AS pred_lang
FROM hits
"""


def q_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", tx.shingle_fingerprint(F.col("text"), k=8).alias("fp")
    )


SQL_FINGERPRINT = """
SELECT doc_id,
  CASE WHEN text IS NULL OR length(text) = 0 THEN NULL
       ELSE list_min(list_transform(
              generate_series(1, greatest(length(text) - 7, 1)),
              i -> md5(substr(text, CAST(i AS INT), 8)))) END AS fp
FROM documents
"""


def q_repetition(spark, sf_dir):
    """Within-doc repetition (dup-word ratio) - Gopher-style quality
    rule; rounded for cross-engine float stability."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.round(tx.dup_word_ratio(F.col("text")), 6).alias("dup_ratio")
    )


SQL_REPETITION = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents
)
SELECT doc_id,
       CASE WHEN ws IS NULL OR len(ws) = 0 THEN NULL
            ELSE round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
       END AS dup_ratio
FROM words
"""


def q_pii_redact(spark, sf_dir):
    """PII scrub: email/phone counts + md5 of the redacted text (same
    regexes re-run by the oracle - both patterns portable across Java
    regex and DuckDB's RE2)."""
    d = _docs(spark, sf_dir)
    c = tx.pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_phones"].alias("n_phones"),
        F.md5(tx.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


SQL_PII_REDACT = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '{tx.EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(
             regexp_replace(text, '{tx.EMAIL_RE}', '<EMAIL>', 'g'),
             '{tx.PHONE_RE}')) AS n_phones,
       md5(regexp_replace(
             regexp_replace(text, '{tx.EMAIL_RE}', '<EMAIL>', 'g'),
             '{tx.PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM documents
"""


# -- dedup ---------------------------------------------------------------------


def q_exact_dedup(spark, sf_dir):
    return dd.exact_dedup(_docs(spark, sf_dir)).select(
        "doc_id", "canonical_id", "is_canonical"
    )


SQL_EXACT_DEDUP = """
WITH hashed AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
canon AS (SELECT text_hash, min(doc_id) AS canonical_id FROM hashed
          WHERE text_hash IS NOT NULL GROUP BY text_hash)
SELECT h.doc_id, coalesce(c.canonical_id, h.doc_id) AS canonical_id,
       h.doc_id = coalesce(c.canonical_id, h.doc_id) AS is_canonical
FROM hashed h LEFT JOIN canon c USING (text_hash)
"""


def q_minhash_signature(spark, sf_dir):
    d = _docs(spark, sf_dir)
    sig = dd.minhash_signature(
        dd.shingles(F.col("text"), k=MINHASH_K), num_hashes=MINHASH_N
    )
    return d.select("doc_id", F.array_join(sig, "|").alias("sig"))


def _sql_minhash_parts() -> str:
    parts = [
        (
            "list_min(list_transform(sh, s -> md5(concat('" + f"{j}:" + "', s))))"
        )
        for j in range(MINHASH_N)
    ]
    return ", ".join(parts)


SQL_MINHASH_SIGNATURE = f"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR length(text) < {MINHASH_K}
         THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, length(text) - {MINHASH_K - 1}),
                             i -> substr(text, CAST(i AS INT), {MINHASH_K})) END AS sh
  FROM documents
)
SELECT doc_id,
  CASE WHEN len(sh) = 0 THEN NULL
       ELSE concat_ws('|', {_sql_minhash_parts()}) END AS sig
FROM sh
"""


def q_lsh_candidates(spark, sf_dir):
    return dd.minhash_lsh_candidates(
        _docs(spark, sf_dir),
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        k=MINHASH_K,
    )


def _sql_band_exprs() -> str:
    r = MINHASH_N // MINHASH_BANDS
    mins = [
        f"list_min(list_transform(sh, s -> md5(concat('{j}:', s))))"
        for j in range(MINHASH_N)
    ]
    bands = []
    for b in range(MINHASH_BANDS):
        cols = ", ".join(mins[b * r + i] for i in range(r))
        bands.append(f"md5(concat_ws('|', {cols})) AS band_{b}")
    return ", ".join(bands)


SQL_LSH_CANDIDATES = f"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR length(text) < {MINHASH_K}
         THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, length(text) - {MINHASH_K - 1}),
                             i -> substr(text, CAST(i AS INT), {MINHASH_K})) END AS sh
  FROM documents
),
sig AS (
  SELECT doc_id, {_sql_band_exprs()} FROM sh WHERE len(sh) > 0
),
banded AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band_idx, band_{b} AS band_hash FROM sig" for b in range(MINHASH_BANDS))}
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM banded l JOIN banded r
  ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
"""


#: the deterministic "reference corpus" for the learned quality
#: classifier: first 5 synthetic sources play WebText, the rest play
#: the raw crawl (GPT-3 Appendix A setup at test scale)
NB_REF_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def q_nb_quality(spark, sf_dir):
    """Learned quality classifier + GPT-3 Pareto keep rule: train
    Naive Bayes on reference-sources-vs-rest, score every doc, then
    keep iff the derandomized pareto(9) draw exceeds 1 - p_hq."""
    from nolock_social_ocr_services_spark.functions import corpus_ops

    d = _docs(spark, sf_dir)
    scored = corpus_ops.nb_quality(d, F.col("source").isin(*NB_REF_SOURCES))
    return corpus_ops.pareto_keep(scored, alpha=9.0)


def _sql_nb_quality() -> str:
    refs = ", ".join(f"'{s}'" for s in NB_REF_SOURCES)
    u = (
        "(('0x' || substr(md5('pareto:' || CAST(doc_id AS VARCHAR)), 1, 15))"
        "::UBIGINT / 1152921504606846976.0)"
    )
    return rf"""
WITH ws AS (
  SELECT doc_id,
         CASE WHEN source IN ({refs}) THEN 1 ELSE 0 END AS is_r,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
prior AS (SELECT sum(is_r) AS n_ref, sum(1 - is_r) AS n_rest FROM ws),
stream AS (SELECT doc_id, is_r, unnest(ws) AS token
           FROM ws WHERE len(ws) >= 1),
counts AS (SELECT token, sum(is_r) AS cp, sum(1 - is_r) AS cn
           FROM stream GROUP BY 1),
tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM counts),
model AS (
  SELECT token,
         round(ln(((cp + 1.0) * (tn + v)) / ((cn + 1.0) * (tp + v))), 9)
           AS logr
  FROM counts CROSS JOIN tot
),
scored AS (
  SELECT s.doc_id, min(s.is_r) AS is_r, count(*) AS n_tokens,
         sum(m.logr) AS sm
  FROM stream s JOIN model m USING (token) GROUP BY 1
),
logits AS (
  SELECT doc_id, CAST(is_r AS INT) AS is_ref,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         round(sm + round(ln(n_ref * 1.0 / n_rest), 9), 6) AS nb_logit
  FROM scored CROSS JOIN prior
)
SELECT doc_id, is_ref, n_tokens, nb_logit,
       round(1.0 / (1.0 + exp(-nb_logit)), 6) AS p_hq,
       round(pow(1.0 - {u}, -1.0 / 9.0) - 1.0, 6)
         > round(1.0 - round(1.0 / (1.0 + exp(-nb_logit)), 6), 6) AS keep
FROM logits
"""


def q_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup: docs with doc_id % 5 == 0 arrive as
    the NEW batch and are deduplicated against the persisted index of
    the other 80% — the historical corpus text is never rescanned,
    only its (text_hash, minhash sig) index is joined. Verdict per new
    doc: exact_dup (md5 hit in the index), near_dup (>= N/2 of the
    MINHASH_N signature components agree with the best indexed
    candidate), or unique."""
    d = _docs(spark, sf_dir)
    return dd.incremental_dedup(
        d.filter(F.col("doc_id") % 5 == 0),
        dd.dedup_index(
            d.filter(F.col("doc_id") % 5 != 0),
            num_hashes=MINHASH_N,
            k=MINHASH_K,
        ),
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        k=MINHASH_K,
        min_agree=MINHASH_N // 2,
    )


def _sql_incremental_dedup() -> str:
    r = MINHASH_N // MINHASH_BANDS
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{j}:', s))))"
        for j in range(MINHASH_N)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', "
        + ", ".join(f"sig[{b * r + i + 1}]" for i in range(r))
        + ")) AS band_hash FROM {src} WHERE sig IS NOT NULL"
        for b in range(MINHASH_BANDS)
    )
    idx_list = ", ".join(str(i + 1) for i in range(MINHASH_N))
    return f"""
WITH sh AS (
  SELECT doc_id, md5(text) AS text_hash,
    CASE WHEN text IS NULL OR length(text) < {MINHASH_K}
         THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, length(text) - {MINHASH_K - 1}),
                             i -> substr(text, CAST(i AS INT), {MINHASH_K})) END AS sh
  FROM documents
),
sig AS (
  SELECT doc_id, text_hash,
    CASE WHEN len(sh) = 0 THEN NULL ELSE [{mins}] END AS sig
  FROM sh
),
newdocs AS (SELECT * FROM sig WHERE doc_id % 5 = 0),
olddocs AS (SELECT * FROM sig WHERE doc_id % 5 <> 0),
exact AS (
  SELECT n.doc_id, min(o.doc_id) AS exact_dup_of
  FROM newdocs n JOIN olddocs o ON n.text_hash = o.text_hash
  GROUP BY n.doc_id
),
nb AS ({band_rows.format(src='newdocs')}),
ob AS ({band_rows.format(src='olddocs')}),
cand AS (
  SELECT DISTINCT nb.doc_id, ob.doc_id AS old_id
  FROM nb JOIN ob ON nb.band_idx = ob.band_idx AND nb.band_hash = ob.band_hash
),
agree AS (
  SELECT c.doc_id, c.old_id,
    len(list_filter([{idx_list}], i -> n.sig[i] = o.sig[i])) AS matches
  FROM cand c
  JOIN newdocs n ON n.doc_id = c.doc_id
  JOIN olddocs o ON o.doc_id = c.old_id
),
best AS (
  SELECT doc_id, old_id AS match_id, matches AS sig_agree
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY matches DESC, old_id) AS rn
        FROM agree)
  WHERE rn = 1
)
SELECT n.doc_id, e.exact_dup_of, b.match_id, b.sig_agree,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
            WHEN b.sig_agree >= {MINHASH_N // 2} THEN 'near_dup'
            ELSE 'unique' END AS verdict
FROM newdocs n
LEFT JOIN exact e USING (doc_id)
LEFT JOIN best b USING (doc_id)
"""


def q_winnow_fp(spark, sf_dir):
    """Winnowing (MOSS) fingerprints, exploded to (doc_id, fp) join
    rows — k=8 grams, w=4 windows."""
    out = tx.winnow_fingerprints(_docs(spark, sf_dir), k=8, w=4)
    return out.select("doc_id", F.explode("fps").alias("fp"))


SQL_WINNOW_FP = r"""
WITH g AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR length(text) < 8 THEN CAST([] AS BIGINT[])
         ELSE list_transform(generate_series(1, length(text) - 7),
                i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)),
                                          1, 15))::UBIGINT AS BIGINT)) END AS h
  FROM documents
),
fps AS (
  SELECT doc_id,
    CASE WHEN len(h) < 4 THEN CAST([] AS BIGINT[])
         ELSE list_distinct(list_transform(
                generate_series(1, len(h) - 3),
                i -> list_min(h[CAST(i AS INT):CAST(i + 3 AS INT)]))) END AS fps
  FROM g
)
SELECT doc_id, unnest(fps) AS fp FROM fps
"""


# -- product quantization (Jégou et al. 2011) ----------------------------------
#
# The compressed-index leg of the ANN ladder (exact cosine_top3 -> IVF
# coarse pruning -> PQ code compression + ADC scoring). The oracle
# unrolls the SAME deterministic-Lloyd protocol as kmeans_clusters,
# once per Lloyd round but with `sub` as an extra key — all m
# subspaces train inside one CTE chain, mirroring how the Spark side
# trains all subspaces in one scan per round.

_PQ_M = 4
_PQ_KS = 4
_PQ_ITERS = 2
_PQ_DIM = 64
_PQ_D = _PQ_DIM // _PQ_M
_PQ_NQ = 5


def q_pq_codes(spark, sf_dir):
    """Train m=4/ks=4 codebooks (2 Lloyd rounds), compress every
    embedding to its per-subspace codes — integer-exact output, the
    iterative trainer hash-checked through the encode projection."""
    from nolock_social_ocr_services_spark.functions import pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq.pq_fit(emb, m=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS)
    enc = pq.pq_encode(emb, cbs)
    return enc.select(
        "vec_id",
        *[
            F.element_at("codes", s + 1).alias(f"code_{s}")
            for s in range(_PQ_M)
        ],
    )


def q_pq_adc_top3(spark, sf_dir):
    """ADC top-3 neighbors of the first 5 vectors: queries stay
    un-quantized, the corpus is searched through its codes alone
    (m table lookups + adds per row). Rank-only output, like
    ivf_top3: engine summation order flips low decimals of the
    distances; ranks are order-stable."""
    from nolock_social_ocr_services_spark.functions import pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq.pq_adc_topk(
        emb, k=3, m=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS, nq=_PQ_NQ
    )


def _pq_iter_sql(n: int, prev: str, vs: str = "vs", pfx: str = "") -> str:
    """One unrolled Lloyd round over ALL subspaces (keyed by sub):
    assign under `prev`, per-(sub,cid,dim) mean update rounded to 6dp,
    emptied clusters keep their previous centroid (COALESCE). ``vs`` is
    the subvector CTE name and ``pfx`` prefixes the round CTEs, so the
    same fragment unrolls over raw vectors (pq_codes) or IVF residuals
    (ivfpq_top3) in one statement."""
    return f"""
{pfx}a{n} AS (
  SELECT {vs}.vec_id, {vs}.sub, p.cid,
         row_number() OVER (PARTITION BY {vs}.vec_id, {vs}.sub
                            ORDER BY list_distance({vs}.sv, p.c), p.cid) AS rn
  FROM {vs} JOIN {prev} p ON {vs}.sub = p.sub
),
{pfx}s{n} AS (SELECT vec_id, sub, cid FROM {pfx}a{n} WHERE rn = 1),
{pfx}m{n} AS (
  SELECT sub, cid, list(mm ORDER BY i) AS c FROM (
    SELECT {pfx}s{n}.sub AS sub, {pfx}s{n}.cid AS cid, t.i AS i,
           round(avg({vs}.sv[t.i + 1]), 6) AS mm
    FROM {pfx}s{n} JOIN {vs} ON {pfx}s{n}.vec_id = {vs}.vec_id
                            AND {pfx}s{n}.sub = {vs}.sub
    CROSS JOIN range({_PQ_D}) t(i)
    GROUP BY {pfx}s{n}.sub, {pfx}s{n}.cid, t.i
  ) GROUP BY sub, cid
),
{pfx}c{n} AS (SELECT p.sub, p.cid, COALESCE({pfx}m{n}.c, p.c) AS c
         FROM {prev} p LEFT JOIN {pfx}m{n} ON p.sub = {pfx}m{n}.sub
                                          AND p.cid = {pfx}m{n}.cid)"""


def _pq_train_sql() -> str:
    """Shared CTE prefix: subvectors, unrolled training, final codes."""
    iters = ",".join(_pq_iter_sql(n + 1, f"c{n}") for n in range(_PQ_ITERS))
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE len(embedding) = {_PQ_DIM}),
vs AS (SELECT vec_id, t.s AS sub,
              v[t.s * {_PQ_D} + 1 : t.s * {_PQ_D} + {_PQ_D}] AS sv
       FROM v CROSS JOIN range({_PQ_M}) t(s)),
c0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, sv AS c
       FROM vs WHERE vec_id < {_PQ_KS}),
{iters},
af AS (
  SELECT vs.vec_id, vs.sub, p.cid,
         row_number() OVER (PARTITION BY vs.vec_id, vs.sub
                            ORDER BY list_distance(vs.sv, p.c), p.cid) AS rn
  FROM vs JOIN c{_PQ_ITERS} p ON vs.sub = p.sub
),
codes AS (SELECT vec_id, sub, cid FROM af WHERE rn = 1)"""


def _sql_pq_codes() -> str:
    cols = ",\n       ".join(
        f"CAST(MAX(CASE WHEN sub = {s} THEN cid END) AS INT) AS code_{s}"
        for s in range(_PQ_M)
    )
    return f"""{_pq_train_sql()}
SELECT vec_id,
       {cols}
FROM codes GROUP BY vec_id
"""


def _sql_pq_adc_top3() -> str:
    return f"""{_pq_train_sql()},
q AS (SELECT vec_id AS query_id, v AS qv FROM v ORDER BY vec_id LIMIT {_PQ_NQ}),
term AS (
  SELECT q.query_id, codes.vec_id AS neighbor_id,
         list_sum(list_transform(range({_PQ_D}),
           j -> (q.qv[codes.sub * {_PQ_D} + j + 1] - cf.c[j + 1])
                * (q.qv[codes.sub * {_PQ_D} + j + 1] - cf.c[j + 1]))) AS t
  FROM q CROSS JOIN codes
  JOIN c{_PQ_ITERS} cf ON codes.sub = cf.sub AND codes.cid = cf.cid
  WHERE codes.vec_id <> q.query_id
),
d AS (SELECT query_id, neighbor_id, SUM(t) AS dd
      FROM term GROUP BY query_id, neighbor_id),
r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dd, neighbor_id) AS rank
      FROM d)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
"""


_IVFPQ_NLIST = 4
_IVFPQ_NPROBE = 2


def q_ivfpq_top3(spark, sf_dir):
    """IVF-PQ residual-encoded ANN (Faiss IndexIVFPQ shape): coarse
    k-means quantizer -> inverted lists -> PQ codebook on residuals ->
    per-list ADC scoring of each query's nprobe probed lists. Both
    trainers run one Lloyd round; rank-only output like ivf_top3."""
    from nolock_social_ocr_services_spark.functions import pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq.ivfpq_topk(
        emb,
        k=3,
        nlist=_IVFPQ_NLIST,
        nprobe=_IVFPQ_NPROBE,
        coarse_iters=1,
        m=_PQ_M,
        ks=_PQ_KS,
        iters=1,
        nq=_PQ_NQ,
    )


def _sql_ivfpq_top3() -> str:
    """Coarse-Lloyd chain (kmeans_clusters protocol) -> residuals ->
    PQ chain over residuals (the r-prefixed reuse of _pq_iter_sql) ->
    per-list query residual tables -> ADC rank."""
    pq_round = _pq_iter_sql(1, "rc0", vs="rvs", pfx="r")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE len(embedding) = {_PQ_DIM}),
k0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c
       FROM v WHERE vec_id < {_IVFPQ_NLIST}),
ka1 AS (
  SELECT v.vec_id, p.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_distance(v.v, p.c), p.cid) AS rn
  FROM v CROSS JOIN k0 p
),
ks1 AS (SELECT vec_id, cid FROM ka1 WHERE rn = 1),
km1 AS (
  SELECT cid, list(mm ORDER BY i) AS c FROM (
    SELECT ks1.cid AS cid, t.i AS i, round(avg(v.v[t.i + 1]), 6) AS mm
    FROM ks1 JOIN v USING (vec_id) CROSS JOIN range({_PQ_DIM}) t(i)
    GROUP BY ks1.cid, t.i
  ) GROUP BY cid
),
kc1 AS (SELECT p.cid, COALESCE(km1.c, p.c) AS c
        FROM k0 p LEFT JOIN km1 ON p.cid = km1.cid),
la AS (
  SELECT v.vec_id, p.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_distance(v.v, p.c), p.cid) AS rn
  FROM v CROSS JOIN kc1 p
),
lists AS (SELECT vec_id, cid AS lcid FROM la WHERE rn = 1),
res AS (
  SELECT l.vec_id, l.lcid,
         list_transform(range({_PQ_DIM}), j -> v.v[j + 1] - kc.c[j + 1]) AS v
  FROM lists l JOIN v USING (vec_id) JOIN kc1 kc ON l.lcid = kc.cid
),
rvs AS (SELECT vec_id, t.s AS sub,
               v[t.s * {_PQ_D} + 1 : t.s * {_PQ_D} + {_PQ_D}] AS sv
        FROM res CROSS JOIN range({_PQ_M}) t(s)),
rc0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, sv AS c
        FROM rvs WHERE vec_id < {_PQ_KS}),
{pq_round},
raf AS (
  SELECT rvs.vec_id, rvs.sub, p.cid,
         row_number() OVER (PARTITION BY rvs.vec_id, rvs.sub
                            ORDER BY list_distance(rvs.sv, p.c), p.cid) AS rn
  FROM rvs JOIN rc1 p ON rvs.sub = p.sub
),
rcodes AS (SELECT vec_id, sub, cid FROM raf WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM v ORDER BY vec_id LIMIT {_PQ_NQ}),
qp AS (
  SELECT q.query_id, q.qv, p.cid AS lcid, p.c AS lc,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_distance(q.qv, p.c), p.cid) AS rn
  FROM q CROSS JOIN kc1 p
),
probe AS (SELECT query_id, lcid,
                 list_transform(range({_PQ_DIM}),
                                j -> qv[j + 1] - lc[j + 1]) AS qres
          FROM qp WHERE rn <= {_IVFPQ_NPROBE}),
term AS (
  SELECT probe.query_id, rcodes.vec_id AS neighbor_id,
         list_sum(list_transform(range({_PQ_D}),
           j -> (probe.qres[rcodes.sub * {_PQ_D} + j + 1] - cf.c[j + 1])
              * (probe.qres[rcodes.sub * {_PQ_D} + j + 1] - cf.c[j + 1]))) AS t
  FROM probe
  JOIN lists ON lists.lcid = probe.lcid
  JOIN rcodes ON rcodes.vec_id = lists.vec_id
  JOIN rc1 cf ON rcodes.sub = cf.sub AND rcodes.cid = cf.cid
  WHERE lists.vec_id <> probe.query_id
),
dd AS (SELECT query_id, neighbor_id, SUM(t) AS s
       FROM term GROUP BY query_id, neighbor_id),
rr AS (SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY s, neighbor_id) AS rank
       FROM dd)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM rr WHERE rank <= 3
"""


def q_contrastive_triplets(spark, sf_dir):
    """Contrastive training triplets: verified near-dup positives +
    hash-derandomized bucket-drawn hard negatives."""
    return dd.contrastive_triplets(
        _docs(spark, sf_dir),
        num_hashes=MINHASH_N,
        bands=MINHASH_BANDS,
        k=MINHASH_K,
        min_jaccard=0.5,
        neg_buckets=32,
    )


def _sql_contrastive_triplets() -> str:
    return f"""
WITH cand AS ({{lsh}}),
shd AS ({{shd}}),
jp AS (
  SELECT c.id_a, c.id_b,
         CASE WHEN len(list_distinct(list_concat(a.shd, b.shd))) = 0 THEN 0.0
              ELSE len(list_intersect(a.shd, b.shd)) * 1.0
                   / len(list_distinct(list_concat(a.shd, b.shd))) END AS jaccard
  FROM cand c
  JOIN shd a ON a.doc_id = c.id_a
  JOIN shd b ON b.doc_id = c.id_b
),
posf AS (SELECT * FROM jp WHERE jaccard >= 0.5),
bothdir AS (
  SELECT id_a AS anchor_id, id_b AS positive_id, jaccard FROM posf
  UNION ALL
  SELECT id_b AS anchor_id, id_a AS positive_id, jaccard FROM posf
),
best AS (
  SELECT anchor_id, positive_id FROM
    (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY jaccard DESC, positive_id) AS rn
     FROM bothdir)
  WHERE rn = 1
),
hashes AS (
  SELECT doc_id, md5(text) AS h,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
              % 32 AS BIGINT) AS nb
  FROM documents
),
anch AS (
  SELECT b.anchor_id, b.positive_id, h.h AS a_hash,
         CAST((h.nb + 1) % 32 AS BIGINT) AS nb
  FROM best b JOIN hashes h ON h.doc_id = b.anchor_id
),
negc AS (
  SELECT a.anchor_id, a.positive_id, c.doc_id AS cand_id,
         ('0x' || substr(md5('neg:' || CAST(a.anchor_id AS VARCHAR) || ':'
                             || CAST(c.doc_id AS VARCHAR)), 1, 15))::UBIGINT
           AS hsel
  FROM anch a JOIN hashes c ON c.nb = a.nb
  WHERE c.doc_id <> a.positive_id AND c.doc_id <> a.anchor_id
    AND c.h <> a.a_hash
),
best_neg AS (
  SELECT anchor_id, positive_id, cand_id AS negative_id FROM
    (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY hsel, cand_id) AS rn
     FROM negc)
  WHERE rn = 1
)
SELECT b.anchor_id, b.positive_id, n.negative_id
FROM best b LEFT JOIN best_neg n USING (anchor_id, positive_id)
""".format(lsh=SQL_LSH_CANDIDATES, shd=_SQL_SH_DISTINCT)


# -- similarity ----------------------------------------------------------------


def q_cosine_top3(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.cosine_topk(emb, k=3)
    return out.select("query_id", "neighbor_id", "rank")


SQL_COSINE_TOP3 = """
WITH nz AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_dot_product(embedding, embedding) > 0
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.embedding, b.embedding) AS sim
  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


def q_bitext_mine_exact(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    CCMatrix rule): even vec_ids play the source language, odd the
    target; a pair is mined when cos / (mean-kNN-density) clears the
    margin threshold, so hub vectors face a higher bar. This is the
    brute all-pairs correctness baseline — the CHECKED head query is
    q_bitext_mine (SRP-banded candidates, same margin arithmetic);
    recall between the two is pinned in test_functions_similarity."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return sim.margin_mine(src, tgt, knn=4, threshold=1.05)


# bitext dials: bits=8/bands=4 keeps candidate sets dense enough that
# candidate-kNN deg tracks exact-kNN deg on RANDOM embeddings (the
# worst case for margin mining — no true translations exist, so every
# margin rides the noise floor); at 100 TB bits grows with the corpus
# so each band bucket stays task-sized, exactly the near_dup_srp dial.
_BTX_BITS = 8
_BTX_BANDS = 4
_BTX_SEED = 42
_BTX_KNN = 4
_BTX_THRESHOLD = 1.05


def q_bitext_mine(spark, sf_dir):
    """Margin-based bitext mining over SRP-banded candidates — the
    scale path (Artetxe & Schwenk run the margin rule over faiss ANN
    candidates; this is the Spark equivalent). Candidate spec is
    deterministic (signature hamming <= bands-1), so the oracle can
    recompute it brute-force; the plan itself contains NO cartesian
    product — candidates come from a banded equi-join."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return sim.margin_mine_bucketed(
        src,
        tgt,
        knn=_BTX_KNN,
        threshold=_BTX_THRESHOLD,
        dim=64,
        bits=_BTX_BITS,
        bands=_BTX_BANDS,
        seed=_BTX_SEED,
    )


def _sql_hash60_mod0(col: str, k: int) -> str:
    """DuckDB twin of ``sampling.hash60(col) % k == 0`` — the repo's
    deterministic seed-free sampling convention (md5 hex prefix ->
    60-bit integer), so Spark and the oracle keep the SAME rows."""
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) "
        f"AS UBIGINT) % {k} = 0"
    )


def _sql_bitext_mine_exact(src_extra: str = "") -> str:
    """Brute all-pairs margin mine (oracle baseline). ``src_extra`` is
    an extra AND-predicate on the src side (alias ``s``) — the recall
    audit injects a deterministic hash-sample there so the brute side
    stays capped at any corpus size."""
    return f"""
WITH nz AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE list_dot_product(embedding, embedding) > 0
),
u AS (
  SELECT vec_id,
         list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS uv
  FROM nz
),
sims AS (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         round(list_dot_product(s.uv, t.uv), 9) AS sim
  FROM u s JOIN u t ON s.vec_id % 2 = 0{src_extra} AND t.vec_id % 2 = 1
),
ds AS (
  SELECT src_id, round(avg(sim), 9) AS deg_src FROM (
    SELECT src_id, sim,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY sim DESC, tgt_id) AS rn
    FROM sims
  ) WHERE rn <= 4 GROUP BY src_id
),
dt AS (
  SELECT tgt_id, round(avg(sim), 9) AS deg_tgt FROM (
    SELECT tgt_id, sim,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY sim DESC, src_id) AS rn
    FROM sims
  ) WHERE rn <= 4 GROUP BY tgt_id
),
m AS (
  SELECT s.src_id, s.tgt_id,
         round(s.sim / ((ds.deg_src + dt.deg_tgt) / 2.0), 6) AS margin
  FROM sims s JOIN ds USING (src_id) JOIN dt USING (tgt_id)
)
SELECT src_id, tgt_id, margin FROM (
  SELECT src_id, tgt_id, margin,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY margin DESC, tgt_id) AS rn
  FROM m
) WHERE rn = 1 AND margin >= 1.05
"""


SQL_BITEXT_MINE_EXACT = _sql_bitext_mine_exact()

# Brute side of the recall audits is CAPPED by a deterministic
# hash-sample of the query side (hash60 % mod == 0) — at oracle scale
# this halves the audit; at 100 TB the modulus grows with the corpus so
# the brute cost stays ~constant (K sampled queries x |tgt|, linear).
# What each audit then measures differs. The bitext audit measures the
# recall of the SAMPLED subproblem, not an unbiased estimate of the full
# mine's: dropping src vectors changes each target's deg_tgt (its kNN
# over the src side), so margins move. srp_recall is unaffected: whether
# a pair shares a band depends only on its two vectors. Seed-free: the
# same rows are sampled on any cluster size and in the DuckDB twin.
_BTX_AUDIT_MOD = 2
_SRP_AUDIT_MOD = 2


def q_bitext_recall(spark, sf_dir):
    """Recall audit of the banded margin mine against the brute
    all-pairs rule — the honest measurement of what the 8-bit/4-band
    candidate gate trades (the srp_recall precedent). Unlike SRP
    near-dup, the bucketed output is NOT a subset of the brute output:
    deg over candidate-kNN shifts borderline margins in both
    directions, so all three counts are reported. All integers;
    recall in exact milli units of the brute set.

    The brute twin runs over a hash-sampled src slice (_BTX_AUDIT_MOD)
    so the audit itself is never the quadratic scale-killer it
    measures; the banded side is restricted to the SAME slice so the
    comparison is the identical subproblem on both engines."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = emb.filter(F.col("vec_id") % 2 == 0).filter(
        F.pmod(sampling.hash60(F.col("vec_id")), F.lit(_BTX_AUDIT_MOD)) == 0
    )
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    exact = sim.margin_mine(src, tgt, knn=_BTX_KNN, threshold=_BTX_THRESHOLD)
    buck = sim.margin_mine_bucketed(
        src,
        tgt,
        knn=_BTX_KNN,
        threshold=_BTX_THRESHOLD,
        dim=64,
        bits=_BTX_BITS,
        bands=_BTX_BANDS,
        seed=_BTX_SEED,
    )
    pairs = (
        exact.select(
            "src_id", "tgt_id", F.lit(1).alias("e"), F.lit(0).alias("s")
        )
        .unionByName(
            buck.select(
                "src_id", "tgt_id", F.lit(0).alias("e"), F.lit(1).alias("s")
            )
        )
        .groupBy("src_id", "tgt_id")
        .agg(F.max("e").alias("has_e"), F.max("s").alias("has_s"))
    )
    return pairs.agg(
        F.sum("has_e").cast("long").alias("n_exact"),
        F.sum("has_s").cast("long").alias("n_banded"),
        F.sum(F.col("has_e") * F.col("has_s")).cast("long").alias("n_hit"),
        F.floor(
            F.lit(1000) * F.sum(F.col("has_e") * F.col("has_s")) / F.sum("has_e")
        ).cast("long").alias("recall_milli"),
    )


def _sql_bitext_recall() -> str:
    pred = " AND " + _sql_hash60_mod0("s.vec_id", _BTX_AUDIT_MOD)
    return f"""
WITH exact AS (SELECT src_id, tgt_id FROM ({_sql_bitext_mine_exact(pred)})),
banded AS (SELECT src_id, tgt_id FROM ({_sql_bitext_mine(pred)})),
pairs AS (
  SELECT src_id, tgt_id, max(e) AS has_e, max(s) AS has_s FROM (
    SELECT src_id, tgt_id, 1 AS e, 0 AS s FROM exact
    UNION ALL
    SELECT src_id, tgt_id, 0 AS e, 1 AS s FROM banded
  ) GROUP BY src_id, tgt_id
)
SELECT CAST(sum(has_e) AS BIGINT) AS n_exact,
       CAST(sum(has_s) AS BIGINT) AS n_banded,
       CAST(sum(has_e * has_s) AS BIGINT) AS n_hit,
       CAST(floor(1000 * sum(has_e * has_s) / sum(has_e)) AS BIGINT)
           AS recall_milli
FROM pairs
"""


def _sql_srp_sig_terms_for(dim: int, bits: int, seed: int) -> str:
    """DuckDB SRP signature as a sum of CASE terms over column ``emb``
    (a DOUBLE[]), with the SAME deterministic hyperplanes (seeded
    numpy) injected as shortest-roundtrip literals — parses back to
    identical doubles, so both engines see the same planes."""
    planes = sim.random_hyperplanes(dim, bits, seed)
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(emb, {lit}) > 0 "
            f"THEN (1::BIGINT << {j}) ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_bitext_mine(src_extra: str = "") -> str:
    """Brute recompute of the BUCKETED spec: candidates = signature
    hamming <= bands-1 (recomputed over all pairs — the oracle may be
    quadratic; the Spark plan may not), then the same margin
    arithmetic restricted to candidates. ``src_extra`` narrows the src
    side (alias ``s``) — the recall audit's hash-sample slice."""
    return f"""
WITH nz AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE list_dot_product(embedding, embedding) > 0
),
sig AS (
  SELECT vec_id, ({_sql_srp_sig_terms_for(64, _BTX_BITS, _BTX_SEED)}) AS sig
  FROM nz
),
u AS (
  SELECT vec_id,
         list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS uv
  FROM nz
),
cand AS (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id
  FROM sig s JOIN sig t ON s.vec_id % 2 = 0{src_extra} AND t.vec_id % 2 = 1
  WHERE bit_count(xor(s.sig::UBIGINT, t.sig::UBIGINT)) <= {_BTX_BANDS - 1}
),
sims AS (
  SELECT c.src_id, c.tgt_id,
         round(list_dot_product(us.uv, ut.uv), 9) AS sim
  FROM cand c
  JOIN u us ON us.vec_id = c.src_id
  JOIN u ut ON ut.vec_id = c.tgt_id
),
ds AS (
  SELECT src_id, round(avg(sim), 9) AS deg_src FROM (
    SELECT src_id, sim,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY sim DESC, tgt_id) AS rn
    FROM sims
  ) WHERE rn <= {_BTX_KNN} GROUP BY src_id
),
dt AS (
  SELECT tgt_id, round(avg(sim), 9) AS deg_tgt FROM (
    SELECT tgt_id, sim,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY sim DESC, src_id) AS rn
    FROM sims
  ) WHERE rn <= {_BTX_KNN} GROUP BY tgt_id
),
m AS (
  SELECT s.src_id, s.tgt_id,
         round(s.sim / ((ds.deg_src + dt.deg_tgt) / 2.0), 6) AS margin
  FROM sims s JOIN ds USING (src_id) JOIN dt USING (tgt_id)
)
SELECT src_id, tgt_id, margin FROM (
  SELECT src_id, tgt_id, margin,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY margin DESC, tgt_id) AS rn
  FROM m
) WHERE rn = 1 AND margin >= {_BTX_THRESHOLD}
"""


# -- relational built-in coverage over driver tables ---------------------------


def q_lineitem_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = "decimal(28,6)"
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal aggregates rendered as strings: driver-side
            # canonicalization turns DuckDB DECIMAL into float64 but
            # Spark DECIMAL into Decimal objects — pin the text form
            # (scale-exact) on both engines instead.
            F.sum(F.col("l_quantity").cast(dec)).cast("decimal(38,6)").cast("string").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(dec)).cast("decimal(38,6)").cast("string").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast(dec) * (F.lit(1).cast(dec) - F.col("l_discount").cast(dec))).cast(dec)
            ).cast("decimal(38,6)").cast("string").alias("revenue"),
            F.count("*").alias("count_order"),
        )
    )


SQL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_base_price,
       CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(28,6))
           * (CAST(1 AS DECIMAL(28,6)) - CAST(l_discount AS DECIMAL(28,6))) AS DECIMAL(28,6))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_customer_revenue(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("decimal(38,4)").cast("string").alias("total_spent"),
        )
    )


SQL_CUSTOMER_REVENUE = """
SELECT c_custkey, c_name, count(*) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS VARCHAR) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


def q_first_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


SQL_FIRST_EVENTS = """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn <= 3
"""


def q_event_gaps(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    ms = F.unix_millis(F.col("ts").cast("timestamp"))  # parquet gives NTZ
    return ev.select(
        "user_id",
        "event_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
    )


SQL_EVENT_GAPS = """
SELECT user_id, event_id,
       epoch_ms(ts) - lag(epoch_ms(ts))
         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
FROM events
"""


def q_event_moving_stats(spark, sf_dir):
    """RANGE-frame window analytics (the frame-spec member of the
    window family): per user, trailing 10-minute moving count and
    value sum at every event. The frame is defined on the TIME axis
    (rangeBetween over epoch seconds), not row counts, so bursty and
    sparse users get the same semantics. Values go through exact
    integer cents before summing — moving sums are order-sensitive in
    floats, integers make them engine- and partitioning-independent.
    One shuffle (the per-user window); frames never span users."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    secs = F.unix_millis(F.col("ts").cast("timestamp")) / F.lit(1000)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.floor(secs).cast("long"))
        .rangeBetween(-600, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("win_n"),
        F.sum(cents).over(w).alias("win_sum_cents"),
    )


SQL_EVENT_MOVING_STATS = """
SELECT user_id, event_id,
       count(*) OVER w AS win_n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
            AS BIGINT) AS win_sum_cents
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT)
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
"""


def q_users_except(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def heavy(event_type: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 15)
            .select("user_id")
        )

    return heavy("click").exceptAll(heavy("error"))


SQL_USERS_EXCEPT = """
SELECT user_id FROM events WHERE event_type = 'click'
GROUP BY user_id HAVING count(*) >= 15
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
GROUP BY user_id HAVING count(*) >= 15
"""


def q_events_json(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


SQL_EVENTS_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
"""


def q_top_parts(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .limit(10)
        .select(
            "p_partkey",
            "p_name",
            F.col("p_retailprice").cast("decimal(18,2)").cast("string").alias("price"),
        )
    )


SQL_TOP_PARTS = """
SELECT p_partkey, p_name, CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price
FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10
"""


def q_explode_tokens(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


SQL_EXPLODE_TOKENS = r"""
SELECT word, count(*) AS n FROM (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents
) WHERE word <> '' GROUP BY word
"""


def q_top_tokens(spark, sf_dir):
    """Exact heavy hitters: top 20 tokens corpus-wide. orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-k then a
    single-driver merge of k-row heaps) — no global sort, no
    single-partition window, so the pattern survives a 100x corpus.
    Ties broken by token string for cross-engine determinism."""
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rnk", F.row_number().over(w))


SQL_TOP_TOKENS = r"""
WITH counts AS (
  SELECT token, count(*) AS n FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY token
)
SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rnk
FROM counts ORDER BY n DESC, token ASC LIMIT 20
"""


def q_event_rollup(spark, sf_dir):
    """Multi-level aggregate via ROLLUP (event_type subtotals + grand
    total in ONE pass — partial aggregation per level, one shuffle,
    instead of N separate scans union'd). grouping() disambiguates the
    NULL subtotal rows."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.rollup("event_type")
        .agg(
            F.grouping("event_type").cast("long").alias("is_total"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("event_type", "is_total", "n", "sum_value")
    )


SQL_EVENT_ROLLUP = """
SELECT event_type, CAST(grouping(event_type) AS BIGINT) AS is_total,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY ROLLUP(event_type)
"""


def q_value_quantiles(spark, sf_dir):
    """Exact linear-interpolation percentiles of event value per type
    (Spark ``percentile`` == DuckDB ``quantile_cont``). Exact
    percentile needs the full sorted group — fine for bounded group
    count; the 100-TB path is ``percentile_approx`` (t-digest,
    mergeable partial aggs), which an oracle can't bit-match."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


SQL_VALUE_QUANTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
"""




def q_users_intersect(spark, sf_dir):
    """Set intersection: users heavy in BOTH click and view."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def heavy(event_type):
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 15)
            .select("user_id")
        )

    return heavy("click").intersect(heavy("view"))


SQL_USERS_INTERSECT = """
SELECT user_id FROM events WHERE event_type = 'click'
GROUP BY user_id HAVING count(*) >= 15
INTERSECT
SELECT user_id FROM events WHERE event_type = 'view'
GROUP BY user_id HAVING count(*) >= 15
"""


def q_event_cube(spark, sf_dir):
    """CUBE over (event_type, user bucket): all four grouping levels in
    one pass - partial aggregation expands grouping sets map-side, one
    shuffle total (vs 4 scans union'd)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("long")
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("user_bucket").cast("long").alias("g_bucket"),
        F.count("*").alias("n"),
    )


SQL_EVENT_CUBE = """
SELECT event_type, user_id % 4 AS user_bucket,
       CAST(grouping(event_type) AS BIGINT) AS g_type,
       CAST(grouping(user_bucket) AS BIGINT) AS g_bucket,
       count(*) AS n
FROM events GROUP BY CUBE(event_type, user_bucket)
"""


def q_event_pivot(spark, sf_dir):
    """PIVOT event_type rows into per-type count columns (explicit
    value list => single-pass pivot aggregate, no second scan to
    discover distinct keys - the 100-TB form)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "view", "purchase", "error", "signup"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [t for t in types])
        .withColumnsRenamed({t: f"n_{t}" for t in types})
    )


SQL_EVENT_PIVOT = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'error') AS n_error,
       count(*) FILTER (event_type = 'signup') AS n_signup
FROM events GROUP BY user_id
"""


# -- S4: URL extension -> MIME fallback map ------------------------------------
#
# The driver tables carry no URL column, so the query synthesizes
# deterministic URLs from doc_id (same SQL rule in Spark and DuckDB) and
# applies the reference's extension->MIME map
# (ImageUrlToDataUrlTransformer.cs:21-36, DetectMimeTypeFromUrl :217-236).

_URL_EXTS = [".jpg", ".jpeg", ".png", ".gif", ".bmp", ".webp", ".svg",
             ".ico", ".tiff", ".tif", ".pdf", ".dat", ""]

_URL_EXPR = (
    "concat('https://img.example/doc/', CAST(doc_id AS STRING), "
    + "CASE CAST(doc_id % 13 AS INT) "
    + " ".join(f"WHEN {i} THEN '{e}'" for i, e in enumerate(_URL_EXTS))
    + " END, CASE WHEN doc_id % 3 = 0 THEN '?w=1#frag' ELSE '' END)"
)


def q_mime_from_url(spark, sf_dir):
    from .operators.classify import mime_from_url

    d = _docs(spark, sf_dir)
    url = F.expr(_URL_EXPR.replace("AS STRING", "AS STRING"))
    return d.select(
        "doc_id", url.alias("url"), mime_from_url(url).alias("mime")
    )


def _sql_ext_mime_case() -> str:
    from .operators.classify import EXT_MIME, EXT_MIME_DEFAULT

    whens = " ".join(f"WHEN '{e}' THEN '{m}'" for e, m in EXT_MIME.items())
    return (
        "CASE lower(regexp_extract(regexp_replace(u.url, '[?#].*$', ''), "
        f"'\\.([A-Za-z0-9]+)$', 1)) {whens} ELSE '{EXT_MIME_DEFAULT}' END"
    )


SQL_MIME_FROM_URL = f"""
WITH u AS (
  SELECT doc_id, {_URL_EXPR.replace("AS STRING", "AS VARCHAR")} AS url
  FROM documents
)
SELECT doc_id, url, {_sql_ext_mime_case()} AS mime FROM u
"""




# S4 composition: trie classification with URL-extension fallback over the
# corpus media spans (OcrRequestHandler.DetectMimeType + DetectMimeTypeFromUrl
# combined). The oracle recomputes the trie side from the corpus construction
# rule (f.mime) and the fallback from the same CASE map.

_SPAN_URL_EXPR = (
    "concat('https://img.example/doc/', doc_id, '/', CAST(\"offset\" AS VARCHAR), "
    "CASE CAST((CAST(substring(doc_id, 5) AS INT) + \"offset\") % 13 AS INT) "
    + " ".join(f"WHEN {i} THEN '{e}'" for i, e in enumerate(_URL_EXTS))
    + " END)"
)


def q_classify_url_fallback(spark, sf_dir):
    from . import corpus as _corpus
    from .operators.classify import classify_with_url_fallback, decode_data_url_prefix

    spans = (
        _corpus.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select("doc_id", "offset", "media_ref")
    )
    spark_url = _SPAN_URL_EXPR.replace('\"offset\"', "offset").replace(
        "AS VARCHAR", "AS STRING"
    )
    with_inputs = spans.withColumn(
        "payload_prefix", decode_data_url_prefix(F.col("media_ref"))
    ).withColumn("url", F.expr(spark_url))
    return classify_with_url_fallback(with_inputs, url_col="url", out_col="mime").select(
        "doc_id", "offset", "url", "mime"
    )


def _sql_classify_url_fallback() -> str:
    from .operators.classify import EXT_MIME, EXT_MIME_DEFAULT

    whens = " ".join(f"WHEN '{e}' THEN '{m}'" for e, m in EXT_MIME.items())
    ext_case = (
        "CASE lower(regexp_extract(regexp_replace(u.url, '[?#].*$', ''), "
        f"'\\.([A-Za-z0-9]+)$', 1)) {whens} ELSE '{EXT_MIME_DEFAULT}' END"
    )
    return f"""
WITH u AS (
  SELECT doc_id, "offset", {_SPAN_URL_EXPR} AS url, mime AS trie_mime
  FROM {{flat}} f
  WHERE media_ref IS NOT NULL
)
SELECT doc_id, "offset", url,
       CASE WHEN trie_mime <> 'application/octet-stream' THEN trie_mime
            ELSE {ext_case} END AS mime
FROM u
"""




# C4 strict mode: the 5-format strict table (PipelineNodeImageToUrl.cs:11-20)
# quarantines unknown signatures as NULL (the reference throws
# NotSupportedException; errors stay data here). Oracle recomputes from the
# corpus construction rule: intended mime if in the strict set, else NULL.

def q_classify_strict(spark, sf_dir):
    from . import corpus as _corpus
    from .operators.classify import classify_mime
    from .trie import strict_trie

    spans = (
        _corpus.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select("doc_id", "offset", "media_ref")
    )
    return classify_mime(
        spans, data_url_col="media_ref", out_col="mime_strict",
        strict=True, trie=strict_trie(),
    ).select("doc_id", "offset", "mime_strict")


def _sql_classify_strict() -> str:
    from .trie import strict_trie

    mimes = ", ".join(f"'{m}'" for m in sorted(strict_trie().get_all_mime_types()))
    return f"""
SELECT doc_id, "offset",
       CASE WHEN mime IN ({mimes}) THEN mime ELSE NULL END AS mime_strict
FROM {{flat}} f
WHERE media_ref IS NOT NULL
"""




def q_near_dup_pairs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # driver embeddings are random-ish (max pairwise cosine ~0.51);
    # 0.35 = ~99.9th percentile, so the threshold genuinely filters AND
    # the result is non-empty — both sides of the oracle are exercised.
    # compare the PAIR SET only: float summation order (Spark double
    # aggregate vs DuckDB) flips low decimals, so any fixed rounding has
    # boundary flips; the cosine metric's values are oracle-checked by
    # cosine_top3 (rank-based, order-stable).
    return sim.near_dup_pairs(emb, threshold=0.35).select("id_a", "id_b")


def _sql_near_dup_pairs(sample_pred: str = "") -> str:
    """Brute all-pairs cosine oracle. ``sample_pred`` restricts the
    vector set (the recall audit's hash-sample slice) so the quadratic
    side stays capped."""
    where = f"WHERE {sample_pred}" if sample_pred else ""
    return f"""
-- CAST to DOUBLE[]: list_cosine_similarity on FLOAT[] computes in
-- float32, which diverges from Spark's double math near the threshold.
WITH e AS (SELECT * FROM embeddings {where})
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.35
"""


SQL_NEAR_DUP_PAIRS = _sql_near_dup_pairs()


# -- bucketed embedding near-dup (the 100-TB path) ------------------------------

_SRP_BITS = 16
_SRP_BANDS = 4
_SRP_SEED = 42
_SRP_THRESHOLD = 0.35


def q_near_dup_srp(spark, sf_dir):
    """Scale form of near_dup_pairs: SRP-signature banded join
    (pigeonhole-exact for hamming <= bands-1) + exact cosine verify on
    candidates only. The oracle recomputes the same spec brute-force
    (all pairs, same deterministic hyperplanes) — agreement certifies
    the banding misses nothing the spec admits. Recall vs the pure
    cosine spec is measured in test_functions_similarity."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.near_dup_pairs_bucketed(
        emb,
        threshold=_SRP_THRESHOLD,
        dim=64,
        bits=_SRP_BITS,
        bands=_SRP_BANDS,
        seed=_SRP_SEED,
    )


def _sql_srp_sig_terms() -> str:
    """DuckDB: the 16-bit SRP signature as a sum of CASE terms, with the
    SAME deterministic hyperplanes (seeded numpy) injected as literals —
    shortest-roundtrip reprs parse back to identical doubles."""
    planes = sim.random_hyperplanes(64, _SRP_BITS, _SRP_SEED)
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(emb, {lit}) > 0 "
            f"THEN (1::BIGINT << {j}) ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_near_dup_srp(sample_pred: str = "") -> str:
    extra = f" AND {sample_pred}" if sample_pred else ""
    return f"""
WITH nz AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE list_dot_product(embedding, embedding) > 0{extra}
),
sig AS (SELECT vec_id, ({_sql_srp_sig_terms()}) AS sig FROM nz),
unitt AS (
  SELECT vec_id,
         list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS u
  FROM nz
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         bit_count(xor(a.sig::UBIGINT, b.sig::UBIGINT)) AS hamming
  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
)
SELECT p.id_a, p.id_b, CAST(p.hamming AS INT) AS hamming
FROM pairs p
JOIN unitt ua ON ua.vec_id = p.id_a
JOIN unitt ub ON ub.vec_id = p.id_b
WHERE p.hamming <= {_SRP_BANDS - 1}
  AND list_dot_product(ua.u, ub.u) >= {_SRP_THRESHOLD}
"""


def q_srp_recall(spark, sf_dir):
    """Recall audit of the bucketed near-dup path against the exact
    cosine spec AT THE SAME THRESHOLD — the honest measurement of what
    the 16-bit/4-band SRP dial trades for its sub-quadratic shape
    (production raises bits/bands or unions seeds to buy recall back).
    SRP output is provably a subset of the exact pair set (banding
    only generates candidates; the cosine verify applies the same
    threshold), so n_hit == n_srp and recall = n_srp / n_exact. All
    integers; recall reported in exact milli units.

    Audited over a deterministic hash-sample of the vector set
    (_SRP_AUDIT_MOD): the brute side is quadratic only in the SAMPLE
    (mod 2 -> a quarter of the pairs; at 100x scale raise the modulus
    so the sampled subproblem stays task-sized), while the bucketed
    side runs on the same slice so recall compares the identical
    subproblem. Seed-free, so any cluster size audits the same rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.pmod(sampling.hash60(F.col("vec_id")), F.lit(_SRP_AUDIT_MOD)) == 0
    )
    exact = sim.near_dup_pairs(emb, threshold=_SRP_THRESHOLD).select(
        "id_a", "id_b", F.lit(1).alias("e"), F.lit(0).alias("s")
    )
    srp = sim.near_dup_pairs_bucketed(
        emb,
        threshold=_SRP_THRESHOLD,
        dim=64,
        bits=_SRP_BITS,
        bands=_SRP_BANDS,
        seed=_SRP_SEED,
    ).select("id_a", "id_b", F.lit(0).alias("e"), F.lit(1).alias("s"))
    pairs = (
        exact.unionByName(srp)
        .groupBy("id_a", "id_b")
        .agg(F.max("e").alias("has_e"), F.max("s").alias("has_s"))
    )
    return pairs.agg(
        F.sum("has_e").cast("long").alias("n_exact"),
        F.sum("has_s").cast("long").alias("n_srp"),
        F.sum(F.col("has_e") * F.col("has_s")).cast("long").alias("n_hit"),
        F.floor(
            F.lit(1000)
            * F.sum(F.col("has_e") * F.col("has_s"))
            / F.sum("has_e")
        ).cast("long").alias("recall_milli"),
    )


def _sql_srp_recall() -> str:
    pred = _sql_hash60_mod0("vec_id", _SRP_AUDIT_MOD)
    return f"""
WITH exact AS (SELECT id_a, id_b FROM ({_sql_near_dup_pairs(pred)})),
srp AS (SELECT id_a, id_b FROM ({_sql_near_dup_srp(pred)})),
pairs AS (
  SELECT id_a, id_b, max(e) AS has_e, max(s) AS has_s FROM (
    SELECT id_a, id_b, 1 AS e, 0 AS s FROM exact
    UNION ALL
    SELECT id_a, id_b, 0 AS e, 1 AS s FROM srp
  ) GROUP BY id_a, id_b
)
SELECT CAST(sum(has_e) AS BIGINT) AS n_exact,
       CAST(sum(has_s) AS BIGINT) AS n_srp,
       CAST(sum(has_e * has_s) AS BIGINT) AS n_hit,
       CAST(floor(1000 * sum(has_e * has_s) / sum(has_e)) AS BIGINT)
           AS recall_milli
FROM pairs
"""


# -- doc quality scoring (training-data filter battery) ------------------------


def q_doc_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    quality = tx.quality_score(F.col("text"))
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.stopword_hits(F.col("text"), "en").alias("en_hits"),
        F.round(quality, 2).alias("quality_r"),
        (quality >= 0.6).alias("is_quality"),
    )


SQL_DOC_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
    CASE WHEN text IS NULL THEN 0
         ELSE len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) END AS en_hits,
    CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
              / length(text) END AS pr
  FROM documents
),
q AS (
  SELECT doc_id, text, n_tokens, en_hits,
         (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
       + (CASE WHEN en_hits >= 2 THEN 0.4 ELSE 0.0 END)
       + (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END) AS quality
  FROM t
)
SELECT doc_id, n_tokens, en_hits,
       CASE WHEN text IS NULL THEN NULL ELSE round(quality, 2) END AS quality_r,
       CASE WHEN text IS NULL THEN NULL ELSE quality >= 0.6 END AS is_quality
FROM q
"""


# -- LSH candidates re-ranked with exact n-gram Jaccard ------------------------

# distinct-shingle CTE shared by the jaccard oracle (Spark's shingles()
# deduplicates; list_distinct mirrors that)
_SQL_SH_DISTINCT = f"""
  SELECT doc_id,
    CASE WHEN text IS NULL OR length(text) < {MINHASH_K}
         THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(
                generate_series(1, length(text) - {MINHASH_K - 1}),
                i -> substr(text, CAST(i AS INT), {MINHASH_K}))) END AS shd
  FROM documents
"""


def q_jaccard_rerank(spark, sf_dir):
    d = _docs(spark, sf_dir)
    cand = dd.minhash_lsh_candidates(
        d, num_hashes=MINHASH_N, bands=MINHASH_BANDS, k=MINHASH_K
    )
    jp = dd.jaccard_pairs(d, cand, k=MINHASH_K)
    return jp.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r")
    )


SQL_JACCARD_RERANK = f"""
WITH cand AS ({SQL_LSH_CANDIDATES}),
shd AS ({_SQL_SH_DISTINCT})
SELECT c.id_a, c.id_b,
       round(CASE WHEN len(list_distinct(list_concat(a.shd, b.shd))) = 0 THEN 0.0
             ELSE len(list_intersect(a.shd, b.shd)) * 1.0
                  / len(list_distinct(list_concat(a.shd, b.shd))) END, 6) AS jaccard_r
FROM cand c
JOIN shd a ON a.doc_id = c.id_a
JOIN shd b ON b.doc_id = c.id_b
"""


def q_containment_rerank(spark, sf_dir):
    """Asymmetric containment verification of the LSH candidates
    (Broder 1997 resemblance-vs-containment): |A∩B|/|A| and |A∩B|/|B|
    per pair — catches subset-duplicates (doc embedded whole in a
    longer doc) that symmetric Jaccard under-scores. Candidates-only
    verification, same 100-TB shape as jaccard_rerank."""
    d = _docs(spark, sf_dir)
    cand = dd.minhash_lsh_candidates(
        d, num_hashes=MINHASH_N, bands=MINHASH_BANDS, k=MINHASH_K
    )
    cp = dd.containment_pairs(d, cand, k=MINHASH_K)
    return cp.select(
        "id_a",
        "id_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
        (
            F.greatest("containment_a", "containment_b") >= 0.9
        ).alias("is_subset_dup"),
    )


SQL_CONTAINMENT_RERANK = f"""
WITH cand AS ({SQL_LSH_CANDIDATES}),
shd AS ({_SQL_SH_DISTINCT})
SELECT c.id_a, c.id_b,
       round(CASE WHEN len(a.shd) = 0 THEN 0.0
             ELSE len(list_intersect(a.shd, b.shd)) * 1.0 / len(a.shd)
             END, 6) AS containment_a,
       round(CASE WHEN len(b.shd) = 0 THEN 0.0
             ELSE len(list_intersect(a.shd, b.shd)) * 1.0 / len(b.shd)
             END, 6) AS containment_b,
       greatest(CASE WHEN len(a.shd) = 0 THEN 0.0
                ELSE len(list_intersect(a.shd, b.shd)) * 1.0 / len(a.shd) END,
                CASE WHEN len(b.shd) = 0 THEN 0.0
                ELSE len(list_intersect(a.shd, b.shd)) * 1.0 / len(b.shd) END)
           >= 0.9 AS is_subset_dup
FROM cand c
JOIN shd a ON a.doc_id = c.id_a
JOIN shd b ON b.doc_id = c.id_b
"""


# -- SimHash (md5-bit variant, oracle-checkable) -------------------------------

_SIMHASH_K = 4


def _sql_simhash_cte() -> str:
    """DuckDB CTE chain computing the md5-based 60-bit SimHash per doc —
    independent brute-force recomputation (unnest + 60 conditional sums)
    of dedup.simhash_md5_table."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(dd.SIMHASH_MD5_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(dd.SIMHASH_MD5_BITS)
    )
    return f"""
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, length(text) - {_SIMHASH_K - 1}),
           i -> substr(text, CAST(i AS INT), {_SIMHASH_K})))) AS s
  FROM documents WHERE text IS NOT NULL AND length(text) >= {_SIMHASH_K}
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::UBIGINT AS h FROM sh
),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
simtab AS (SELECT doc_id, ({bits}) AS simhash FROM votes)
"""


def q_simhash60(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return dd.simhash_md5_table(d, k=_SIMHASH_K).select(
        F.col("id").alias("doc_id"), "simhash"
    )


SQL_SIMHASH60 = f"""
WITH {_sql_simhash_cte()}
SELECT d.doc_id, s.simhash
FROM documents d LEFT JOIN simtab s ON d.doc_id = s.doc_id
"""


def q_simhash_near_dup(spark, sf_dir):
    d = _docs(spark, sf_dir)
    sim_df = dd.simhash_md5_table(d, k=_SIMHASH_K)
    return dd.simhash_near_dup(sim_df, max_hamming=3, bands=4).select(
        "id_a", "id_b", "hamming"
    )


SQL_SIMHASH_NEAR_DUP = f"""
-- brute-force oracle: ALL pairs, exact hamming; the Spark side's banded
-- join (pigeonhole: hamming <= bands-1 guarantees a clean band) must
-- find exactly this set
WITH {_sql_simhash_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) AS hamming
FROM simtab a JOIN simtab b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= 3
"""


def q_asof_click_view(spark, sf_dir):
    """As-of join: each click event picks up the most recent prior (or
    simultaneous) view by the same user. Single-shuffle union+window
    form (operators/temporal.py); oracle = DuckDB's native ASOF LEFT
    JOIN. Right side deduped per (user_id, ts) by max event_id in BOTH
    engines — ASOF tie-break among equal right timestamps is otherwise
    unspecified."""
    from .operators import temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", F.col("event_id").alias("view_id")
    )
    out = temporal.as_of_join(
        clicks,
        views,
        on="user_id",
        ts="ts",
        right_cols=("value", "view_id"),
        tie_col="view_id",
    )
    return out.select(
        "event_id", "user_id", "matched_ts", "matched_view_id",
        F.round("matched_value", 2).alias("matched_value"),
    )


def q_asof_click_view_salted(spark, sf_dir):
    """Hot-key-safe as-of join twin: identical output to
    `asof_click_view` (same oracle SQL), but the window shuffle key is
    (user_id, day-bucket) — a hot user splits across buckets instead of
    serializing in one task; the cross-bucket match is carried in via a
    bucket-level as-of over the per-(user, bucket) last-view table
    (operators/temporal.as_of_join_salted). A small bucket width forces
    MANY buckets at sf0.01 so the carry path is genuinely exercised."""
    from .operators import temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", F.col("event_id").alias("view_id")
    )
    out = temporal.as_of_join_salted(
        clicks,
        views,
        on="user_id",
        ts="ts",
        right_cols=("value", "view_id"),
        tie_col="view_id",
        bucket_width_seconds=6 * 3600,
    )
    return out.select(
        "event_id", "user_id", "matched_ts", "matched_view_id",
        F.round("matched_value", 2).alias("matched_value"),
    )


SQL_ASOF_CLICK_VIEW = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, value, event_id AS view_id
  FROM events WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id, r.ts AS matched_ts,
       r.view_id AS matched_view_id,
       round(r.value, 2) AS matched_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization (8h inactivity gap) + per-session
    aggregate — one window shuffle then one agg shuffle, both on
    user_id."""
    from .operators import temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return temporal.session_stats(ev, gap_seconds=28800).select(
        "user_id", "session_id", "n_events", "session_start", "session_end"
    )


SQL_USER_SESSIONS = """
-- interval comparison: microsecond-exact in both engines (no epoch
-- truncation boundary)
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 28800 SECOND
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  -- CAST to BIGINT: DuckDB's windowed sum(int) is HUGEINT (float64
  -- after driver canonicalization); Spark's session_id is BIGINT.
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


def q_session_window(spark, sf_dir):
    """Spark's native session_window aggregate (batch mode; the same
    expression works under readStream with a watermark). Must agree
    with the manual lag+cumsum sessionization (user_sessions) - the
    oracle IS that manual form, so the two independent formulations
    cross-check each other."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id", F.session_window("ts", "8 hours").alias("w"))
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .select("user_id", "n_events", "session_start", "session_end")
    )


SQL_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 28800 SECOND
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> connected components -> (doc_id, cluster_id);
    singleton docs are their own cluster. Oracle = DuckDB recursive-CTE
    transitive closure with min-reachable-id labels over the same
    (brute-force) pair set."""
    d = _docs(spark, sf_dir)
    sim_df = dd.simhash_md5_table(d, k=_SIMHASH_K)
    pairs = dd.simhash_near_dup(sim_df, max_hamming=3, bands=4)
    cc = dd.connected_components(pairs)
    return (
        d.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("cluster_id"))
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_sql_simhash_cte()},
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM simtab a JOIN simtab b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= 3
),
edges AS (SELECT id_a AS u, id_b AS v FROM prs
          UNION SELECT id_b, id_a FROM prs),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u
)
SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
"""


# -- IVF approximate nearest neighbors (scale path for similarity search) ------

_IVF_NC = 8


def q_ivf_top3(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # rank-only output, like cosine_top3: float summation order flips
    # low decimals of sim between engines; ranks are order-stable.
    return sim.ivf_topk(emb, k=3, n_centroids=_IVF_NC).select(
        "query_id", "neighbor_id", "rank"
    )


SQL_IVF_TOP3 = f"""
WITH nz AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE list_dot_product(embedding, embedding) > 0
),
cent AS (SELECT vec_id AS cid, emb AS cemb FROM nz ORDER BY vec_id LIMIT {_IVF_NC}),
assign AS (
  SELECT n.vec_id, c.cid,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY list_cosine_similarity(n.emb, c.cemb) DESC,
                                     c.cid) AS rn
  FROM nz n CROSS JOIN cent c
),
a AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_cosine_similarity(qe.emb, ne.emb) AS sim
  FROM a q JOIN a n ON q.cid = n.cid AND q.vec_id <> n.vec_id
  JOIN nz qe ON qe.vec_id = q.vec_id
  JOIN nz ne ON ne.vec_id = n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


def q_ivf_top3_np2(spark, sf_dir):
    """nprobe=2 recall twin of ivf_top3: each query also searches its
    second-nearest centroid's inverted list — the standard IVF
    recall/cost dial, hash-checked at a second setting."""
    from .functions import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.ivf_topk(emb, k=3, n_centroids=_IVF_NC, nprobe=2).select(
        "query_id", "neighbor_id", "rank"
    )


SQL_IVF_TOP3_NP2 = f"""
WITH nz AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE list_dot_product(embedding, embedding) > 0
),
cent AS (SELECT vec_id AS cid, emb AS cemb FROM nz ORDER BY vec_id LIMIT {_IVF_NC}),
assign AS (
  SELECT n.vec_id, c.cid,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY list_cosine_similarity(n.emb, c.cemb) DESC,
                                     c.cid) AS rn
  FROM nz n CROSS JOIN cent c
),
lists AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
probes AS (SELECT vec_id, cid FROM assign WHERE rn <= 2),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_cosine_similarity(qe.emb, ne.emb) AS sim
  FROM probes q JOIN lists n ON q.cid = n.cid AND q.vec_id <> n.vec_id
  JOIN nz qe ON qe.vec_id = q.vec_id
  JOIN nz ne ON ne.vec_id = n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


# -- multimodal decode metadata (mapInPandas over binary payloads) -------------


def q_decode_image_meta(spark, sf_dir):
    """Full multimodal plumbing over the corpus media spans: data-URL ->
    binary payload column -> mapInPandas fake decode -> typed metadata.
    The oracle recomputes the digest-derived dims via md5(hex(payload))."""
    from .functions.multimodal import decode_images

    spans = (
        _corpus_mod.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select(
            "doc_id",
            "offset",
            F.unbase64(F.substring_index("media_ref", ",", -1)).alias("payload"),
        )
    )
    return decode_images(spans, deterministic_fake=True).select(
        "doc_id", "offset", "width", "height", "channels", "decode_ok"
    )


def _sql_decode_image_meta() -> str:
    digest = (
        "md5(hex(from_base64(substr(media_ref, position(',' IN media_ref) + 1))))"
    )
    def byte(i: int) -> str:  # digest byte i as int
        return f"('0x' || substr({digest}, {2 * i + 1}, 2))::INT"
    return f"""
SELECT doc_id, "offset",
       64 + {byte(0)} % 192 AS width,
       64 + {byte(1)} % 192 AS height,
       1 + ({byte(2)} % 2) * 2 AS channels,
       TRUE AS decode_ok
FROM {{flat}} f
WHERE media_ref IS NOT NULL
"""


def q_phash_near_dup(spark, sf_dir):
    """Image near-duplicate detection: decode (mapInPandas) ->
    perceptual-hash bits (aHash thresholding over the feature
    thumbnail, pure built-ins) -> the SAME pigeonhole-complete banded
    hamming join text SimHash uses (dedup.simhash_near_dup, 16 bits /
    4 bands / hamming <= 2). The multimodal analogue of text near-dup:
    recompressed or lightly-edited images keep most hash bits. Oracle
    recomputes the digest-derived features and brute-forces all pairs —
    banding must find exactly the brute-force answer."""
    from .functions.multimodal import decode_images, with_phash

    spans = (
        _corpus_mod.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"), F.col("offset").cast("string")
            ).alias("span_id"),
            F.unbase64(F.substring_index("media_ref", ",", -1)).alias("payload"),
        )
    )
    dec = decode_images(spans, deterministic_fake=True)
    ph = with_phash(dec).select("span_id", "phash")
    return dd.simhash_near_dup(
        ph, max_hamming=2, bands=4, bits=16, id_col="span_id", sim_col="phash"
    )


def _sql_phash_near_dup() -> str:
    digest = (
        "md5(hex(from_base64(substr(media_ref, position(',' IN media_ref) + 1))))"
    )
    n = 16
    fcols = ", ".join(
        f"('0x' || substr(dg, {2 * i + 1}, 2))::INT / 255.0 AS f{i}"
        for i in range(n)
    )
    fsum = " + ".join(f"f{i}" for i in range(n))
    bits = " + ".join(
        f"(CASE WHEN f{i} > m THEN {1 << i} ELSE 0 END)" for i in range(n)
    )
    return f"""
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) || '#' || CAST("offset" AS VARCHAR) AS span_id,
         {digest} AS dg
  FROM {{flat}} f WHERE media_ref IS NOT NULL
),
feats AS (SELECT span_id, {fcols} FROM media),
ph AS (
  SELECT span_id, CAST({bits} AS BIGINT) AS phash
  FROM (SELECT *, ({fsum}) / 16.0 AS m FROM feats)
)
SELECT a.span_id AS id_a, b.span_id AS id_b,
       CAST(bit_count(xor(a.phash::UBIGINT, b.phash::UBIGINT)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.span_id < b.span_id
WHERE bit_count(xor(a.phash::UBIGINT, b.phash::UBIGINT)) <= 2
"""


def q_bmp_decode_phash(spark, sf_dir):
    """The REAL-codec decode path, driver-checked: deterministic
    two-tone BMP payloads are synthesized per doc_id (left half color
    A(d), right half color B(d), dims 8+d%5 x 6+d%3), decoded by the
    pure-Python BmpCodec (NOT the deterministic fake — this exercises
    the same mapInPandas branch Pillow rides on a real cluster), and
    perceptual-hashed. The two-tone construction makes every output
    SQL-recomputable: the 4x4 luma thumbnail is always [A,A,B,B] per
    row (the nearest-neighbor column samples (tx*w)//4 split 2/2
    around w//2 for every w), so the aHash bits collapse to
    0x3333 (13107) when A is brighter, 0xCCCC (52428) when B is, 0 on
    a tie — integer-exact on both engines."""
    from .functions import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 + d % 5, 6 + d % 3
                px = np.zeros((h, w, 3), np.uint8)
                px[:, : w // 2] = (d % 256, (2 * d) % 256, (3 * d) % 256)
                px[:, w // 2 :] = (
                    (5 * d) % 256,
                    (7 * d) % 256,
                    (11 * d) % 256,
                )
                payloads.append(mm.encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    gen_df = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    out = mm.with_phash(
        mm.decode_images(gen_df, codec=mm.BmpCodec())
    )
    return out.select(
        "doc_id", "width", "height", "channels", "decode_ok", "phash"
    )


SQL_BMP_DECODE_PHASH = """
SELECT doc_id,
       CAST(8 + doc_id % 5 AS INT) AS width,
       CAST(6 + doc_id % 3 AS INT) AS height,
       3 AS channels,
       TRUE AS decode_ok,
       CAST(CASE WHEN lA > lB THEN 13107
                 WHEN lB > lA THEN 52428
                 ELSE 0 END AS BIGINT) AS phash
FROM (
  SELECT doc_id,
         (299 * (doc_id % 256) + 587 * ((2 * doc_id) % 256)
          + 114 * ((3 * doc_id) % 256)) // 1000 AS lA,
         (299 * ((5 * doc_id) % 256) + 587 * ((7 * doc_id) % 256)
          + 114 * ((11 * doc_id) % 256)) // 1000 AS lB
  FROM documents
)
"""


def q_resize_plan(spark, sf_dir):
    """Decode (fake) then compute aspect-preserving resize targets —
    the JVM-side half of the resize stage (resize_dims), composed on
    the oracle-checked decode dims."""
    from .functions.multimodal import decode_images, resize_dims

    spans = (
        _corpus_mod.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select(
            "doc_id",
            "offset",
            F.unbase64(F.substring_index("media_ref", ",", -1)).alias("payload"),
        )
    )
    decoded = decode_images(spans, deterministic_fake=True)
    return decoded.select(
        "doc_id",
        "offset",
        "width",
        "height",
        resize_dims(F.col("width"), F.col("height"), max_side=128).alias("t"),
    ).select(
        "doc_id", "offset", "width", "height",
        F.col("t.target_w").alias("target_w"),
        F.col("t.target_h").alias("target_h"),
    )


def _sql_resize_plan() -> str:
    return f"""
WITH dims AS ({_sql_decode_image_meta()})
SELECT doc_id, "offset", width, height,
       GREATEST(CAST(floor(width * LEAST(1.0, 128.0 / GREATEST(width, height)))
                AS INT), 1) AS target_w,
       GREATEST(CAST(floor(height * LEAST(1.0, 128.0 / GREATEST(width, height)))
                AS INT), 1) AS target_h
FROM dims
"""


# -- grouped-map (applyInPandas) summary ---------------------------------------


def q_doc_group_summary(spark, sf_dir):
    """SURVEY §2.11 grouped-map UDF tier: per-doc summary computed with
    the whole group as one pandas frame (FlatMapGroupsInPandas — plan
    pinned in test_plans). Aggregation-shaped on purpose so the oracle
    can recompute it with plain SQL."""
    from .operators.grouped import doc_span_summary

    flat = _corpus_mod.flat_spans(spark, sf_dir)
    return doc_span_summary(flat)


SQL_DOC_GROUP_SUMMARY = """
SELECT doc_id,
       count(*) AS n_spans,
       count(*) FILTER (WHERE kind IN ('image', 'pdf')) AS n_media,
       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS text_chars
FROM {flat} f
GROUP BY doc_id
"""


# -- stateful streaming counter, driven to completion --------------------------


def q_stream_running_counts(spark, sf_dir):
    """ST7 progress counters via applyInPandasWithState over a real
    multi-trigger file stream (availableNow + maxFilesPerTrigger), final
    per-doc count recovered from the update-mode emissions. The oracle
    is the batch equivalent: count(*) per doc — agreement certifies the
    stateful operator accumulates across triggers correctly."""
    import tempfile
    import uuid

    from .streaming.jobs import running_doc_counter

    flat = _corpus_mod.flat_spans(spark, sf_dir).select("doc_id", "offset")
    d = tempfile.mkdtemp(prefix="stream_counts_")
    # 4 files / 2 per trigger = 2 triggers: still multi-trigger state,
    # half the micro-batch overhead (the gate budget is finite).
    flat.repartition(4).write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    counts = running_doc_counter(stream)
    name = f"rc_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("doc_id")
        .agg(F.max("spans_seen").alias("n_spans"))
    )


SQL_STREAM_RUNNING_COUNTS = """
SELECT doc_id, count(*) AS n_spans FROM {flat} f GROUP BY doc_id
"""


def q_stream_dedup_hashes(spark, sf_dir):
    """Streaming exact dedup (dropDuplicates) across a multi-trigger
    file stream: the emitted key set must equal the batch DISTINCT —
    which row survives per key is arrival-order-dependent, so only the
    key column is emitted. Cross-trigger state is exercised the same
    way as stream_running_counts (availableNow + maxFilesPerTrigger)."""
    import tempfile
    import uuid

    from .streaming.jobs import stream_dedup

    hashed = _docs(spark, sf_dir).select(F.md5("text").alias("text_hash"))
    d = tempfile.mkdtemp(prefix="stream_dedup_")
    hashed.repartition(4).write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    name = f"sd_{uuid.uuid4().hex[:8]}"
    q = (
        stream_dedup(stream, keys=("text_hash",))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("text_hash")


SQL_STREAM_DEDUP_HASHES = """
SELECT DISTINCT md5(text) AS text_hash FROM documents
"""


# -- deterministic sampling / splitting / sketching / packing ------------------
# (functions/sampling.py; training-data ops beyond the reference surface)


def q_hash_split(spark, sf_dir):
    """Reproducible train/val/test split: deterministic md5-bucket
    assignment (map-only, no shuffle for the labeling itself), then a
    count per (split, lang) to verify both the rule and the rates."""
    d = _docs(spark, sf_dir)
    return (
        sampling.with_split(d, id_col="doc_id")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_HASH_SPLIT = """
SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs
FROM (SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 100 AS b
      FROM documents)
GROUP BY 1, 2
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic ~7% subsample (hash-threshold filter pushed to the
    scan; value-stable under repartitioning and cluster resizing)."""
    d = _docs(spark, sf_dir)
    return sampling.stratified_sample(d, "doc_id", pct=7).select(
        "doc_id", "lang"
    )


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 100 < 7
"""


def q_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct-token sketch (k=64): one row with the
    k-th smallest 60-bit hash and the cardinality estimate. The oracle
    recomputes the identical sketch, so the check is exact — and the
    pytest asserts the estimate is within 25% of true distinct."""
    d = _docs(spark, sf_dir)
    words = (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    return sampling.kmv_distinct(words, "word", k=64)


SQL_KMV_DISTINCT = """
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), hs AS (
  SELECT DISTINCT ('0x' || substr(md5(word), 1, 15))::UBIGINT AS h
  FROM words WHERE word <> ''
), ks AS (SELECT h FROM hs ORDER BY h LIMIT 64)
SELECT CAST(count(*) AS BIGINT) AS k,
       CAST(max(h) AS BIGINT) AS kth_hash,
       CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
            ELSE CAST(floor(63.0 * 1152921504606846976.0
                            / CAST(max(h) AS DOUBLE)) AS BIGINT)
       END AS est_distinct
FROM ks
"""


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (budget 2048, 8 parallel buckets):
    per (bucket, bin) doc count + token sum. Windows partition by hash
    bucket so packing never serializes through one global cumsum."""
    d = _docs(spark, sf_dir).select(
        "doc_id", tx.token_count(F.col("text")).alias("n_tokens")
    )
    packed = sampling.pack_sequences(
        d, "n_tokens", id_col="doc_id", budget=2048, n_buckets=8
    )
    return packed.groupBy("bucket", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


SQL_PACK_SEQUENCES = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+'))
         END AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 8 AS bucket
  FROM documents
), packed AS (
  SELECT bucket, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM toks
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(floor(start_offset / 2048.0) AS INT) AS bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM packed
GROUP BY 1, 2
"""


# -- corpus preparation (functions/corpus_ops.py) ------------------------------


def q_chunk_text(spark, sf_dir):
    """Fixed-budget token chunking with overlap (size=64, stride=48):
    per chunk the md5 of the joined text plus its token count. The
    context-window packing pre-pass of LLM pretraining, all map-side."""
    d = _docs(spark, sf_dir)
    ch = co.chunked(d, size=64, stride=48)
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
        F.size(co.words(F.col("chunk_text"))).cast("long").alias("n_tokens"),
    )


SQL_CHUNK_TEXT = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
), base AS (
  SELECT doc_id, ws, len(ws) AS n,
         CAST(floor((len(ws) - 1) / 48.0) AS INT) AS max_chunk
  FROM w WHERE len(ws) > 0
), idx AS (
  SELECT doc_id, ws, n,
         CAST(unnest(generate_series(0, max_chunk)) AS INT) AS chunk_id
  FROM base
)
SELECT doc_id, chunk_id,
       md5(array_to_string(
           list_slice(ws, chunk_id * 48 + 1,
                      least(chunk_id * 48 + 64, n)), ' ')) AS chunk_md5,
       CAST(least(chunk_id * 48 + 64, n) - chunk_id * 48 AS BIGINT)
           AS n_tokens
FROM idx
"""


def q_bigram_counts(spark, sf_dir):
    """Top-20 corpus bigrams (map-side n-gram build, one hash-agg,
    TakeOrderedAndProject top-k with a deterministic tie-break)."""
    d = _docs(spark, sf_dir)
    return (
        co.ngram_counts(d, n=2)
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(20)
    )


SQL_BIGRAM_COUNTS = r"""
WITH w AS (
  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
), g AS (
  SELECT array_to_string(list_slice(ws, i, i + 1), ' ') AS ngram
  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM w WHERE len(ws) >= 2)
)
SELECT ngram, count(*) AS n_occurrences
FROM g GROUP BY 1
ORDER BY n_occurrences DESC, ngram
LIMIT 20
"""


def q_vocab_oov(spark, sf_dir):
    """Vocabulary coverage: top-128 vocab by frequency, then the corpus
    OOV rate against it (broadcast join of the Zipf head)."""
    d = _docs(spark, sf_dir)
    return co.oov_rate(d, top_v=128)


SQL_VOCAB_OOV = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), counts AS (
  SELECT token, count(*) AS n FROM toks GROUP BY 1
), v AS (
  SELECT token FROM counts ORDER BY n DESC, token LIMIT 128
)
SELECT CAST(sum(n) AS BIGINT) AS total_occurrences,
       CAST(sum(CASE WHEN v.token IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
           AS covered_occurrences,
       round(1.0 - sum(CASE WHEN v.token IS NOT NULL THEN n ELSE 0 END)
                   / CAST(sum(n) AS DOUBLE), 6) AS oov_rate
FROM counts LEFT JOIN v USING (token)
"""


def q_tfidf_top_term(spark, sf_dir):
    """Top TF-IDF term per document in exact integer arithmetic
    (score = tf * 1e6 div df) — float idf can flip near-ties by one ulp
    across engines/cluster sizes; integer ranking cannot."""
    d = _docs(spark, sf_dir)
    return co.tfidf_top_terms(d)


SQL_TFIDF_TOP_TERM = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), scored AS (
  SELECT doc_id, token, CAST(tf * 1000000 AS BIGINT) // df AS score
  FROM tf JOIN dfreq USING (token)
)
SELECT doc_id, token AS top_term, score
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token) AS rn
      FROM scored)
WHERE rn = 1
"""


def q_hll_by_lang(spark, sf_dir):
    """Per-language HLL distinct-token sketch (b=8, 256 registers):
    integer-exact registers + scaled-integer harmonic sum; one float
    estimate (linear-counting small-range branch) rounded to 6dp."""
    from .functions.sampling import hll_distinct_by_group

    d = _docs(spark, sf_dir)
    toks = d.select(
        "lang", F.explode(co.words(F.col("text"))).alias("token")
    )
    return hll_distinct_by_group(toks, "token", "lang", b=8)


_HLL_FACTOR = repr(((0.7213 / (1 + 1.079 / 256)) * 256 * 256) * float(1 << 53))

SQL_HLL_BY_LANG = rf"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), h AS (
  SELECT lang, ('0x' || substr(md5(token), 1, 15))::UBIGINT AS hh
  FROM toks
), rr AS (
  SELECT lang, CAST(hh >> 52 AS INT) AS bucket,
         CASE WHEN (hh & 4503599627370495) = 0 THEN 53
              ELSE 53 - length(bin(CAST(hh & 4503599627370495 AS BIGINT)))
         END AS rho
  FROM h
), regs AS (
  SELECT lang, bucket, max(rho) AS m FROM rr GROUP BY lang, bucket
), per AS (
  SELECT lang,
         CAST(256 - count(*) AS INT) AS v_zero,
         CAST((256 - count(*)) * (1::BIGINT << 53)
              + SUM(1::BIGINT << CAST(53 - m AS INT)) AS BIGINT) AS s_scaled
  FROM regs GROUP BY lang
), est AS (
  SELECT lang, v_zero, s_scaled,
         CASE WHEN {_HLL_FACTOR} / CAST(s_scaled AS DOUBLE) <= 640.0
                   AND v_zero > 0
              THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_zero)
              ELSE {_HLL_FACTOR} / CAST(s_scaled AS DOUBLE) END AS e
  FROM per
)
SELECT lang, v_zero, s_scaled, round(e, 6) AS est_distinct FROM est
"""


_CMS_PROBES = ["table", "value", "key", "scan", "zzzz_absent"]


def q_cms_token_counts(spark, sf_dir):
    """Count-min sketch frequency estimates for 5 probe tokens (one
    deliberately absent — it reports its collision noise, never NULL).
    All-integer: positions, counters and the min are exact cross-engine."""
    from .functions.sampling import cms_estimate

    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(co.words(F.col("text"))).alias("token"))
    return cms_estimate(toks, "token", _CMS_PROBES, d=4, w=256)


def _sql_cms_token_counts() -> str:
    probes = ",".join(f"('{p}')" for p in _CMS_PROBES)
    return rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), cells AS (
  SELECT t.i AS hr,
         CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || token),
                              1, 15))::UBIGINT % 256 AS INT) AS hp
  FROM toks CROSS JOIN range(4) t(i)
), sketch AS (
  SELECT hr, hp, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY hr, hp
), probes(token) AS (VALUES {probes}),
pcells AS (
  SELECT token, t.i AS hr,
         CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || token),
                              1, 15))::UBIGINT % 256 AS INT) AS hp
  FROM probes CROSS JOIN range(4) t(i)
)
SELECT token, MIN(COALESCE(cnt, 0)) AS est_count
FROM pcells LEFT JOIN sketch USING (hr, hp) GROUP BY token
"""


def q_kmv_by_lang(spark, sf_dir):
    """Per-language distinct-token KMV sketch (k=32): grouped sketching
    via row_number <= k — groups sketch in parallel, O(k) state each."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "lang", F.explode(co.words(F.col("text"))).alias("token")
    )
    return co.kmv_by_group(toks, "lang", "token", k=32)


SQL_KMV_BY_LANG = r"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), hs AS (
  SELECT DISTINCT lang,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM toks
), ks AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM hs
)
SELECT lang, CAST(count(*) AS BIGINT) AS k,
       CAST(max(h) AS BIGINT) AS kth_hash,
       CASE WHEN count(*) < 32 THEN CAST(count(*) AS BIGINT)
            ELSE CAST(floor(31.0 * 1152921504606846976.0
                            / CAST(max(h) AS DOUBLE)) AS BIGINT)
       END AS est_distinct
FROM ks WHERE rn <= 32 GROUP BY lang
"""


MIXTURE_RATES = {"src0": 80, "src1": 40, "src2": 20, "src3": 10, "src4": 5}


def q_kmv_overlap(spark, sf_dir):
    """Cross-language vocabulary overlap from KMV sketch INTERSECTION
    (Beyer et al. 2007): the k-min of two sketches' union is the union
    sketch, and its members present in both sides estimate Jaccard —
    no token-set join ever happens. The sketches are the only
    data-sized work; the pair combine is G^2 rows of k longs."""
    d = _docs(spark, sf_dir)
    toks = d.select("lang", F.explode(co.words(F.col("text"))).alias("token"))
    return co.kmv_overlap_pairs(toks, "lang", "token", k=32)


SQL_KMV_OVERLAP = r"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), hs AS (
  SELECT DISTINCT lang,
         ('0x' || substr(md5(token), 1, 15))::UBIGINT AS h
  FROM toks
), ks AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM hs
), sk AS (
  SELECT lang, list(h ORDER BY h) AS sketch
  FROM ks WHERE rn <= 32 GROUP BY lang
), pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         a.sketch AS sk_a, b.sketch AS sk_b,
         list_slice(list_sort(list_distinct(list_concat(a.sketch, b.sketch))),
                    1, 32) AS merged
  FROM sk a JOIN sk b ON a.lang < b.lang
), scored AS (
  SELECT lang_a, lang_b,
         len(merged) AS k_merged,
         len(list_intersect(list_intersect(merged, sk_a), sk_b)) AS n_both,
         CASE WHEN len(merged) < 32 THEN len(merged)
              ELSE CAST(floor(31.0 * 1152921504606846976.0
                              / CAST(merged[-1] AS DOUBLE)) AS BIGINT)
         END AS est_union
  FROM pairs
)
SELECT lang_a, lang_b,
       CAST(k_merged AS BIGINT) AS k_merged,
       CAST(n_both AS BIGINT) AS n_both,
       round(n_both * 1.0 / k_merged, 6) AS jaccard_est,
       CAST(est_union AS BIGINT) AS est_union,
       CAST(floor(round(n_both * 1.0 / k_merged, 6)
                  * CAST(est_union AS DOUBLE)) AS BIGINT) AS est_intersection
FROM scored
"""


def q_mixture_sample(spark, sf_dir):
    """Deterministic pretraining-mixture sampling: per-source keep
    rates (src0 80% ... src4 5%, others dropped); verified by counting
    the survivors per source. Map-only hash-threshold filter."""
    d = _docs(spark, sf_dir)
    return (
        co.mixture_sample(d, "source", MIXTURE_RATES)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_MIXTURE_SAMPLE = """
SELECT source, count(*) AS n_docs
FROM (SELECT source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                 % 100 AS b
      FROM documents)
WHERE (source = 'src0' AND b < 80) OR (source = 'src1' AND b < 40)
   OR (source = 'src2' AND b < 20) OR (source = 'src3' AND b < 10)
   OR (source = 'src4' AND b < 5)
GROUP BY source
"""


def q_length_curriculum(spark, sf_dir):
    """Curriculum binning, BOUNDARY-BIN form (the 100-TB path, now the
    registered query): instead of a global-sort ntile over every row,
    decile boundaries are derived from the VALUE HISTOGRAM —
    groupBy(n_chars) is one map-side-combined hash-agg whose output is
    O(distinct lengths), the cumulative-count window runs over that tiny
    table (thousands of rows, never the corpus), and each value's bin is
    exact integer arithmetic: bin(v) = ceil(10 * cum_docs(>=v) / total).
    Ties share a bin by construction (equal difficulty -> equal bin),
    the property a curriculum actually wants; assigning bins back to
    full rows is the 9 boundary values broadcast into a when-chain at
    scan speed. Exact (integer DIV, no approx sketch, no float), so the
    DuckDB oracle reproduces it bit-for-bit.

    The prior global-ntile form is kept as `length_curriculum_ntile`
    (registry tail) — the correctness baseline whose plan is the
    documented scale-killer."""
    d = _docs(spark, sf_dir)
    hist = d.groupBy("n_chars").agg(F.count("*").alias("n"))
    w_cum = Window.orderBy(F.desc("n_chars")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    binned = hist.select(
        "n_chars",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    ).withColumn("bin", F.expr("CAST((cum*10 + total - 1) DIV total AS INT)"))
    return binned.groupBy("bin").agg(
        F.sum("n").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


SQL_LENGTH_CURRICULUM = """
WITH hist AS (
    SELECT n_chars, count(*) AS n FROM documents GROUP BY n_chars
), c AS (
    SELECT n_chars, n,
           sum(n) OVER (ORDER BY n_chars DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           sum(n) OVER () AS total
    FROM hist
)
SELECT CAST((cum * 10 + total - 1) // total AS INT) AS bin,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM c
GROUP BY 1
"""


def q_length_curriculum_ntile(spark, sf_dir):
    """Curriculum binning, global-ntile baseline: ntile(10) over an
    exact integer ordering (n_chars desc, doc_id) -> per-bin doc count
    and char range. Exactly-equal bin sizes (ties split by doc_id).

    NOTE (scale): a global ntile is a global sort in ONE partition —
    correct but the documented scale-killer; `length_curriculum` is the
    registered boundary-bin form that replaces it at 100 TB."""
    d = _docs(spark, sf_dir)
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("bin", F.ntile(10).over(w))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


SQL_LENGTH_CURRICULUM_NTILE = """
SELECT bin, count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM (SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS bin
      FROM documents)
GROUP BY bin
"""


def q_dedup_survivors(spark, sf_dir):
    """Clusters -> one canonical survivor per cluster (min id) with
    member counts: the curation report of a fuzzy-dedup pass. Oracle =
    the recursive-CTE closure of dedup_clusters, re-grouped by label."""
    d = _docs(spark, sf_dir)
    sim_df = dd.simhash_md5_table(d, k=_SIMHASH_K)
    pairs = dd.simhash_near_dup(sim_df, max_hamming=3, bands=4)
    cc = dd.connected_components(pairs)
    return dd.canonical_survivors(d, cc)


SQL_DEDUP_SURVIVORS = f"""
WITH RECURSIVE {{simhash_cte}},
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM simtab a JOIN simtab b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= 3
),
edges AS (SELECT id_a AS u, id_b AS v FROM prs
          UNION SELECT id_b, id_a FROM prs),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u
),
labels AS (SELECT src, min(node) AS cluster_id FROM reach GROUP BY src)
SELECT cluster_id AS doc_id, CAST(count(*) AS BIGINT) AS n_members
FROM labels GROUP BY cluster_id
"""


def q_quantize_embeddings(spark, sf_dir):
    """Int8 symmetric quantization with integer-exact audit columns
    (saturation count, quantized sum/min/max) — cross-engine comparable
    without float canonicalization."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.quantize_int8(emb)


SQL_QUANTIZE_EMBEDDINGS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
s AS (SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) AS scale FROM e),
q AS (SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
                  ELSE list_transform(
                         emb, x -> CAST(round(x * 127.0 / scale) AS INT))
             END AS qs
      FROM s)
SELECT vec_id,
       CAST(list_sum(qs) AS BIGINT) AS q_sum,
       CAST(list_min(qs) AS INT) AS q_min,
       CAST(list_max(qs) AS INT) AS q_max,
       CAST(len(list_filter(qs, v -> abs(v) = 127)) AS INT) AS n_sat
FROM q
"""


def q_shuffle_order(spark, sf_dir):
    """Deterministic epoch-shuffle positions 1..N in md5(id|seed)
    order, computed with the two-level (bucket offsets + in-bucket
    row_number) form — never a single global-order window."""
    d = _docs(spark, sf_dir)
    return sampling.shuffle_positions(d).select("doc_id", "pos")


SQL_SHUFFLE_ORDER = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY md5(doc_id || '|42')) AS BIGINT)
         AS pos
FROM documents
"""


# -- layout parse: OCR region reading order -----------------------------------


def q_layout_reading_order(spark, sf_dir):
    """Two-column reading-order reconstruction over the OCR page image
    regions (OcrImageObject bboxes + page dimensions,
    MistralOcr/Models/OcrModels.cs:146-172) — the north rule's
    "PDF/layout parse" stage. Zero-shuffle: per-row array sort."""
    from .extract.ocr import with_ocr_metadata
    from .operators.layout import with_reading_order

    spans = (
        _corpus_mod.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select("doc_id", "offset", "media_ref", "mime")
    )
    ordered = with_reading_order(with_ocr_metadata(spans))
    ex = ordered.filter(
        F.col("ordered_regions").isNotNull()
        & (F.size("ordered_regions") > 0)
    ).select("doc_id", "offset", F.explode("ordered_regions").alias("r"))
    return ex.select(
        "doc_id",
        "offset",
        F.col("r.reading_rank").alias("reading_rank"),
        F.col("r.region_index").alias("region_index"),
        F.col("r.col_idx").alias("col_idx"),
        F.col("r.x").alias("x"),
        F.col("r.y").alias("y"),
    )


def _sql_layout_reading_order() -> str:
    from .extract.ocr import ocr_field_exprs
    from .corpus import DUCK

    e = ocr_field_exprs(DUCK, h="md5(media_ref)")
    return f"""
        WITH src AS (
          SELECT doc_id, "offset", media_ref,
                 unnest(generate_series(0, CAST({e['n_images']} AS BIGINT) - 1)) AS i
          FROM {{flat}} f
          WHERE media_ref IS NOT NULL AND mime <> 'application/octet-stream'
        ), pos AS (
          SELECT doc_id, "offset", CAST(i AS INT) AS region_index,
                 CAST({e['img_x']} AS INT) AS x,
                 CAST({e['img_y']} AS INT) AS y,
                 CASE WHEN CAST({e['img_x']} AS INT)
                           + CAST({e['img_w']} AS INT) / 2.0
                           >= ({e['page_width']}) / 2.0
                      THEN 1 ELSE 0 END AS col_idx
          FROM src
        )
        SELECT doc_id, "offset",
               CAST(row_number() OVER (
                   PARTITION BY doc_id, "offset"
                   ORDER BY col_idx, y, x, region_index) - 1 AS INT)
                 AS reading_rank,
               region_index, CAST(col_idx AS INT) AS col_idx, x, y
        FROM pos
    """


# -- main-content block extraction (readability heuristic) --------------------


def q_main_content(spark, sf_dir):
    """Block-level main-content selection over HTML spans: candidate
    sectioning blocks scored by non-anchor text length, argmax wins
    (readability/boilerpipe heuristic; north rule "DOM heuristics").
    Pure per-row built-ins — zero Python stages, zero shuffles."""
    from .extract.html import main_content

    spans = _corpus_mod.flat_spans(spark, sf_dir).filter(
        F.col("kind") == "html"
    )
    return spans.select(
        "doc_id", "offset", main_content(F.col("text")).alias("mc")
    ).select(
        "doc_id",
        "offset",
        F.col("mc.main_text").alias("main_text"),
        F.col("mc.main_score").alias("main_score"),
        F.col("mc.n_blocks").alias("n_blocks"),
    )


def _sql_main_content() -> str:
    # the corpus html is PREFIX || content || SUFFIX with constant
    # nav/footer blocks, so the oracle evaluates the same integer
    # scores in closed form: nav = 1, footer = 16, main = len(content).
    pfx = _corpus_mod.HTML_PREFIX.replace("'", "''")
    sfx = _corpus_mod.HTML_SUFFIX.replace("'", "''")
    return f"""
        WITH h AS (
          SELECT doc_id, "offset",
                 trim(replace(replace(text, '{pfx}', ''), '{sfx}', ''))
                   AS content
          FROM {{flat}} f WHERE kind = 'html'
        )
        SELECT doc_id, "offset",
               CASE WHEN length(content) >= 16 THEN content
                    ELSE '(c) 2024 corp - privacy' END AS main_text,
               CAST(greatest(length(content), 16) AS INT) AS main_score,
               3 AS n_blocks
        FROM h
    """


# -- bigram-LM perplexity scoring (CCNet-style quality filter) ----------------


def q_lm_perplexity(spark, sf_dir):
    from nolock_social_ocr_services_spark.functions import corpus_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_ops.lm_perplexity(docs)


SQL_LM_PERPLEXITY = r"""
WITH ws AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS ws
  FROM documents
),
big AS (
  SELECT doc_id, ws[i] AS u, ws[i + 1] AS w
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM ws WHERE len(ws) >= 2)
),
vt AS (SELECT count(DISTINCT token) AS v
       FROM (SELECT unnest(ws) AS token FROM ws)),
bigc AS (SELECT u, w, count(*) AS cuw FROM big GROUP BY 1, 2),
ctx AS (SELECT u, sum(cuw) AS cu FROM bigc GROUP BY 1),
probs AS (
  SELECT b.u, b.w, round(ln((b.cuw + 1.0) / (c.cu + vt.v)), 9) AS logp
  FROM bigc b JOIN ctx c USING (u) CROSS JOIN vt
),
scored AS (
  SELECT big.doc_id, count(*) AS n_bigrams, avg(p.logp) AS alp
  FROM big JOIN probs p ON big.u = p.u AND big.w = p.w
  GROUP BY 1
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(-alp, 6) AS avg_neg_logp,
       round(exp(round(-alp, 6)), 4) AS ppl
FROM scored
"""


# -- distributed k-means training loop (iterative, unrolled SQL oracle) -------
#
# The one algorithm class the registry lacked a HASH-checked row for:
# an iterative, driver-coordinated training loop. kmeans_assignments
# rounds every updated centroid to 6 decimals (see functions/
# clustering.py for why that makes the loop cross-engine deterministic),
# so the oracle can UNROLL the same two Lloyd iterations as a CTE chain
# and match bit-for-bit on the integer (vec_id, cluster) output.

_KM_K = 4
_KM_ITERS = 2
_KM_DIM = 64


def q_kmeans_clusters(spark, sf_dir):
    from nolock_social_ocr_services_spark.functions import clustering

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return clustering.kmeans_assignments(emb, k=_KM_K, iters=_KM_ITERS)


def _km_iter_sql(n: int, prev: str) -> str:
    """One unrolled Lloyd round: assign under `prev`, mean-update, keep
    the previous centroid for any emptied cluster (COALESCE)."""
    return f"""
a{n} AS (
  SELECT v.vec_id, {prev}.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_distance(v.v, {prev}.c),
                                     {prev}.cid) AS rn
  FROM v CROSS JOIN {prev}
),
s{n} AS (SELECT vec_id, cid AS cluster FROM a{n} WHERE rn = 1),
m{n} AS (
  SELECT cid, list(m ORDER BY i) AS c FROM (
    SELECT s{n}.cluster AS cid, t.i AS i,
           round(avg(v.v[t.i + 1]), 6) AS m
    FROM s{n} JOIN v USING (vec_id) CROSS JOIN range({_KM_DIM}) t(i)
    GROUP BY s{n}.cluster, t.i
  ) GROUP BY cid
),
c{n} AS (SELECT {prev}.cid AS cid, COALESCE(m{n}.c, {prev}.c) AS c
         FROM {prev} LEFT JOIN m{n} ON {prev}.cid = m{n}.cid)"""


def _sql_kmeans_clusters() -> str:
    iters = ",".join(
        _km_iter_sql(n + 1, f"c{n}") for n in range(_KM_ITERS)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM v
       WHERE vec_id < {_KM_K}),
{iters},
af AS (
  SELECT v.vec_id, c{_KM_ITERS}.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_distance(v.v, c{_KM_ITERS}.c),
                                     c{_KM_ITERS}.cid) AS rn
  FROM v CROSS JOIN c{_KM_ITERS}
)
SELECT vec_id, cid AS cluster FROM af WHERE rn = 1
"""


# -- round-3 corpus-curation additions -----------------------------------------
#
# block_dedup: block-quantized exact substring dedup (Lee et al. 2022,
# distributable form); gopher_rep: Gopher top-n-gram character-fraction
# repetition filter (Rae et al. 2021); semantic_dedup: SemDeDup
# (Abbas et al. 2023) composing the k-means trainer with a
# within-cluster cosine dedup — the oracle re-unrolls the SAME Lloyd
# CTE chain as kmeans_clusters, so the iterative trainer is
# hash-checked twice, once bare and once inside a composition.

_BLOCK_TOKENS = 16
_SEM_THRESHOLD = 0.35  # same proven-ulp-safe margin as near_dup_pairs


def q_block_dedup(spark, sf_dir):
    from nolock_social_ocr_services_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.block_dedup(docs, block=_BLOCK_TOKENS)


SQL_BLOCK_DEDUP = rf"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
b AS (
  SELECT doc_id,
         CAST(unnest(range(CAST(ceil(len(ws) / {_BLOCK_TOKENS}.0) AS BIGINT)))
              AS INT) AS block_idx,
         ws
  FROM w WHERE len(ws) > 0
),
h AS (
  SELECT doc_id, block_idx,
         md5(array_to_string(
             ws[block_idx * {_BLOCK_TOKENS} + 1
                : block_idx * {_BLOCK_TOKENS} + {_BLOCK_TOKENS}], ' ')) AS h
  FROM b
),
r AS (
  SELECT doc_id, block_idx,
         row_number() OVER (PARTITION BY h
                            ORDER BY doc_id, block_idx) AS rn
  FROM h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_blocks,
       round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS dup_frac
FROM r GROUP BY doc_id
"""


def q_block_dedup_apply(spark, sf_dir):
    from nolock_social_ocr_services_spark.functions import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.block_dedup_apply(docs, block=_BLOCK_TOKENS)


SQL_BLOCK_DEDUP_APPLY = rf"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
b AS (
  SELECT doc_id,
         CAST(unnest(range(CAST(ceil(len(ws) / {_BLOCK_TOKENS}.0) AS BIGINT)))
              AS INT) AS block_idx,
         ws
  FROM w WHERE len(ws) > 0
),
h AS (
  SELECT doc_id, block_idx,
         array_to_string(
             ws[block_idx * {_BLOCK_TOKENS} + 1
                : block_idx * {_BLOCK_TOKENS} + {_BLOCK_TOKENS}], ' ') AS btext
  FROM b
),
r AS (
  SELECT doc_id, block_idx, btext,
         row_number() OVER (PARTITION BY md5(btext)
                            ORDER BY doc_id, block_idx) AS rn
  FROM h
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN btext END, ' '
                           ORDER BY block_idx), '') AS clean_text,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY doc_id
"""


def q_gopher_rep(spark, sf_dir):
    from nolock_social_ocr_services_spark.functions import corpus_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_ops.top_ngram_char_frac(docs, n=2)


SQL_GOPHER_REP = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, array_to_string(ws, ' ') AS joined,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS ngram
  FROM w WHERE len(ws) >= 2
),
c AS (
  SELECT doc_id, joined, ngram, count(*) AS n_occ
  FROM g GROUP BY doc_id, joined, ngram
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY n_occ DESC, ngram ASC) AS rn
  FROM c
)
SELECT doc_id, ngram AS top_ngram, CAST(n_occ AS BIGINT) AS n_occ,
       round(n_occ * length(ngram) * 1.0 / length(joined), 6) AS char_frac
FROM r WHERE rn = 1
"""


def q_corpus_report(spark, sf_dir):
    """Corpus curation report — the per-language summary a training-data
    release ships: document counts, exact-dedup survivor counts, token
    totals and quality-pass counts, composed entirely from the
    hash-checked building blocks (exact_dedup + quality_score +
    token_count). One dedup hash-agg + one join + one per-lang agg; at
    scale every stage is key-partitioned with map-side partials."""
    from .functions import dedup as dd
    from .functions import text as tx

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    canon = dd.exact_dedup(d).select("doc_id", "is_canonical")
    base = d.join(canon, "doc_id")
    q = tx.quality_score(F.col("text"))
    return base.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("is_canonical").cast("int")).cast("long").alias("n_canonical"),
        F.sum(tx.token_count(F.col("text"))).cast("long").alias("total_tokens"),
        F.sum((q >= F.lit(0.6)).cast("int")).cast("long").alias("n_quality"),
    )


SQL_CORPUS_REPORT = r"""
WITH hashed AS (
  SELECT doc_id, lang, text, md5(text) AS text_hash FROM documents
),
canon AS (
  SELECT text_hash, min(doc_id) AS canonical_id FROM hashed
  WHERE text_hash IS NOT NULL GROUP BY text_hash
),
j AS (
  SELECT h.doc_id, h.lang, h.text,
         h.doc_id = coalesce(c.canonical_id, h.doc_id) AS is_canonical
  FROM hashed h LEFT JOIN canon c USING (text_hash)
),
t AS (
  SELECT lang, is_canonical, text IS NULL AS tnull,
    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
    CASE WHEN text IS NULL THEN 0
         ELSE len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) END AS en_hits,
    CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
              / length(text) END AS pr
  FROM j
),
q AS (
  SELECT lang, is_canonical, n_tokens,
         CASE WHEN tnull THEN NULL ELSE
             (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN en_hits >= 2 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END) >= 0.6
         END AS iq
  FROM t
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT)
           AS n_canonical,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN iq THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
FROM q GROUP BY lang
"""


def q_semantic_dedup(spark, sf_dir):
    from nolock_social_ocr_services_spark.functions import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.semantic_dedup(
        emb, k=_KM_K, iters=_KM_ITERS, threshold=_SEM_THRESHOLD
    )


def _sql_semantic_dedup() -> str:
    iters = ",".join(_km_iter_sql(n + 1, f"c{n}") for n in range(_KM_ITERS))
    return f"""
-- CAST to DOUBLE[]: list_cosine_similarity on FLOAT[] computes in
-- float32, which diverges from Spark's double math near the threshold.
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM v
       WHERE vec_id < {_KM_K}),
{iters},
af AS (
  SELECT v.vec_id, c{_KM_ITERS}.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_distance(v.v, c{_KM_ITERS}.c),
                                     c{_KM_ITERS}.cid) AS rn
  FROM v CROSS JOIN c{_KM_ITERS}
),
sel AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1),
nz AS (SELECT vec_id FROM v WHERE list_dot_product(v, v) > 0),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM sel a
  JOIN sel b ON a.cluster = b.cluster AND a.vec_id > b.vec_id
  JOIN nz na ON na.vec_id = a.vec_id
  JOIN nz nb ON nb.vec_id = b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  WHERE list_cosine_similarity(va.v, vb.v) >= {_SEM_THRESHOLD}
)
SELECT s.vec_id, s.cluster, d.vec_id IS NOT NULL AS is_dup
FROM sel s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C 13-gram rule): a
    held-out benchmark slice (doc_id % 10 == 7 simulates the eval set)
    is reduced to its distinct 13-grams and broadcast; every remaining
    training doc is annotated with its distinct shared-n-gram count.
    The corpus side never shuffles — both the probe and the flag
    re-attach are broadcast hash joins."""
    from nolock_social_ocr_services_spark.functions import corpus_ops

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return corpus_ops.decontaminate(corpus, bench, n=13).select(
        "doc_id", "hit_ngrams", "contaminated"
    )


SQL_DECONTAMINATE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, array_to_string(list_slice(ws, i, i + 12), ' ') AS ngram
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 12)) AS i
        FROM w WHERE len(ws) >= 13)
),
bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 10 = 7),
h AS (
  SELECT g.doc_id, count(DISTINCT g.ngram) AS hit_ngrams
  FROM g JOIN bench USING (ngram)
  WHERE g.doc_id % 10 <> 7
  GROUP BY 1
)
SELECT d.doc_id, CAST(COALESCE(h.hit_ngrams, 0) AS BIGINT) AS hit_ngrams,
       COALESCE(h.hit_ngrams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN h USING (doc_id)
WHERE d.doc_id % 10 <> 7
"""


def q_decontaminate_excise(spark, sf_dir):
    """Apply side of `decontaminate`: excise every token covered by a
    13-gram shared with the benchmark slice and rebuild the text
    (token-normalized). Exact duplicates of benchmark docs come back
    EMPTY, clean docs come back verbatim."""
    from nolock_social_ocr_services_spark.functions import corpus_ops

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return corpus_ops.decontaminate_excise(corpus, bench, n=13)


SQL_DECONTAMINATE_EXCISE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, i, array_to_string(list_slice(ws, i, i + 12), ' ') AS ngram
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 12)) AS i
        FROM w WHERE len(ws) >= 13)
),
bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 10 = 7),
hp AS (
  SELECT g.doc_id, list_sort(list(DISTINCT g.i)) AS hitpos
  FROM g JOIN bench USING (ngram)
  WHERE g.doc_id % 10 <> 7
  GROUP BY 1
),
tok AS (
  SELECT w.doc_id, t.j, w.ws[t.j] AS tokw
  FROM w, unnest(generate_series(1, len(w.ws))) AS t(j)
  WHERE w.doc_id % 10 <> 7
),
kept AS (
  SELECT t.doc_id, t.j, t.tokw
  FROM tok t LEFT JOIN hp USING (doc_id)
  WHERE hp.hitpos IS NULL
     OR len(list_filter(hp.hitpos,
                        p -> p <= t.j AND t.j < p + 13)) = 0
),
rebuilt AS (
  SELECT doc_id,
         array_to_string(list(tokw ORDER BY j), ' ') AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY 1
)
SELECT w.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(len(w.ws) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM w LEFT JOIN rebuilt r USING (doc_id)
WHERE w.doc_id % 10 <> 7
"""


# -- DSIR importance resampling (Xie et al. 2023) ------------------------------

_DSIR_K = 50
_DSIR_B = 64


def q_dsir_select(spark, sf_dir):
    """DSIR data selection: src0 documents play the target set (the
    paper's Wikipedia); the top-50 most-target-like raw docs win by
    hashed unigram+bigram importance weight. Scale shape: the bucket
    log-ratio model is B=64 rows broadcast into a map-side scoring
    join; only the per-doc sum shuffles."""
    d = _docs(spark, sf_dir)
    return co.dsir_select(
        d, F.col("source") == "src0", k=_DSIR_K, n_buckets=_DSIR_B
    )


SQL_DSIR_SELECT = r"""
WITH ws AS (
  SELECT doc_id,
         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
g0 AS (
  SELECT doc_id, is_t,
         unnest(CASE WHEN len(ws) >= 2
                     THEN list_concat(
                       ws,
                       list_transform(generate_series(1, len(ws) - 1),
                                      i -> ws[i] || ' ' || ws[i + 1]))
                     ELSE ws END) AS gram
  FROM ws WHERE len(ws) >= 1
),
g AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(gram), 1, 15))::UBIGINT % 64 AS b
  FROM g0
),
bs AS (SELECT b, sum(is_t) AS ct, sum(1 - is_t) AS cr FROM g GROUP BY 1),
tot AS (SELECT sum(ct) AS tott, sum(cr) AS totr FROM bs),
ratio AS (
  SELECT b, round(ln(((ct + 1.0) * (totr + 64.0))
                     / ((cr + 1.0) * (tott + 64.0))), 9) AS logr
  FROM bs CROSS JOIN tot
),
lw AS (
  SELECT g.doc_id, min(is_t) AS is_target, count(*) AS n_grams,
         round(sum(r.logr), 6) AS log_w
  FROM g JOIN ratio r USING (b) GROUP BY 1
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, log_w,
       log_w AS score
FROM lw WHERE is_target = 0
ORDER BY score DESC, doc_id
LIMIT 50
"""


# -- per-domain quota subsampling (RefinedWeb-style caps) ----------------------


def q_domain_cap(spark, sf_dir):
    """Per-domain sqrt-quota caps: each source keeps at most
    ceil(8*sqrt(n)) docs via an all-integer hash threshold; verified
    by the per-source kept counts plus the quota/threshold audit
    columns. One tiny agg + broadcast + map filter."""
    d = _docs(spark, sf_dir)
    kept = co.domain_cap(d, quota_scale=8)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("cap_quota").cast("long").alias("cap_quota"),
        F.min("cap_threshold").cast("long").alias("cap_threshold"),
    )


SQL_DOMAIN_CAP = """
WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
t AS (
  SELECT source, n_src,
         least(n_src, CAST(ceil(8.0 * sqrt(n_src)) AS BIGINT)) AS cap_quota
  FROM c
),
thr AS (
  SELECT source, n_src, cap_quota,
         (cap_quota * 1000000) // n_src AS cap_threshold
  FROM t
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(thr.cap_quota) AS BIGINT) AS cap_quota,
       CAST(min(thr.cap_threshold) AS BIGINT) AS cap_threshold
FROM documents d JOIN thr ON d.source = thr.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
      % 1000000 < thr.cap_threshold
GROUP BY 1
"""


# -- BPE tokenizer training (Sennrich et al. 2016; iterative, unrolled) -------
#
# Second hash-checked iterative trainer (after kmeans_clusters): every
# round's argmax pair is integer-count + binary-collation tie-break, so
# the oracle UNROLLS the same rounds — pair count agg, argmax LIMIT 1,
# and the greedy left-to-right merge APPLIED as a recursive CTE that
# walks each word's symbols carrying the output list.

_BPE_ITERS = 3
_BPE_TOP = 100


def q_bpe_segment(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return co.bpe_segment(d, iters=_BPE_ITERS, top_words=_BPE_TOP)


def _bpe_round_sql(n: int, prev: str) -> str:
    """One unrolled BPE round over symbol table ``prev``: weighted
    adjacent-pair counts, argmax with (cnt DESC, l, r) tie-break, then
    the same greedy last-element merge bpe_train's aggregate HOF does,
    expressed as a per-word recursive walk."""
    return f"""
p{n} AS (
  SELECT l, r, sum(freq) AS cnt FROM (
    SELECT freq, syms[i] AS l, syms[i + 1] AS r
    FROM (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
          FROM {prev} WHERE len(syms) >= 2)
  ) GROUP BY 1, 2
),
b{n} AS (SELECT l, r, l || r AS m FROM p{n} ORDER BY cnt DESC, l, r LIMIT 1),
a{n} AS (
  SELECT word, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS out FROM {prev}
  UNION ALL
  SELECT a.word, a.freq, a.syms, a.i + 1,
         CASE WHEN len(a.out) > 0 AND a.out[-1] = b.l AND a.syms[a.i] = b.r
              THEN list_append(a.out[1:len(a.out) - 1], b.m)
              ELSE list_append(a.out, a.syms[a.i]) END
  FROM a{n} a, b{n} b WHERE a.i <= len(a.syms)
),
s{n} AS (SELECT word, freq, out AS syms FROM a{n} WHERE i = len(syms) + 1)"""


SQL_BPE_SEGMENT = (
    r"""
WITH RECURSIVE wf AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY 1
),
s0 AS (
  SELECT word, freq,
         list_transform(generate_series(1, length(word)), i -> word[i])
             AS syms
  FROM wf
),"""
    + ",".join(_bpe_round_sql(n + 1, f"s{n}") for n in range(_BPE_ITERS))
    + f"""
SELECT word, CAST(freq AS BIGINT) AS freq,
       array_to_string(syms, ' ') AS seg
FROM s{_BPE_ITERS}
ORDER BY freq DESC, word
LIMIT {_BPE_TOP}
"""
)


def q_char_entropy(spark, sf_dir):
    """Character-entropy gibberish signal: per-row HOF arithmetic only
    — zero shuffles, zero Python, scan-speed at any corpus size."""
    d = _docs(spark, sf_dir)
    return co.char_entropy(d)


SQL_CHAR_ENTROPY = """
WITH cs AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(text)), i -> text[i])
             AS cs
  FROM documents WHERE text IS NOT NULL AND length(text) >= 1
)
SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_chars,
       round(log2(len(cs)) -
             list_sum(list_transform(
               list_sort(list_distinct(cs)),
               c -> round(len(list_filter(cs, x -> x = c))
                          * log2(len(list_filter(cs, x -> x = c))), 9)))
             / len(cs), 6) AS entropy_bits
FROM cs
"""


def q_bpe_tokens(spark, sf_dir):
    """Apply side of the BPE trainer: tokenize the corpus with the
    learned merges (vocabulary-sized segmentation table BROADCAST into
    the exploded word stream — the corpus never shuffles to be
    tokenized) and report the top-20 subwords by frequency."""
    d = _docs(spark, sf_dir)
    return (
        co.bpe_encode(d, iters=_BPE_ITERS)
        .groupBy("subword")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "subword")
        .limit(20)
    )


SQL_BPE_TOKENS = (
    r"""
WITH RECURSIVE wf AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY 1
),
s0 AS (
  SELECT word, freq,
         list_transform(generate_series(1, length(word)), i -> word[i])
             AS syms
  FROM wf
),"""
    + ",".join(_bpe_round_sql(n + 1, f"s{n}") for n in range(_BPE_ITERS))
    + f"""
SELECT subword, CAST(sum(freq) AS BIGINT) AS n
FROM (SELECT freq, unnest(syms) AS subword FROM s{_BPE_ITERS})
GROUP BY 1 ORDER BY n DESC, subword LIMIT 20
"""
)


def q_bpe_fertility(spark, sf_dir):
    """Tokenizer-fertility report per language: integer counts +
    milli-ratios from the globally-trained merges; (lang, word) agg +
    broadcast vocab join + tiny per-lang agg."""
    d = _docs(spark, sf_dir)
    return co.bpe_fertility(d, iters=_BPE_ITERS)


SQL_BPE_FERTILITY = (
    r"""
WITH RECURSIVE wf AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY 1
),
s0 AS (
  SELECT word, freq,
         list_transform(generate_series(1, length(word)), i -> word[i])
             AS syms
  FROM wf
),"""
    + ",".join(_bpe_round_sql(n + 1, f"s{n}") for n in range(_BPE_ITERS))
    + f""",
wl AS (
  SELECT lang, word, count(*) AS freq FROM (
    SELECT lang,
           unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY 1, 2
),
rep AS (
  SELECT wl.lang,
         CAST(sum(wl.freq) AS BIGINT) AS n_words,
         CAST(sum(wl.freq * len(s.syms)) AS BIGINT) AS n_subwords,
         CAST(sum(wl.freq * length(wl.word)) AS BIGINT) AS n_chars
  FROM wl JOIN s{_BPE_ITERS} s USING (word)
  GROUP BY 1
)
SELECT lang, n_words, n_subwords, n_chars,
       CAST((1000 * n_subwords) // n_words AS BIGINT)
           AS fertility_milli,
       CAST((1000 * n_chars) // n_subwords AS BIGINT)
           AS chars_per_subword_milli
FROM rep
"""
)


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample: 40 documents drawn without
    replacement with probability proportional to length — longer docs
    win more slots, deterministically. Map-side score + TakeOrdered."""
    d = _docs(spark, sf_dir)
    return sampling.weighted_sample(d, "n_chars", k=40).select(
        "doc_id", "n_chars", "score"
    )


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars,
       round(-ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#w7'),
                                   1, 15))::UBIGINT % 1000000)::DOUBLE
                  + 0.5) / 1000000.0)
             / CAST(n_chars AS DOUBLE), 9) AS score
FROM documents WHERE n_chars > 0
ORDER BY score, doc_id
LIMIT 40
"""


# -- BM25 sparse retrieval ----------------------------------------------------
# The retrieval stage of retrieval-based decontamination / hard-negative
# mining: Okapi BM25 (Lucene idf form) over the whitespace-token corpus.
# Spark side: functions/retrieval.py — ONE stats agg (N, sum_dl, per-term
# df via array_contains, no explode), then a map-side scoring scan and a
# TakeOrderedAndProject top-k per query. Oracle: the same arithmetic with
# every float derived from the same exact integers, idf and per-term
# scores rounded to 9 dp, terms summed in sorted order, score to 6 dp,
# ranking by (rounded score DESC, doc_id).

_BM25_QUERIES = {
    "q1": ["hash", "spark", "window"],
    "q2": ["merge", "vector"],
}
_BM25_K = 10


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 docs per query. Stats = one agg row; scoring is
    whole-stage-codegen per-row HOF arithmetic; top-k = per-partition
    heaps (TakeOrderedAndProject), never a window on query_id."""
    from .functions import retrieval

    d = _docs(spark, sf_dir)
    return retrieval.bm25_topk(d, _BM25_QUERIES, k=_BM25_K)


def _bm25_term_sql(term: str) -> str:
    """One term's score contribution — the exact double-arithmetic
    shape of retrieval._term_score (pre-folded k1/b constants, dl/avgdl
    as dl*N/sum_dl)."""
    t = term.replace("'", "''")
    tf = f"len(list_filter(t, x -> x = '{t}'))::DOUBLE"
    idf = (
        f"round(ln(((n - df_{term})::DOUBLE + 0.5) / "
        f"(df_{term}::DOUBLE + 0.5) + 1.0), 9)"
    )
    return (
        f"round({idf} * (2.2::DOUBLE * {tf}) / ({tf} + 0.3::DOUBLE + "
        f"0.9::DOUBLE * dl * nd / sumdl), 9)"
    )


def _sql_bm25_topk() -> str:
    all_terms = sorted({t for ts in _BM25_QUERIES.values() for t in ts})
    dfs = ",\n         ".join(
        f"sum(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{t}"
        for t in all_terms
    )
    branches = []
    for qid in sorted(_BM25_QUERIES):
        score = " + ".join(
            _bm25_term_sql(t) for t in sorted(set(_BM25_QUERIES[qid]))
        )
        branches.append(
            f"""SELECT * FROM (
  SELECT '{qid}' AS query_id, doc_id, score FROM (
    SELECT doc_id, round({score}, 6) AS score
    FROM toks, stats
  ) WHERE score > 0 ORDER BY score DESC, doc_id LIMIT {_BM25_K}
)"""
        )
    return (
        r"""WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS t,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> ''))::DOUBLE AS dl
  FROM documents
),
stats AS (
  SELECT count(*) AS n, count(*)::DOUBLE AS nd,
         sum(len(t))::DOUBLE AS sumdl,
         """
        + dfs
        + "\n  FROM toks\n)\n"
        + "\nUNION ALL\n".join(branches)
    )


# -- Bloom-filter join pre-filtering --------------------------------------------

_BLOOM_NATION = 3


def q_bloom_join_stats(spark, sf_dir):
    """Bloom pre-filtered join audit: customers of one nation (the
    small side) summarized into a deterministic 1024-bit Bloom filter;
    orders (the big side) filtered at scan speed before the exact
    join. Soundness (no false negatives) shows as n_match identical to
    the plain join's; the filter's job is that only n_pass rows — not
    the whole big side — ever reach the exchange. One audit row:
    (n_keys, m_bits, n_pass, n_match, n_false_pos)."""
    from .functions import bloomjoin as bj

    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_nationkey") == _BLOOM_NATION)
        .select("c_custkey")
        .distinct()
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_custkey")
    bloom = bj.build_bloom(cust, "c_custkey")
    n_keys = cust.count()
    passed = orders.filter(bj.bloom_contains(F.col("o_custkey"), bloom))
    joined = passed.join(
        F.broadcast(cust),
        passed["o_custkey"] == cust["c_custkey"],
        "left",
    )
    return joined.agg(
        F.lit(n_keys).cast("long").alias("n_keys"),
        F.lit(bj.BLOOM_M_BITS).cast("int").alias("m_bits"),
        F.count("*").alias("n_pass"),
        F.count("c_custkey").alias("n_match"),
        (F.count("*") - F.count("c_custkey")).alias("n_false_pos"),
    )


def _sql_bloom_join_stats() -> str:
    m = 1024

    def pos(j: int, k: str) -> str:
        return (
            f"(('0x' || substr(md5('{j}:' || CAST({k} AS VARCHAR)), 1, 15))"
            f"::UBIGINT % {m})"
        )

    probe_pass = " AND ".join(
        f"{pos(j, 'o_custkey')} IN (SELECT p FROM pos)" for j in range(3)
    )
    key_pos = ", ".join(pos(j, "k") for j in range(3))
    return f"""
WITH keys AS (
  SELECT DISTINCT c_custkey AS k FROM customer
  WHERE c_nationkey = {_BLOOM_NATION}
),
pos AS (
  SELECT DISTINCT unnest([{key_pos}]) AS p FROM keys
),
probe AS (
  SELECT o_custkey, ({probe_pass}) AS pass FROM orders
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
       CAST({m} AS INT) AS m_bits,
       CAST(count(*) FILTER (WHERE pass) AS BIGINT) AS n_pass,
       CAST(count(*) FILTER (WHERE o_custkey IN (SELECT k FROM keys))
            AS BIGINT) AS n_match,
       CAST(count(*) FILTER (WHERE pass)
            - count(*) FILTER (WHERE o_custkey IN (SELECT k FROM keys))
            AS BIGINT) AS n_false_pos
FROM probe
"""


# -- hybrid retrieval: reciprocal-rank fusion ----------------------------------
# Fuse the BM25 sparse ranking with a dense cosine ranking per query —
# the standard hybrid-search combiner (RRF, Cormack et al. 2009). The
# dense probe for each query id is a fixed embedding row; doc_id and
# vec_id share the id space (the embedding OF document i is row i).

_RRF_PROBES = {"q1": 11, "q2": 23}


def q_rrf_fusion(spark, sf_dir):
    """Dense+sparse hybrid retrieval fused by reciprocal rank: both
    sides produce bounded top-k candidate lists (TakeOrdered heaps /
    per-query windows over k rows), and the fusion is a hash-agg plus
    a per-query window over <= 2k candidate rows — never data-sized."""
    from .functions import retrieval

    d = _docs(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sparse = retrieval.bm25_topk(d, _BM25_QUERIES, k=_BM25_K)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    sparse_r = sparse.withColumn("rank", F.row_number().over(w)).drop("score")
    probes = emb.filter(F.col("vec_id").isin(*_RRF_PROBES.values()))
    dense = sim.cosine_topk(emb, k=_BM25_K, queries=probes)
    qid = None
    for name, pid in sorted(_RRF_PROBES.items()):
        cond = F.col("query_id") == pid
        qid = (
            F.when(cond, F.lit(name))
            if qid is None
            else qid.when(cond, F.lit(name))
        )
    dense_r = dense.select(
        qid.cast("string").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    fused = retrieval.rrf_fuse({"dense": dense_r, "sparse": sparse_r})
    return fused.select(
        "query_id", "doc_id", "n_systems", "rrf_score", "fused_rank"
    )


def _sql_rrf_fusion() -> str:
    probe_case = " ".join(
        f"WHEN {pid} THEN '{name}'" for name, pid in sorted(_RRF_PROBES.items())
    )
    probe_ids = ", ".join(str(p) for p in sorted(_RRF_PROBES.values()))
    return f"""
WITH bm AS (SELECT * FROM ({_sql_bm25_topk()})),
bmr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM bm
),
nz AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_dot_product(embedding, embedding) > 0
),
dn AS (
  SELECT CASE q.vec_id {probe_case} END AS query_id,
         c.vec_id AS doc_id,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(q.embedding,
                                                            c.embedding) DESC,
                                     c.vec_id) AS rank
  FROM nz q JOIN nz c ON c.vec_id <> q.vec_id
  WHERE q.vec_id IN ({probe_ids})
),
un AS (
  SELECT query_id, doc_id, rank FROM bmr
  UNION ALL
  SELECT query_id, doc_id, rank FROM dn WHERE rank <= {_BM25_K}
),
fused AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_systems,
         round(sum(round(1.0 / (60.0 + rank), 9)), 9) AS rrf_score
  FROM un GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_systems, rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS INT)
           AS fused_rank
FROM fused
"""


# -- end-to-end curation verdict pass ------------------------------------------
# The flagship "one call per corpus release" composition: too_short ->
# low_entropy -> repetitive -> dup -> kept, first failing rule wins.
# Inputs are doc_id-mutated so every verdict fires at sf0.01: a 3-token
# doc, an 'ab ab ...' low-entropy doc, a 12x-'spam' repetitive doc, and
# a constant sentence shared by ~1/13 of docs (one survivor, rest dup).

_CURATE_SRC_EXPR = (
    "CASE WHEN doc_id % 17 = 3 THEN 'one two three' "
    "WHEN doc_id % 17 = 5 THEN 'ab ab ab ab ab ab' "
    "WHEN doc_id % 17 = 9 THEN 'spam spam spam spam spam spam spam "
    "spam spam spam spam spam ham' "
    "WHEN doc_id % 13 = 2 THEN "
    "'the quick brown fox jumps over the lazy dog' "
    "ELSE text END"
)


def q_curate(spark, sf_dir):
    """End-to-end curation verdicts: one map-side projection computes
    every per-row gate, then one narrow exchange (id, digest, flags —
    never the text) ranks duplicate groups."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_CURATE_SRC_EXPR).alias("text")
    )
    return co.curate(d)


SQL_CURATE = rf"""
WITH src AS (
  SELECT doc_id, {_CURATE_SRC_EXPR} AS ctext FROM documents
),
feat AS (
  SELECT doc_id, ctext,
         list_filter(regexp_split_to_array(trim(ctext), '\s+'),
                     x -> x <> '') AS t,
         list_transform(generate_series(1, length(ctext)),
                        i -> ctext[i]) AS cs
  FROM src
),
flag AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         (len(t) < 5) AS f_short,
         CASE WHEN len(t) < 5 THEN FALSE ELSE
           round(log2(len(cs)) -
             list_sum(list_transform(list_sort(list_distinct(cs)),
               c -> round(len(list_filter(cs, x -> x = c))
                          * log2(len(list_filter(cs, x -> x = c))),
                     9)))
             / len(cs), 6) < 2.0 END AS f_entropy,
         (100 * (len(t) - len(list_distinct(t))) > 80 * len(t))
             AS f_rep,
         row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id)
             AS rk
  FROM feat
)
SELECT doc_id, n_tokens,
       CASE WHEN f_short THEN 'too_short'
            WHEN f_entropy THEN 'low_entropy'
            WHEN f_rep THEN 'repetitive'
            WHEN rk > 1 THEN 'dup'
            ELSE 'kept' END AS verdict
FROM flag
"""


# -- text normalization (ftfy-lite) --------------------------------------------
# Mojibake repair + NBSP/newline/control/whitespace cleanup. Messy text
# is synthesized deterministically from doc_id on top of the real text
# (mojibake digraphs, a BEL control, CRLF + runs of spaces, an NBSP) so
# every rule fires; the oracle replays the IDENTICAL replace chain,
# generated from text.MOJIBAKE_TABLE rather than transcribed by hand.

_MESSY_TEXT_EXPR = (
    "concat("
    "CASE WHEN doc_id % 3 = 0 THEN 'CafÃ©  ' ELSE '' END, "
    "CASE WHEN doc_id % 4 = 1 THEN concat('ctl', chr(7), ' ') "
    "ELSE '' END, "
    "text, "
    "CASE WHEN doc_id % 5 = 2 THEN "
    "concat('  ', chr(13), chr(10), '  tailâ€™s') "
    "ELSE '' END, "
    "CASE WHEN doc_id % 2 = 0 THEN concat(chr(160), 'nb') ELSE '' END"
    ")"
)


def q_normalize_text(spark, sf_dir):
    """ftfy-lite normalization over doc_id-synthesized messy text:
    literal-replace + regexp chain, scan-speed, zero Python."""
    from .functions import text as text_fns

    d = _docs(spark, sf_dir)
    messy = F.expr(_MESSY_TEXT_EXPR)
    return d.select(
        "doc_id",
        text_fns.normalize_text(messy).alias("norm_text"),
        (text_fns.normalize_text(messy) != messy).alias("changed"),
    )


def _sql_normalize_text() -> str:
    from .functions import text as text_fns

    out = "messy"
    for broken, fixed in text_fns.MOJIBAKE_TABLE:
        out = f"replace({out}, '{broken}', '{fixed}')"
    out = f"replace({out}, chr(160), ' ')"
    out = f"replace({out}, chr(13) || chr(10), chr(10))"
    out = f"replace({out}, chr(13), chr(10))"
    out = (
        f"regexp_replace({out}, "
        r"'[\x00-\x08\x0B-\x1F\x7F]', '', 'g')"
    )
    out = rf"regexp_replace({out}, '[ \t]+', ' ', 'g')"
    out = rf"regexp_replace({out}, ' *\n *', chr(10), 'g')"
    out = f"trim({out})"
    return f"""
WITH m AS (
  SELECT doc_id, {_MESSY_TEXT_EXPR} AS messy FROM documents
)
SELECT doc_id, {out} AS norm_text,
       ({out} <> messy) AS changed
FROM m
"""


# -- token-budget mixture planner ----------------------------------------------
# The Llama/DoReMi data-recipe table: per-source epoch/repeat factors
# for a token budget, all-integer (floor-div + ceil-div + caps) so the
# plan hashes identically across engines. One corpus agg + broadcast
# recipe join.

_BUDGET_WEIGHTS = {
    "src0": 300,
    "src1": 200,
    "src2": 200,
    "src3": 150,
    "src4": 150,
}
_BUDGET_TOKENS = 40_000
_BUDGET_MAX_EPOCHS_MILLI = 4000


def q_token_budget(spark, sf_dir):
    """Token-budget mixture plan over the 5-source recipe: some sources
    hit the 4-epoch repeat ceiling (deficit > 0), others fit."""
    d = _docs(spark, sf_dir)
    return co.token_budget_plan(
        d,
        _BUDGET_WEIGHTS,
        budget_tokens=_BUDGET_TOKENS,
        max_epochs_milli=_BUDGET_MAX_EPOCHS_MILLI,
    )


def _sql_token_budget() -> str:
    wtot = sum(_BUDGET_WEIGHTS.values())
    vals = ", ".join(
        f"('{s}', {w})" for s, w in sorted(_BUDGET_WEIGHTS.items())
    )
    b, m = _BUDGET_TOKENS, _BUDGET_MAX_EPOCHS_MILLI
    return rf"""
WITH have AS (
  SELECT source,
         CAST(sum(len(list_filter(regexp_split_to_array(trim(text),
              '\s+'), x -> x <> ''))) AS BIGINT) AS have_tokens
  FROM documents GROUP BY source
),
w(source, weight) AS (VALUES {vals}),
j AS (
  SELECT h.source, h.have_tokens, CAST(w.weight AS BIGINT) AS weight,
         CAST(({b} * w.weight) // {wtot} AS BIGINT) AS need_tokens
  FROM have h JOIN w USING (source)
)
SELECT source, have_tokens, weight, need_tokens,
       CAST(CASE WHEN have_tokens = 0 THEN 0
            ELSE least({m}, (1000 * need_tokens + have_tokens - 1)
                            // have_tokens) END AS BIGINT)
           AS epochs_milli,
       CAST(CASE WHEN have_tokens = 0 THEN 0
            ELSE least(need_tokens, (have_tokens * {m}) // 1000) END
           AS BIGINT) AS planned_tokens,
       CAST(need_tokens - (CASE WHEN have_tokens = 0 THEN 0
            ELSE least(need_tokens, (have_tokens * {m}) // 1000) END)
           AS BIGINT) AS deficit_tokens
FROM j
"""


# -- URL canonicalization + blocklist filter ----------------------------------
# RefinedWeb/CCNet stage-1: canonicalize the URL (lowercase scheme+host,
# strip default port / fragment / tracking params), extract the
# registered domain, drop blocklisted domains via a BROADCAST left-anti
# join. URLs are synthesized deterministically from doc_id (the
# mime_from_url pattern) so every rule fires: mixed-case hosts, both
# default ports, utm/fbclid params in first/middle/only positions,
# fragments.

_MESSY_URL_EXPR = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END, "
    "'WWW.Site.Example', CAST(doc_id % 7 AS STRING), '.COM', "
    "CASE WHEN doc_id % 5 = 2 THEN "
    "(CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) "
    "ELSE '' END, "
    "'/p/', CAST(doc_id AS STRING), "
    "CASE WHEN doc_id % 4 = 1 THEN "
    "concat('?utm_source=x&id=', CAST(doc_id AS STRING)) "
    "WHEN doc_id % 4 = 2 THEN "
    "concat('?id=', CAST(doc_id AS STRING), '&utm_campaign=y') "
    "WHEN doc_id % 4 = 3 THEN '?utm_medium=z' ELSE '' END, "
    "CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END)"
)

_BLOCKED_DOMAINS = ("example2.com", "example5.com")


def q_url_filter(spark, sf_dir):
    """URL blocklist filter: canonicalize -> registered domain ->
    broadcast left-anti against the blocklist. Corpus-side work is one
    codegen'd expression chain; the corpus never shuffles."""
    from .functions import urls

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_MESSY_URL_EXPR).alias("url")
    )
    blocked = spark.createDataFrame(
        [(b,) for b in _BLOCKED_DOMAINS], "domain string"
    )
    out = urls.url_filter(d, blocked)
    return out.select("doc_id", "url", "canon_url", "domain")


SQL_URL_FILTER = f"""
WITH u AS (
  SELECT doc_id, {_MESSY_URL_EXPR.replace("AS STRING", "AS VARCHAR")} AS url
  FROM documents
),
c AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) AS head0,
         regexp_replace(regexp_replace(regexp_replace(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
             '#.*$', ''),
             '(utm_[a-z0-9_]*|fbclid|gclid|ref)=[^&#]*&?', '', 'g')
             AS rest2
  FROM u
),
k AS (
  SELECT doc_id, url,
         (CASE WHEN head0 LIKE 'http://%' THEN
                 regexp_replace(head0, ':80$', '')
               WHEN head0 LIKE 'https://%' THEN
                 regexp_replace(head0, ':443$', '')
               ELSE head0 END)
         || regexp_replace(rest2, '[?&]$', '') AS canon_url
  FROM c
)
SELECT doc_id, url, canon_url,
       regexp_extract(regexp_extract(canon_url,
           '^https?://([^/?#:]*)', 1), '([^.]+[.][^.]+)$', 1) AS domain
FROM k
WHERE regexp_extract(regexp_extract(canon_url,
          '^https?://([^/?#:]*)', 1), '([^.]+[.][^.]+)$', 1)
      NOT IN {_BLOCKED_DOMAINS!r}
"""


# -- interval-overlap join ------------------------------------------------------
# The range-join member of the join family: per-user "view windows"
# vs "click windows" derived deterministically from events (interval
# = [epoch(ts), epoch(ts) + floor(value*1000) + 1) seconds). Spark
# plans a bare overlap predicate as a per-key cartesian; the operator
# runs ONE (key, time-bucket) equi-join with owner-bucket dedup
# (operators/temporal.py::interval_join).

_IVJ_DUR_MULT = 1000
_IVJ_BUCKET_S = 65536


def q_interval_overlap(spark, sf_dir):
    from .operators.temporal import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    secs = F.floor(
        F.unix_millis(F.col("ts").cast("timestamp")) / F.lit(1000)
    ).cast("long")
    dur = F.floor(F.col("value") * _IVJ_DUR_MULT).cast("long")
    iv = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_id",
        "event_type",
        secs.alias("start"),
        (secs + dur + F.lit(1)).alias("end"),
    )
    views = iv.filter(F.col("event_type") == "view").drop("event_type")
    clicks = iv.filter(F.col("event_type") == "click").drop("event_type")
    out = interval_join(
        views, clicks, on="user_id", bucket_width=_IVJ_BUCKET_S
    )
    return out.select(
        "user_id",
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("click_id"),
        (
            F.least("l_end", "r_end") - F.greatest("l_start", "r_start")
        ).alias("overlap_s"),
    )


SQL_INTERVAL_OVERLAP = f"""
WITH iv AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT) AS s,
         CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT)
           + CAST(floor(value * {_IVJ_DUR_MULT}) AS BIGINT) + 1 AS e
  FROM events WHERE event_type IN ('view', 'click')
)
SELECT l.user_id, l.event_id AS view_id, r.event_id AS click_id,
       least(l.e, r.e) - greatest(l.s, r.s) AS overlap_s
FROM iv l JOIN iv r ON l.user_id = r.user_id
WHERE l.event_type = 'view' AND r.event_type = 'click'
  AND l.e > l.s AND r.e > r.s
  AND l.s < r.e AND r.s < l.e
"""


# -- regional revenue (TPC-H Q5 shape: broadcast-dim join chain) ---------------
# The multi-dim star-join member of the join family, and the only
# query whose chain touches region/nation/supplier: lineitem (the
# fact) joins orders->customer and supplier->nation->region with the
# dims broadcast — the fact table never shuffles for a dim lookup.
# Money goes through integer cents (see event_moving_stats) so the
# distributed sum is order-independent.


def q_regional_revenue(spark, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    asia_nations = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey", "n_name")
    asia_sup = supplier.join(
        F.broadcast(asia_nations),
        supplier["s_nationkey"] == asia_nations["n_nationkey"],
    ).select("s_suppkey", "n_nationkey", "n_name")
    ord_cust = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select("o_orderkey", "c_nationkey")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(ord_cust, li["l_orderkey"] == ord_cust["o_orderkey"])
        .join(
            F.broadcast(asia_sup),
            (li["l_suppkey"] == asia_sup["s_suppkey"])
            & (F.col("c_nationkey") == asia_sup["n_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REGIONAL_REVENUE = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# -- small-quantity revenue (TPC-H Q17 shape: correlated scalar subquery) ------
# The correlated-scalar-subquery member of the join family: lineitems
# whose quantity is below 20% of their part's average, revenue summed
# per brand. The per-part scalar subquery is rewritten as ONE pre-agg
# + equi-join (Catalyst's target shape — no re-aggregation per probe
# row). The 20%-of-average threshold is evaluated INTEGER-EXACTLY
# (5 * qty * n_part < sum_qty_part) so no cross-engine float-average
# boundary flip can move a row across the filter.


def q_small_qty_revenue(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    stats = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sq"),
        F.count("*").alias("nq"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(stats, on="l_partkey")
        .filter(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("nq")
            < F.col("sq")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


SQL_SMALL_QTY_REVENUE = """
WITH s AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq,
         COUNT(*) AS nq
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem l
JOIN s USING (l_partkey)
JOIN part p ON l.l_partkey = p.p_partkey
WHERE 5 * CAST(l_quantity AS BIGINT) * nq < sq
GROUP BY p_brand
"""


# -- late orders (TPC-H Q4 shape: EXISTS -> left-semi join) --------------------
# The semi-join member of the join family: orders in a quarter that
# HAVE at least one lineitem shipped > 60 days after the order date,
# counted per priority. The correlated EXISTS is expressed as ONE
# left_semi hash join (Catalyst's rewrite target for EXISTS): the
# probe side streams, no duplicate-orderkey inflation, no distinct —
# at 100 TB this is the shape that avoids materializing the exploded
# orders x lineitems match list just to count orders once.


def q_late_orders(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


SQL_LATE_ORDERS = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# -- CCNet line-level dedup (corpus-wide boilerplate removal) ------------------
# The documents table is single-line word soup with no natural repeats,
# so the query PLANTS deterministic boilerplate (a banner on every
# doc_id divisible by 3, a footer on every divisible by 5 — identical
# construction in both engines, the corpus-embedding pattern the
# pipeline queries use) and then proves line_dedup strips exactly the
# planted lines corpus-wide while preserving original prose and order.

_LD_BANNER = "subscribe to our newsletter"
_LD_FOOTER = "copyright 2026 example corp"


def q_line_dedup(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    num = F.col("doc_id").cast("long")
    staged = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(num % 3 == 0, F.lit(_LD_BANNER)),
            F.col("text"),
            F.when(num % 5 == 0, F.lit(_LD_FOOTER)),
        ).alias("text"),
    )
    out = dd.line_dedup(staged, min_count=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("text").alias("kept_md5"),
    )


SQL_LINE_DEDUP = f"""
WITH staged AS (
  SELECT doc_id,
         concat_ws(chr(10),
           CASE WHEN num % 3 = 0 THEN '{_LD_BANNER}' END,
           text,
           CASE WHEN num % 5 = 0 THEN '{_LD_FOOTER}' END) AS text
  FROM (SELECT doc_id, text, CAST(doc_id AS BIGINT) AS num
        FROM documents)
),
lines AS (
  SELECT doc_id, i AS pos, ls[i] AS line, lower(trim(ls[i])) AS norm
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
               unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
        FROM staged)
),
flagged AS (
  SELECT norm FROM lines WHERE norm != ''
  GROUP BY norm HAVING count(*) >= 2
),
kept AS (
  SELECT l.* FROM lines l LEFT JOIN flagged f USING (norm)
  WHERE f.norm IS NULL
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, t.n_lines, COALESCE(r.n_kept, 0) AS n_kept,
       md5(COALESCE(r.text, '')) AS kept_md5
FROM tot t LEFT JOIN reb r USING (doc_id)
"""


# -- embedding gram matrix (distributed PCA reduction) -------------------------
# The dense-linear-algebra reduction a whitening/PCA pass over an
# embedding corpus needs: sum_n x_n x_n^T, computed as ONE int64
# matmul per Arrow batch inside mapInPandas (no per-row Python), so
# the shuffle carries D(D+1)/2 partial rows per batch — 2,080 numbers
# for D=64 — never the vectors. Quantization to round(v*1e6) int64
# happens JVM-side (the money-in-cents trick), making the sum exact
# and order-independent: the property the cross-engine oracle needs.


def q_embedding_gram(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.gram_matrix(emb, vec_col="embedding", scale=1_000_000)


SQL_EMBEDDING_GRAM = """
WITH q AS (
  SELECT list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
ij AS (
  SELECT qe, i, unnest(generate_series(i, len(qe))) AS j
  FROM (SELECT qe, unnest(generate_series(1, len(qe))) AS i FROM q)
)
SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
       CAST(sum(qe[i] * qe[j]) AS BIGINT) AS gram
FROM ij
GROUP BY i, j
"""


# -- PageRank (integer-exact Pregel rounds) ------------------------------------
# Domain-authority scoring over the customer<->supplier trade graph
# (distinct (o_custkey, l_suppkey) pairs, symmetrized so no node
# dangles). Integer fixed-point arithmetic makes the distributed sum
# order-independent and therefore oracle-hashable; see
# functions/graph.py for the recurrence and the scale shape.

_PR_ITERATIONS = 4


def q_pagerank_trade(spark, sf_dir):
    from .functions.graph import pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iterations=_PR_ITERATIONS)


def _sql_pagerank_trade() -> str:
    from .functions.graph import PR_SCALE

    head = f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
p AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST((15 * {PR_SCALE}) // (100 * count(*)) AS BIGINT) AS base,
         CAST({PR_SCALE} // count(*) AS BIGINT) AS r_init
  FROM nodes
),
r0 AS (SELECT node, (SELECT r_init FROM p) AS rank_fp FROM nodes)"""
    step = """,
r{i} AS (
  SELECT n.node,
         (SELECT base FROM p) + COALESCE(s.contrib, 0) AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((85 * r.rank_fp) // (100 * d.outdeg)) AS BIGINT) AS contrib
    FROM edges e
    JOIN r{prev} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
    body = "".join(
        step.format(i=i, prev=i - 1) for i in range(1, _PR_ITERATIONS + 1)
    )
    return (
        head
        + body
        + f"\nSELECT node, CAST(rank_fp AS BIGINT) AS rank_fp"
        f" FROM r{_PR_ITERATIONS}\n"
    )


# -- entity-resolution fuzzy dedup ---------------------------------------------
# The classic ER pipeline over dirty short keys (merchant names, the
# surface the reference normalizes via exact extension->MIME lookup —
# ModelsTests.cs exercises only exact keys; this is the fuzzy twin):
# exact dedup first (hash-groupBy to distinct representatives), then
# BLOCKED candidate generation (lowercased prefix x length bucket) and
# exact Levenshtein verification on candidates only. Sub-quadratic at
# 100 TB because block-key cardinality grows with the data.


def q_fuzzy_pairs(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    reps = part.groupBy(F.lower(F.col("p_name")).alias("name")).agg(
        F.min("p_partkey").alias("rep_id")
    )
    return dd.fuzzy_pairs(
        reps, id_col="rep_id", text_col="name", max_dist=3, min_dist=1
    )


SQL_FUZZY_PAIRS = """
WITH reps AS (
  SELECT min(p_partkey) AS id, lower(p_name) AS txt
  FROM part GROUP BY lower(p_name)
),
base AS (
  SELECT id, txt, substring(txt, 1, 3) AS pfx,
         CAST(floor(length(txt) / 4) AS INT) AS lb
  FROM reps
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.txt, b.txt) AS INT) AS dist
FROM base a JOIN base b
  ON a.pfx = b.pfx AND abs(a.lb - b.lb) <= 1 AND a.id < b.id
WHERE abs(length(a.txt) - length(b.txt)) <= 3
  AND levenshtein(a.txt, b.txt) BETWEEN 1 AND 3
"""


# -- Matryoshka-truncated retrieval --------------------------------------------
# Kusupati et al. 2022: rank by cosine over only the first D' coords of
# an MRL-trained embedding — the cheap first pass of a two-stage
# retrieval cascade (full-dim or SRP/IVF re-ranks the shortlist).
# Truncation is a plan-side slice, so the shuffled bytes drop 4x for
# dims=16 over D=64 with zero Python.


def q_matryoshka_top3(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.matryoshka_topk(emb, dims=16, k=3)
    return out.select("query_id", "neighbor_id", "rank")


SQL_MATRYOSHKA_TOP3 = """
WITH cut AS (
  SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS emb FROM embeddings
),
nz AS (
  SELECT vec_id, emb FROM cut WHERE list_dot_product(emb, emb) > 0
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.emb, b.emb) AS sim
  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


# Matryoshka ADAPTIVE retrieval (the deployed two-stage cascade):
# truncated-prefix LSH shortlist, full-dim rerank. No cartesian
# product anywhere in the plan — this is the head-checked form;
# matryoshka_top3 (exact truncated all-pairs) stays tail-gated as the
# baseline the shortlist recall is measured against in pytest.
_MAT_DIMS = 16
_MAT_BITS = 4
_MAT_SHORTLIST = 10
_MAT_SEED = 42


def q_matryoshka_rerank_top3(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.matryoshka_rerank_topk(
        emb,
        dims=_MAT_DIMS,
        k=3,
        shortlist_k=_MAT_SHORTLIST,
        bits=_MAT_BITS,
        seed=_MAT_SEED,
    )
    return out.select("query_id", "neighbor_id", "rank")


def _sql_matryoshka_rerank_top3() -> str:
    """Brute recompute of the cascade spec: shortlist = top-10 by
    truncated cosine among SAME-SRP-BUCKET pairs (signature over the
    unit truncated vector, same planes as Spark via literal
    injection), rerank = full-dim cosine over the shortlist."""
    terms = _sql_srp_sig_terms_for(_MAT_DIMS, _MAT_BITS, _MAT_SEED)
    return f"""
WITH nzf AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings
),
cut AS (
  SELECT vec_id, fv, fv[1:{_MAT_DIMS}] AS cv FROM nzf
  WHERE list_dot_product(fv[1:{_MAT_DIMS}], fv[1:{_MAT_DIMS}]) > 0
),
cu AS (
  SELECT vec_id,
         list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS emb
  FROM cut
),
sig AS (SELECT vec_id, emb, ({terms}) AS sig FROM cu),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY list_dot_product(a.emb, b.emb) DESC,
                                       b.vec_id) AS rn
    FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id
  ) WHERE rn <= {_MAT_SHORTLIST}
),
fu AS (
  SELECT vec_id,
         list_transform(fv, x -> x / sqrt(list_dot_product(fv, fv))) AS u
  FROM nzf WHERE list_dot_product(fv, fv) > 0
),
rr AS (
  SELECT s.query_id, s.neighbor_id,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY list_dot_product(q.u, n.u) DESC,
                                     s.neighbor_id) AS rank
  FROM short s
  JOIN fu q ON q.vec_id = s.query_id
  JOIN fu n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM rr WHERE rank <= 3
"""


# -- inverted index build ------------------------------------------------------
# Lucene's postings materialized as a table: distinct (doc, term)
# map-side, ONE term-partitioned agg -> (term, df, sorted posting
# array). min_df prunes the hapax tail; max_df_milli is the stopword
# cut AND the hot-key cap (the biggest reduce key is the hottest term).
#
# Oracle contract: the library keeps the posting list as a real
# array<string> (the IR artifact downstream joins consume); the
# REGISTERED query serializes it with array_join — the driver
# canonicalizes results by pandas sort_values over raw columns, and
# list-typed cells are unhashable there (the r4 `unhashable type:
# 'list'` failure). tests/test_query_contract.py pins the rule.


def q_postings_index(spark, sf_dir):
    from .functions.retrieval import build_postings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = build_postings(docs, min_df=5, max_df_milli=810)
    return idx.withColumn("postings", F.array_join("postings", " "))


SQL_POSTINGS_INDEX = r"""
WITH t AS (
  SELECT DISTINCT doc_id AS d, term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
  ) WHERE term <> ''
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
posts AS (
  SELECT term, count(*) AS df,
         array_to_string(list(d ORDER BY d), ' ') AS postings
  FROM t GROUP BY term
)
SELECT term, df, postings FROM posts, n
WHERE df >= 5 AND df * 1000 <= 810 * n_docs
"""


# -- k-anonymity release -------------------------------------------------------
# Sweeney 2002: every released row's quasi-identifier combination
# covers >= k rows; smaller equivalence classes are suppressed by
# absence (identifiers never appear in the output at all). One class
# hash-agg + one key join.


def q_customer_kanon(spark, sf_dir):
    from .functions.privacy import k_anonymize

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return k_anonymize(
        cust,
        quasi={
            "nation": F.col("c_nationkey"),
            "segment": F.col("c_mktsegment"),
        },
        sensitive={
            "acctbal_cents": F.round(F.col("c_acctbal") * 100).cast("long")
        },
        k=5,
    )


SQL_CUSTOMER_KANON = """
WITH g AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM customer
),
sizes AS (
  SELECT nation, segment, count(*) AS class_size FROM g GROUP BY 1, 2
  HAVING count(*) >= 5
)
SELECT g.nation, g.segment, g.acctbal_cents, s.class_size
FROM g JOIN sizes s USING (nation, segment)
"""


def q_customer_ldiv(spark, sf_dir):
    """l-diversity audit over the same release classes as
    customer_kanon: a big class with one distinct balance would pass
    k-anonymity yet disclose the balance by membership alone."""
    from .functions.privacy import l_diversity_report

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return l_diversity_report(
        cust,
        quasi={
            "nation": F.col("c_nationkey"),
            "segment": F.col("c_mktsegment"),
        },
        sensitive=F.round(F.col("c_acctbal") * 100).cast("long"),
        l=3,
    )


SQL_CUSTOMER_LDIV = """
SELECT c_nationkey AS nation, c_mktsegment AS segment,
       count(*) AS class_size,
       count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT)) AS n_sensitive,
       count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT)) >= 3 AS diverse
FROM customer
GROUP BY 1, 2
"""


# -- data-quality: profiling, constraints, robust outliers ---------------------
# The Deequ/Great-Expectations surface: per-column profile in a fixed
# number of passes, named row-rules as one projection + one tiny agg
# (errors are data, never job failures — ST6's contract applied to
# tables), and median/MAD robust outliers in doubled-integer
# arithmetic so both engines flag the identical rows.


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_profile_orders(spark, sf_dir):
    from .functions.profile import profile_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return profile_table(orders, cols=_PROFILE_COLS)


SQL_PROFILE_ORDERS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_str,
       CAST(max({c}) AS VARCHAR) AS max_str FROM orders"""
    for c in _PROFILE_COLS
)


def q_orders_checks(spark, sf_dir):
    from .functions.profile import check_constraints

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return check_constraints(
        orders,
        {
            "key_not_null": F.col("o_orderkey").isNotNull(),
            "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
            "price_positive": F.col("o_totalprice") > 0,
            "price_under_100k": F.col("o_totalprice") <= 100000,
        },
    )


SQL_ORDERS_CHECKS = """
WITH a AS (
  SELECT count(*) AS n,
    sum(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS f1,
    sum(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS f2,
    sum(CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE) THEN 1 ELSE 0 END) AS f3,
    sum(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS f4,
    sum(CASE WHEN NOT COALESCE(o_totalprice <= 100000, FALSE) THEN 1 ELSE 0 END) AS f5
  FROM orders
)
SELECT 'key_not_null' AS rule, CAST(n AS BIGINT) AS n_rows,
       CAST(f1 AS BIGINT) AS n_fail, CAST(f1 AS BIGINT) * 1000 // n AS fail_milli FROM a
UNION ALL SELECT 'status_domain', n, CAST(f2 AS BIGINT), CAST(f2 AS BIGINT) * 1000 // n FROM a
UNION ALL SELECT 'priority_format', n, CAST(f3 AS BIGINT), CAST(f3 AS BIGINT) * 1000 // n FROM a
UNION ALL SELECT 'price_positive', n, CAST(f4 AS BIGINT), CAST(f4 AS BIGINT) * 1000 // n FROM a
UNION ALL SELECT 'price_under_100k', n, CAST(f5 AS BIGINT), CAST(f5 AS BIGINT) * 1000 // n FROM a
"""


def q_doc_len_outliers(spark, sf_dir):
    from .functions.profile import mad_outliers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mad_outliers(
        docs, group_col="lang", id_col="doc_id", value_col="n_chars",
        k_milli=1500,
    )


SQL_DOC_LEN_OUTLIERS = """
WITH med AS (
  SELECT lang AS g, CAST(2 * quantile_cont(n_chars, 0.5) AS BIGINT) AS med2
  FROM documents GROUP BY 1
),
dev AS (
  SELECT d.lang AS g, d.doc_id, d.n_chars,
         abs(2 * d.n_chars - m.med2) AS a
  FROM documents d JOIN med m ON m.g = d.lang
),
mad AS (
  SELECT g, CAST(2 * quantile_cont(a, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY 1
)
SELECT dev.g AS lang, doc_id, n_chars, a AS dev2, mad4
FROM dev JOIN mad USING (g)
WHERE 2000 * a > 1500 * mad4
"""


# -- spatial neighbor join -----------------------------------------------------
# 2-D grid-cell banded join (the spatial member of the interval_join /
# simhash-band family): customers placed on a 1000x1000 integer grid by
# the seeded-md5 convention, all pairs within radius 25 via 3x3 cell
# explode + exact integer dist^2 verify. Oracle = the BRUTE-FORCE
# quadratic formulation — grid banding must reproduce it exactly
# (cell width = radius makes the 3x3 neighborhood exhaustive).


def q_customer_neighbors(spark, sf_dir):
    from .functions.sampling import hash60
    from .functions.spatial import neighbor_pairs

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    key = F.col("c_custkey").cast("string")
    pts = cust.select(
        F.col("c_custkey").alias("pid"),
        F.pmod(hash60(F.concat(key, F.lit(":x"))), F.lit(1000)).alias("x"),
        F.pmod(hash60(F.concat(key, F.lit(":y"))), F.lit(1000)).alias("y"),
    )
    return neighbor_pairs(pts, radius=25)


SQL_CUSTOMER_NEIGHBORS = """
WITH pts AS (
  SELECT c_custkey AS pid,
         CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':x'),
                    1, 15)) AS UBIGINT) % 1000 AS BIGINT) AS x,
         CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':y'),
                    1, 15)) AS UBIGINT) % 1000 AS BIGINT) AS y
  FROM customer
)
SELECT a.pid AS id_a, b.pid AS id_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM pts a JOIN pts b ON a.pid < b.pid
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625
"""


# -- triangle counting / clustering coefficient --------------------------------
# Suri & Vassilvitskii 2011 degree-oriented wedge join over the part
# co-occurrence graph (parts sharing >= 2 orders): out-degree bounded
# O(sqrt(m)) so no hub node becomes the "last reducer". The oracle
# enumerates the SAME triangles by the id-canonical a<b<c triple join
# — an independent formulation (orientation by degree vs by id).


def q_part_triangles(spark, sf_dir):
    from .functions.graph import triangle_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, on="o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    return triangle_stats(pairs, src="u", dst="v")


SQL_PART_TRIANGLES = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS c
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT u, v FROM pairs WHERE c >= 2),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS n FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
tc AS (SELECT n, count(*) AS t FROM corners GROUP BY 1),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
  ) GROUP BY 1
)
SELECT deg.n AS node, CAST(COALESCE(t, 0) AS BIGINT) AS triangles,
       CAST(d AS BIGINT) AS degree,
       CASE WHEN d >= 2
            THEN 2 * COALESCE(t, 0) * 1000 // (d * (d - 1))
            ELSE 0 END AS clustering_milli
FROM deg LEFT JOIN tc ON tc.n = deg.n
"""


# -- cohort retention ----------------------------------------------------------
# Daily cohorts over the event stream: users cohorted by first-activity
# day; retention in integer milli-units (float division would differ
# in the last ulp across engines). Activity reduces to DISTINCT
# (user, day) before any join — a user's 10^6 events cost one row.


def q_user_cohorts(spark, sf_dir):
    from .operators.temporal import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, period_s=86400, max_periods=10)


SQL_USER_COHORTS = """
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS p
  FROM events
),
cohorts AS (SELECT user_id, min(p) AS c FROM activity GROUP BY 1),
sizes AS (SELECT c, count(*) AS cohort_size FROM cohorts GROUP BY 1),
hits AS (
  SELECT c, CAST(a.p - c AS INT) AS k, count(*) AS n_active
  FROM activity a JOIN cohorts USING (user_id)
  WHERE a.p - c <= 10
  GROUP BY 1, 2
)
SELECT c * 86400 AS cohort_start, k AS period_offset, n_active,
       cohort_size, n_active * 1000 // cohort_size AS retention_milli
FROM hits JOIN sizes USING (c)
"""


# -- market-basket association rules -------------------------------------------
# The a-priori pair pass (Agrawal & Srikant 1994) over order->brand
# baskets: support / confidence / lift in integer milli-units. The
# self-join fans out per BASKET (bounded by max_basket), never per
# corpus; the transaction count N for lift is the post-cap population.


def q_brand_basket(spark, sf_dir):
    from .functions import basket as bk

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    tx = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(
            F.col("l_orderkey").alias("txn"), F.col("p_brand").alias("item")
        )
    )
    return bk.pair_rules(tx, min_pair_count=2)


SQL_BRAND_BASKET = """
WITH t AS (
  SELECT DISTINCT l.l_orderkey AS txn, p.p_brand AS item
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
sizes AS (
  SELECT txn, count(*) AS bs FROM t GROUP BY 1 HAVING count(*) <= 1000
),
kept AS (SELECT t.* FROM t JOIN sizes USING (txn)),
n AS (SELECT count(*) AS n_txn FROM sizes),
ic AS (SELECT item, count(*) AS c FROM kept GROUP BY 1),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_count
  FROM kept a JOIN kept b ON a.txn = b.txn AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT item_a, item_b, pair_count, ca.c AS count_a, cb.c AS count_b,
       pair_count * 1000 // ca.c AS conf_ab_milli,
       pair_count * 1000 // cb.c AS conf_ba_milli,
       pair_count * (SELECT n_txn FROM n) * 1000 // (ca.c * cb.c)
         AS lift_milli
FROM pairs
JOIN ic ca ON ca.item = pairs.item_a
JOIN ic cb ON cb.item = pairs.item_b
"""


# -- strict-order funnel (MATCH_RECOGNIZE-lite) --------------------------------
# Per-user earliest completion of signup -> view -> click -> purchase,
# each step strictly after the previous: ONE key shuffle into a
# collect_list/array_sort/aggregate-HOF fold (state = 4 longs per
# key), vs the oracle's chained min-join formulation (provably equal:
# over ts-sorted events, the first type-match strictly after the
# previous step's min IS the min such event).


_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def q_funnel_users(spark, sf_dir):
    from .operators.temporal import funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(ev, steps=_FUNNEL_STEPS)


SQL_FUNNEL_USERS = """
WITH ev AS (
  SELECT user_id, event_type AS y,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
  WHERE event_type IN ('signup', 'view', 'click', 'purchase')
),
s1 AS (SELECT user_id, min(t) AS ts_signup FROM ev WHERE y = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, min(t) AS ts_view FROM ev e JOIN s1 USING (user_id)
       WHERE y = 'view' AND t > ts_signup GROUP BY 1),
s3 AS (SELECT e.user_id, min(t) AS ts_click FROM ev e JOIN s2 USING (user_id)
       WHERE y = 'click' AND t > ts_view GROUP BY 1),
s4 AS (SELECT e.user_id, min(t) AS ts_purchase FROM ev e JOIN s3 USING (user_id)
       WHERE y = 'purchase' AND t > ts_click GROUP BY 1)
SELECT u.user_id,
       CAST((ts_signup IS NOT NULL) AS INT) + CAST((ts_view IS NOT NULL) AS INT)
       + CAST((ts_click IS NOT NULL) AS INT)
       + CAST((ts_purchase IS NOT NULL) AS INT) AS steps_completed,
       ts_signup, ts_view, ts_click, ts_purchase
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
"""


# -- SCD Type-2 dimension maintenance ------------------------------------------
# Kimball slowly-changing-dimension merge: the customer dimension's
# open versions + a batch of timestamped segment updates (derived from
# the order stream) collapse into versioned validity intervals in ONE
# key-partitioned window pass — change-detect by lag, close by lead.
# History rows never shuffle; at 10^12 rows the window sees only
# |keys| open rows + the incremental batch.


def q_scd2_customer(spark, sf_dir):
    from .operators.temporal import scd2_apply

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    current = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.to_timestamp(F.lit("1990-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    ups = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("segment"))
    return scd2_apply(current, ups, key="custkey", attrs=["segment"], ts="ts")


SQL_SCD2_CUSTOMER = """
WITH ups AS (
  SELECT o_custkey AS custkey, o_orderdate AS ts,
         arg_max(o_orderpriority, o_orderkey) AS segment
  FROM orders GROUP BY 1, 2
),
cand AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         TIMESTAMP '1990-01-01' AS valid_from, 0 AS src
  FROM customer
  UNION ALL
  SELECT custkey, segment, ts, 1 FROM ups
),
flagged AS (
  SELECT *, lag(segment) OVER (
    PARTITION BY custkey ORDER BY valid_from, src) AS prev
  FROM cand
),
kept AS (
  SELECT custkey, segment, valid_from, src FROM flagged
  WHERE prev IS NULL OR prev <> segment
)
SELECT custkey, segment, valid_from,
       lead(valid_from) OVER (
         PARTITION BY custkey ORDER BY valid_from, src) AS valid_to
FROM kept
"""


# -- time-bucket gap-fill + LOCF (hypertable regularization) -------------------
# TimescaleDB's time_bucket_gapfill + locf as a Spark composition: one
# per-(key,bucket) last-observation hash-agg, a sequence-exploded
# bucket grid per key (fan-out bounded by span/bucket, not rows), and
# a last-ignorenulls carry-forward window. Integer cents throughout so
# the result is bit-identical across engines and partitionings.


def q_event_gapfill(spark, sf_dir):
    from .operators.temporal import gapfill_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return gapfill_locf(ev, bucket_s=21600)


SQL_EVENT_GAPFILL = """
WITH obs AS (
  SELECT user_id, b, v_cents FROM (
    SELECT user_id,
           CAST(floor(epoch(ts) / 21600) AS BIGINT) AS b,
           CAST(round(value * 100) AS BIGINT) AS v_cents,
           row_number() OVER (
             PARTITION BY user_id, CAST(floor(epoch(ts) / 21600) AS BIGINT)
             ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
spans AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM obs GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b FROM spans),
j AS (
  SELECT g.user_id, g.b, o.v_cents
  FROM grid g LEFT JOIN obs o USING (user_id, b)
)
SELECT user_id, b * 21600 AS bucket_start,
       last_value(v_cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cents,
       v_cents IS NULL AS filled
FROM j
"""


# -- Johnson-Lindenstrauss random projection -----------------------------------
# Achlioptas 2003 sparse sign matrix, integer-exact (quantize -> +-1
# matmul in int64), matrix derived from the repo's seeded-md5 hash60
# convention so Spark, any cluster size, and the DuckDB oracle build
# the SAME matrix with no RNG state. One mapInPandas matmul per Arrow
# batch, zero exchanges — the data-independent companion to the
# learned Matryoshka truncation.


def q_jl_project(spark, sf_dir):
    # The library keeps proj as array<long> (downstream ANN consumes
    # it); the registered query serializes to a space-joined string so
    # the driver's pandas sort_values canonicalization can hash the
    # cell (r4: list cells are unhashable). Integer-exact, so the
    # string is bit-stable across engines and cluster sizes.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.jl_project(emb, out_dims=16, seed=7)
    return out.withColumn(
        "proj", F.array_join(F.transform("proj", lambda v: v.cast("string")), " ")
    )


SQL_JL_PROJECT = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
dj AS (
  SELECT d, j,
         CASE CAST(('0x' || substr(md5('7:' || CAST(d AS VARCHAR) || ':'
                    || CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) % 6
           WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r
  FROM (SELECT unnest(generate_series(0, (SELECT max(len(qe)) FROM q) - 1)) AS d),
       (SELECT unnest(generate_series(0, 15)) AS j)
),
cells AS (
  SELECT vec_id, j, CAST(SUM(qe[d + 1] * r) AS BIGINT) AS v
  FROM q CROSS JOIN dj
  GROUP BY vec_id, j
)
SELECT vec_id, string_agg(CAST(v AS VARCHAR), ' ' ORDER BY j) AS proj
FROM cells GROUP BY vec_id
"""


def extra_queries() -> dict[str, tuple]:
    """name -> (callable, oracle_sql | None)"""
    return {
        "text_stats": (q_text_stats, SQL_TEXT_STATS),
        "lang_id": (q_lang_id, SQL_LANG_ID),
        "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
        "repetition": (q_repetition, SQL_REPETITION),
        "pii_redact": (q_pii_redact, SQL_PII_REDACT),
        "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
        "minhash_signature": (q_minhash_signature, SQL_MINHASH_SIGNATURE),
        "lsh_candidates": (q_lsh_candidates, SQL_LSH_CANDIDATES),
        "cosine_top3": (q_cosine_top3, SQL_COSINE_TOP3),
        "near_dup_pairs": (q_near_dup_pairs, SQL_NEAR_DUP_PAIRS),
        "near_dup_srp": (q_near_dup_srp, _sql_near_dup_srp()),
        "lineitem_agg": (q_lineitem_agg, SQL_LINEITEM_AGG),
        "customer_revenue": (q_customer_revenue, SQL_CUSTOMER_REVENUE),
        "first_events": (q_first_events, SQL_FIRST_EVENTS),
        "event_gaps": (q_event_gaps, SQL_EVENT_GAPS),
        "users_except": (q_users_except, SQL_USERS_EXCEPT),
        "users_intersect": (q_users_intersect, SQL_USERS_INTERSECT),
        "event_cube": (q_event_cube, SQL_EVENT_CUBE),
        "event_pivot": (q_event_pivot, SQL_EVENT_PIVOT),
        "events_json": (q_events_json, SQL_EVENTS_JSON),
        "top_parts": (q_top_parts, SQL_TOP_PARTS),
        "explode_tokens": (q_explode_tokens, SQL_EXPLODE_TOKENS),
        "top_tokens": (q_top_tokens, SQL_TOP_TOKENS),
        "value_quantiles": (q_value_quantiles, SQL_VALUE_QUANTILES),
        "event_rollup": (q_event_rollup, SQL_EVENT_ROLLUP),
        "mime_from_url": (q_mime_from_url, SQL_MIME_FROM_URL),
        "classify_strict": (
            q_classify_strict,
            _sql_classify_strict().format(flat=_ORACLE_FLAT),
        ),
        "classify_url_fallback": (
            q_classify_url_fallback,
            _sql_classify_url_fallback().format(flat=_ORACLE_FLAT),
        ),
        "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
        "jaccard_rerank": (q_jaccard_rerank, SQL_JACCARD_RERANK),
        "simhash60": (q_simhash60, SQL_SIMHASH60),
        "simhash_near_dup": (q_simhash_near_dup, SQL_SIMHASH_NEAR_DUP),
        "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
        "asof_click_view": (q_asof_click_view, SQL_ASOF_CLICK_VIEW),
        "asof_click_view_salted": (
            q_asof_click_view_salted,
            SQL_ASOF_CLICK_VIEW,
        ),
        "user_sessions": (q_user_sessions, SQL_USER_SESSIONS),
        "session_window": (q_session_window, SQL_SESSION_WINDOW),
        "ivf_top3": (q_ivf_top3, SQL_IVF_TOP3),
        "ivf_top3_np2": (q_ivf_top3_np2, SQL_IVF_TOP3_NP2),
        "decode_image_meta": (
            q_decode_image_meta,
            _sql_decode_image_meta().format(flat=_ORACLE_FLAT),
        ),
        "resize_plan": (q_resize_plan, _sql_resize_plan().format(flat=_ORACLE_FLAT)),
        "doc_group_summary": (
            q_doc_group_summary,
            SQL_DOC_GROUP_SUMMARY.format(flat=_ORACLE_FLAT),
        ),
        "stream_running_counts": (
            q_stream_running_counts,
            SQL_STREAM_RUNNING_COUNTS.format(flat=_ORACLE_FLAT),
        ),
        "stream_dedup_hashes": (q_stream_dedup_hashes, SQL_STREAM_DEDUP_HASHES),
        "hash_split": (q_hash_split, SQL_HASH_SPLIT),
        "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
        "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
        "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
        "chunk_text": (q_chunk_text, SQL_CHUNK_TEXT),
        "bigram_counts": (q_bigram_counts, SQL_BIGRAM_COUNTS),
        "vocab_oov": (q_vocab_oov, SQL_VOCAB_OOV),
        "tfidf_top_term": (q_tfidf_top_term, SQL_TFIDF_TOP_TERM),
        "kmv_by_lang": (q_kmv_by_lang, SQL_KMV_BY_LANG),
        "mixture_sample": (q_mixture_sample, SQL_MIXTURE_SAMPLE),
        "length_curriculum": (q_length_curriculum, SQL_LENGTH_CURRICULUM),
        "kmeans_clusters": (q_kmeans_clusters, _sql_kmeans_clusters()),
        "lm_perplexity": (q_lm_perplexity, SQL_LM_PERPLEXITY),
        "block_dedup": (q_block_dedup, SQL_BLOCK_DEDUP),
        "block_dedup_apply": (q_block_dedup_apply, SQL_BLOCK_DEDUP_APPLY),
        "gopher_rep": (q_gopher_rep, SQL_GOPHER_REP),
        "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
        "decontaminate_excise": (
            q_decontaminate_excise,
            SQL_DECONTAMINATE_EXCISE,
        ),
        "semantic_dedup": (q_semantic_dedup, _sql_semantic_dedup()),
        "corpus_report": (q_corpus_report, SQL_CORPUS_REPORT),
        "length_curriculum_ntile": (
            q_length_curriculum_ntile,
            SQL_LENGTH_CURRICULUM_NTILE,
        ),
        "dedup_survivors": (
            q_dedup_survivors,
            SQL_DEDUP_SURVIVORS.format(simhash_cte=_sql_simhash_cte()),
        ),
        "quantize_embeddings": (q_quantize_embeddings, SQL_QUANTIZE_EMBEDDINGS),
        "shuffle_order": (q_shuffle_order, SQL_SHUFFLE_ORDER),
        "layout_reading_order": (
            q_layout_reading_order,
            _sql_layout_reading_order().format(flat=_ORACLE_FLAT),
        ),
        "main_content": (
            q_main_content,
            _sql_main_content().format(flat=_ORACLE_FLAT),
        ),
        "dsir_select": (q_dsir_select, SQL_DSIR_SELECT),
        "domain_cap": (q_domain_cap, SQL_DOMAIN_CAP),
        "bpe_segment": (q_bpe_segment, SQL_BPE_SEGMENT),
        "char_entropy": (q_char_entropy, SQL_CHAR_ENTROPY),
        "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
        "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
        "bm25_topk": (q_bm25_topk, _sql_bm25_topk()),
        "url_filter": (q_url_filter, SQL_URL_FILTER),
        "token_budget": (q_token_budget, _sql_token_budget()),
        "normalize_text": (q_normalize_text, _sql_normalize_text()),
        "curate": (q_curate, SQL_CURATE),
        "bpe_fertility": (q_bpe_fertility, SQL_BPE_FERTILITY),
        "incremental_dedup": (q_incremental_dedup, _sql_incremental_dedup()),
        "nb_quality": (q_nb_quality, _sql_nb_quality()),
        "contrastive_triplets": (
            q_contrastive_triplets,
            _sql_contrastive_triplets(),
        ),
        "winnow_fp": (q_winnow_fp, SQL_WINNOW_FP),
        "pq_codes": (q_pq_codes, _sql_pq_codes()),
        "pq_adc_top3": (q_pq_adc_top3, _sql_pq_adc_top3()),
        "ivfpq_top3": (q_ivfpq_top3, _sql_ivfpq_top3()),
        "hll_by_lang": (q_hll_by_lang, SQL_HLL_BY_LANG),
        "cms_token_counts": (q_cms_token_counts, _sql_cms_token_counts()),
        "containment_rerank": (q_containment_rerank, SQL_CONTAINMENT_RERANK),
        "kmv_overlap": (q_kmv_overlap, SQL_KMV_OVERLAP),
        "rrf_fusion": (q_rrf_fusion, _sql_rrf_fusion()),
        "bitext_mine": (q_bitext_mine, _sql_bitext_mine()),
        "bitext_mine_exact": (q_bitext_mine_exact, SQL_BITEXT_MINE_EXACT),
        "bmp_decode_phash": (q_bmp_decode_phash, SQL_BMP_DECODE_PHASH),
        "bitext_recall": (q_bitext_recall, _sql_bitext_recall()),
        "phash_near_dup": (
            q_phash_near_dup,
            _sql_phash_near_dup().format(flat=_ORACLE_FLAT),
        ),
        "bloom_join_stats": (q_bloom_join_stats, _sql_bloom_join_stats()),
        "srp_recall": (q_srp_recall, _sql_srp_recall()),
        "event_moving_stats": (q_event_moving_stats, SQL_EVENT_MOVING_STATS),
        "interval_overlap": (q_interval_overlap, SQL_INTERVAL_OVERLAP),
        "pagerank_trade": (q_pagerank_trade, _sql_pagerank_trade()),
        "regional_revenue": (q_regional_revenue, SQL_REGIONAL_REVENUE),
        "embedding_gram": (q_embedding_gram, SQL_EMBEDDING_GRAM),
        "line_dedup": (q_line_dedup, SQL_LINE_DEDUP),
        "late_orders": (q_late_orders, SQL_LATE_ORDERS),
        "small_qty_revenue": (q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
        "fuzzy_pairs": (q_fuzzy_pairs, SQL_FUZZY_PAIRS),
        "matryoshka_top3": (q_matryoshka_top3, SQL_MATRYOSHKA_TOP3),
        "matryoshka_rerank_top3": (
            q_matryoshka_rerank_top3,
            _sql_matryoshka_rerank_top3(),
        ),
        "jl_project": (q_jl_project, SQL_JL_PROJECT),
        "event_gapfill": (q_event_gapfill, SQL_EVENT_GAPFILL),
        "scd2_customer": (q_scd2_customer, SQL_SCD2_CUSTOMER),
        "funnel_users": (q_funnel_users, SQL_FUNNEL_USERS),
        "user_cohorts": (q_user_cohorts, SQL_USER_COHORTS),
        "brand_basket": (q_brand_basket, SQL_BRAND_BASKET),
        "part_triangles": (q_part_triangles, SQL_PART_TRIANGLES),
        "customer_neighbors": (q_customer_neighbors, SQL_CUSTOMER_NEIGHBORS),
        "profile_orders": (q_profile_orders, SQL_PROFILE_ORDERS),
        "orders_checks": (q_orders_checks, SQL_ORDERS_CHECKS),
        "doc_len_outliers": (q_doc_len_outliers, SQL_DOC_LEN_OUTLIERS),
        "postings_index": (q_postings_index, SQL_POSTINGS_INDEX),
        "customer_kanon": (q_customer_kanon, SQL_CUSTOMER_KANON),
        "customer_ldiv": (q_customer_ldiv, SQL_CUSTOMER_LDIV),
    }
