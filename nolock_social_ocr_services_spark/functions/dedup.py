"""Deduplication operators for training-data pipelines: exact
(hash-groupBy), MinHash+LSH banding, n-gram Jaccard verification, and
SimHash. Built-in expressions end to end — shingling, hashing, banding
and the candidate join all stay JVM-side, so the only shuffles are the
ones the algorithm requires (band-bucket join + final dedup agg), and
every one is on a bounded-cardinality key.

Scale notes:
  * MinHash signatures are computed per-document with ``transform`` /
    ``array_min`` over the shingle array — no explode of shingles, so
    corpus-size x shingle-count rows never materialize;
  * LSH banding explodes only ``bands`` rows per doc (b is small) and
    joins on (band_idx, band_hash) — the classic near-dup join whose key
    cardinality grows with corpus size, keeping partitions balanced;
  * candidate pairs are verified with exact Jaccard over the two
    (deduplicated) shingle arrays via ``array_intersect``/``array_union``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shingles(col: Column, k: int = 8) -> Column:
    """Distinct k-char shingle array (empty for short/NULL docs)."""
    n = F.length(col)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.when(col.isNull() | (n < k), F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(starts, lambda i: col.substr(i, F.lit(k))))
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: per hash family j, min over shingles of
    md5(j || shingle) (string min == min over a random permutation).
    Empty shingle sets get NULL signature."""
    def salted(j: int):
        # NB: must close over j via a factory — a `lambda s, j=j` default
        # arg makes the lambda binary, and pyspark's transform() would
        # then pass the ARRAY INDEX as the second argument, silently
        # replacing the hash-family salt.
        return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))

    sig = F.array(
        *[
            F.array_min(F.transform(shingle_col, salted(j)))
            for j in range(num_hashes)
        ]
    )
    return F.when(F.size(shingle_col) == 0, F.lit(None).cast("array<string>")).otherwise(sig)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: canonical row = min(id) per md5(text). Returns
    (id, text_hash, canonical_id, is_canonical). One hash-agg shuffle on
    the digest (fixed-width key, immune to giant-document skew).

    NULL text hashes to NULL, and equi-joins never match NULL keys — an
    inner join would silently DROP every NULL-text row (neither
    canonical nor duplicate). Left join + coalesce keeps each such row
    as its own canonical: content-free docs have no content to dedup
    on."""
    hashed = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")
    )
    canon = (
        hashed.filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("canonical_id"))
    )
    return (
        hashed.join(canon, on="text_hash", how="left")
        .withColumn("canonical_id", F.coalesce("canonical_id", id_col))
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    rows = (id_a, id_b) with id_a < id_b that collide in >= 1 band.
    b bands x r rows (r = num_hashes/bands): P(candidate) ~ 1-(1-s^r)^b.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(shingles(F.col(text_col), k=k), num_hashes).alias("sig"),
    ).filter(F.col("sig").isNotNull())
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws("|", *[F.col("sig")[b * r + i] for i in range(r)])
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs:
    (id_a, id_b, jaccard double). Shingle arrays are joined in (small
    per-doc payload), intersection/union computed with built-ins."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), k=k).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(a, on="id_a").join(b, on="id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        F.when(union == 0, F.lit(0.0))
        .otherwise(inter.cast("double") / union)
        .alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact shingle CONTAINMENT for candidate pairs — the asymmetric
    companion to ``jaccard_pairs``: c_a = |A∩B|/|A| ("how much of A is
    inside B"), c_b = |A∩B|/|B|. Subset-duplicates (a doc embedded
    whole inside a longer one) score near 1.0 on one side while their
    symmetric Jaccard stays low — resemblance vs containment is the
    Broder 1997 distinction, and corpus dedup wants both: Jaccard for
    mirror pages, containment for quote-expansions and wrapper pages.

    Same shape as jaccard_pairs: candidates (from the banded-LSH join)
    carry in the two per-doc distinct shingle arrays; intersection
    sizes are built-ins, so verification cost is candidates-only — the
    100-TB scale path is identical to the Jaccard rerank's."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), k=k).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(a, on="id_a").join(b, on="id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    size_a = F.size("sh_a")
    size_b = F.size("sh_b")
    return joined.select(
        "id_a",
        "id_b",
        F.when(size_a == 0, F.lit(0.0)).otherwise(inter / size_a).alias(
            "containment_a"
        ),
        F.when(size_b == 0, F.lit(0.0)).otherwise(inter / size_b).alias(
            "containment_b"
        ),
    )


def _simhash_fold(
    df: DataFrame, text_col: str, id_col: str, k: int, hash_expr: Column,
    bits: int,
) -> DataFrame:
    """Shared SimHash body (one source of truth for the vote/fold/empty
    rules both hash variants must agree on): explode shingles ->
    ``hash_expr`` over the shingle column ``sh`` -> ONE groupBy(id)
    with ``bits`` conditional vote sums (partially aggregated map-side,
    so the shuffle carries one counter row per document, not per
    shingle) -> fold the votes into a long; shingle-less docs get
    NULL."""
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(shingles(F.col(text_col), k=k)).alias("sh"),
    ).withColumn("h", hash_expr)
    votes = [
        F.sum(
            F.when(F.col("sh").isNull(), F.lit(0)).otherwise(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) != 0, F.lit(1)
                ).otherwise(F.lit(-1))
            )
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(
            F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    n_sh = F.sum(F.when(F.col("sh").isNull(), 0).otherwise(1))
    counted = exploded.groupBy("id").agg(*votes, n_sh.alias("n_sh"))
    return counted.select(
        "id",
        F.when(F.col("n_sh") == 0, F.lit(None).cast("long"))
        .otherwise(sim)
        .alias("simhash"),
    )


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 4
) -> DataFrame:
    """63-bit SimHash per document (63 keeps the value a positive long),
    xxhash64 shingle bits (JVM-side, fastest). Compare documents with
    ``hamming64``. See :func:`_simhash_fold` for the scale shape."""
    return _simhash_fold(df, text_col, id_col, k, F.xxhash64("sh"), 63)


def hamming64(a: Column, b: Column) -> Column:
    """Bit distance between two SimHash values."""
    return F.bit_count(a.bitwiseXOR(b))


SIMHASH_MD5_BITS = 60  # 15 hex chars -> fits a signed long exactly


def simhash_md5_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 4
) -> DataFrame:
    """60-bit SimHash with md5-derived shingle bits (oracle-checkable
    twin of :func:`simhash_table` — DuckDB recomputes md5 exactly,
    whereas xxhash64 has no DuckDB equivalent).

    Same scale shape and vote/fold/empty rules as :func:`simhash_table`
    via the shared :func:`_simhash_fold` body — only the per-shingle
    hash expression and the bit count differ.
    """
    return _simhash_fold(
        df,
        text_col,
        id_col,
        k,
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long"),
        SIMHASH_MD5_BITS,
    )


def simhash_near_dup(
    sim_df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_MD5_BITS,
    id_col: str = "id",
    sim_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming <= max_hamming) via banded
    SimHash join — the sub-quadratic scale path.

    Pigeonhole guarantee: the ``bits`` bit positions are partitioned
    into ``bands`` contiguous bands; a pair with hamming distance
    h <= bands - 1 has at least one band with zero differing bits, so
    joining on band equality finds EVERY such pair (requires
    max_hamming <= bands - 1, asserted). Chance band collisions only
    add candidates; the exact hamming filter removes them. The N^2
    pair space never materializes — only per-band hash-join matches do,
    and the join key (band_idx, band_bits) grows with corpus size.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding finds all pairs only up to hamming {bands - 1}; "
            f"got max_hamming={max_hamming}"
        )
    base_w = bits // bands
    extra = bits % bands  # first `extra` bands are one bit wider
    widths = [base_w + (1 if b < extra else 0) for b in range(bands)]
    offs = [sum(widths[:b]) for b in range(bands)]
    h = F.col(sim_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftright(h, offs[b])
            .bitwiseAND(F.lit((1 << widths[b]) - 1))
            .alias("band_bits"),
        )
        for b in range(bands)
    ]
    banded = (
        sim_df.filter(h.isNotNull())
        .select(
            F.col(id_col).alias("id"),
            h.alias("sh"),
            F.explode(F.array(*band_structs)).alias("band"),
        )
        .select("id", "sh", "band.band_idx", "band.band_bits")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_bits") == F.col("r.band_bits"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-duplicate pairs into connected components:
    rows = (node, label) with label = min node id reachable from node.
    Turning pairwise near-dup hits into dedup CLUSTERS is the step that
    lets a pipeline keep one canonical doc per group (reference keeps
    single docs only; this is the training-data-scale extension).

    Algorithm: iterated min-label propagation + pointer jumping
    (label <- label(label)), the classic O(log n)-round formulation
    (cf. Kiveris et al., "Connected Components in MapReduce and
    Beyond" — large-star/small-star has the same round bound; the
    propagate+jump pair is simpler and every step is a plain
    hash-partitioned DataFrame join, so AQE handles skewed hub nodes).

    Scale notes:
      * every iteration is two shuffles on the node-id key (neighbor-min
        agg + pointer-jump self-join) — bounded-width keys, no N^2;
      * ``localCheckpoint(eager=True)`` truncates lineage each round so
        the plan does not grow exponentially with iterations (on a real
        cluster with an HDFS checkpoint dir, ``checkpoint()`` gives the
        same truncation plus fault tolerance);
      * convergence is detected with a single scalar agg per round
        (order-independent ``bit_xor`` of xxhash64(node, label) — xor,
        not sum, so ANSI mode cannot overflow) — no driver-side collect
        of the membership table;
      * near-dup graphs are unions of quasi-cliques (LSH buckets), so
        the observed round count is ~2-3; pointer jumping caps even
        adversarial path graphs at O(log diameter).
    """
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    lab = (
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
    )
    prev_sig = None
    for _ in range(max_iter):
        nbr = (
            edges.join(
                lab.select(
                    F.col("node").alias("v"), F.col("label").alias("vlab")
                ),
                on="v",
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nlab"))
            .select(F.col("u").alias("node"), "nlab")
        )
        lab = lab.join(nbr, on="node", how="left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlab", "label")).alias("label"),
        )
        parent = lab.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        lab = (
            lab.join(parent, lab["label"] == parent["p_node"], "left")
            .select("node", F.coalesce("p_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        sig = lab.agg(F.expr("bit_xor(xxhash64(node, label))")).first()[0]
        if sig == prev_sig:
            break
        prev_sig = sig
    return lab


def canonical_survivors(
    docs: DataFrame, cc: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Finish the dedup story: clusters -> ONE canonical doc per
    cluster. Survivor = the cluster label itself (min reachable id —
    deterministic, so the kept set is identical across runs and cluster
    sizes); singleton docs are their own cluster and survive trivially.
    Output: (id_col = the surviving doc, n_members = cluster size).

    Scale: one broadcast-or-hash left join to label docs + one
    hash-agg on cluster_id — both key-partitioned, no fan-out. The
    n_members column is what a curation report needs to audit how much
    the corpus shrank per cluster.
    """
    labels = (
        docs.select(id_col)
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col, F.coalesce("label", F.col(id_col)).alias("cluster_id")
        )
    )
    return (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .select(F.col("cluster_id").alias(id_col), "n_members")
    )


def dedup_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 8,
) -> DataFrame:
    """Build the persisted dedup INDEX for incremental ingestion: one
    row per document, ``(doc_id, text_hash, sig)``. This is the ONLY
    state a streaming/batch ingest loop keeps about the historical
    corpus — a new batch is deduplicated against the index, never
    against the corpus text, so a 100 TB corpus costs its ingest
    pipeline only ~(16 md5 + 1 digest) per historical doc.

    Band keys are NOT stored: they are derivable from ``sig`` with one
    map-side md5 per band (see :func:`_band_keys`), so the index stays
    minimal and the band width b/r can be retuned later without a
    rebuild. At scale, persist this as a snapshot table and materialize
    the exploded band view bucketed by ``band_hash`` so the per-batch
    candidate join is shuffle-free on the index side.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("text_hash"),
        minhash_signature(shingles(F.col(text_col), k=k), num_hashes).alias("sig"),
    )


def _band_keys(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode an index/batch signature table into its LSH band-key
    rows ``(doc_id, band_idx, band_hash)`` — the same banding rule as
    :func:`minhash_lsh_candidates` (md5 over the '|'-joined band slice)
    so an index built today joins against batches banded tomorrow.
    Signature-less rows (NULL sig: shingle-less docs) emit no bands."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    return (
        sig_df.filter(F.col("sig").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.md5(
                                F.concat_ws(
                                    "|",
                                    *[F.col("sig")[b * r + i] for i in range(r)],
                                )
                            ).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        )
        .select("doc_id", "band.band_idx", "band.band_hash")
    )


def incremental_dedup(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    min_agree: int = 8,
) -> DataFrame:
    """Deduplicate a NEW batch against the persisted :func:`dedup_index`
    — the production ingest shape: the historical corpus is never
    re-scanned, only its index is joined.

    Per new document: ``exact_dup_of`` = min indexed doc with the same
    md5 digest; LSH band collision candidates are verified by MINHASH
    SIGNATURE AGREEMENT (``sig_agree`` = matching components of the two
    signatures, an unbiased Jaccard estimator scaled to 0..num_hashes)
    — verification needs no text fetch, which is what makes the index
    sufficient state. ``match_id`` = best candidate (most agreement,
    ties to the smallest id); ``verdict`` = 'exact_dup' | 'near_dup'
    (sig_agree >= min_agree) | 'unique'. NULL-text/shingle-less docs
    have nothing to match on and come back 'unique', mirroring
    :func:`exact_dedup`'s NULL rule.

    Scale (100 TB corpus, 1 TB batch): the exact join and the band
    join are both equi-joins keyed on fixed-width digests — batch-side
    rows explode only x bands; the agreement verify touches candidate
    pairs only (the LSH guarantee bounds those) and carries two
    16-element signature arrays per pair, never documents. One final
    per-new-doc agg. With the index band view bucketed by band_hash,
    the only shuffle is the batch side's.
    """
    batch = dedup_index(
        new_df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, k=k
    )
    exact = (
        batch.select("doc_id", "text_hash")
        .join(
            index.select(
                F.col("text_hash"), F.col("doc_id").alias("old_id")
            ).filter(F.col("text_hash").isNotNull()),
            on="text_hash",
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("exact_dup_of"))
    )
    nb = _band_keys(batch, num_hashes, bands)
    ob = _band_keys(index, num_hashes, bands).select(
        F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
    )
    cand = (
        nb.join(ob, on=["band_idx", "band_hash"])
        .select("doc_id", "old_id")
        .distinct()
    )
    pairs = cand.join(batch.select("doc_id", "sig"), on="doc_id").join(
        index.select(F.col("doc_id").alias("old_id"), F.col("sig").alias("osig")),
        on="old_id",
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig", "osig", lambda a, b: a == b), lambda x: x
        )
    ).cast("long")
    best = (
        pairs.select("doc_id", "old_id", agree.alias("matches"))
        .groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    (F.lit(num_hashes) - F.col("matches")).alias("miss"),
                    F.col("old_id"),
                )
            ).alias("best")
        )
        .select(
            "doc_id",
            F.col("best.old_id").alias("match_id"),
            (F.lit(num_hashes) - F.col("best.miss")).cast("long").alias("sig_agree"),
        )
    )
    return (
        batch.select("doc_id")
        .join(exact, on="doc_id", how="left")
        .join(best, on="doc_id", how="left")
        .select(
            "doc_id",
            "exact_dup_of",
            "match_id",
            "sig_agree",
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("sig_agree") >= min_agree, F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
        )
    )


def contrastive_triplets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    min_jaccard: float = 0.5,
    neg_buckets: int = 32,
    seed: str = "neg",
) -> DataFrame:
    """Mine (anchor, positive, negative) training triplets for
    contrastive embedding models (the SimCSE/DPR data-prep shape):

    * POSITIVES are verified near-duplicates — LSH band candidates
      re-ranked by exact shingle Jaccard, kept at >= ``min_jaccard``;
      each doc in a qualifying pair anchors a triplet with its best
      partner (highest Jaccard, ties to the smallest id).
    * NEGATIVES are derandomized random draws: all docs hash into
      ``neg_buckets`` buckets; an anchor in bucket b draws from bucket
      (b+1) mod B, picking the candidate minimizing
      hash60(seed:anchor:cand) — a pure function of ids, so the
      triplet set is identical across re-runs, engines, and cluster
      sizes. Exact duplicates of the anchor and the positive itself
      are excluded; anchors whose draw bucket has no eligible
      candidate keep a NULL negative (explicit, not absent).

    Scale: positives reuse the sub-quadratic banded-LSH + verify-on-
    candidates machinery above. Negative mining joins each anchor to
    exactly ONE bucket (~N/B docs); grow B with the corpus to hold the
    per-anchor candidate count constant — the join stays an equi-join
    on the bucket id and the per-anchor argmin is a bounded hash-agg.
    No cartesian anywhere.
    """
    from .sampling import hash60, hash_bucket

    jp = jaccard_pairs(
        df,
        minhash_lsh_candidates(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands, k=k
        ),
        text_col,
        id_col,
        k=k,
    ).filter(F.col("jaccard") >= min_jaccard)
    both = jp.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("positive_id"),
        "jaccard",
    ).unionByName(
        jp.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("positive_id"),
            "jaccard",
        )
    )
    best = (
        both.groupBy("anchor_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("jaccard")).alias("nj"), F.col("positive_id")
                )
            ).alias("b")
        )
        .select("anchor_id", F.col("b.positive_id").alias("positive_id"))
    )
    hashes = df.select(
        F.col(id_col).alias("cand_id"),
        F.md5(F.col(text_col)).alias("cand_hash"),
        hash_bucket(F.col(id_col), neg_buckets).alias("nb"),
    )
    anch = best.join(
        df.select(
            F.col(id_col).alias("anchor_id"),
            F.md5(F.col(text_col)).alias("a_hash"),
            ((hash_bucket(F.col(id_col), neg_buckets) + 1) % neg_buckets).alias(
                "nb"
            ),
        ),
        on="anchor_id",
    )
    negc = anch.join(hashes, on="nb").filter(
        (F.col("cand_id") != F.col("positive_id"))
        & (F.col("cand_id") != F.col("anchor_id"))
        & (F.col("cand_hash") != F.col("a_hash"))
    )
    hsel = hash60(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.col("anchor_id").cast("string"),
            F.col("cand_id").cast("string"),
        )
    )
    best_neg = (
        negc.groupBy("anchor_id", "positive_id")
        .agg(F.min(F.struct(hsel.alias("h"), F.col("cand_id"))).alias("n"))
        .select(
            "anchor_id",
            "positive_id",
            F.col("n.cand_id").alias("negative_id"),
        )
    )
    return best.join(best_neg, on=["anchor_id", "positive_id"], how="left")


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block: int = 16,
) -> DataFrame:
    """Block-quantized exact substring dedup — the distributable form of
    suffix-array substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): cut each document's token
    stream into consecutive ``block``-token blocks, hash each block's
    exact text, and mark every block whose text occurred EARLIER in the
    corpus (earlier = lexicographically smaller (doc, position)) as a
    duplicate. Output per document: (id_col, n_blocks, n_dup_blocks,
    dup_frac) — the strip/retain signal a pretraining pipeline feeds on.
    Quantization trades the suffix array's arbitrary-offset matches for
    a shape that needs no global suffix sort: matches are exact but
    block-aligned. Tokenless documents yield no blocks and no row.

    Scale (100 TB): block build is map-side (sequence/slice/md5 on the
    per-row token array); ONE hash-agg on the 128-bit digest computes
    the min owner, with map-side partial aggregation absorbing
    corpus-dominant boilerplate blocks before the exchange; the
    candidates->owner equi-join is on the same fixed-width digest (AQE
    skew-join splits any residual hot hash); the final agg is keyed on
    the document id. No window over a corpus-wide partition anywhere.
    """
    flagged = _block_flags(df, text_col, id_col, block)
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("is_dup").cast("int")).cast("long").alias("n_dup_blocks"),
        F.round(
            F.sum(F.col("is_dup").cast("int")) / F.count("*"), 6
        ).alias("dup_frac"),
    )


def _block_flags(
    df: DataFrame, text_col: str, id_col: str, block: int
) -> DataFrame:
    """Shared block builder for :func:`block_dedup` /
    :func:`block_dedup_apply`: one row per ``block``-token block with
    its text, digest, position, and the corpus-wide duplicate flag
    (earlier = lexicographically smaller (doc, position) owns the
    text). Carrying the block text costs nothing extra — the explode
    materializes it either way and the owner agg/join stay keyed on
    the fixed-width digest."""
    from .corpus_ops import words

    w = words(F.col(text_col))
    n_blocks = F.ceil(F.size(w) / F.lit(block)).cast("int")
    blocks = F.when(
        F.size(w) <= 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(F.slice(w, i * block + 1, block), " "),
        )
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(blocks).alias("block_idx", "btext")
    ).withColumn("h", F.md5("btext"))
    owner = exploded.groupBy("h").agg(
        F.min(F.struct(id_col, "block_idx")).alias("own")
    )
    return exploded.join(owner, "h").withColumn(
        "is_dup",
        ~(
            (F.col(id_col) == F.col("own")[id_col])
            & (F.col("block_idx") == F.col("own")["block_idx"])
        ),
    )


def block_dedup_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block: int = 16,
) -> DataFrame:
    """Apply the :func:`block_dedup` decision: rebuild each document's
    text with every corpus-duplicate block REMOVED (the first occurrence
    by (doc, position) is the one kept). Output: (id_col, clean_text,
    n_kept); a document whose blocks are all duplicates comes back with
    clean_text = '' and n_kept = 0, so downstream length filters drop it
    explicitly rather than it vanishing silently. Tokenless documents
    have no blocks and no row, as in block_dedup.

    Scale (100 TB): identical digest-keyed stages as block_dedup; the
    rebuild is one per-doc agg whose collect_list is bounded by a single
    document's block count (never corpus-sized), sorted in-row by
    position before joining."""
    flagged = _block_flags(df, text_col, id_col, block)
    kept = F.when(~F.col("is_dup"), F.struct("block_idx", "btext"))
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["btext"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum((~F.col("is_dup")).cast("int")).cast("long").alias("n_kept"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """CCNet-style line-level dedup (Wenzek et al. 2020, "CCNet:
    Extracting high quality monolingual datasets from web crawl
    data"): normalize each line (lower + trim), count occurrences
    CORPUS-WIDE, strip every line whose normalized form appears in
    ``min_count``+ places, and rebuild each document in original line
    order. This is the boilerplate-removal pass that deletes nav
    menus, cookie banners and share-bars, which repeat across pages
    while real prose does not.

    Returns (id, n_lines, n_kept, text) — ``text`` rebuilt from the
    surviving lines ('' when everything was boilerplate).

    Shape for scale: explode -> one hash-count agg over distinct lines
    -> a LEFT join against only the FLAGGED lines (the >= min_count
    survivors of the count agg — a tiny fraction of distinct lines,
    broadcastable once the threshold filter has run) -> ONE
    conditional-agg rebuild computing n_lines, n_kept and the
    surviving text in the same pass (collect_list skips the
    flagged-to-NULL entries). Two exchanges total; the count agg is
    map-side combinable; nothing driver-side."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.lower(F.trim(F.col("line"))))
    flagged = (
        lines.filter(F.col("norm") != "")
        .groupBy("norm")
        .count()
        .filter(F.col("count") >= min_count)
        .select("norm", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(flagged, on="norm", how="left")
    keep = F.col("_boiler").isNull()
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "p_partkey",
    text_col: str = "p_name",
    max_dist: int = 3,
    min_dist: int = 0,
    prefix: int = 3,
    len_bucket: int = 4,
) -> DataFrame:
    """Entity-resolution fuzzy dedup: near-identical short strings found
    by BLOCKING + edit-distance verification (the classic ER pipeline —
    Fellegi-Sunter blocking, as in Dedupe/JedAI; the reference's
    extension->MIME map is exact lookup, this is its fuzzy twin for
    dirty keys like merchant names, cf. ReceiptModels.cs merchant
    normalization surface).

    Candidates are generated per BLOCK — ``(lowercased prefix,
    floor(len/len_bucket))`` — so the self-join never goes quadratic in
    the table: with K blocks of size ~n/K the work is n^2/K, and the
    block key's cardinality GROWS with the data (new prefixes appear),
    keeping shuffle partitions balanced at 100 TB. Strings within
    ``max_dist`` edits differ in length by at most ``max_dist``, so a
    true pair can straddle at most adjacent length buckets: we emit
    each row under its own bucket AND the next one (pigeonhole
    complete for len_bucket > max_dist is NOT claimed — this is the
    standard recall/cost dial; the prefix block is the recall
    assumption, as in every production ER blocker). Verification is
    exact ``levenshtein`` on the candidates only (JVM built-in, no
    Python). Emits (id_a, id_b, dist) with id_a < id_b, deduped across
    the two bucket copies by min-dist-first aggregation (dist is equal
    in both copies, so a plain distinct on the triple also works — the
    agg keeps one shuffle). ``min_dist=1`` excludes exact duplicates —
    the usual ER composition runs exact dedup first (a cheap
    hash-groupBy, see :func:`exact_dedup`) and fuzzy-matches only the
    surviving representatives, so the quadratic-within-block work runs
    over distinct values, not raw rows.
    """
    lo = F.lower(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("_id"),
        lo.alias("_txt"),
        F.substring(lo, 1, prefix).alias("_pfx"),
        F.floor(F.length(lo) / len_bucket).cast("int").alias("_lb"),
    )
    # each row appears under its own length bucket and the next one so
    # pairs that straddle a bucket boundary still meet in one block
    both = base.select(
        "_id", "_txt", "_pfx", F.explode(F.array(F.col("_lb"), F.col("_lb") + 1)).alias("_blk")
    )
    a = both.select(
        F.col("_id").alias("id_a"), F.col("_txt").alias("txt_a"), "_pfx", "_blk"
    )
    b = both.select(
        F.col("_id").alias("id_b"), F.col("_txt").alias("txt_b"), "_pfx", "_blk"
    )
    cand = a.join(b, on=["_pfx", "_blk"]).filter(F.col("id_a") < F.col("id_b"))
    verified = cand.filter(
        F.abs(F.length("txt_a") - F.length("txt_b")) <= max_dist
    ).select(
        "id_a",
        "id_b",
        F.levenshtein("txt_a", "txt_b").alias("dist"),
    ).filter(F.col("dist").between(min_dist, max_dist))
    return verified.distinct()
