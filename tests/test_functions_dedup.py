"""Dedup operators: exact, MinHash LSH candidates, Jaccard verify, SimHash."""

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark.functions import dedup as dd


@pytest.fixture(scope="module")
def df(spark):
    base = (
        "spark builds distributed query plans over columnar data and "
        "optimizes joins aggregations and shuffles for large clusters"
    )
    near = base.replace("large clusters", "big clusters")
    rows = [
        (0, base),
        (1, base),            # exact dup of 0
        (2, near),            # near dup of 0
        (3, "completely different text about cooking pasta with garlic and olive oil every sunday"),
        (4, base),            # another exact dup
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, df):
    out = dd.exact_dedup(df)
    canon = {r.doc_id: r.canonical_id for r in out.collect()}
    assert canon[0] == 0 and canon[1] == 0 and canon[4] == 0
    assert canon[2] == 2 and canon[3] == 3
    survivors = out.filter("is_canonical").count()
    assert survivors == 4  # 0, 2, 3, 5


def test_minhash_lsh_finds_near_dups(spark, df):
    cand = dd.minhash_lsh_candidates(df, num_hashes=16, bands=8, k=6)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    # exact dups always collide; the near-dup pair should too (high jaccard)
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    assert (0, 2) in pairs
    # unrelated doc never pairs with the base cluster
    assert not any(3 in p for p in pairs)


def test_jaccard_verification(spark, df):
    cand = dd.minhash_lsh_candidates(df, num_hashes=16, bands=8, k=6)
    verified = dd.jaccard_pairs(df, cand, k=6)
    jac = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert jac[(0, 1)] == 1.0
    assert 0.6 < jac[(0, 2)] < 1.0


def test_jaccard_matches_python(spark, df):
    cand = dd.minhash_lsh_candidates(df, num_hashes=16, bands=8, k=6)
    verified = dd.jaccard_pairs(df, cand, k=6)
    texts = {r.doc_id: r.text for r in df.collect()}

    def sh(t):
        return {t[i : i + 6] for i in range(max(len(t) - 5, 1))}

    for r in verified.collect():
        a, b = sh(texts[r.id_a]), sh(texts[r.id_b])
        assert r.jaccard == pytest.approx(len(a & b) / len(a | b))


def test_simhash_near_dup_distance(spark, df):
    sims = dd.simhash_table(df, k=4)
    by_id = {r.id: r.simhash for r in sims.collect()}
    assert by_id[0] == by_id[1] == by_id[4]  # identical text -> identical hash
    d_near = bin(by_id[0] ^ by_id[2]).count("1")
    d_far = bin(by_id[0] ^ by_id[3]).count("1")
    assert d_near < d_far
    assert d_near <= 14  # one-word edit flips few bits (9 observed)
    assert d_far > 20  # unrelated text ~half the bits (33 observed)


def test_simhash_hamming_column(spark, df):
    sims = dd.simhash_table(df, k=4)
    a = sims.select(F.col("id").alias("ia"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("id").alias("ib"), F.col("simhash").alias("sb"))
    pairs = a.crossJoin(b).filter("ia < ib").select(
        "ia", "ib", dd.hamming64(F.col("sa"), F.col("sb")).alias("d")
    )
    got = {(r.ia, r.ib): r.d for r in pairs.collect()}
    assert got[(0, 1)] == 0
    assert got[(0, 2)] < got[(0, 3)]


def test_empty_and_short_docs(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "abc")], "doc_id long, text string"
    )
    sh = df.select(dd.shingles(F.col("text"), k=8).alias("s")).collect()
    assert [len(r.s) for r in sh] == [0, 0, 0]
    sims = dd.simhash_table(df, k=8)
    assert all(r.simhash is None for r in sims.collect())


def test_simhash_md5_matches_python_oracle(spark, df):
    """simhash_md5_table vs an independent pure-python recomputation."""
    import hashlib

    out = {r.id: r.simhash for r in dd.simhash_md5_table(df, k=4).collect()}
    rows = {r.doc_id: r.text for r in df.collect()}
    for doc_id, text in rows.items():
        if text is None or len(text) < 4:
            assert out[doc_id] is None
            continue
        sh = {text[i : i + 4] for i in range(len(text) - 3)}
        votes = [0] * dd.SIMHASH_MD5_BITS
        for s in sh:
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for j in range(dd.SIMHASH_MD5_BITS):
                votes[j] += 1 if (h >> j) & 1 else -1
        expect = sum(1 << j for j in range(dd.SIMHASH_MD5_BITS) if votes[j] > 0)
        assert out[doc_id] == expect, doc_id


def test_simhash_near_dup_banding_complete(spark, df):
    """Pigeonhole guarantee: banded join finds EXACTLY the brute-force
    pairs at hamming <= bands-1."""
    sim_df = dd.simhash_md5_table(df, k=4).cache()
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dd.simhash_near_dup(sim_df, max_hamming=3, bands=4).collect()
    }
    sims = {r.id: r.simhash for r in sim_df.collect() if r.simhash is not None}
    brute = set()
    for a in sims:
        for b in sims:
            if a < b:
                h = bin(sims[a] ^ sims[b]).count("1")
                if h <= 3:
                    brute.add((a, b, h))
    assert got == brute
    # exact dups (0,1,4 share text) are hamming 0 and must be present
    assert (0, 1, 0) in got and (0, 4, 0) in got


def test_simhash_near_dup_rejects_threshold_beyond_guarantee(spark, df):
    sim_df = dd.simhash_md5_table(df, k=4)
    with pytest.raises(ValueError, match="banding finds all pairs"):
        dd.simhash_near_dup(sim_df, max_hamming=5, bands=4)


def test_connected_components_chain_clique_singleton(spark):
    # chain 1-2-3-4 (forces multi-hop propagation), clique 10-11-12,
    # pair 20-21; node 30 never appears in pairs (caller handles
    # singletons via left join — CC labels only nodes with edges).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    out = {r.node: r.label for r in dd.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_path_converges(spark):
    # a 64-node path has diameter 63; pointer jumping must close it in
    # far fewer than 63 rounds (max_iter=10 would fail plain propagation)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = dd.connected_components(pairs, max_iter=10)
    labels = {r.label for r in out.collect()}
    assert labels == {0}
    assert out.count() == 64


def test_connected_components_string_ids(spark):
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c")], "id_a string, id_b string"
    )
    out = {r.node: r.label for r in dd.connected_components(pairs).collect()}
    assert out == {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a"}


def test_connected_components_random_graphs_match_union_find(spark):
    # property check against a pure-python union-find on deterministic
    # pseudo-random graphs of varying shape
    import random

    for seed, n_nodes, n_edges in [(1, 20, 10), (2, 40, 60), (3, 30, 29)]:
        rng = random.Random(seed)
        edges = [
            tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = sorted({v for e in edges for v in e})
        expected = {v: find(v) for v in touched}
        # min-reachable-id labels == union-find roots when unions always
        # keep the smaller root (as above)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.label for r in dd.connected_components(pairs).collect()}
        assert got == expected, f"seed={seed}"


def test_canonical_survivors_counts(spark):
    from nolock_social_ocr_services_spark.functions import dedup as dd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(f"d{i}",) for i in range(1, 8)], "doc_id string"
    )
    # clusters: {d1,d2,d3} via chain, {d5,d6}; d4, d7 singletons
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d5", "d6")], "id_a string, id_b string"
    )
    cc = dd.connected_components(pairs)
    got = {
        r.doc_id: r.n_members
        for r in dd.canonical_survivors(docs, cc).collect()
    }
    assert got == {"d1": 3, "d4": 1, "d5": 2, "d7": 1}


def test_exact_dedup_keeps_null_text_rows(spark):
    """md5(NULL) is NULL and equi-joins never match NULL keys — an inner
    join would silently drop every NULL-text doc. Each must survive as
    its own canonical (no content to dedup on)."""
    docs = spark.createDataFrame(
        [("d1", "same"), ("d2", "same"), ("d3", None), ("d4", None)],
        "doc_id string, text string",
    )
    got = {r.doc_id: (r.canonical_id, r.is_canonical)
           for r in dd.exact_dedup(docs).collect()}
    assert got == {
        "d1": ("d1", True),
        "d2": ("d1", False),
        "d3": ("d3", True),
        "d4": ("d4", True),
    }


def test_simhash_variants_share_fold_rules(spark):
    """Both hash variants must agree on the vote/fold/empty rules (one
    shared body): empty docs NULL, values in [0, 2^bits)."""
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma delta"), ("d2", ""), ("d3", None)],
        "doc_id string, text string",
    )
    for fn, bits in ((dd.simhash_table, 63), (dd.simhash_md5_table, 60)):
        got = {r.id: r.simhash for r in fn(docs).collect()}
        assert got["d2"] is None and got["d3"] is None
        assert got["d1"] is not None and 0 <= got["d1"] < (1 << bits)


def test_block_dedup_golden(spark):
    """Block-quantized substring dedup: duplicate blocks are flagged on
    every occurrence AFTER the lexicographically-first (doc, position);
    tokenless docs yield no row."""
    docs = spark.createDataFrame(
        [
            ("d1", "a b c d"),          # blocks: [a b], [c d] — both owned
            ("d2", "a b x y"),          # [a b] dup of d1#0, [x y] owned
            ("d3", "c d c d"),          # [c d] dup of d1#1, [c d] dup too
            ("d4", ""),                 # tokenless -> no row
            ("d5", None),               # NULL -> no row
            ("d6", "e"),                # short last block, owned
        ],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_dup_blocks, r.dup_frac)
        for r in dd.block_dedup(docs, block=2).collect()
    }
    assert got == {
        "d1": (2, 0, 0.0),
        "d2": (2, 1, 0.5),
        "d3": (2, 2, 1.0),
        "d6": (1, 0, 0.0),
    }


def test_block_dedup_intra_doc_duplicates(spark):
    """A block repeated INSIDE one document is a duplicate of its own
    earlier position — the owner key is (doc, position), not doc."""
    docs = spark.createDataFrame(
        [("d1", "a b a b a b")], "doc_id string, text string"
    )
    row = dd.block_dedup(docs, block=2).collect()[0]
    assert (row.n_blocks, row.n_dup_blocks) == (3, 2)


def test_block_dedup_apply_rebuilds_text(spark):
    """Applying the block decision rebuilds each doc's text from its
    kept blocks in position order; an all-duplicate doc comes back
    EMPTY (explicit), not absent."""
    docs = spark.createDataFrame(
        [
            ("d1", "a b c d"),
            ("d2", "a b x y"),   # first block stripped, keeps "x y"
            ("d3", "c d"),       # entirely d1's second block -> ""
        ],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_kept)
        for r in dd.block_dedup_apply(docs, block=2).collect()
    }
    assert got == {
        "d1": ("a b c d", 2),
        "d2": ("x y", 1),
        "d3": ("", 0),
    }


def test_incremental_dedup_verdicts(spark, df):
    """New batch vs persisted index: exact dup via md5, near dup via
    minhash signature agreement, unique otherwise. df docs 0..3 are the
    historical corpus; the batch re-sends an exact copy, a near copy,
    and fresh text."""
    index = dd.dedup_index(df.filter("doc_id <= 3"), num_hashes=16, k=6)
    batch = spark.createDataFrame(
        [
            (10, df.filter("doc_id = 0").first().text),   # exact dup of 0
            (11, df.filter("doc_id = 2").first().text),   # exact dup of 2
            (12, "totally novel content about astronomy telescopes and "
                 "the orbital mechanics of binary star systems tonight"),
            (13, None),                                    # nothing to match
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dd.incremental_dedup(
        batch, index, num_hashes=16, bands=8, k=6, min_agree=8
    ).collect()}
    assert out[10].verdict == "exact_dup" and out[10].exact_dup_of == 0
    assert out[11].verdict == "exact_dup" and out[11].exact_dup_of == 2
    assert out[12].verdict == "unique" and out[12].match_id is None
    assert out[13].verdict == "unique" and out[13].exact_dup_of is None
    # doc 10 is byte-identical to 0, so all 16 signature components agree
    assert out[10].sig_agree == 16 and out[10].match_id == 0


def test_incremental_dedup_near_dup_by_signature(spark, df):
    """A paraphrased doc (no md5 hit) is caught by signature agreement
    alone — the verify step never touches the indexed text."""
    index = dd.dedup_index(df.filter("doc_id <= 3"), num_hashes=16, k=6)
    near = df.filter("doc_id = 0").first().text.replace(
        "columnar data", "columnar files"
    )
    batch = spark.createDataFrame([(20, near)], "doc_id long, text string")
    row = dd.incremental_dedup(
        batch, index, num_hashes=16, bands=8, k=6, min_agree=8
    ).first()
    assert row.verdict == "near_dup"
    assert row.exact_dup_of is None
    assert row.match_id in (0, 1, 4) and row.sig_agree >= 8


def test_contrastive_triplets_positives_and_exclusions(spark, df):
    out = dd.contrastive_triplets(
        df, num_hashes=16, bands=8, k=6, min_jaccard=0.5, neg_buckets=2
    )
    rows = {r.anchor_id: r for r in out.collect()}
    # anchors = every doc in a verified near-dup pair (cluster 0/1/2/4)
    assert set(rows) == {0, 1, 2, 4}
    # best positive: highest jaccard, ties to the smallest id
    assert rows[0].positive_id == 1     # jaccard 1.0 with 1 and 4 -> min
    assert rows[1].positive_id == 0
    assert rows[2].positive_id == 0     # equal jaccard vs 0/1/4 -> min
    assert rows[4].positive_id == 0
    texts = {r.doc_id: r.text for r in df.collect()}
    for r in rows.values():
        if r.negative_id is not None:
            assert r.negative_id not in (r.anchor_id, r.positive_id)
            # exact duplicates of the anchor are never negatives
            assert texts[r.negative_id] != texts[r.anchor_id]


def test_contrastive_triplets_deterministic(spark, df):
    a = dd.contrastive_triplets(df, num_hashes=16, bands=8, k=6,
                                min_jaccard=0.5, neg_buckets=2)
    b = dd.contrastive_triplets(df, num_hashes=16, bands=8, k=6,
                                min_jaccard=0.5, neg_buckets=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # a different seed may redraw negatives but never the positives
    c = dd.contrastive_triplets(df, num_hashes=16, bands=8, k=6,
                                min_jaccard=0.5, neg_buckets=2, seed="other")
    assert {(r.anchor_id, r.positive_id) for r in a.collect()} == {
        (r.anchor_id, r.positive_id) for r in c.collect()
    }


# -- containment (Broder resemblance-vs-containment) ---------------------------


def test_containment_subset_duplicate(spark):
    """A doc embedded whole inside a longer doc scores containment ~1.0
    on the short side while Jaccard stays well below the dup bar."""
    short = "spark builds distributed query plans over columnar data"
    long = (
        short
        + " and beyond that this wrapper page adds a navigation header a"
        " footer many unrelated words about cooking pasta with garlic and"
        " olive oil plus further boilerplate that dilutes the overlap"
    )
    df = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    row = dd.containment_pairs(df, cand, k=6).first()
    jrow = dd.jaccard_pairs(df, cand, k=6).first()
    assert row.containment_a > 0.95      # short inside long
    assert row.containment_b < 0.5       # long not inside short
    assert jrow.jaccard < 0.5            # symmetric score misses it


def test_containment_matches_python(spark, df):
    cand = dd.minhash_lsh_candidates(df, num_hashes=16, bands=8, k=6)
    out = dd.containment_pairs(df, cand, k=6)
    texts = {r.doc_id: r.text for r in df.collect()}

    def sh(t):
        return {t[i : i + 6] for i in range(max(len(t) - 5, 1))}

    for r in out.collect():
        a, b = sh(texts[r.id_a]), sh(texts[r.id_b])
        assert r.containment_a == pytest.approx(len(a & b) / len(a))
        assert r.containment_b == pytest.approx(len(a & b) / len(b))


def test_line_dedup_strips_corpus_repeats_keeps_order(spark):
    """Lines repeated across the corpus vanish; unique prose survives
    in original order; an all-boilerplate doc rebuilds to ''; blank
    lines never count as repeats."""
    rows = [
        (1, "BANNER\nalpha prose one\n\nbeta prose two\nFOOTER"),
        (2, "BANNER\ngamma prose three\nFOOTER"),
        (3, "BANNER\nFOOTER"),
        (4, "delta prose four\n\nepsilon prose five"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dd.line_dedup(docs, min_count=2).collect()}
    assert out[1].text == "alpha prose one\n\nbeta prose two"
    assert (out[1].n_lines, out[1].n_kept) == (5, 3)
    assert out[2].text == "gamma prose three"
    assert out[3].text == "" and out[3].n_kept == 0
    # blank lines appear 3x corpus-wide but are never flagged
    assert out[4].text == "delta prose four\n\nepsilon prose five"
    # case-insensitive normalization: 'banner' would match 'BANNER'
    one = spark.createDataFrame(
        [(9, "banner\nunique"), (10, "BANNER\nother")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in dd.line_dedup(one, min_count=2).collect()}
    assert got == {9: "unique", 10: "other"}


def _lev(a: str, b: str) -> int:
    """Plain DP Levenshtein (test reference)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_finds_typos_and_skips_exact(spark):
    """Typo pairs inside one (prefix, length-bucket) block are found
    with the exact edit distance; min_dist=1 drops exact duplicates;
    pairs whose prefixes differ are (by the documented blocking
    contract) NOT emitted."""
    rows = [
        (1, "hot rod"),
        (2, "hot rode"),      # dist 1 to "hot rod"
        (3, "hot ring"),      # dist 3 to "hot rod"
        (4, "hot rod"),       # exact dup of 1
        (5, "cold rod"),      # dist 2 to "hot rod" but prefix differs
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    out = {
        (r.id_a, r.id_b): r.dist
        for r in dd.fuzzy_pairs(
            df, id_col="id", text_col="name", max_dist=3, min_dist=1
        ).collect()
    }
    assert out[(1, 2)] == 1
    assert out[(1, 3)] == 3
    assert out[(2, 3)] == 3
    assert (1, 4) not in out          # exact dup excluded by min_dist
    assert all(5 not in p for p in out)  # blocked: no shared prefix
    # min_dist=0 re-admits the exact pair at dist 0
    out0 = {
        (r.id_a, r.id_b): r.dist
        for r in dd.fuzzy_pairs(
            df, id_col="id", text_col="name", max_dist=3, min_dist=0
        ).collect()
    }
    assert out0[(1, 4)] == 0


def test_fuzzy_pairs_straddles_length_bucket_boundary(spark):
    """A pair whose lengths fall in ADJACENT length buckets still meets
    (each row is emitted under its own bucket and the next), and the
    two block copies dedup to one output row."""
    # len 7 -> bucket 1; len 8 -> bucket 2 (len_bucket=4)
    df = spark.createDataFrame(
        [(1, "abcdefg"), (2, "abcdefgh")], "id long, name string"
    )
    out = dd.fuzzy_pairs(
        df, id_col="id", text_col="name", max_dist=3, min_dist=1
    ).collect()
    assert len(out) == 1 and out[0].dist == 1


def test_fuzzy_pairs_matches_blocked_brute_force(spark):
    """Against a Python re-implementation of the SAME blocking rule
    (shared 3-prefix, |length-bucket delta| <= 1) the Spark output is
    exactly equal — ids, pair set, and distances."""
    import random

    rng = random.Random(11)
    words = ["ring", "rind", "rings", "rodeo", "rod", "ride", "rude",
             "gear", "gears", "geese", "bolt", "bolts", "boat"]
    rows = [
        (i, rng.choice(words) + (" x" * rng.randint(0, 3)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in dd.fuzzy_pairs(
            df, id_col="id", text_col="name", max_dist=2, min_dist=1
        ).collect()
    }
    want = set()
    for ia, ta in rows:
        for ib, tb in rows:
            if ia >= ib:
                continue
            a, b = ta.lower(), tb.lower()
            if a[:3] != b[:3] or abs(len(a) // 4 - len(b) // 4) > 1:
                continue
            if abs(len(a) - len(b)) > 2:
                continue
            d = _lev(a, b)
            if 1 <= d <= 2:
                want.add((ia, ib, d))
    assert got == want and want  # non-vacuous
