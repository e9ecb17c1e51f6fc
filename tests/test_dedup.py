from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrope_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_text,
    with_minhash,
)
from pyrope_spark.operators.simhash import hamming64

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy cat near the river bank today"
OTHER = "completely different words about spark query engines and shuffles everywhere now"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),            # exact dup of 1
        (3, NEAR),            # near dup of 1
        (4, OTHER),
        (5, "  " + BASE.upper() + "  "),  # normalized dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    got = {r["doc_id"]: (r["canonical_id"], r["is_duplicate"]) for r in exact_dedup(docs).collect()}
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[5] == (1, True)  # lower+trim normalization
    assert got[3][1] is False and got[4][1] is False


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["ia"], r["ib"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_shingle_df_cap(docs, spark):
    # with a df cap of 1 every shared shingle is dropped -> no pairs
    assert ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=1).count() == 0


def test_minhash_identical_signatures(docs):
    sig = with_minhash(docs.select("doc_id", "text")).collect()
    by_id = {r["doc_id"]: [r[f"mh_{i}"] for i in range(16)] for r in sig}
    assert by_id[1] == by_id[2]
    agree = sum(1 for a, b in zip(by_id[1], by_id[3]) if a == b)
    assert agree >= 10  # near-dup shares most minhashes (1 token of 14 differs)
    agree_other = sum(1 for a, b in zip(by_id[1], by_id[4]) if a == b)
    assert agree_other <= 4


def test_minhash_lsh_finds_planted_pairs(docs):
    # token shingles + 8 narrow bands: the near-dup pair (token Jaccard
    # ~0.85) collides w.p. ~1-0.28^8 — robust to hash-family changes. The
    # default 3-gram/4-band config puts a 0.6-Jaccard pair at ~40% banding
    # recall BY DESIGN (that is the LSH curve, not a bug) and made this
    # assertion a coin flip across hash migrations.
    pairs = {(r["ia"], r["ib"]) for r in
             minhash_lsh_pairs(
                 docs, bands=8, ngram_n=1, verify_threshold=0.5
             ).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_simhash_text_near_dup_hamming(docs, spark):
    sh = docs.select("doc_id", simhash_text(F.col("text")).alias("h"))
    rows = {r["doc_id"]: r["h"] for r in sh.collect()}
    assert rows[1] == rows[2]
    df = spark.createDataFrame(
        [(rows[1], rows[3]), (rows[1], rows[4])], "a long, b long"
    ).select(hamming64(F.col("a"), F.col("b")).alias("d")).collect()
    near, far = df[0]["d"], df[1]["d"]
    assert near < far
    assert near <= 8


def test_embedding_neardup_planted(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["ia"], r["ib"]): r["cosine"] for r in
             embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert list(pairs) == [(1, 2)]
    blocked = embedding_neardup_pairs(emb, threshold=0.95, blocked=True, nlist=2).collect()
    assert {(r["ia"], r["ib"]) for r in blocked} == {(1, 2)}


def test_simhash_rotation_recovers_prefix_blindspot(spark):
    """A pair differing ONLY inside the low prefix bits is invisible to the
    single-block join but caught with tiling rotations (hamming is
    rotation-invariant; 4 rotations x 8 bits tile the 32-bit hash, so any
    pair with hamming < 4 is guaranteed)."""
    from pyrope_spark.operators.dedup import simhash_pairs

    h = 0b1010_1100_0011_0101_1001_0110_1111_0000
    rows = [
        (1, h),
        (2, h ^ 0b11),            # differs in 2 LOW bits -> prefix dirty
        (3, h ^ (0b1 << 20)),     # differs in 1 high bit -> prefix clean
    ]
    df = spark.createDataFrame(rows, "doc_id int, simhash long")
    single = simhash_pairs(df, max_hamming=3, prefix_bits=8, rotations=1)
    got1 = {(r["ia"], r["ib"]) for r in single.collect()}
    assert (1, 3) in got1 and (1, 2) not in got1  # the blindspot

    rotated = simhash_pairs(df, max_hamming=3, prefix_bits=8, rotations=4)
    got4 = {(r["ia"], r["ib"]) for r in rotated.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= got4  # all hamming<=3 pairs caught


def test_simhash_pairs_hash_bits_validation_and_64bit(spark):
    """hash_bits must be 1..64 and > prefix_bits; 64 works on full-width
    (negative-long) simhash64 values with rotation recall intact."""
    import pytest

    from pyrope_spark.operators.dedup import simhash_pairs

    df32 = spark.createDataFrame([(1, 5)], "doc_id int, simhash long")
    with pytest.raises(ValueError, match="hash_bits"):
        simhash_pairs(df32, hash_bits=65)
    with pytest.raises(ValueError, match="prefix_bits"):
        simhash_pairs(df32, hash_bits=32, prefix_bits=32)

    # 64-bit hash with the high bit set (negative as a signed long); the
    # differing bits sit in the LOW prefix, so only rotation catches the pair
    h = (1 << 63) | 0x0F0F_1234_ABCD_5678
    raw = [(1, h), (2, h ^ 0b11), (3, h ^ (1 << 40))]
    rows = [(i, v - (1 << 64) if v >= (1 << 63) else v) for i, v in raw]
    df64 = spark.createDataFrame(rows, "doc_id int, simhash long")
    single = simhash_pairs(df64, max_hamming=3, prefix_bits=8, rotations=1, hash_bits=64)
    got1 = {(r["ia"], r["ib"]) for r in single.collect()}
    assert (1, 2) not in got1 and (1, 3) in got1
    rotated = simhash_pairs(df64, max_hamming=3, prefix_bits=8, rotations=8, hash_bits=64)
    got8 = {(r["ia"], r["ib"]) for r in rotated.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= got8


def test_semantic_dedup_keeps_one_per_group(spark):
    from pyrope_spark.operators.dedup import semantic_dedup

    # two tight groups on opposite axes + one isolated point; within-group
    # cosine ~1, cross-group ~0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # dup of 0
        (2, [0.998, 0.02, 0.0, 0.0]),   # dup of 0
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.999, 0.01, 0.0]),  # dup of 10
        (20, [0.0, 0.0, 0.0, 1.0]),     # isolated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, threshold=0.95, block_seed_ids=[0, 10, 20]
        ).collect()
    }
    assert len(out) == 6
    assert not out[0]["is_dup"] and out[0]["dup_of"] is None
    assert out[1]["is_dup"] and out[1]["dup_of"] == 0
    assert out[2]["is_dup"] and out[2]["dup_of"] == 0
    assert not out[10]["is_dup"]
    assert out[11]["is_dup"] and out[11]["dup_of"] == 10
    assert not out[20]["is_dup"]
    # kept set = one representative per near-dup group
    kept = sorted(v for v, r in out.items() if not r["is_dup"])
    assert kept == [0, 10, 20]


def test_semantic_dedup_gemm_matches_expr(spark):
    """The per-cell GEMM scorer must agree with the expression path on
    (is_dup, dup_of) — planted near-dups with wide margins, plus a
    zero-vector row exercising the cosine guard (never a dup)."""
    import numpy as np

    from pyrope_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(5)
    base = rng.random((120, 8))
    rows = []
    for i in range(120):
        rows.append((i, [float(x) for x in base[i]]))
    for i in range(40):  # near-copies of the first 40, ids 200+
        rows.append((200 + i, [float(x) for x in base[i] + rng.normal(0, 1e-5, 8)]))
    rows.append((999, [0.0] * 8))  # zero vector: guard -> cosine 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = [0, 7, 33, 61]
    key = lambda out: sorted(
        (r["vec_id"], r["is_dup"], r["dup_of"]) for r in out.collect()
    )
    g = key(semantic_dedup(df, threshold=0.98, block_seed_ids=seeds, impl="gemm"))
    e = key(semantic_dedup(df, threshold=0.98, block_seed_ids=seeds, impl="expr"))
    assert g == e
    # every planted copy is flagged (positive-orthant dim-8 vectors also
    # produce a few organic near-dups — fine, both paths agree on them)
    dup_ids = {vid for vid, d, _ in g if d}
    assert set(range(200, 240)) <= dup_ids
    assert 999 not in dup_ids  # zero vector: guard -> cosine 0, never a dup


def test_connected_components_chain_and_islands(spark):
    """A 7-node path forces label propagation across multiple rounds
    (diameter 6); islands and a separate triangle must stay separate."""
    from pyrope_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(1, 7)]            # path 1..7
    edges += [(10, 11), (11, 12), (10, 12)]              # triangle
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {**{i: 1 for i in range(1, 8)}, **{i: 10 for i in (10, 11, 12)}}


def test_connected_components_raises_without_convergence(spark):
    import pytest as _pytest

    from pyrope_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_dedup_groups_transitive_merge(spark):
    """a~b and b~c (no (a,c) pair) must land in ONE group; untouched docs
    are singleton groups with is_duplicate = false."""
    from pyrope_spark.operators.dedup import dedup_groups

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 6)], "ia long, ib long")
    rows = {
        r["doc_id"]: (r["group_id"], r["group_size"], r["is_duplicate"])
        for r in dedup_groups(docs, pairs).collect()
    }
    assert rows[2] == (2, 3, False)
    assert rows[5] == (2, 3, True)
    assert rows[6] == (2, 3, True)
    for d in (1, 3, 4, 7):
        assert rows[d] == (d, 1, False)


def test_embedding_neardup_learned_blocks_with_zero_vector(spark):
    """Learned (k-means) cosine blocking over a table with a zero-norm
    embedding: the zero row stays out of the fit and is never a pair, and
    the planted near-copies are found."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.random((60, 8)) - 0.5
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    rows += [(100 + i, [float(x) for x in base[i] + rng.normal(0, 1e-5, 8)]) for i in range(10)]
    rows.append((999, [0.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["ia"], r["ib"])
        for r in embedding_neardup_pairs(emb, threshold=0.999, blocked=True, nlist=4).collect()
    }
    assert {(i, 100 + i) for i in range(10)} <= pairs
    assert not any(999 in p for p in pairs)


def test_embedding_neardup_auto_blocks_above_bound(spark):
    """The DEFAULT path above exact_max_rows must never plan a cross join
    (VERDICT r4 What's-wrong #5): blocked='auto' switches to the clustered
    self-join, and an explicit blocked=False above the bound raises unless
    force_exact=True."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(8)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_neardup_pairs(emb, threshold=0.99, exact_max_rows=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out.count()  # and it runs

    with pytest.raises(ValueError, match="force_exact"):
        embedding_neardup_pairs(
            emb, threshold=0.99, blocked=False, exact_max_rows=100
        )
    # the override still works, and below the bound auto stays exact
    exact = embedding_neardup_pairs(
        emb, threshold=0.99, blocked=False, exact_max_rows=100,
        force_exact=True,
    )
    auto_small = embedding_neardup_pairs(emb, threshold=0.99)  # 300 <= 50k
    assert auto_small.count() == exact.count()


# ------------------------------------------------- prefix-filter set-sim join

def test_setsim_prefix_join_equals_exact_allpairs(spark):
    """Prefix filtering is LOSSLESS: result == the exact all-pairs Jaccard
    join at the same threshold (integer-ppm compare)."""
    from pyrope_spark.operators.dedup import ngram_jaccard_pairs, setsim_prefix_join

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # near-dup of 0
        "a completely different sentence about spark engines",
        "a completely different sentence about spark engines",  # exact dup of 2
        "the quick brown fox jumps over the lazy dog today",
        "unrelated text with no overlap at all here",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["ia"], r["ib"]): r["jaccard_ppm"]
        for r in setsim_prefix_join(docs, n=2, t_num=6, t_den=10).collect()
    }
    exact = {
        (r["ia"], r["ib"]): int(r["jaccard"] * 1e6 // 1)
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.6).collect()
    }
    assert set(got) == set(exact)
    assert (2, 3) in got and got[(2, 3)] == 1_000_000  # exact dup
    # ppm values agree with the float path within 1 ulp of the floor
    for pair, ppm in got.items():
        assert abs(ppm - exact[pair]) <= 1


def test_setsim_prefix_join_threshold_filters(spark):
    from pyrope_spark.operators.dedup import setsim_prefix_join

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma zeta"),
         (2, "omega psi chi phi")],
        "doc_id long, text string",
    )
    # n=1 token sets: J(0,1) = 3/5 = 0.6
    hi = setsim_prefix_join(docs, n=1, t_num=7, t_den=10).collect()
    assert hi == []  # 0.6 < 0.7
    lo = {
        (r["ia"], r["ib"]): r["jaccard_ppm"]
        for r in setsim_prefix_join(docs, n=1, t_num=6, t_den=10).collect()
    }
    assert lo == {(0, 1): 600_000}


def test_setsim_prefix_join_rejects_bad_threshold(spark):
    import pytest as _pytest

    from pyrope_spark.operators.dedup import setsim_prefix_join

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        setsim_prefix_join(docs, t_num=0, t_den=10)
    with _pytest.raises(ValueError):
        setsim_prefix_join(docs, t_num=11, t_den=10)


# --------------------------------------------------------------------------
# Asymmetric containment join
# --------------------------------------------------------------------------


def test_containment_directed_asymmetry(spark):
    from pyrope_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),              # 3 shingles, all inside doc 2
            (2, "a b c d e f g"),          # 5 shingles
            (3, "x y z w q"),              # unrelated
        ],
        "doc_id long, text string",
    )
    out = containment_pairs(docs, n=3, t_num=8, t_den=10).collect()
    got = {(r["inner_id"], r["outer_id"]): r for r in out}
    # 1 ⊂ 2 at containment 3/3 = 1.0; 2 in 1 is only 3/5 = 0.6 -> absent
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert (r["inter"], r["sz_inner"], r["sz_outer"]) == (3, 3, 5)
    assert r["containment_ppm"] == 1_000_000


def test_containment_threshold_boundary_and_symmetry(spark):
    from pyrope_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            # identical docs: both directions at 1.0
            (1, "p q r s t u"),
            (2, "p q r s t u"),
            # 4 of 5 shingles shared with doc 1 -> exactly 0.8: kept
            (3, "p q r s t u ZZZ"[:-4] + " v"),  # "p q r s t u v": 5 shingles
        ],
        "doc_id long, text string",
    )
    out = containment_pairs(docs, n=3, t_num=8, t_den=10).collect()
    got = {(r["inner_id"], r["outer_id"]): r["containment_ppm"] for r in out}
    assert got[(1, 2)] == 1_000_000 and got[(2, 1)] == 1_000_000
    # doc3 has 5 shingles, 4 shared with doc1/doc2 -> 800000 ppm exactly
    assert got[(3, 1)] == 800_000 and got[(3, 2)] == 800_000
    # doc1 into doc3: 4/4 = 1.0
    assert got[(1, 3)] == 1_000_000


def test_containment_short_docs_drop_out(spark):
    from pyrope_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "a b c d")],
        "doc_id long, text string",
    )
    # docs 1/2 have <3 tokens -> zero 3-gram shingles -> no rows at all
    out = containment_pairs(docs, n=3, t_num=8, t_den=10).collect()
    assert out == []


def test_canonical_by_quality_argmax_and_ties(spark):
    from pyrope_spark.operators.dedup import canonical_by_quality

    docs = spark.createDataFrame(
        [
            (1, "x", 100),
            (2, "x", 300),   # best in {1,2,3}
            (3, "x", 300),   # tie on quality -> lower id (2) wins
            (9, "y", 50),    # singleton
        ],
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "ia long, ib long")
    out = canonical_by_quality(docs, pairs, quality_col="n_chars").collect()
    by = {r["doc_id"]: r for r in out}
    # group label stays min-id (1); canonical is quality-argmax (2)
    assert all(by[i]["group_id"] == 1 for i in (1, 2, 3))
    assert all(by[i]["canonical_id"] == 2 for i in (1, 2, 3))
    assert by[2]["is_duplicate"] is False
    assert by[1]["is_duplicate"] is True and by[3]["is_duplicate"] is True
    assert by[9]["canonical_id"] == 9 and by[9]["is_duplicate"] is False
    assert by[9]["group_size"] == 1 and by[1]["group_size"] == 3


def test_dup_rate_by_source_closed_form(spark):
    from pyrope_spark.operators.dedup import dup_rate_by_source

    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s1"), (4, "s2"), (5, "s2"), (6, "s3")],
        "doc_id LONG, source STRING",
    )
    # pairs: (1,2) within s1; (3,4) cross s1-s2; doc 5, 6 clean
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "ia LONG, ib LONG")
    out = {r.source: r for r in dup_rate_by_source(docs, pairs).collect()}
    s1 = out["s1"]
    assert (s1.n_docs, s1.dup_docs) == (3, 3)
    assert s1.within_source_docs == 2      # docs 1, 2
    assert s1.cross_source_docs == 1       # doc 3
    assert s1.dup_rate_ppm == 1_000_000
    s2 = out["s2"]
    assert (s2.dup_docs, s2.cross_source_docs) == (1, 1)
    assert s2.dup_rate_ppm == 500_000
    assert out["s3"].dup_docs == 0 and out["s3"].dup_rate_ppm == 0


def test_split_leakage_audit_detects_content_leak(spark):
    from pyrope_spark.operators.dedup import split_leakage_audit

    # find ids landing in train vs val under the registered split, then
    # plant one near-copy across the boundary and one unique val doc
    from pyrope_spark.operators.curation import hash_split_bucket
    from pyspark.sql import functions as F

    ids = spark.range(200).select(F.col("id").alias("doc_id"))
    b = ids.withColumn(
        "bucket", hash_split_bucket(F.col("doc_id"), "split1", 10_000)
    ).collect()
    train_ids = [r.doc_id for r in b if r.bucket < 8000]
    val_ids = [r.doc_id for r in b if 8000 <= r.bucket < 9000]
    assert len(train_ids) >= 2 and len(val_ids) >= 2
    leak_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (train_ids[0], leak_text),
        (val_ids[0], "prefix " + leak_text + " suffix"),  # shares shingles
        (val_ids[1], "one two three four five six seven"),  # unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.split: r for r in split_leakage_audit(docs).collect()}
    assert out["val"].n_docs == 2
    assert out["val"].n_leaky == 1
    assert out["val"].leak_ppm == 500_000


def test_ngram_novelty_first_owner_semantics(spark):
    from pyrope_spark.operators.dedup import ngram_novelty_per_doc

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # everything first-seen here
            (2, "a b c d"),          # verbatim re-use: zero novelty
            (3, "x y z w"),          # disjoint: fully novel
            (4, "a b x y q r"),      # half reused, half new
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in ngram_novelty_per_doc(docs, ngram_n=2).collect()
    }
    assert out[1].novelty_ppm == 1_000_000
    assert out[2].novelty_ppm == 0
    assert out[3].novelty_ppm == 1_000_000
    # doc 4 bigrams: ab bx xy yq qr (5) — 'a b' and 'x y' seen earlier
    assert out[4].n_shingles == 5
    assert out[4].n_novel == 3
    assert out[4].novelty_ppm == 3 * 10**6 // 5


def test_token_fp_rows_matches_expression_path(spark):
    """r10: the Arrow exploded-fingerprint kernel must produce the exact
    (id, fp) multiset of the expression path (explode of token_fps, whose
    array_distinct == the kernel's per-doc np.unique) for unigrams and
    word n-grams, including empty/NULL/short-doc edge cases."""
    import random

    from pyspark.sql import functions as F

    from pyrope_spark.operators.dedup import token_fp_rows, token_fps

    rng = random.Random(77)
    rows = [
        (i, " ".join(
            "".join(rng.choice("abcd") for _ in range(rng.randrange(1, 6)))
            for _ in range(rng.randrange(0, 30))
        ))
        for i in range(50)
    ]
    rows += [(100, ""), (101, None), (102, "one"), (103, "  padded  ")]
    # non-ASCII whitespace rows (r10 ADVICE): \u00a0 / \u2028 are Unicode
    # whitespace that Python str.strip() removes but trim()/Java-\\s keep --
    # the kernels must tokenize these exactly like the expression path
    rows += [
        (104, "\u00a0foo bar"),
        (105, "foo\u2028bar baz"),
        (106, "\u00a0"),
        (107, "\u3000a b c\td"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 2, 3):
        expr = sorted(
            (r["doc_id"], r["fp"])
            for r in docs.select(
                "doc_id", F.explode(token_fps(F.col("text"), n)).alias("fp")
            ).collect()
        )
        arrow = sorted(
            (r["doc_id"], r["fp"])
            for r in token_fp_rows(docs, ngram_n=n).collect()
        )
        assert arrow == expr, f"ngram_n={n}"


def test_connected_components_releases_round_checkpoints(spark):
    """Each round releases the previous round's checkpointed labels (and the
    edge table on return), so the persisted RDDs a call leaves behind do not
    grow with the number of rounds."""
    from pyrope_spark.operators.dedup import connected_components

    jsc = spark.sparkContext._jsc

    def left_persisted(n_nodes):
        before = set(jsc.getPersistentRDDs().keySet())
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n_nodes)], "src long, dst long"
        )
        out = connected_components(edges)
        assert {r["component"] for r in out.collect()} == {1}
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    assert left_persisted(3) == left_persisted(12) == 1
