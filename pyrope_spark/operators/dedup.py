"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's own surface (BASELINE.json north star). Five families,
each designed around its 100 TB shuffle shape:

- exact_dedup        : hash-groupBy on normalized text; one shuffle on the
                       text hash, map-side partial aggregation.
- ngram_jaccard      : exact pairwise Jaccard over word n-gram shingles via a
                       shared-shingle equi-join. The join explodes on hot
                       shingles, so a document-frequency cap drops
                       stop-shingles (standard blocking trick) — bounded
                       fanout at any scale.
- minhash LSH        : signature = k modular affine hashes over deterministic
                       token fingerprints; band buckets -> candidate pairs ->
                       exact verify. Shuffle is bands x docs rows, constant
                       per doc, independent of corpus size.
- simhash (text)     : 32-bit sign-sum over per-token hash bits; near-dup =
                       hamming <= d within bucket joins on hash prefix.
- embedding near-dup : exact cosine threshold self-join (oracle path) and a
                       cluster-blocked variant (scale path) that only
                       compares within IVF cells.

All hashes are explicit integer arithmetic (pyrope_spark.functions.text) so
each operator has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyrope_spark.functions.text import (
    FP_PRIME,
    char_fp_rolling,
    tokens,
    word_ngrams,
)

MINHASH_SEED = 42
DEFAULT_NUM_HASHES = 16


# ------------------------------------------------------------------ exact

def exact_dedup(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    normalize: bool = True
) -> DataFrame:
    """Attach (canonical_id, is_duplicate): canonical = min id per identical
    (optionally normalized) text. One shuffle, no joins."""
    key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    w = Window.partitionBy(key)
    return df.withColumn("canonical_id", F.min(F.col(id_col)).over(w)).withColumn(
        "is_duplicate", F.col(id_col) != F.col("canonical_id")
    )


# ----------------------------------------------------------- ngram jaccard

def shingle_table(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs. Tokenization is materialized in its own
    projection so the ngram HOF reads the stored array instead of re-running
    the regex split per element (13x on the sf0.1 corpus)."""
    from pyrope_spark.functions.text import word_ngrams_from_tokens

    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return (
        toked.select(
            F.col(id_col),
            F.explode(word_ngrams_from_tokens(F.col("_toks"), n)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over n-gram shingle sets for all pairs sharing >= 1
    shingle. ``max_shingle_df`` drops shingles appearing in more than that
    many documents before the join (blocking; keeps the self-join linear in
    practice — without it one 10M-doc stop-shingle would emit 10^14 pairs)."""
    sh = shingle_table(df, id_col=id_col, text_col=text_col, n=n)
    if max_shingle_df is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh = sh.join(freq.filter(F.col("_df") <= max_shingle_df), "shingle").drop("_df")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_sz"))
    a = sh.select(F.col(id_col).alias("ia"), "shingle")
    b = sh.select(F.col(id_col).alias("ib"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("ia"), F.col("_sz").alias("_sa"))
    sb = sizes.select(F.col(id_col).alias("ib"), F.col("_sz").alias("_sb"))
    return (
        shared.join(sa, "ia")
        .join(sb, "ib")
        .withColumn(
            "jaccard",
            F.col("_shared").cast("double")
            / (F.col("_sa") + F.col("_sb") - F.col("_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ia", "ib", "jaccard")
    )


def setsim_prefix_join(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    t_num: int = 7,
    t_den: int = 10,
    max_broadcast_docs: int = 250_000,
) -> DataFrame:
    """LOSSLESS set-similarity self-join via prefix filtering (PPJoin-style,
    Xiao et al. WWW'08): exactly the pairs with Jaccard >= t_num/t_den over
    word n-gram shingle sets, without the all-pairs join AND without the
    lossy document-frequency cap of [[ngram_jaccard_pairs]] ``max_shingle_df``.

    Shingles order globally by (document frequency asc, shingle asc) —
    rarest first. Each document keeps only its first
    ``p = sz - ceil(t*sz) + 1`` shingles *in that order* as its *prefix*;
    the prefix theorem guarantees every qualifying pair shares >= 1 prefix
    shingle, so candidate generation joins prefix tables (rare tokens ->
    tiny fanout) instead of full shingle tables. Candidates then pass a
    size-compatibility filter (t*max(sa,sb) <= min(sa,sb)) and the PPJoin
    positional filter (overlap <= min(pa,pb) + min(sa-pa, sb-pb) must reach
    alpha = ceil(t*(sa+sb)/(1+t)); sound because tokens before a shared
    prefix shingle in one set can only match tokens before it in the
    other, the order being total) before the distinct; exact verification
    intersects the two shingle arrays.

    Scale shape (all three lessons measured, see PLANS.md r6):
    - the theorem needs a consistent total ORDER, not a dense global rank
      — per-doc position comes from a window ordered by (df, shingle)
      WITHIN each doc (key-partitioned; a global row_number over the
      vocab was a single-partition sort dominating the 200k-doc probe).
    - the shingle lineage (explode + tokenize) is consumed by four plan
      branches (vocab, positions, doc sets, and the verify's broadcast
      jobs); without a persist each branch re-runs the explode, which
      dominated the sf0.1 bench at 4x the useful work. The operator
      persists the hashed shingle table (linear in corpus size,
      MEMORY_AND_DISK) for the duration of the job.
    - verification joins shuffle per-candidate shingle-array payloads;
      shingles travel as int64 ``xxhash64`` keys (5-10x narrower than the
      n-gram strings) with an exact collision check — on the ~0 chance two
      distinct shingles collide we fall back to string keys, so the result
      is always exact. When the corpus has <= ``max_broadcast_docs``
      documents the doc-set side broadcasts (map-side verify, no shuffle
      of the candidate pairs); above it the join falls back to
      shuffle-on-id, which is linear in candidates. Measured at 200k docs
      x 30 words (warm session, same 10,205 pairs): broadcast 10.3s /
      4.3s steady-state vs shuffle 19.6s / 5.1s, vs 59.8s before this
      rewrite — a 200k-doc int64 doc-set table is ~50 MB, well inside
      executor broadcast budgets, hence the 250k default.

    Candidate fanout is bounded by rare-shingle document frequencies by
    construction — the hot shingles a DF-cap would drop order LAST and
    fall out of every prefix. Output is integer ``jaccard_ppm = inter *
    1e6 DIV union`` (non-negative DIV: truncate == floor on both engines).
    """
    threshold_ok = 0 < t_num <= t_den
    if not threshold_ok:
        raise ValueError(f"threshold must be in (0, 1]: {t_num}/{t_den}")
    raw = shingle_table(df, id_col=id_col, text_col=text_col, n=n).withColumn(
        "_h", F.xxhash64("shingle")
    )
    raw = raw.persist()
    chk = raw.agg(
        F.countDistinct("shingle").alias("ns"), F.countDistinct("_h").alias("nh")
    ).first()
    # int64 keys unless xxhash64 collides on this vocab (exactness first)
    key = "_h" if chk and chk.ns == chk.nh else "shingle"
    sh = raw.select(F.col(id_col), F.col(key).alias("shingle"))
    vocab = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = sh.join(vocab, "shingle").select(F.col(id_col), "shingle", "_df")
    # r11 opt (guide §2.4): per-doc set size as a count window over the
    # SAME id partitioning the position window establishes — the separate
    # (id) size aggregate + join paid one more corpus-sized shuffle for a
    # value this window stage already has (vocab join is 1:1 per shingle,
    # so the windowed count equals the per-doc shingle count exactly)
    pos = ranked.select(
        F.col(id_col),
        "shingle",
        F.row_number()
        .over(Window.partitionBy(id_col).orderBy("_df", "shingle"))
        .alias("_pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy(id_col))
        .alias("_sz"),
    )
    ceil_t_sz = F.expr(f"({t_num} * _sz + {t_den - 1}) DIV {t_den}")
    pref = pos.filter(F.col("_pos") <= F.col("_sz") - ceil_t_sz + F.lit(1))
    pa = pref.select(
        F.col(id_col).alias("ia"), "shingle",
        F.col("_pos").alias("_pa"), F.col("_sz").alias("_sa"),
    )
    pb = pref.select(
        F.col(id_col).alias("ib"), "shingle",
        F.col("_pos").alias("_pb"), F.col("_sz").alias("_sb"),
    )
    alpha = F.expr(f"({t_num} * (_sa + _sb) + {t_num + t_den - 1}) DIV {t_num + t_den}")
    overlap_ub = F.least("_pa", "_pb") + F.least(
        F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb")
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("ia") < F.col("ib"))
        .filter(
            F.lit(t_num) * F.greatest("_sa", "_sb")
            <= F.lit(t_den) * F.least("_sa", "_sb")
        )
        .filter(overlap_ub >= alpha)
        .select("ia", "ib")
        .distinct()
    )
    docsets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("_g"),
        F.count("*").alias("_sz"),
    ).persist()
    n_docs = docsets.count()
    ga = docsets.select(
        F.col(id_col).alias("ia"), F.col("_g").alias("_ga"), F.col("_sz").alias("_sa")
    )
    gb = docsets.select(
        F.col(id_col).alias("ib"), F.col("_g").alias("_gb"), F.col("_sz").alias("_sb")
    )
    if n_docs <= max_broadcast_docs:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    verified = (
        cand.join(ga, "ia")
        .join(gb, "ib")
        .withColumn("_inter", F.size(F.array_intersect("_ga", "_gb")).cast("long"))
        .withColumn("_union", F.col("_sa") + F.col("_sb") - F.col("_inter"))
        .filter(F.col("_inter") * t_den >= F.lit(t_num) * F.col("_union"))
    )
    # Materialize the (pair-sized, tiny) result so the corpus-sized shingle
    # and doc-set caches can be released before returning — the minhash
    # verify discipline: repeated invocations must not accumulate
    # corpus-scale cached blocks (callers may unpersist the result).
    out = verified.select(
        "ia", "ib", F.expr("_inter * 1000000 DIV _union").alias("jaccard_ppm")
    ).persist()
    out.count()
    raw.unpersist()
    docsets.unpersist()
    return out


# ----------------------------------------------------------------- minhash

def minhash_params(num_hashes: int = DEFAULT_NUM_HASHES, seed: int = MINHASH_SEED) -> list[tuple[int, int]]:
    """Seeded (a, b) affine-hash parameters over the FP_PRIME field."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(num_hashes):
        out.append((int(rng.integers(1, FP_PRIME)), int(rng.integers(0, FP_PRIME))))
    return out


def token_fps(text: Column, ngram_n: int = 1) -> Column:
    """Deterministic shingle fingerprints (distinct), the minhash input.
    ``ngram_n=1`` -> token-level; ``ngram_n>=2`` -> word n-gram shingles
    (the right granularity when the corpus shares a small vocabulary —
    token-level minhash buckets collide pathologically there)."""
    units = tokens(text) if ngram_n <= 1 else word_ngrams(text, ngram_n)
    # rolling Horner hash, not char_fp: the arithmetic-progression weights
    # of char_fp collide systematically on structured vocabularies, and a
    # base-fp collision here propagates to EVERY minhash function at once
    # (the signature hashes only re-mix the shared fp)
    return F.array_distinct(F.transform(units, lambda t: char_fp_rolling(t)))


def minhash_signature(
    fps: Column, num_hashes: int = DEFAULT_NUM_HASHES, seed: int = MINHASH_SEED
) -> list[Column]:
    """k min-hash columns over a (precomputed) token-fp array: min over
    tokens of (a * (fp % p) + b) % p. Empty docs hash to p (sentinel) so
    they never collide with real values."""
    def _hash_fn(a: int, b: int):
        return lambda x: F.pmod(
            F.lit(a) * F.pmod(x, F.lit(FP_PRIME)) + F.lit(b), F.lit(FP_PRIME)
        )

    cols = []
    for a, b in minhash_params(num_hashes, seed):
        h = F.array_min(F.transform(fps, _hash_fn(a, b)))
        cols.append(F.coalesce(h, F.lit(FP_PRIME)).cast("long"))
    return cols


import re as _re

from pyrope_spark.functions.text import FP_ROLL_P, FP_ROLL_R, FP_ROLL_SEED

# Java-regex \s (no unicode classes) — keeps Python tokenization identical
# to the Spark/DuckDB expression path on ASCII corpora
_WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")


def _token_fps_py(text: str, ngram_n: int = 1) -> np.ndarray:
    """Exact integer mirror of :func:`token_fps` (functions.text.char_fp_rolling
    over distinct shingles). Same Horner arithmetic in int64 — bit-identical
    to the expression/oracle path."""
    if not text:
        return np.empty(0, dtype=np.int64)
    # no .strip(): Python str.strip() removes Unicode whitespace the
    # trim()/Java-\s expression path keeps (r10 ADVICE); the split +
    # empties filter alone is the exact mirror of tokens()/tokens_sql()
    toks = [t for t in _WS_RE.split(text.lower()) if t]
    if ngram_n <= 1:
        units = set(toks)
    elif len(toks) < ngram_n:
        units = set()
    else:
        units = {
            " ".join(toks[i : i + ngram_n]) for i in range(len(toks) - ngram_n + 1)
        }
    # Vectorized Horner: iterate CHAR POSITIONS (bounded, ~token length)
    # with the fold applied to all units at once — a per-unit python char
    # loop would put ~chars-per-doc interpreter steps in the corpus-scale
    # Arrow pass. acc*131 + cp stays < 1.4e17, far inside int64.
    ulist = list(units)
    cps = [np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32) for t in ulist]
    n = len(ulist)
    maxlen = max((len(c) for c in cps), default=0)
    mat = np.full((n, maxlen), -1, dtype=np.int64)
    for i, c in enumerate(cps):
        mat[i, : len(c)] = c
    acc = np.full(n, FP_ROLL_SEED, dtype=np.int64)
    for j in range(maxlen):
        col = mat[:, j]
        live = col >= 0
        acc[live] = (acc[live] * FP_ROLL_R + col[live]) % FP_ROLL_P
    return np.unique(acc)


def token_fp_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 1,
    out_col: str = "fp",
) -> DataFrame:
    """Exploded per-row-distinct shingle fingerprints: value-identical to
    ``df.select(id_col, explode(token_fps(text_col, ngram_n)))`` — the
    expression path's ``array_distinct`` equals :func:`_token_fps_py`'s
    ``np.unique`` per row, and the Horner arithmetic is the same exact
    int64 math the minhash arrow path already ships hash-green.

    r10 opt (guide §4.2): the expression path runs the interpreted
    non-codegen char-level HOF chain (split-to-chars + per-char aggregate
    per shingle); this Arrow pass vectorizes the fold across all shingles
    of a batch and was measured ~10x faster on the sf0.1 corpus.  Rows
    with zero shingles (empty/NULL text, fewer than ``ngram_n`` tokens)
    emit nothing, exactly like ``explode`` over an empty array.
    """
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField(out_col, T.LongType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            fps_list = []
            counts = np.zeros(len(pdf), dtype=np.int64)
            for r, text in enumerate(pdf[text_col].tolist()):
                fps = _token_fps_py(text, ngram_n)
                counts[r] = len(fps)
                if len(fps):
                    fps_list.append(fps)
            if not fps_list:
                continue
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, counts),
                    out_col: np.concatenate(fps_list),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, schema)


def with_minhash(
    df: DataFrame, *, text_col: str = "text", num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = MINHASH_SEED, prefix: str = "mh", impl: str = "arrow",
    ngram_n: int = 1, fps_col: str | None = None
) -> DataFrame:
    """Attach mh_0..mh_{k-1} signature columns.

    ``impl='arrow'`` (default): one mapInPandas pass computing fingerprints
    and all k hashes in numpy — the expression path re-evaluates the
    (interpreted, non-codegen) fingerprint HOF per hash column and is ~20x
    slower at corpus scale. Both produce bit-identical values (pure int64
    arithmetic), so the DuckDB oracle covers either.

    ``fps_col`` additionally emits the distinct shingle fingerprints (the
    minhash input) so downstream consumers — the LSH verify join — reuse
    them instead of re-fingerprinting the raw text (VERDICT round-1 item 7).
    """
    if impl == "expr":
        df = df.withColumn(fps_col or "_fps", token_fps(F.col(text_col), ngram_n))
        for i, c in enumerate(
            minhash_signature(F.col(fps_col or "_fps"), num_hashes, seed)
        ):
            df = df.withColumn(f"{prefix}_{i}", c)
        return df if fps_col else df.drop("_fps")

    params = minhash_params(num_hashes, seed)
    a_arr = np.asarray([a for a, _ in params], dtype=np.int64)
    b_arr = np.asarray([b for _, b in params], dtype=np.int64)
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + ([T.StructField(fps_col, T.ArrayType(T.LongType()))] if fps_col else [])
        + [T.StructField(f"{prefix}_{i}", T.LongType()) for i in range(num_hashes)]
    )

    def run(batches):
        for pdf in batches:
            sigs = np.full((len(pdf), num_hashes), FP_PRIME, dtype=np.int64)
            fps_out = [] if fps_col else None
            for r, text in enumerate(pdf[text_col].tolist()):
                fps = _token_fps_py(text, ngram_n)
                if fps_out is not None:
                    fps_out.append(fps.tolist())
                if len(fps):
                    h = (a_arr[None, :] * (fps[:, None] % FP_PRIME) + b_arr[None, :]) % FP_PRIME
                    sigs[r] = h.min(axis=0)
            out = pdf.copy()
            if fps_out is not None:
                out[fps_col] = fps_out
            for i in range(num_hashes):
                out[f"{prefix}_{i}"] = sigs[:, i]
            yield out

    return df.mapInPandas(run, out_schema)


def minhash_oracle_sql(
    text_expr: str, num_hashes: int = DEFAULT_NUM_HASHES, seed: int = MINHASH_SEED,
    tokens_col: str = "t", prefix: str = "mh",
) -> dict[str, str]:
    """DuckDB renderings per signature column, expecting a tokens column
    (build with tokens_sql in a CTE)."""
    from pyrope_spark.functions.text import char_fp_rolling_sql

    fp = char_fp_rolling_sql("x")
    fps = f"list_distinct(list_transform({tokens_col}, x -> {fp}))"
    out = {}
    for i, (a, b) in enumerate(minhash_params(num_hashes, seed)):
        h = (
            f"list_min(list_transform({fps}, f -> ({a} * (f % {FP_PRIME}) + {b}) % {FP_PRIME}))"
        )
        out[f"{prefix}_{i}"] = f"CAST(COALESCE({h}, {FP_PRIME}) AS BIGINT)"
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    seed: int = MINHASH_SEED,
    verify_threshold: float | None = 0.7,
    ngram_n: int = 3,
) -> DataFrame:
    """Candidate pairs whose signatures collide in >= 1 band; optionally
    verified with exact token-set Jaccard. Banding: k hashes split into
    ``bands`` groups; a band key is the concatenated hash values. The only
    wide operation is the groupBy on band keys — no all-pairs join ever.

    When verifying, the signature stage is persisted for the duration of the
    call and the (much smaller) verified-pairs result is cached + eagerly
    materialized so the corpus-sized signature cache can be released before
    returning — repeated invocations do not accumulate corpus-sized cached
    blocks (the caller may ``unpersist()`` the returned pairs when done).
    Measured note (PLANS.md r4): ``localCheckpoint(eager=True)`` was tried
    first and cost 2-3x the whole pipeline — the DataFrame->RDD
    materialization replans without AQE, so the verify joins ran as
    shuffle joins instead of broadcasts."""
    rows_per_band = num_hashes // bands
    # ONE fingerprint pass feeds both banding and verify: the arrow kernel
    # emits the shingle fps next to the signature; persist so the verify
    # join reuses the computed batch instead of re-fingerprinting the corpus
    # (this stage is the pipeline's dominant cost at scale)
    sig = with_minhash(
        df.select(id_col, text_col), text_col=text_col,
        num_hashes=num_hashes, seed=seed, ngram_n=ngram_n,
        fps_col="_fps" if verify_threshold is not None else None,
    )
    if verify_threshold is not None:
        sig = sig.persist()
    # one pass: posexplode an array of band keys (a union of per-band selects
    # would re-run the signature stage once per band)
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh_{bi * rows_per_band + j}").cast("string")
                    for j in range(rows_per_band)
                ],
            )
            for bi in range(bands)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_key")
    )
    a = buckets.select(F.col(id_col).alias("ia"), "band", "band_key")
    b = buckets.select(F.col(id_col).alias("ib"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
    )
    if verify_threshold is None:
        return cand
    tok = sig.select(F.col(id_col), F.col("_fps").alias("_toks"))
    ta = tok.select(F.col(id_col).alias("ia"), F.col("_toks").alias("_ta"))
    tb = tok.select(F.col(id_col).alias("ib"), F.col("_toks").alias("_tb"))
    out = (
        cand.join(ta, "ia")
        .join(tb, "ib")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_ta", "_tb")).cast("double")
            / F.size(F.array_union("_ta", "_tb")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("ia", "ib", F.round("jaccard", 6).alias("jaccard"))
    )
    # materialize pairs (small: post-verify survivors only), then free the
    # corpus-sized signature cache before handing the result back
    out = out.cache()
    out.count()
    sig.unpersist()
    return out


def minhash_lsh_oracle_sql(
    *,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    seed: int = MINHASH_SEED,
    verify_threshold: float = 0.7,
    ngram_n: int = 3,
) -> str:
    """Full DuckDB rendering of :func:`minhash_lsh_pairs` — signatures,
    band bucketing, candidate join, exact-Jaccard verify. Every stage is
    integer/deterministic, so the whole LSH pipeline hash-compares exactly
    (the banding itself is not approximate; only its *recall* vs all-pairs
    is — which is the semantics both engines share here)."""
    from pyrope_spark.functions.text import (
        char_fp_rolling_sql,
        tokens_sql,
        word_ngrams_from_tokens_sql,
    )

    rows = num_hashes // bands
    ng = word_ngrams_from_tokens_sql("t", ngram_n)
    fp = char_fp_rolling_sql("x")
    mh_exprs = ", ".join(
        f"CAST(COALESCE(list_min(list_transform(fps, f -> "
        f"({a} * (f % {FP_PRIME}) + {b}) % {FP_PRIME})), {FP_PRIME}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws(':', "
        + ", ".join(f"mh_{bi * rows + j}" for j in range(rows))
        + ") AS band_key FROM sig"
        for bi in range(bands)
    )
    return f"""
WITH tk AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
fpt AS (SELECT doc_id, list_distinct(list_transform({ng}, x -> {fp})) AS fps FROM tk),
sig AS (SELECT doc_id, {mh_exprs} FROM fpt),
bandt AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM bandt a JOIN bandt b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
ver AS (
  SELECT c.ia, c.ib,
         CAST(len(list_intersect(fa.fps, fb.fps)) AS DOUBLE)
           / NULLIF(len(list_distinct(fa.fps || fb.fps)), 0) AS j
  FROM cand c
  JOIN fpt fa ON fa.doc_id = c.ia
  JOIN fpt fb ON fb.doc_id = c.ib
)
SELECT CAST(ia AS BIGINT) AS ia, CAST(ib AS BIGINT) AS ib, round(j, 6) AS jaccard
FROM ver WHERE j >= {verify_threshold}
"""


# ----------------------------------------------------------------- simhash

SIMHASH_TEXT_BITS = 32


def simhash_text(
    text: Column, bits: int = SIMHASH_TEXT_BITS, seed: int = MINHASH_SEED
) -> Column:
    """Text simhash: per-bit weighted sign sum over token fingerprints.
    bit b set iff sum over distinct tokens of (2*((a_b*(fp%p)+b_b)%p % 2)-1)
    is > 0. Pure integer arithmetic -> exact DuckDB oracle."""
    fps = token_fps(text)
    params = minhash_params(bits, seed + 1000)

    def _bit_sum(a: int, off: int) -> Column:
        def step(acc, x):
            odd = (
                F.pmod(F.lit(a) * F.pmod(x, F.lit(FP_PRIME)) + F.lit(off), F.lit(FP_PRIME))
                % 2
                == 1
            )
            return acc + F.when(odd, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(fps, F.lit(0).cast("long"), step)

    total = F.lit(0).cast("long")
    for b, (a, off) in enumerate(params):
        total = total + F.when(_bit_sum(a, off) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0)
        )
    return total


def simhash_text_oracle_sql(
    tokens_col: str = "t", bits: int = SIMHASH_TEXT_BITS, seed: int = MINHASH_SEED
) -> str:
    from pyrope_spark.functions.text import char_fp_rolling_sql

    fp = char_fp_rolling_sql("x")
    fps = f"list_distinct(list_transform({tokens_col}, x -> {fp}))"
    terms = []
    for b, (a, off) in enumerate(minhash_params(bits, seed + 1000)):
        s = (
            f"list_sum(list_transform({fps}, f -> CASE WHEN "
            f"(({a} * (f % {FP_PRIME}) + {off}) % {FP_PRIME}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN COALESCE({s}, 0) > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def with_simhash_text(
    df: DataFrame, *, text_col: str = "text", out_col: str = "simhash",
    bits: int = SIMHASH_TEXT_BITS, seed: int = MINHASH_SEED, impl: str = "arrow"
) -> DataFrame:
    """Attach the text simhash column; arrow impl mirrors
    :func:`simhash_text` bit-exactly (integer math only)."""
    if impl == "expr":
        return df.withColumn(out_col, simhash_text(F.col(text_col), bits, seed))
    params = minhash_params(bits, seed + 1000)
    a_arr = np.asarray([a for a, _ in params], dtype=np.int64)
    b_arr = np.asarray([b for _, b in params], dtype=np.int64)
    weights = (1 << np.arange(bits, dtype=np.int64)).astype(np.int64)
    from pyspark.sql import types as T

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.LongType())])

    def run(batches):
        for pdf in batches:
            hs = np.zeros(len(pdf), dtype=np.int64)
            for r, text in enumerate(pdf[text_col].tolist()):
                fps = _token_fps_py(text)
                if len(fps) == 0:
                    continue
                bitsm = (a_arr[None, :] * (fps[:, None] % FP_PRIME) + b_arr[None, :]) % FP_PRIME % 2
                sums = (2 * bitsm - 1).sum(axis=0)
                hs[r] = int(weights[sums > 0].sum())
            out = pdf.copy()
            out[out_col] = hs
            yield out

    return df.mapInPandas(run, out_schema)


def simhash_pairs(
    df: DataFrame, *, id_col: str = "doc_id", simhash_col: str = "simhash",
    max_hamming: int = 3, prefix_bits: int = 8, rotations: int = 1,
    hash_bits: int = SIMHASH_TEXT_BITS,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= d, blocked on the hash's low
    ``prefix_bits`` so the join is bucket-local.

    A single block misses pairs whose differing bits fall inside the prefix.
    ``rotations`` > 1 re-blocks on ``rotations`` bit-rotations of the hash
    (hamming distance is rotation-invariant): a pair within ``max_hamming``
    is caught whenever ANY rotation moves all differing bits out of the
    prefix — when the prefix windows tile the hash disjointly
    (rotations * prefix_bits == hash_bits), each differing bit dirties
    exactly one window, so pigeonhole guarantees recall 1.0 for
    ``max_hamming < rotations``. Cost: the shuffle carries r bucket rows
    per doc — still bands x docs, never all-pairs.

    ``hash_bits`` MUST match the width of ``simhash_col``'s values (e.g. 64
    for :func:`pyrope_spark.operators.simhash.simhash64`, 32 for the default
    text simhash): a too-small value silently masks rotation to the low bits
    and voids the recall guarantee. Values 1..64 are supported; 64 uses the
    full-long mask (-1) since ``(1<<64)-1`` overflows LongType."""
    from pyrope_spark.operators.simhash import hamming64

    if not 1 <= hash_bits <= 64:
        raise ValueError(f"hash_bits must be in 1..64, got {hash_bits}")
    if prefix_bits >= hash_bits:
        raise ValueError(
            f"prefix_bits ({prefix_bits}) must be < hash_bits ({hash_bits})"
        )
    h = F.col(simhash_col).cast("long")
    mask = (
        F.lit(-1).cast("long")
        if hash_bits == 64
        else F.lit((1 << hash_bits) - 1).cast("long")
    )
    step = max(1, hash_bits // max(rotations, 1))
    rot_keys = []
    for r in range(max(rotations, 1)):
        s = (r * step) % hash_bits
        # rotate-right by s within hash_bits, then take the low prefix
        rot = (
            F.shiftrightunsigned(h, s)
            .bitwiseAND(mask)
            .bitwiseOR(F.shiftleft(h, hash_bits - s).bitwiseAND(mask))
        ) if s else h
        rot_keys.append(
            F.concat_ws(":", F.lit(r), F.pmod(rot, F.lit(1 << prefix_bits)))
        )
    buckets = df.select(
        F.col(id_col), F.col(simhash_col),
        F.explode(F.array(*rot_keys)).alias("_blk"),
    )
    a = buckets.select(
        F.col(id_col).alias("ia"), F.col(simhash_col).alias("_ha"), "_blk"
    )
    b = buckets.select(
        F.col(id_col).alias("ib"), F.col(simhash_col).alias("_hb"), "_blk"
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.col("_ha"), F.col("_hb"))
        .distinct()
        .withColumn("hamming", hamming64(F.col("_ha"), F.col("_hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("ia", "ib", "hamming")
    )


# ------------------------------------------------------- embedding near-dup

def embedding_neardup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    threshold: float = 0.9,
    blocked: bool | str = "auto",
    nlist: int = 16,
    block_seed_ids: list | None = None,
    exact_max_rows: int = 50_000,
    force_exact: bool = False,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    ``blocked=False``: exact all-pairs (the oracle path; O(N^2) — fine for
    validation scales). ``blocked=True``: cluster blocking — compare only
    within a cell; misses cross-cell pairs near boundaries (recall/cost
    tradeoff, the standard ANN-blocking pattern at 100 TB). Cells come from
    KMeans by default; ``block_seed_ids`` instead uses the embeddings of
    those ids as fixed centroids (deterministic, SQL-replicable — the
    oracle-parity blocking used by the driver query).

    ``blocked="auto"`` (the DEFAULT — VERDICT r4 What's-wrong #5): one
    count decides; at most ``exact_max_rows`` rows runs exact, above it
    the clustered path with ``nlist`` scaled so cells average ~4k rows.
    An EXPLICIT ``blocked=False`` above the bound raises instead of
    silently planning a corpus-scale cross join — pass
    ``force_exact=True`` to override (the facade auto-switch discipline
    from ``similarity.py``'s >= 4,096-query rule).
    """
    from pyrope_spark.functions.vector import cosine_sim

    cols = emb.select(F.col(id_col).alias("_id"), F.col(vector_col).alias("_v"))
    if blocked == "auto":
        n = cols.count()
        blocked = n > exact_max_rows
        if blocked and block_seed_ids is None:
            nlist = max(nlist, n // 4096 + 1)
    elif blocked is False and not force_exact:
        n = cols.count()
        if n > exact_max_rows:
            raise ValueError(
                f"embedding_neardup_pairs: exact all-pairs over {n} rows "
                f"(> exact_max_rows={exact_max_rows}) would cross-join "
                f"O(N^2); use blocked=True/'auto', or force_exact=True "
                f"if you really want the exact path"
            )
    if blocked:
        if block_seed_ids is not None:
            from pyrope_spark.operators.ivf import assign_by_centroids, fixed_ivf_model

            model = fixed_ivf_model(
                cols, block_seed_ids, metric="cosine", id_col="_id", vector_col="_v"
            )
            assigned = assign_by_centroids(cols, model, id_col="_id", vector_col="_v")
        else:
            from pyrope_spark.operators.ivf import build_ivf

            assigned, _ = build_ivf(cols, nlist=nlist, metric="cosine", vector_col="_v")
        # norms once per row below the self-join (the interpreted HOF would
        # recompute them per PAIR)
        from pyrope_spark.functions.vector import norm as norm_expr

        withn = assigned.withColumn("_n", norm_expr(F.col("_v")))
        a = withn.select(
            F.col("_id").alias("ia"), F.col("_v").alias("_va"),
            F.col("_n").alias("_na"), "cluster_id",
        )
        b = withn.select(
            F.col("_id").alias("ib"), F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"), "cluster_id",
        )
        pairs = a.join(b, "cluster_id").filter(F.col("ia") < F.col("ib"))
        return (
            pairs.withColumn(
                "cosine",
                cosine_sim(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
            )
            .filter(F.col("cosine") >= threshold)
            .select("ia", "ib", F.round("cosine", 6).alias("cosine"))
        )
    a = cols.select(F.col("_id").alias("ia"), F.col("_v").alias("_va"))
    b = cols.select(F.col("_id").alias("ib"), F.col("_v").alias("_vb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
    return (
        pairs.withColumn("cosine", cosine_sim(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("ia", "ib", F.round("cosine", 6).alias("cosine"))
    )


# -------------------------------------------------------- semantic dedup

def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    threshold: float = 0.9,
    nlist: int = 16,
    block_seed_ids: list | None = None,
    impl: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then within each cluster keep one representative
    per near-duplicate group — a row is a duplicate iff a lower-id row in
    its cluster has cosine similarity >= ``threshold``.

    Returns every input row with ``cluster_id``, ``is_dup`` and ``dup_of``
    (the smallest qualifying lower id, NULL for keepers). Downstream, the
    training corpus is ``filter(~is_dup)``.

    Scale shape: the :func:`embedding_neardup_pairs` blocked-mode shape
    — pairwise work is confined to cluster cells (the SemDeDup recipe:
    k-means cells sized so a cell fits one executor), then one groupBy(ib)
    min-aggregation and a broadcast-size join back onto the corpus. With
    ``block_seed_ids`` the cells come from fixed seed vectors, making the
    whole output deterministic and SQL-replicable (the driver-oracle path).

    ``impl``: ``'expr'`` scores pairs with column expressions (interpreted
    HOFs — SQL-replicable, the oracle path); ``'gemm'`` cogroups each cell
    into one ``applyInPandas`` task and scores it with a column-chunked
    numpy GEMM (memory bounded to cell_rows x 4096 floats however skewed
    the cell). ``'auto'`` picks gemm for the learned-clustering branch (not
    SQL-replicable anyway) and expr for the seeded oracle branch. Measured
    at 1M x d64, nlist=1000 (PLANS.md r4): the expr self-join needs ~5e8
    interpreted dot products; the GEMM path runs the same cells
    BLAS-bound."""
    from pyrope_spark.functions.vector import cosine_sim
    from pyrope_spark.functions.vector import norm as norm_expr

    if impl not in ("auto", "expr", "gemm"):
        raise ValueError(f"unknown impl {impl!r}")
    if impl == "auto":
        impl = "expr" if block_seed_ids is not None else "gemm"
    cols = emb.select(F.col(id_col).alias("_id"), F.col(vector_col).alias("_v"))
    # ONE assignment pass feeds both the pair blocking and the output
    # cluster_id (assigning twice would double the operator's most
    # expensive stage — and in the learned-model branch, refit KMeans)
    if block_seed_ids is not None:
        from pyrope_spark.operators.ivf import assign_by_centroids, fixed_ivf_model

        model = fixed_ivf_model(
            cols, block_seed_ids, metric="cosine", id_col="_id", vector_col="_v"
        )
        assigned = assign_by_centroids(cols, model, id_col="_id", vector_col="_v")
    else:
        from pyrope_spark.operators.ivf import build_ivf

        assigned, _ = build_ivf(cols, nlist=nlist, metric="cosine", vector_col="_v")
    if impl == "gemm":
        id_type = emb.schema[id_col].dataType.simpleString()
        thr = float(threshold)

        def cell(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["_id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            mat = np.asarray(pdf["_v"].tolist(), dtype=np.float64)[order]
            norms = np.linalg.norm(mat, axis=1)
            zero = norms < 1e-6  # cosine_sim guard -> 0, never a dup hit
            unit = mat / np.where(zero, 1.0, norms)[:, None]
            unit[zero] = 0.0
            n = len(ids)
            out_ids, out_dup = [], []
            # column-chunked upper-triangle GEMM: memory is n x CHUNK
            # however skewed the cell, and ids are sorted so the FIRST
            # qualifying row index is the minimal lower id
            CHUNK = 4096
            for j0 in range(1, n, CHUNK):
                j1 = min(j0 + CHUNK, n)
                sims = unit @ unit[j0:j1].T  # (n, j1-j0)
                cols_idx = np.arange(j0, j1)
                sims[cols_idx[None, :] <= np.arange(n)[:, None]] = -2.0
                hit = sims >= thr
                any_dup = hit.any(axis=0)
                first = hit.argmax(axis=0)
                out_ids.extend(ids[cols_idx[any_dup]])
                out_dup.extend(ids[first[any_dup]])
            return pd.DataFrame({id_col: out_ids, "dup_of": out_dup})

        dup_of = assigned.groupBy("cluster_id").applyInPandas(
            cell, f"{id_col} {id_type}, dup_of {id_type}"
        )
    else:
        # within-cell pair scoring (the embedding_neardup_pairs blocked
        # shape), norms materialized once per side below the self-join
        withn = assigned.withColumn("_n", norm_expr(F.col("_v")))
        a = withn.select(
            F.col("_id").alias("ia"), F.col("_v").alias("_va"),
            F.col("_n").alias("_na"), "cluster_id",
        )
        b = withn.select(
            F.col("_id").alias("ib"), F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"), "cluster_id",
        )
        dup_of = (
            a.join(b, "cluster_id")
            .filter(F.col("ia") < F.col("ib"))
            .withColumn(
                "cosine",
                cosine_sim(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
            )
            .filter(F.col("cosine") >= threshold)
            .groupBy(F.col("ib").alias(id_col))
            .agg(F.min("ia").alias("dup_of"))
        )
    return (
        assigned.select(F.col("_id").alias(id_col), "cluster_id")
        .join(dup_of, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


# --------------------------------------------------- connected components

def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``-ed DataFrame now.
    ``DataFrame.unpersist`` does not reach the checkpointed RDD under the
    plan, so release that RDD itself."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list -> (id, component),
    component = min node id in the component (one row per node that appears
    in any edge).

    Turns pairwise near-dup evidence (MinHash/SimHash/Jaccard/embedding
    pairs) into transitive duplicate GROUPS — pairs alone under-merge: a~b
    and b~c must collapse a, b, c into one group even when (a, c) was never
    emitted by the blocked pair search.

    Algorithm: iterative min-label propagation. Each round is one
    shuffle-agg (min over neighbor labels) plus one label join; labels only
    decrease, so the fixpoint is exact CC. Rounds needed = graph diameter.
    Blocked near-dup graphs are near-cliques within buckets (every member
    pairs with the bucket minimum), so diameter is small and bounded by the
    blocking, not the corpus — the giant-path worst case that motivates
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") does not arise from pair-blocking output. Each
    round ``localCheckpoint(eager=True)``-s its labels — the per-round
    discipline the graph family (kcore/LPA/triangles) adopted in r10
    (kcore: 298 Exchanges -> 2). The earlier cache+count-with-every-8th-
    checkpoint scheme left the analyzed plan growing one join layer per
    round (920 Exchanges at sf0.1 for the registered dedup_groups_cc)
    and a ~15-round diameter OOMed an 8g driver in nested-AQE plan
    bookkeeping; per-round checkpointing bounds the plan at one round's
    shape regardless of diameter (values unchanged — asserted by the
    connected_components_star equivalence test; long-diameter graphs
    should still prefer [[connected_components_star]] outright). Once a
    round's labels are materialized, the previous round's checkpoint is
    released, so block-manager storage holds at most two label tables and
    the edge table, not one label table per round.

    Raises after ``max_iter`` rounds without convergence rather than
    returning partially-merged groups silently.
    """
    a = F.col(src_col).alias("id")
    b = F.col(dst_col).alias("nbr")
    sym = edges.select(a, b).union(
        edges.select(F.col(dst_col).alias("id"), F.col(src_col).alias("nbr"))
    )
    labels = (
        sym.select("id").distinct().withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev = labels
    sym = sym.localCheckpoint(eager=True)
    for _round in range(max_iter):
        # min label among neighbors, via the neighbor's current label
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "nbr"), "nbr")
            .groupBy("id")
            .agg(F.min("label").alias("nbr_label"))
        )
        nxt = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias(
                    "_chg"
                ),
            )
        ).localCheckpoint(eager=True)
        _release_checkpoint(prev)
        prev = nxt
        changed = nxt.filter("_chg").limit(1).count()
        labels = nxt.select("id", "label")
        if changed == 0:
            _release_checkpoint(sym)
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter); raise max_iter"
    )


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    pair_a_col: str = "ia",
    pair_b_col: str = "ib",
    max_iter: int = 25,
) -> DataFrame:
    """Every doc with its transitive duplicate group: (id_col, group_id,
    group_size, is_duplicate). group_id = min doc id in the component
    (singletons map to themselves, size 1); is_duplicate = not the group
    representative — the row a keep-one-per-group curation pass drops.

    Composes any pair operator's output with :func:`connected_components`;
    the docs side stays a broadcast-or-shuffle left join keyed on id."""
    comp = connected_components(
        pairs, src_col=pair_a_col, dst_col=pair_b_col, max_iter=max_iter
    ).withColumnRenamed("id", id_col)
    joined = docs.select(id_col).join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("group_id"),
    )
    w = Window.partitionBy("group_id")
    return joined.select(
        id_col,
        "group_id",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col(id_col) != F.col("group_id")).alias("is_duplicate"),
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 8,
    t_den: int = 10,
    max_broadcast_docs: int = 250_000,
) -> DataFrame:
    """LOSSLESS asymmetric containment join: directed pairs where
    ``|S_inner ∩ S_outer| / |S_inner| >= t`` over word n-gram shingle
    sets — the subset-duplicate detector (quoted articles, templated
    wrappers, doc-inside-doc syndication) that symmetric Jaccard misses:
    a short doc fully quoted inside a long one has low Jaccard but
    containment 1.0.

    Prefix filtering adapts to containment (the one-sided PPJoin bound):
    the inner doc can miss at most ``sz - ceil(t·sz)`` of its shingles,
    so its first ``sz - ceil(t·sz) + 1`` shingles in the global
    (document-frequency asc, shingle asc) order — the rarest — must
    intersect any qualifying outer doc. Candidates therefore join the
    INNER PREFIX table against the full shingle table (rare-token
    fanout on the prefix side; the outer side carries no prefix because
    containment imposes no bound on the outer set). Verification counts
    the exact intersection over candidate pairs only. The prefix length
    uses the exact integer form ``sz - ((t_num·sz + t_den - 1) div
    t_den) + 1`` and the threshold test cross-multiplies
    (``inter·t_den >= t_num·sz_inner``) so no float ever decides
    membership.

    Scale shape mirrors [[setsim_prefix_join]] exactly, optimizations
    included (adopted after the r6e probe showed the string-key verify
    dominating at 100k docs): shingles travel as collision-checked int64
    ``xxhash64`` keys, the verify is ONE sorted-array intersect per
    candidate against persisted doc-set arrays (broadcast under
    ``max_broadcast_docs``, shuffle-on-id above), and the pair-sized
    result materializes before the corpus-sized caches release.

    Output: (inner_id, outer_id, inter, sz_inner, sz_outer,
    containment_ppm), directed, inner != outer.
    """
    from pyspark.sql.window import Window

    if not (0 < t_num <= t_den):
        raise ValueError(f"need 0 < t_num <= t_den, got {t_num}/{t_den}")
    raw = shingle_table(df, id_col=id_col, text_col=text_col, n=n).withColumn(
        "_h", F.xxhash64("shingle")
    )
    raw = raw.persist()
    try:
        chk = raw.agg(
            F.countDistinct("shingle").alias("ns"),
            F.countDistinct("_h").alias("nh"),
        ).first()
        key = "_h" if chk and chk.ns == chk.nh else "shingle"
        sh = raw.select(F.col(id_col), F.col(key).alias("shingle"))
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        # r11 opt (guide §2.4): _sz as a count window over the SAME id
        # partitioning the position window establishes — the previous
        # separate (id) size aggregate + join re-shuffled the corpus-
        # sized shingle table a second time for a value the window
        # stage already has in hand (freq join is 1:1 per shingle, so
        # the windowed count equals the per-doc shingle count exactly)
        wpos = Window.partitionBy(id_col).orderBy("_df", "shingle")
        wsz = Window.partitionBy(id_col)
        pref = (
            sh.join(freq, "shingle")
            .withColumn("_p", F.row_number().over(wpos))
            .withColumn("_sz", F.count(F.lit(1)).over(wsz))
            .filter(
                F.col("_p")
                <= F.expr(
                    f"_sz - ((({t_num} * _sz) + {t_den} - 1) div {t_den}) + 1"
                )
            )
            .select(F.col(id_col).alias("inner_id"), "shingle")
        )
        cand = (
            pref.join(
                sh.select(F.col(id_col).alias("outer_id"), "shingle"),
                "shingle",
            )
            .filter(F.col("inner_id") != F.col("outer_id"))
            .select("inner_id", "outer_id")
            .distinct()
        )
        docsets = sh.groupBy(id_col).agg(
            F.sort_array(F.collect_list("shingle")).alias("_g"),
            F.count(F.lit(1)).alias("_sz"),
        ).persist()
        n_docs = docsets.count()
        ga = docsets.select(
            F.col(id_col).alias("inner_id"),
            F.col("_g").alias("_ga"),
            F.col("_sz").alias("sz_inner"),
        )
        gb = docsets.select(
            F.col(id_col).alias("outer_id"),
            F.col("_g").alias("_gb"),
            F.col("_sz").alias("sz_outer"),
        )
        if n_docs <= max_broadcast_docs:
            ga, gb = F.broadcast(ga), F.broadcast(gb)
        out = (
            cand.join(ga, "inner_id")
            .join(gb, "outer_id")
            .withColumn(
                "inter", F.size(F.array_intersect("_ga", "_gb")).cast("long")
            )
            .filter(
                F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("sz_inner")
            )
            .select(
                "inner_id",
                "outer_id",
                "inter",
                F.col("sz_inner").cast("long").alias("sz_inner"),
                F.col("sz_outer").cast("long").alias("sz_outer"),
                F.expr("inter * 1000000 div sz_inner").alias("containment_ppm"),
            )
        )
        out = out.localCheckpoint()  # materialize before releasing caches
        docsets.unpersist()
        return out
    finally:
        raw.unpersist()


def containment_oracle_sql(
    *,
    n: int = 3,
    t_num: int = 8,
    t_den: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`containment_pairs`: the UNPRUNED directed
    containment join in the shingle-equi-join formulation (hash join on
    shared shingles, then group-count — identical result set to the
    nested-loop ``list_intersect`` form but hash-join fast; the prefix
    filter on the Spark side is lossless, so both must agree exactly)."""
    from pyrope_spark.functions.text import (
        tokens_sql,
        word_ngrams_from_tokens_sql,
    )

    ng = word_ngrams_from_tokens_sql("t", n)
    return f"""
WITH tk AS (SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}),
sh AS (SELECT DISTINCT {id_col} AS id, unnest({ng}) AS s FROM tk),
sz AS (SELECT id, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1),
inter AS (
  SELECT a.id AS inner_id, b.id AS outer_id, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.id <> b.id
  GROUP BY 1, 2
)
SELECT CAST(inner_id AS BIGINT) AS inner_id,
       CAST(outer_id AS BIGINT) AS outer_id,
       i AS inter, si.c AS sz_inner, so.c AS sz_outer,
       i * 1000000 // si.c AS containment_ppm
FROM inter
JOIN sz si ON inter.inner_id = si.id
JOIN sz so ON inter.outer_id = so.id
WHERE i * {t_den} >= {t_num} * si.c
"""


def canonical_by_quality(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    pair_a_col: str = "ia",
    pair_b_col: str = "ib",
    max_iter: int = 25,
) -> DataFrame:
    """Keep-BEST-per-group canonical selection: like :func:`dedup_groups`
    (same transitive components over the pair graph) but the group
    representative is the member with the highest ``quality_col``
    ((quality desc, id asc) total order — deterministic under ties)
    instead of the smallest id. This is what a curation pass actually
    wants: when a near-dup cluster mixes a clean original and truncated
    or boilerplate-wrapped copies, min-id keeps an arbitrary member;
    quality-argmax keeps the best one (Gopher/CCNet-style keep-best
    dedup).

    Output: (id_col, group_id, group_size, canonical_id, is_duplicate);
    group_id stays the min-id component label (stable across quality
    changes), canonical_id is the quality-argmax member, is_duplicate =
    not canonical. One extra per-group window over the group table —
    the component pass dominates, the selection is linear.
    """
    grouped = dedup_groups(
        docs.select(id_col),
        pairs,
        id_col=id_col,
        pair_a_col=pair_a_col,
        pair_b_col=pair_b_col,
        max_iter=max_iter,
    )
    q = docs.select(F.col(id_col), F.col(quality_col).alias("_q"))
    w = Window.partitionBy("group_id").orderBy(
        F.col("_q").desc(), F.col(id_col).asc()
    )
    return (
        grouped.join(q, id_col)
        .withColumn(
            "canonical_id", F.first(F.col(id_col)).over(w)
        )
        .select(
            id_col,
            "group_id",
            "group_size",
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def dup_rate_by_source(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    scale: int = 1_000_000,
) -> DataFrame:
    """Where do the near-duplicates COME FROM: per source, how many of
    its docs participate in at least one duplicate pair, split into
    within-source and cross-source involvement — the curation readout
    that turns a pair list ([[minhash_lsh_pairs]] or any (ia, ib) pair
    table) into a per-origin quality score ("src3 is 40% self-duplicated;
    src1 mostly copies OTHER sources").

    ``dup_rate_ppm = dup_docs·1e6 div n_docs`` — exact integer.

    Scale shape: two id-keyed joins to label pair endpoints with
    sources, one explode to per-(doc, kind) involvement, distinct +
    (source) aggregate joined back to per-source doc counts (broadcast —
    the source dimension is small by construction).
    """
    src = docs.select(
        F.col(id_col).alias("_id"), F.col(source_col).alias("_src")
    )
    a = src.select(F.col("_id").alias("ia"), F.col("_src").alias("src_a"))
    b = src.select(F.col("_id").alias("ib"), F.col("_src").alias("src_b"))
    labeled = pairs.select("ia", "ib").join(a, "ia").join(b, "ib")
    inv = labeled.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("doc"),
                    F.col("src_a").alias("src"),
                    (F.col("src_a") == F.col("src_b")).alias("within"),
                ),
                F.struct(
                    F.col("ib").alias("doc"),
                    F.col("src_b").alias("src"),
                    (F.col("src_a") == F.col("src_b")).alias("within"),
                ),
            )
        ).alias("e")
    ).select("e.doc", "e.src", "e.within")
    per_doc = inv.groupBy("src", "doc").agg(
        F.max(F.col("within").cast("int")).alias("_w"),
        F.max((~F.col("within")).cast("int")).alias("_x"),
    )
    dup_stats = per_doc.groupBy("src").agg(
        F.count("*").cast("long").alias("dup_docs"),
        F.sum("_w").cast("long").alias("within_source_docs"),
        F.sum("_x").cast("long").alias("cross_source_docs"),
    )
    counts = docs.groupBy(F.col(source_col).alias("src")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return (
        counts.join(dup_stats, "src", "left")
        .select(
            F.col("src").alias(source_col),
            "n_docs",
            F.coalesce(F.col("dup_docs"), F.lit(0)).cast("long").alias("dup_docs"),
            F.coalesce(F.col("within_source_docs"), F.lit(0))
            .cast("long")
            .alias("within_source_docs"),
            F.coalesce(F.col("cross_source_docs"), F.lit(0))
            .cast("long")
            .alias("cross_source_docs"),
            F.expr(f"coalesce(dup_docs, 0) * {scale} div n_docs")
            .cast("long")
            .alias("dup_rate_ppm"),
        )
    )


def dup_rate_by_source_oracle_sql(
    pairs_sql: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[dup_rate_by_source]] (``pairs_sql`` yields ia, ib)."""
    return f"""
WITH pairs AS (SELECT ia, ib FROM ({pairs_sql})),
src AS (SELECT {id_col} AS id, {source_col} AS src FROM {table}),
labeled AS (
  SELECT p.ia, p.ib, a.src AS src_a, b.src AS src_b
  FROM pairs p JOIN src a ON p.ia = a.id JOIN src b ON p.ib = b.id
),
inv AS (
  SELECT ia AS doc, src_a AS src, src_a = src_b AS within FROM labeled
  UNION ALL
  SELECT ib, src_b, src_a = src_b FROM labeled
),
per_doc AS (
  SELECT src, doc,
         MAX(CASE WHEN within THEN 1 ELSE 0 END) AS w,
         MAX(CASE WHEN within THEN 0 ELSE 1 END) AS x
  FROM inv GROUP BY 1, 2
),
dup_stats AS (
  SELECT src, CAST(count(*) AS BIGINT) AS dup_docs,
         CAST(SUM(w) AS BIGINT) AS within_source_docs,
         CAST(SUM(x) AS BIGINT) AS cross_source_docs
  FROM per_doc GROUP BY 1
),
counts AS (
  SELECT {source_col} AS src, CAST(count(*) AS BIGINT) AS n_docs
  FROM {table} GROUP BY 1
)
SELECT c.src AS {source_col}, c.n_docs,
       CAST(COALESCE(d.dup_docs, 0) AS BIGINT) AS dup_docs,
       CAST(COALESCE(d.within_source_docs, 0) AS BIGINT)
         AS within_source_docs,
       CAST(COALESCE(d.cross_source_docs, 0) AS BIGINT)
         AS cross_source_docs,
       CAST(COALESCE(d.dup_docs, 0) * {scale} // c.n_docs AS BIGINT)
         AS dup_rate_ppm
FROM counts c LEFT JOIN dup_stats d ON c.src = d.src
"""


def source_shingle_overlap(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    ngram_n: int = 2,
    scale: int = 1_000_000,
    eager_checkpoint: bool = True,
) -> DataFrame:
    """Corpus-level cross-source content overlap: for every pair of
    sources, the EXACT Jaccard and directed containments of their
    distinct shingle-fingerprint sets — the corpus-mixing diagnostic
    behind "how much of source B is already in source A" that doc-level
    dedup ([[minhash_lsh_pairs]]) cannot answer (two sources can share
    80% of their n-gram mass with zero near-duplicate documents).

    All integer: shingles are the [[token_fps]] rolling-hash
    fingerprints, set sizes and intersections are exact distinct counts,
    and ``jaccard_ppm = inter * 1e6 div (|A| + |B| - inter)`` (plus both
    directed ``contain_*_ppm`` containments).

    Scale shape (100 TB): ONE (group, fp) distinct aggregate over the
    corpus (map-side partial on the exploded shingles); the pair join is
    keyed on the fingerprint and fans out at most
    ``C(groups_with_fp, 2)`` per fp — bounded by the (small) source
    count, never corpus size; everything downstream is pairs-of-sources
    sized.

    EAGER by default (r7 ADVICE): with ``eager_checkpoint=True`` the
    pairs-sized result is ``localCheckpoint(eager=True)``-ed — Spark
    jobs run at CALL time, lineage is truncated, and the result lives
    in (non-fault-tolerant) executor storage — so the persisted shingle
    blocks can be released before returning.  Pass
    ``eager_checkpoint=False`` to keep lazy semantics; the returned
    DataFrame then carries the internal persist handle as
    ``result._pyrope_cached_deps`` (r8 ADVICE — the fps DataFrame is
    not otherwise reachable), and the caller releases the corpus-sized
    shingle blocks via ``for d in result._pyrope_cached_deps:
    d.unpersist()`` once done (or ``spark.catalog.clearCache()`` as the
    blunt fallback).

    Output: (source_a, source_b, n_a, n_b, n_common, jaccard_ppm,
    contain_a_ppm, contain_b_ppm), source_a < source_b.
    """
    # persist the (group, fp) distinct: it feeds THREE consumers (sizes,
    # both self-join sides) and each would otherwise re-run the
    # tokenize + ngram + explode + distinct pipeline over the whole
    # corpus (measured 194 s -> 28 s at 1M docs / ~29M shingles)
    # r10 opt (guide §4.2): Arrow+numpy fingerprint kernel instead of the
    # interpreted char-level HOF chain — value-identical (token_fp_rows)
    fps = (
        token_fp_rows(
            docs, id_col=group_col, text_col=text_col, ngram_n=ngram_n
        )
        .select(F.col(group_col).alias("g"), "fp")
        .distinct()
        .persist()
    )
    sizes = fps.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # r10 opt (guide §2.4 "remove shuffles outright"): the old self-join
    # shuffled the corpus-sized fps table TWICE (both join sides) and
    # materialized every co-occurring (ga, gb, fp) row through a join.
    # Per fp the qualifying pairs are exactly the unordered pairs of the
    # fp's distinct group set, so ONE fp-keyed collect_set + an in-row
    # pair expansion (sorted -> ga < gb for free) produces the identical
    # (ga, gb) multiset with one exchange and no join.  Fan-out is
    # C(groups_with_fp, 2) per fp — the same bound as the join's output.
    gs = fps.groupBy("fp").agg(F.sort_array(F.collect_set("g")).alias("_gs"))
    inter = (
        gs.filter(F.size("_gs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_gs, (x, i) -> "
                    "transform(slice(_gs, i + 2, size(_gs) - i - 1), "
                    "y -> struct(x AS ga, y AS gb))))"
                )
            ).alias("_p")
        )
        .groupBy(F.col("_p.ga").alias("ga"), F.col("_p.gb").alias("gb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("g").alias("ga"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("g").alias("gb"), F.col("n").alias("n_b"))
    out = (
        inter.join(F.broadcast(sa), "ga")
        .join(F.broadcast(sb), "gb")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "n_a",
            "n_b",
            "n_common",
            F.expr(f"n_common * {scale} DIV (n_a + n_b - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
            F.expr(f"n_common * {scale} DIV n_a").cast("long")
            .alias("contain_a_ppm"),
            F.expr(f"n_common * {scale} DIV n_b").cast("long")
            .alias("contain_b_ppm"),
        )
    )
    # pairs-of-sources-sized result: checkpoint it so the persisted fps
    # blocks can be released immediately (containment_pairs discipline)
    if eager_checkpoint:
        out = out.localCheckpoint(eager=True)
        fps.unpersist()
    else:
        out._pyrope_cached_deps = [fps]
    return out


def source_shingle_overlap_oracle_sql(
    *,
    table: str = "documents",
    group_sql: str = "source",
    text_sql: str = "text",
    ngram_n: int = 2,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[source_shingle_overlap]] — same rolling-hash
    shingle fingerprints, same exact set arithmetic."""
    from pyrope_spark.functions.text import (
        char_fp_rolling_sql,
        tokens_sql,
        word_ngrams_from_tokens_sql,
    )

    ng = word_ngrams_from_tokens_sql("t", ngram_n)
    fp = char_fp_rolling_sql("x")
    return f"""
WITH tk AS (SELECT {group_sql} AS g, {tokens_sql(text_sql)} AS t FROM {table}),
fps AS (
  SELECT DISTINCT g, unnest(list_transform({ng}, x -> {fp})) AS fp FROM tk
),
sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM fps GROUP BY 1),
inter AS (
  SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS n_common
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.g < b.g
  GROUP BY 1, 2
)
SELECT i.ga AS source_a, i.gb AS source_b,
       sa.n AS n_a, sb.n AS n_b, i.n_common,
       CAST(i.n_common * {scale} // (sa.n + sb.n - i.n_common) AS BIGINT)
         AS jaccard_ppm,
       CAST(i.n_common * {scale} // sa.n AS BIGINT) AS contain_a_ppm,
       CAST(i.n_common * {scale} // sb.n AS BIGINT) AS contain_b_ppm
FROM inter i
JOIN sizes sa ON sa.g = i.ga
JOIN sizes sb ON sb.g = i.gb
"""


def minhash_jaccard_calibration(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    seed: int = MINHASH_SEED,
    ngram_n: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Estimator-calibration table for the minhash dedup pipeline: over
    the LSH CANDIDATE pairs (>= 1 band collision — the pairs the pipeline
    actually decides on), group by the number of agreeing signature
    components and report the exact-Jaccard distribution inside each
    agreement level. This is how a dedup threshold is tuned honestly:
    E[matches]/k estimates J, and this table shows the real spread around
    that estimate on YOUR corpus, not the textbook variance.

    All integer: agreement level = count of equal mh components (0..k),
    exact ``jaccard_ppm = |A∩B| * 1e6 div |A∪B|`` per pair over the same
    shingle fingerprints the signatures hashed; per level the table
    carries pair count, floor-mean / min / max exact-Jaccard ppm.

    Scale shape (100 TB): identical to [[minhash_lsh_pairs]] (banded
    buckets, no all-pairs stage) plus one k-term component-equality sum
    per CANDIDATE (candidate volume, not corpus volume) and a <= k+1-row
    final aggregate.

    Output: (n_matching, est_jaccard_ppm, n_pairs, mean_exact_ppm,
    min_exact_ppm, max_exact_ppm) ordered by n_matching.
    """
    rows_per_band = num_hashes // bands
    sig = with_minhash(
        docs.select(id_col, text_col), text_col=text_col,
        num_hashes=num_hashes, seed=seed, ngram_n=ngram_n, fps_col="_fps",
    ).persist()
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh_{bi * rows_per_band + j}").cast("string")
                    for j in range(rows_per_band)
                ],
            )
            for bi in range(bands)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_key")
    )
    a = buckets.select(F.col(id_col).alias("ia"), "band", "band_key")
    b = buckets.select(F.col(id_col).alias("ib"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
    )
    sa = sig.select(
        F.col(id_col).alias("ia"), F.col("_fps").alias("_fa"),
        *[F.col(f"mh_{i}").alias(f"_ma{i}") for i in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("ib"), F.col("_fps").alias("_fb"),
        *[F.col(f"mh_{i}").alias(f"_mb{i}") for i in range(num_hashes)],
    )
    match_expr = None
    for i in range(num_hashes):
        term = (F.col(f"_ma{i}") == F.col(f"_mb{i}")).cast("long")
        match_expr = term if match_expr is None else match_expr + term
    pairs = (
        cand.join(sa, "ia")
        .join(sb, "ib")
        .select(
            match_expr.alias("n_matching"),
            F.expr(
                f"size(array_intersect(_fa, _fb)) * CAST({scale} AS BIGINT) "
                f"DIV size(array_union(_fa, _fb))"
            ).alias("_j"),
        )
    )
    out = (
        pairs.groupBy("n_matching")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(_j) DIV count(1)").cast("long").alias("mean_exact_ppm"),
            F.min("_j").cast("long").alias("min_exact_ppm"),
            F.max("_j").cast("long").alias("max_exact_ppm"),
        )
        .select(
            F.col("n_matching").cast("long").alias("n_matching"),
            F.expr(f"n_matching * {scale} DIV {num_hashes}")
            .cast("long")
            .alias("est_jaccard_ppm"),
            "n_pairs",
            "mean_exact_ppm",
            "min_exact_ppm",
            "max_exact_ppm",
        )
    )
    out = out.cache()
    out.count()
    sig.unpersist()
    return out


def minhash_calibration_oracle_sql(
    *,
    table: str = "documents",
    id_sql: str = "doc_id",
    text_sql: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    seed: int = MINHASH_SEED,
    ngram_n: int = 3,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[minhash_jaccard_calibration]]."""
    from pyrope_spark.functions.text import (
        char_fp_rolling_sql,
        tokens_sql,
        word_ngrams_from_tokens_sql,
    )

    rows = num_hashes // bands
    ng = word_ngrams_from_tokens_sql("t", ngram_n)
    fp = char_fp_rolling_sql("x")
    mh_exprs = ", ".join(
        f"CAST(COALESCE(list_min(list_transform(fps, f -> "
        f"({a} * (f % {FP_PRIME}) + {b}) % {FP_PRIME})), {FP_PRIME}) AS BIGINT)"
        f" AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, concat_ws(':', "
        + ", ".join(f"mh_{bi * rows + j}" for j in range(rows))
        + ") AS band_key FROM sig"
        for bi in range(bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN xa.mh_{i} = xb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
WITH tk AS (SELECT {id_sql} AS id, {tokens_sql(text_sql)} AS t FROM {table}),
fpt AS (SELECT id, list_distinct(list_transform({ng}, x -> {fp})) AS fps
        FROM tk),
sig AS (SELECT id, fps, {mh_exprs} FROM fpt),
bandt AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.id AS ia, b.id AS ib
  FROM bandt a JOIN bandt b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.id < b.id
),
pairs AS (
  SELECT CAST({match_sum} AS BIGINT) AS n_matching,
         CAST(len(list_intersect(xa.fps, xb.fps)) * {scale}
              // len(list_distinct(xa.fps || xb.fps)) AS BIGINT) AS j
  FROM cand c JOIN sig xa ON xa.id = c.ia JOIN sig xb ON xb.id = c.ib
)
SELECT CAST(n_matching AS BIGINT) AS n_matching,
       CAST(n_matching * {scale} // {num_hashes} AS BIGINT)
         AS est_jaccard_ppm,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(j) // count(*) AS BIGINT) AS mean_exact_ppm,
       CAST(MIN(j) AS BIGINT) AS min_exact_ppm,
       CAST(MAX(j) AS BIGINT) AS max_exact_ppm
FROM pairs GROUP BY n_matching
"""


def split_leakage_audit(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    seed: str = "split1",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    labels: tuple[str, ...] = ("train", "val", "test"),
    scale: int = 1_000_000,
) -> DataFrame:
    """Eval-integrity audit: for every held-out split, how many of its
    documents share at least one n-gram shingle with ANY train document
    — the leakage the split itself cannot prevent (hash-splitting
    separates IDS, not CONTENT; near-copies land on both sides and
    quietly inflate eval scores).  The content twin of
    [[decontaminate_ngram]], pointed at the corpus' own
    [[train_val_test_split]].

    Shingles travel as the same rolling-hash fingerprints as
    [[source_shingle_overlap]]; the train fingerprint SET is distinct
    once; every held-out doc is then one semi-join probe — no pair
    enumeration anywhere.

    Output per held-out split: docs, leaky docs, leak_ppm.

    Scale shape: one shingle pass over the corpus, a distinct on the
    train side, one fp-keyed semi join; fanout bounded by shingle
    vocabulary, never doc pairs.
    """
    from pyrope_spark.operators.curation import hash_split_bucket

    total = sum(weights)
    cuts, acc = [], 0.0
    for w in weights:
        acc += w / total
        cuts.append(int(acc * 10_000))
    cuts[-1] = 10_000
    bucket = hash_split_bucket(F.col(id_col), seed, 10_000)
    expr = None
    for lab, hi in zip(labels, cuts):
        cond = bucket < hi
        expr = (
            F.when(cond, F.lit(lab)) if expr is None
            else expr.when(cond, F.lit(lab))
        )
    labeled = docs.withColumn("split", expr)
    # r10 opt (guide §4.2 + §2.4): the shingle fingerprints come from the
    # Arrow+numpy kernel (token_fp_rows — per-doc distinct, exactly the
    # distinct (id, shingle)->fp rows the old shingle_table+char_fp chain
    # produced), and the split label is re-derived from the id hash
    # directly on the fp table instead of joining the shingle table back
    # to the labeled docs — one corpus-sized join removed, same rows.
    # checkpoint: fps feeds BOTH sides of the semi join (train set and
    # held-out probes) — unmaterialized, the fingerprint kernel would run
    # twice over the corpus (re-probed: 5.6 s vs 2.0 s at sf0.1)
    fps = (
        token_fp_rows(docs, id_col=id_col, text_col=text_col, ngram_n=ngram_n)
        .withColumn("split", expr)
        .localCheckpoint(eager=True)
    )
    train_fps = (
        fps.filter(F.col("split") == labels[0]).select("fp").distinct()
    )
    held = fps.filter(F.col("split") != labels[0])
    leaky = (
        held.join(train_fps, "fp", "left_semi")
        .select(id_col, "split")
        .distinct()
    )
    per_split = labeled.filter(F.col("split") != labels[0]).groupBy(
        "split"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    leak_counts = leaky.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_leaky")
    )
    return (
        per_split.join(leak_counts, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce(F.col("n_leaky"), F.lit(0)).cast("long").alias(
                "n_leaky"
            ),
            F.expr(
                f"CAST(CAST(COALESCE(n_leaky, 0) AS DECIMAL(38,0)) "
                f"* {scale} DIV n_docs AS BIGINT)"
            ).alias("leak_ppm"),
        )
        .orderBy("split")
    )


def split_leakage_oracle_sql(
    *,
    table: str = "documents",
    id_sql: str = "doc_id",
    text_sql: str = "text",
    ngram_n: int = 3,
    seed: str = "split1",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    labels: tuple[str, ...] = ("train", "val", "test"),
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[split_leakage_audit]]."""
    from pyrope_spark.functions.text import (
        char_fp_rolling_sql,
        tokens_sql,
        word_ngrams_from_tokens_sql,
    )
    from pyrope_spark.operators.curation import hash_split_bucket_sql

    total = sum(weights)
    cuts, acc = [], 0.0
    for w in weights:
        acc += w / total
        cuts.append(int(acc * 10_000))
    cuts[-1] = 10_000
    bucket = hash_split_bucket_sql(id_sql, seed, 10_000)
    case = "CASE " + " ".join(
        f"WHEN ({bucket}) < {hi} THEN '{lab}'"
        for lab, hi in zip(labels, cuts)
    ) + " END"
    ng = word_ngrams_from_tokens_sql("t", ngram_n)
    fp = char_fp_rolling_sql("x")
    return f"""
WITH labeled AS (
  SELECT {id_sql} AS id, {tokens_sql(text_sql)} AS t, {case} AS split
  FROM {table}
),
fps AS (
  SELECT DISTINCT id, split,
         unnest(list_transform({ng}, x -> {fp})) AS fp
  FROM labeled
),
train_fps AS (SELECT DISTINCT fp FROM fps WHERE split = '{labels[0]}'),
leaky AS (
  SELECT DISTINCT id, split
  FROM fps WHERE split <> '{labels[0]}'
    AND fp IN (SELECT fp FROM train_fps)
),
per_split AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM labeled WHERE split <> '{labels[0]}' GROUP BY 1
),
lc AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_leaky FROM leaky GROUP BY 1
)
SELECT per_split.split, n_docs,
       CAST(COALESCE(n_leaky, 0) AS BIGINT) AS n_leaky,
       CAST(COALESCE(n_leaky, 0) * {scale} // n_docs AS BIGINT) AS leak_ppm
FROM per_split LEFT JOIN lc ON per_split.split = lc.split
ORDER BY 1
"""


def ngram_novelty_per_doc(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    scale: int = 1_000_000,
    eager_checkpoint: bool = True,
) -> DataFrame:
    """Per-document n-gram novelty against everything EARLIER in the
    corpus (earlier = smaller id — the deterministic stand-in for
    ingest order): the fraction of a doc's distinct shingles whose
    FIRST corpus occurrence is this doc.  The novelty-sampling signal —
    a doc that is 95% previously-seen n-grams adds little even when no
    single earlier doc is a near-duplicate ([[minhash_lsh_pairs]] can't
    see diffuse reuse; [[split_leakage_audit]] asks the cross-split
    version of this question).

    A shingle's first owner is ``min(id)`` over its carriers — one
    fp-keyed aggregate; novelty is then one doc-keyed aggregate over the
    joined table. No pair enumeration anywhere.

    Output per doc: n_shingles, n_novel, novelty_ppm.

    EAGER by default (r7 ADVICE): ``eager_checkpoint=True`` runs Spark
    jobs at call time (localCheckpoint truncates lineage into executor
    storage) so the persisted shingle blocks release before returning;
    ``eager_checkpoint=False`` keeps the operator lazy and exposes the
    internal persist on the result as ``_pyrope_cached_deps`` (r8
    ADVICE) for the caller to unpersist once done.
    """
    # persist: fps feeds the first-owner aggregate AND the per-doc
    # shingle count — unpersisted, the tokenize+fingerprint pipeline runs
    # twice over the corpus (the source_shingle_overlap recompute class;
    # measured 52.7 -> 38.6 s at 1M docs / ~29M shingles)
    # r10 opt (guide §4.2): Arrow+numpy fingerprint kernel instead of the
    # interpreted char-level HOF chain.  token_fp_rows is per-doc distinct
    # by construction (np.unique == the expression path's array_distinct),
    # and (id, fp) distinctness IS per-doc distinctness, so the global
    # .distinct() exchange is dropped as well — value-identical rows.
    fps = (
        token_fp_rows(docs, id_col=id_col, text_col=text_col, ngram_n=ngram_n)
        .select(F.col(id_col).alias("id"), "fp")
        .persist()
    )
    # r10 opt (guide §2.3/§2.4): the old plan joined the corpus-sized fps
    # table back to firsts on fp (one extra exchange of every shingle row
    # + a shingle-sized join) and then re-aggregated the fat join output
    # by doc.  But n_novel per doc is just the number of FIRSTS rows the
    # doc owns — countable on the (distinct-fp)-sized firsts table — and
    # n_shingles is a direct doc-keyed count over fps.  Two slim
    # aggregates + one doc-sized left join produce the identical rows
    # with the shingle-sized join and its exchange removed (plan: 4
    # corpus-scale exchanges -> 3, join input shrunk from |shingle rows|
    # to |docs|).
    firsts = fps.groupBy("fp").agg(F.min("id").alias("first_id"))
    shingles_per_doc = fps.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    novel_per_doc = firsts.groupBy(F.col("first_id").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    out = (
        shingles_per_doc.join(novel_per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr(
                f"CAST(CAST(n_novel AS DECIMAL(38,0)) * {scale} "
                f"DIV n_shingles AS BIGINT)"
            ),
        )
    )
    # doc-sized result: checkpoint so the fps blocks release immediately
    if eager_checkpoint:
        out = out.localCheckpoint(eager=True)
        fps.unpersist()
    else:
        out._pyrope_cached_deps = [fps]
    return out


def ngram_novelty_oracle_sql(
    *,
    table: str = "documents",
    id_sql: str = "doc_id",
    text_sql: str = "text",
    ngram_n: int = 3,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[ngram_novelty_per_doc]]."""
    from pyrope_spark.functions.text import (
        char_fp_rolling_sql,
        tokens_sql,
        word_ngrams_from_tokens_sql,
    )

    ng = word_ngrams_from_tokens_sql("t", ngram_n)
    fp = char_fp_rolling_sql("x")
    return f"""
WITH tk AS (SELECT {id_sql} AS id, {tokens_sql(text_sql)} AS t FROM {table}),
fps AS (
  SELECT DISTINCT id, unnest(list_transform({ng}, x -> {fp})) AS fp FROM tk
),
firsts AS (SELECT fp, MIN(id) AS first_id FROM fps GROUP BY 1)
SELECT fps.id AS {id_sql},
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_id = fps.id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN first_id = fps.id THEN 1 ELSE 0 END) * {scale}
            // COUNT(*) AS BIGINT) AS novelty_ppm
FROM fps JOIN firsts USING (fp)
GROUP BY 1
"""
