"""BPE trainer: hand-traced closed forms.

Corpus (Sennrich et al. ACL'16 flavor, no end-of-word marker —
documented deviation in operators/bpe.py):

    low low low low low lower lower newest newest newest
    newest newest newest widest widest widest

word freqs: low=5, lower=2, newest=6, widest=3.

Initial pair counts (weighted by word freq):
    low:    (l,o)5 (o,w)5
    lower:  (l,o)2 (o,w)2 (w,e)2 (e,r)2
    newest: (n,e)6 (e,w)6 (w,e)6 (e,s)6 (s,t)6
    widest: (w,i)3 (i,d)3 (d,e)3 (e,s)3 (s,t)3
Totals: (e,s)=9, (s,t)=9, (w,e)=8, (l,o)=7, (o,w)=7, (n,e)=6, (e,w)=6.

merge 1: freq 9 tie between (e,s) and (s,t) -> (e,s) wins (left asc).
         newest -> n,e,w,es,t ; widest -> w,i,d,es,t
merge 2: (es,t)=9 now top -> est. newest -> n,e,w,est ; widest -> w,i,d,est
merge 3: (l,o)=7 and (o,w)=7 -> (l,o) wins. low -> lo,w ; lower -> lo,w,e,r
merge 4: (lo,w)=7 -> low. low -> low ; lower -> low,e,r
merge 5: tie at 6 among (e,w), (n,e), (w,est) -> (e,w) wins (left asc).
         newest -> n,ew,est
"""

import pytest

pytestmark = pytest.mark.usefixtures("spark")

CORPUS = (
    ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
)


def _docs(spark):
    return spark.createDataFrame(
        [(0, " ".join(CORPUS))], "doc_id long, text string"
    )


def test_word_freqs(spark):
    from pyrope_spark.operators.bpe import word_freqs

    wf = {r.word: r.freq for r in word_freqs(_docs(spark)).collect()}
    assert wf == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_initial_pair_counts(spark):
    from pyrope_spark.operators.bpe import pair_counts, word_freqs
    from pyspark.sql import functions as F

    vocab = word_freqs(_docs(spark)).select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    )
    pc = {
        (r.left_sym, r.right_sym): r.pair_freq
        for r in pair_counts(vocab).collect()
    }
    assert pc[("e", "s")] == 9
    assert pc[("s", "t")] == 9
    assert pc[("l", "o")] == 7
    assert pc[("o", "w")] == 7
    assert pc[("w", "e")] == 8  # lower(2) + newest(6)
    assert pc[("n", "e")] == 6


def test_bpe_train_hand_trace(spark):
    from pyrope_spark.operators.bpe import bpe_train

    merges, vocab = bpe_train(_docs(spark), num_merges=5)
    got = [
        (r.step, r.left_sym, r.right_sym, r.pair_freq)
        for r in merges.orderBy("step").collect()
    ]
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "l", "o", 7),
        (4, "lo", "w", 7),
        (5, "e", "w", 6),
    ]
    syms = {r.word: list(r.syms) for r in vocab.collect()}
    assert syms["low"] == ["low"]
    assert syms["lower"] == ["low", "e", "r"]
    assert syms["newest"] == ["n", "ew", "est"]
    assert syms["widest"] == ["w", "i", "d", "est"]


def test_bpe_train_min_pair_freq_stops(spark):
    from pyrope_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "ab ab cd")], "doc_id long, text string"
    )
    # (a,b)=2 merges; (c,d)=1 is below the default min_pair_freq=2
    merges, vocab = bpe_train(docs, num_merges=10)
    got = [(r.left_sym, r.right_sym) for r in merges.collect()]
    assert got == [("a", "b")]


def test_bpe_encode_matches_trained_vocab(spark):
    """Encoding the training corpus with the learned merges reproduces the
    final training vocab's segmentation (greedy lowest-rank encode ==
    training-time merge application on this corpus)."""
    from pyrope_spark.operators.bpe import bpe_encode, bpe_train

    docs = _docs(spark)
    merges, vocab = bpe_train(docs, num_merges=5)
    enc = {
        r.word: (list(r.bpe_tokens), r.n_occurrences, r.n_subword_tokens)
        for r in bpe_encode(docs, merges).collect()
    }
    train = {r.word: list(r.syms) for r in vocab.collect()}
    assert {w: v[0] for w, v in enc.items()} == train
    assert enc["low"][1] == 5 and enc["low"][2] == 1
    assert enc["newest"][1] == 6 and enc["newest"][2] == 3


def test_bpe_encode_unseen_word_falls_back_to_chars(spark):
    from pyrope_spark.operators.bpe import bpe_encode, bpe_train

    train = spark.createDataFrame(
        [(0, "low low lower")], "doc_id long, text string"
    )
    merges, vocab = bpe_train(train, num_merges=2)
    unseen = spark.createDataFrame([(1, "zq")], "doc_id long, text string")
    rows = bpe_encode(unseen, merges).collect()
    assert list(rows[0].bpe_tokens) == ["z", "q"]


def test_bpe_train_driver_matches_spark_impl(spark):
    """r10: the driver-local merge loop (auto impl under the vocab cap)
    must reproduce the distributed loop's merge table and final vocab
    exactly — same pair counts, same deterministic top-1, same merge
    application."""
    from pyrope_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new"),
         (3, "wide wider widest wide wide wide"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    m_d, v_d = bpe_train(docs, num_merges=8, impl="driver")
    m_s, v_s = bpe_train(docs, num_merges=8, impl="spark")
    assert [tuple(r) for r in m_d.collect()] == [tuple(r) for r in m_s.collect()]
    vd = {r["word"]: (r["freq"], list(r["syms"])) for r in v_d.collect()}
    vs = {r["word"]: (r["freq"], list(r["syms"])) for r in v_s.collect()}
    assert vd == vs


def test_bpe_auto_under_cap_aggregates_corpus_once(spark):
    """The auto path persists word_freqs before its size probe, so the probe
    and the driver-path collect share one aggregation: every corpus row is
    read once. (Counting jobs cannot show it — AQE splits the persisted
    probe into as many jobs as the second aggregation cost.)"""
    from pyrope_spark.operators.bpe import bpe_train

    sc = spark.sparkContext
    rows_read = sc.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rows_read.add(len(pdf))
            yield pdf

    docs = _docs(spark)
    merges, _ = bpe_train(docs.mapInPandas(count_rows, docs.schema), num_merges=3)
    assert merges.count() == 3
    assert rows_read.value == docs.count()
