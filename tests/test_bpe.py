"""BPE tokenizer induction: textbook merges, greedy overlap, early
stop, determinism, segmentation round trip, cache hygiene."""

import pytest
from pyspark.sql import functions as F

from moz_datapipeline_spark.operators.bpe import (
    bpe_segment,
    bpe_train,
    bpe_word_table,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_textbook_merges(spark):
    df = _docs(spark, [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest widest",
    ])
    m = bpe_train(df, 4)
    # Sennrich example shape: 'lo' then 'low' fuse first (7 each),
    # then the 'est' family (6)
    assert [(a, b) for _, a, b, _ in m[:2]] == [("l", "o"), ("lo", "w")]
    assert m[0][3] == 7 and m[2][3] == 6


def test_bpe_greedy_overlap(spark):
    # 'aaaa' has 3 overlapping (a,a) pairs; greedy left-to-right
    # fusing gives [aa, aa], then one (aa,aa) pair -> 'aaaa'
    df = _docs(spark, ["aaaa aaaa aaaa"])
    m = bpe_train(df, 2)
    assert [(a, b) for _, a, b, _ in m] == [("a", "a"), ("aa", "aa")]
    seg = bpe_segment(df, m).first()
    assert seg.bpe_tokens == ["aaaa", "aaaa", "aaaa"]


def test_bpe_early_stop_and_pipe_words(spark):
    # every word unique chars -> no pair occurs twice -> zero merges
    df = _docs(spark, ["ab cd ef"])
    assert bpe_train(df, 5) == []
    # delimiter-containing words are dropped from the vocab
    vt = bpe_word_table(_docs(spark, ["ok a|b ok"]))
    assert [r.word for r in vt.collect()] == ["ok"]


def test_bpe_deterministic_across_partitionings(spark):
    texts = [f"token{i % 7} repeat repeat banana band" for i in range(40)]
    df = _docs(spark, texts)
    m1 = bpe_train(df, 6)
    m2 = bpe_train(df.repartition(13), 6)
    assert m1 == m2 and len(m1) == 6


def test_bpe_segment_lossless_and_udf_free(spark):
    df = _docs(spark, ["hello world", "hello again world"])
    m = bpe_train(df, 3)
    seg = bpe_segment(df, m)
    # concatenating a doc's BPE tokens reproduces its text sans spaces
    for r in seg.join(df, "doc_id").collect():
        assert "".join(r.bpe_tokens) == r.text.replace(" ", "")
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.usefixtures("clean_storage")
def test_bpe_train_releases_caches(spark):
    df = _docs(spark, ["some words some words more words"])
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    bpe_train(df, 3)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after == before
