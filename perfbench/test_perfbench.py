"""The benchmark's own checks. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def test_parse_metric_total():
    assert harness.parse_metric_total(
        "total (min, med, max (stageId: taskId))\n14.1 s (3.5 s, 3.5 s, 3.6 s (stage 4.0: task 7))"
    ) == pytest.approx(14.1)
    assert harness.parse_metric_total("0 ms") == 0.0
    assert harness.parse_metric_total("2,000") == 2000
    assert harness.parse_metric_total(
        "total (min, med, max (stageId: taskId))\n2.6 MiB (646.8 KiB, 666.9 KiB, 694.8 KiB (s))"
    ) == pytest.approx(2.6 * 2**20)
    assert harness.parse_metric_total("total (min, med, max)\n1.1 m (716 ms, 915 ms, 6.0 s)") == 66.0


def test_seed_windows_are_disjoint_from_the_model_rows():
    for seed in (0, 1, 7, 10**9, -3):
        w = inputs.window(seed, 8000)
        assert w.start >= inputs.MODEL_ROWS and len(w) == 8000
    assert inputs.window(1, 100) != inputs.window(2, 100)


def test_kenlm_words_matches_delimiters():
    assert workloads.kenlm_words("a\tb\n\nc\r d\x00e  ") == ["a", "b", "c", "d", "e"]
    assert workloads.kenlm_words(None) == []


def test_tree_sampler_sees_this_process():
    with harness.TreeSampler() as s:
        sum(i * i for i in range(200_000))
    assert s.peak_rss > 0 and s.cpu_s >= 0


DATA = os.path.join(ROOT, ".perfbench", "test")


@pytest.fixture(scope="module")
def spark():
    session = harness.start_spark(DATA, 2)
    yield session
    harness.stop_spark(session)


def test_estimate_arpa_to_path_matches_estimate_arpa(spark):
    """The streamed ARPA writer the big LM is built with must agree byte for
    byte with the collect-based estimate_arpa."""
    import pandas as pd

    from kenlm_rs_spark.builder.lmplz import estimate_arpa, estimate_arpa_to_path
    from kenlm_rs_spark.pipeline.corpus import generate_row

    texts = [t for t in (generate_row(i)["text"] for i in range(60)) if t is not None]
    df = spark.createDataFrame(pd.DataFrame({"text": texts})).repartition(3)
    path = os.path.join(DATA, "m.arpa")
    counts = estimate_arpa_to_path(df, path, order=3)
    harness.clear_spark_cache(spark)
    text = estimate_arpa(df, order=3)
    harness.clear_spark_cache(spark)
    with open(path) as f:
        assert f.read() == text
    assert sum(counts.values()) > 0


def test_clear_spark_cache_leaves_no_persisted_rdds(spark):
    df = spark.range(100).cache()
    df.count()
    spark.sparkContext.parallelize(range(10)).persist().count()
    assert harness.clear_spark_cache(spark) >= 2
    assert harness.persisted_rdd_count(spark.sparkContext) == 0
