"""The benchmark's output checks catch a corrupted output.

Run from the root of a checkout:  python3 -m pytest kgbench/tests/checks.py -q
(the file name keeps it out of a plain ``pytest`` run of the repo: its
session and environment are the benchmark's own).  Each test builds a
small instance of a workload, shows that the check passes on the
program's real output, then corrupts that output by one triple, one
appended row or one answer and shows that the check fails.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from kgbench import crawl_shard, nt_merge, store_query  # noqa: E402
from kgbench.common import (WORK, cleanup, prepare_env, start_spark,  # noqa: E402
                            stop_spark)
from kgbench.spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def run_dir():
    d = os.path.join(WORK, f"tests-{os.getpid()}")
    prepare_env(d)
    yield d
    cleanup(d)


@pytest.fixture(scope="module")
def spark(run_dir):
    s = start_spark(2)
    yield s
    stop_spark(s)


def test_crawl_shard_check_catches_one_dropped_triple(spark, run_dir, monkeypatch):
    from rdf_spark import pipeline

    monkeypatch.setattr(crawl_shard, "N_PAGES", 300)
    monkeypatch.setattr(crawl_shard, "N_FILES", 2)
    monkeypatch.setattr(crawl_shard, "WARM_PAGES", 50)
    wl = crawl_shard.CrawlShard(spark, os.path.join(run_dir, "crawl"), 7, 2, False)
    wl.setup()
    out = os.path.join(wl.run_dir, "good")
    results = wl._build(out)
    assert wl.check(out, results) == []

    store = pipeline.read_triple_store(spark, out)
    victim = store.limit(1).collect()[0]
    bad = os.path.join(wl.run_dir, "bad")
    store.filter(~((F.col("s") == victim.s) & (F.col("p") == victim.p)
                   & (F.col("o") == victim.o))) \
        .write.parquet(os.path.join(bad, pipeline.TRIPLE_STORE_DIR))
    assert any("triples != expected" in e for e in wl.check(bad, results))


def test_nt_dump_check_catches_one_extra_appended_row(spark, run_dir, monkeypatch):
    for name, value in (("N_DISTINCT", 400), ("N_DELTA", 100), ("N_FILES", 2)):
        monkeypatch.setattr(nt_merge, name, value)
    wl = nt_merge.NtDump(spark, os.path.join(run_dir, "nt"), 7)
    wl.setup()
    m, check = wl.layers(Tracer("test"))
    assert check["failed"] == 0, check["errors"]
    # the merge's own scan pruned to the delta's buckets
    assert 0 < m["store.buckets_read_ratio"]["value"] <= (
        len(nt_merge.DELTA_BUCKETS) / nt_merge.N_BUCKETS)
    store_dir, export_dir, appended = wl.dir("store"), wl.dir("export"), wl.appended

    extra = spark.read.parquet(store_dir).limit(1).withColumn(
        "o", F.lit("http://bench.example/res/not-in-any-dump"))
    extra.write.mode("append").partitionBy("bucket").parquet(store_dir)
    errs = wl.check(store_dir, export_dir, appended + 1)
    assert any("merge appended" in e for e in errs)
    assert any("triples != expected" in e for e in errs)


@pytest.fixture(scope="module")
def queries(spark, run_dir):
    wl = store_query.StoreQuery(spark, os.path.join(run_dir, "sq"), 7, 2, False)
    wl.n_pages = 3000
    wl.setup()
    return wl


def test_store_query_check_catches_one_wrong_answer(queries):
    wl = queries
    for shape in store_query.MIX:
        q = next(q for q in wl.round if q["shape"] == shape and wl.expected[q["key"]])
        got = wl._run(q)
        assert wl._correct(q, got), shape
        wrong = got[:-1] + [tuple("x" if v is not None else v for v in got[-1])]
        assert not wl._correct(q, wrong), shape
        assert not wl._correct(q, got[1:]), shape


def test_store_query_check_catches_a_wrong_rank_or_count(queries):
    wl = queries
    for shape in store_query.HEAVY:
        q = {"shape": shape, "key": shape}
        got = wl._run(q)
        assert wl._correct(q, got), shape
        if shape == "pagerank_small":
            n, total, top = got
            node, rank = top[0]
            wrong = (n, total, [(node, rank * 1.001)] + top[1:])
        else:
            wrong = got + 1
        assert not wl._correct(q, wrong), shape
