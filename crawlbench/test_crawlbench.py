"""Tests of the benchmark itself.

    python3 -m pytest crawlbench/test_crawlbench.py -q -p no:cacheprovider

They check that the printed metric names are the ones BENCHMARK.json
declares, that the crawl oracle equals the engine on the reference test
site and on a small synthetic corpus, that the correctness gates pass
on the current engine and fail on a perturbed expectation, and that the
seed changes the crawl corpus but not its size.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert b["paths"] == [os.path.basename(HERE)]


class TinyDeep(run.DeepCrawl):
    PAGES = 600


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.environ["PYTHONPATH"] = ROOT
    spark = run.start_session(2, work)
    yield spark, work
    spark.stop()


def test_seed_changes_corpus_not_row_count(session, tmp_path):
    spark, _ = session
    urls = {}
    for seed in (1, 2):
        TinyDeep().build_inputs(spark, str(tmp_path / str(seed)), seed)
        t = pq.read_table(str(tmp_path / str(seed) / "corpus"), columns=["url"])
        urls[seed] = set(t.column("url").to_pylist())
    assert len(urls[1]) == len(urls[2]) == TinyDeep.PAGES
    assert urls[1] != urls[2]


@pytest.mark.parametrize("budget", [None, 1])
def test_oracle_equals_engine_on_testsite(session, tmp_path, budget):
    from oracles import crawl_oracle, load_pages

    from sitemapper_spark.corpus import testsite_corpus, testsite_root
    from sitemapper_spark.engine import CrawlConfig, CrawlEngine

    spark, _ = session
    corpus_dir = str(tmp_path / "corpus")
    testsite_corpus(spark).write.parquet(corpus_dir)
    seeds = [(testsite_root(), "site", 3, 0.0)]
    cfg = CrawlConfig(max_depth=3, per_host_budget=budget,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    res = CrawlEngine(spark, spark.read.parquet(corpus_dir), cfg).run(seeds)
    got = run.DeepCrawl.outputs(res)
    want = crawl_oracle(load_pages(corpus_dir), seeds, budget)
    assert sorted(got[0]) == sorted(want[0])
    assert sorted(got[1]) == sorted(want[1])


def test_deep_gate_passes_and_catches_a_perturbed_expectation(session, tmp_path):
    spark, work = session
    wl = TinyDeep()
    wl.build_inputs(spark, str(tmp_path), 3)
    wl.open(spark, str(tmp_path), work)
    wl.warm_up(cores=2)  # checked against the oracle
    good = wl.op()
    assert good.ok, good.note
    # the same crawl at another partition count gives the same rows
    _, res, _, _ = wl.crawl(wl.config(npart=1))
    assert tuple(run.rows_digest(x) for x in wl.outputs(res)) == wl.expected_digests
    wl.expected_digests = (wl.expected_digests[0][::-1], wl.expected_digests[1])
    bad = wl.op()
    assert not bad.ok and "oracle" in bad.note
    wl.cleanup()


def test_query_gate_passes_and_catches_a_perturbed_expectation(session, tmp_path):
    spark, work = session
    wl = run.QuerySuite()
    wl.build_inputs(spark, str(tmp_path), 0)
    wl.open(spark, str(tmp_path), work)
    wl.queries = ["tpch_q1", "token_count"]
    wl.warm_up(cores=2)
    assert wl.multiset_problems == []
    assert wl.op().ok
    wl.expected["token_count"] = dict(wl.expected["token_count"], rows=1)
    assert not wl.op().ok
    wl.expected["token_count"] = dict(
        wl.expected["token_count"], multiset_sha256="0" * 64)
    wl.warm_up(cores=2)
    assert wl.multiset_problems == ["token_count"]
