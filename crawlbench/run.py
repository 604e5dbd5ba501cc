"""Crawl benchmark runner: one workload, one seed, one closed loop.

    python3 crawlbench/run.py --workload crawl_deep --seed 1 --seconds 12 --trace 0

Runs from the repository root. One Python process starts Spark at
``local[<cores>]`` and runs the workload as a closed loop with a single
client: each operation starts only after the previous one returned and
was checked, until ``--seconds`` have passed (at least one operation).
Every operation is bracketed by the weather probes, checked against
expected outputs computed without the engine, and followed by cache
clean-up, so the next one starts with no persisted data.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
list every operation and every metric with unit, median, quartiles,
highest supported percentile and sample count. The exit code is 1 when
any operation failed or produced a wrong output.

All files go under ``.crawlbench_work/`` in the repository root and are
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    NEAR_DUP_QUERIES, QUERY_SUITE, SF_DIR, SF_TABLES, multiset_digest, rows_digest,
)
import measure  # noqa: E402

END_TO_END = {"wall_s": "s", "urls_per_s": "1/s", "setup_s": "s"}
# printed in every run's table, outside the result line (see README.md)
PRINTED_ONLY = {"peak_rss_mb": "MB", "ops_failed_ratio": "ratio"}

ENGINE_LAYER = {
    "engine.rounds": "count", "engine.visited": "count", "engine.edges": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.exec_run_s": "s", "engine.exec_cpu_s": "s", "engine.gc_s": "s",
    "engine.slot_busy_ratio": "ratio",
    "engine.round_s.p50": "s", "engine.round_s.max": "s",
    "engine.phase.plan_build_s": "s",
    "engine.phase.frontier_materialize_s": "s",
    "engine.phase.settle_prev_tail_s": "s",
    "engine.shuffle_write_mb": "MB", "engine.shuffle_read_mb": "MB",
    "engine.spill_mb": "MB", "engine.ckpt_mb": "MB",
    "engine.ckpt_bytes_per_url": "B/url",
}
REPLAY_LAYERS = {
    "politeness.dequeue_s": "s", "politeness.dequeued_rows": "count",
    "politeness.carry_rows": "count",
    "bloom.build_s": "s", "bloom.split_s": "s", "bloom.fp_ratio": "ratio",
    "cuckoo.build_s": "s", "cuckoo.split_s": "s", "cuckoo.fp_ratio": "ratio",
    "udfs.clean_links_s": "s", "udfs.links_per_s": "1/s",
    "multimodal.decode_verify_s": "s", "multimodal.images_per_s": "1/s",
}
QUERY_LAYER = {
    **{f"queries.{q}_s": "s" for q in QUERY_SUITE},
    **{f"queries.{q}.exec_cpu_s": "s" for q in NEAR_DUP_QUERIES},
    **{f"queries.{q}.shuffle_mb": "MB" for q in NEAR_DUP_QUERIES},
    "dedup_ops.minhash_yield": "ratio", "similarity_ops.srp_yield": "ratio",
}
RUN_LAYER = {
    "peak_rss_mb": "MB", "session.storage_mb_after_run": "MB", "trace.overhead_s": "s",
    "weather.cpu_probe_ms": "ms", "weather.membw_probe_ms": "ms",
}
PER_LAYER = {**ENGINE_LAYER, **REPLAY_LAYERS, **QUERY_LAYER, **RUN_LAYER}


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", flush=True)


# --- session ------------------------------------------------------------


def start_session(cores: int, work: str):
    from sitemapper_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark("crawlbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# --- workloads ----------------------------------------------------------


class OpResult:
    def __init__(self, wall: float, units: float, ok: bool, note: str = "",
                 info: dict | None = None):
        self.wall, self.units, self.ok, self.note = wall, units, ok, note
        self.info = info or {}


class DeepCrawl:
    """crawl_deep: one seed per host of a 64-host Zipf synthetic corpus
    (``synth_corpus``), crawled to depth 4 under a per-host budget that
    binds on the hottest hosts, so frontier rows carry over.

    The link graph is generated from a fixed seed; ``--seed`` renames
    every host (``hostK.example.com`` -> ``hostK-<seed>.example.com``).
    Renaming keeps each host's URL order, so every seed crawls the same
    pages in the same rounds, while host hashes, and with them the
    partitioning of the frontier, change. Graphs drawn from the seed
    instead took 5-8 rounds on seeds 1-5 (budget 24), which moved
    ``wall_s`` by a quarter of its median."""

    name = "crawl_deep"
    PAGES, HOSTS, MAX_DEPTH, BUDGET = 4_000, 64, 4, 32
    GRAPH_SEED = 42

    # inputs: the corpus parquet and the seed list, from --seed
    def build_inputs(self, spark, out_dir: str, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sitemapper_spark.corpus import caption_for, synth_corpus

        graph_dir = os.path.join(out_dir, "graph")
        synth_corpus(
            spark, n_pages=self.PAGES, n_hosts=self.HOSTS, links_per_page=8,
            cross_host_fraction=0.15, error_fraction=0.02, seed=self.GRAPH_SEED,
            with_images=True, img_w=16, img_h=12,
        ).write.mode("overwrite").parquet(graph_dir)
        t = pq.read_table(graph_dir)

        def rename(u: str) -> str:
            return u.replace(".example.com", f"-{seed}.example.com", 1)

        cols = {c: t.column(c).to_pylist() for c in ("url", "host", "final_url", "out_links")}
        urls = [rename(u) for u in cols["url"]]
        for c, v in {
            "url": urls, "host": [rename(h) for h in cols["host"]],
            "final_url": [rename(u) for u in cols["final_url"]],
            "out_links": [None if ls is None else [rename(u) for u in ls]
                          for ls in cols["out_links"]],
            "caption": [caption_for(u) for u in urls],
        }.items():
            t = t.set_column(t.schema.get_field_index(c), t.schema.field(c),
                             pa.array(v, t.schema.field(c).type))
        os.makedirs(os.path.join(out_dir, "corpus"))
        pq.write_table(t, os.path.join(out_dir, "corpus", "part-0.parquet"))
        shutil.rmtree(graph_dir)
        first: dict[str, str] = {}  # the smallest URL of every host
        for url, host in sorted(zip(urls, t.column("host").to_pylist())):
            first.setdefault(host, url)
        with open(os.path.join(out_dir, "seeds.json"), "w") as f:
            json.dump([(u, f"bench-{h}", self.MAX_DEPTH, 0.0)
                       for h, u in sorted(first.items())], f)

    def config(self, npart: int | None = None, verbose: bool = False):
        from sitemapper_spark.engine import CrawlConfig

        return CrawlConfig(
            max_depth=self.MAX_DEPTH, per_host_budget=self.BUDGET,
            checkpoint_dir=self.ckpt, num_partitions=npart, verbose=verbose,
        )

    def expected(self, seed_rows: list) -> tuple[str, str]:
        """Digests of the oracle's visited and edge rows."""
        from oracles import crawl_oracle

        return tuple(rows_digest(x) for x in crawl_oracle(self.pages, seed_rows, self.BUDGET))

    def open(self, spark, in_dir: str, work: str) -> None:
        from oracles import load_pages

        from sitemapper_spark.schemas import SEEDS_SCHEMA

        self.spark = spark
        self.corpus = spark.read.parquet(os.path.join(in_dir, "corpus"))
        with open(os.path.join(in_dir, "seeds.json")) as f:
            self.seed_rows = [tuple(r) for r in json.load(f)]
        self.seeds = spark.createDataFrame(self.seed_rows, SEEDS_SCHEMA)
        self.ckpt = os.path.join(work, "ckpt")
        self.engine = None
        self.pages = load_pages(os.path.join(in_dir, "corpus"))
        self.expected_digests = self.expected(self.seed_rows)
        self.warm_up_problems: list[str] = []

    def crawl(self, cfg):
        """The timed operation: ``CrawlEngine.run`` plus the read-back
        of the visited and edge counts."""
        from sitemapper_spark.engine import CrawlEngine

        self.engine = CrawlEngine(self.spark, self.corpus, cfg)
        t0 = time.perf_counter()
        res = self.engine.run(self.seeds)
        n_visited = res.visited.count()
        n_edges = res.edges.count()
        return time.perf_counter() - t0, res, n_visited, n_edges

    @staticmethod
    def outputs(res) -> tuple[list, list]:
        v = res.visited.select("sitemap_id", "url", "depth", "round").toArrow()
        e = res.edges.select("sitemap_id", "src", "dst", "depth", "round").toArrow()
        return list(zip(*v.to_pydict().values())), list(zip(*e.to_pydict().values()))

    def warm_up(self, cores: int) -> float:
        """The same crawl, untimed: it runs every round shape, plan and
        the corpus pins once, and its outputs must equal the oracle's
        too. It uses the timed crawl's partition count: after a warm-up
        at half of it the timed crawl still compiled the plans of its
        own partitioning and took 16-21 s against 15-18 s on seeds 1-5."""
        t0 = time.perf_counter()
        _, res, _, _ = self.crawl(self.config())
        spent = time.perf_counter() - t0
        if tuple(rows_digest(x) for x in self.outputs(res)) != self.expected_digests:
            self.warm_up_problems = ["the warm-up crawl differs from the oracle"]
        self.cleanup()
        return spent

    def op(self, verbose: bool = False) -> OpResult:
        wall, res, n_visited, n_edges = self.crawl(self.config(verbose=verbose))
        visited, edges = self.outputs(res)
        problems = list(self.warm_up_problems)
        if (len(visited), len(edges)) != (n_visited, n_edges):
            problems.append("counts differ from the read-back")
        if (rows_digest(visited), rows_digest(edges)) != self.expected_digests:
            problems.append("visited/edges differ from the oracle")
        per_round: dict = {}  # every sitemap is a single host
        for sid, _, _, rnd in visited:
            per_round[(sid, rnd)] = per_round.get((sid, rnd), 0) + 1
        if max(per_round.values()) > self.BUDGET:
            problems.append("a host exceeded its per-round budget")
        note = "; ".join(problems + [f"rounds={res.rounds}"])
        return OpResult(wall, n_visited, not problems, note, {
            "res": res, "visited": n_visited, "edges": n_edges,
        })

    def cleanup(self) -> None:
        if self.engine is not None:
            self.engine.release_corpus_pins()
        self.spark.catalog.clearCache()


class QuerySuite:
    """The 16 queries bench.py times, once each per operation, over the
    bundled copy of the sf0.01 tables. The seed selects nothing."""

    name = "query_suite"

    def build_inputs(self, spark, out_dir: str, seed: int) -> None:
        shutil.copytree(SF_DIR, os.path.join(out_dir, "sf"))

    def open(self, spark, in_dir: str, work: str) -> None:
        import pyarrow.parquet as pq

        from sitemapper_spark.queries import all_queries

        self.spark, self.sf_dir = spark, os.path.join(in_dir, "sf")
        self.queries, self.registry = list(QUERY_SUITE), all_queries()
        with open(os.path.join(HERE, "expected_query_suite.json")) as f:
            self.expected = json.load(f)["queries"]
        # rows of every input table: the unit of urls_per_s for this workload
        self.input_rows = sum(
            pq.read_metadata(f"{self.sf_dir}/{t}.parquet").num_rows for t in SF_TABLES)
        self.multiset_problems: list[str] = []

    def warm_up(self, cores: int) -> float:
        """One pass that collects every result and checks its full value
        multiset against DuckDB; only the Spark calls are counted."""
        spent = 0.0
        for name in self.queries:
            t0 = time.perf_counter()
            df = self.registry[name](self.spark, self.sf_dir)
            rows = df.collect()
            spent += time.perf_counter() - t0
            exp = self.expected[name]
            if (sorted(df.columns) != exp["columns"]
                    or multiset_digest(df.columns, rows) != exp["multiset_sha256"]):
                self.multiset_problems.append(name)
        self.cleanup()
        return spent

    def op(self, verbose: bool = False) -> OpResult:
        per_query, wrong = {}, list(self.multiset_problems)
        t_start = time.perf_counter()
        for name in self.queries:
            t0, t0_ms = time.perf_counter(), time.time() * 1e3
            n = self.registry[name](self.spark, self.sf_dir).count()
            per_query[name] = (time.perf_counter() - t0, t0_ms, time.time() * 1e3)
            if n != self.expected[name]["rows"]:
                wrong.append(name)
        wall = time.perf_counter() - t_start
        note = f"wrong outputs: {sorted(set(wrong))}" if wrong else ""
        return OpResult(wall, self.input_rows, not wrong, note, {"queries": per_query})

    def cleanup(self) -> None:
        self.spark.catalog.clearCache()


WORKLOADS = {"crawl_deep": DeepCrawl, "query_suite": QuerySuite}


# --- the closed loop ----------------------------------------------------


class Record:
    def __init__(self, res: OpResult, probes: tuple, rss_mb: float,
                 storage: float, window: tuple):
        self.res, self.probes, self.rss_mb = res, probes, rss_mb
        self.storage, self.window = storage, window


def closed_loop(wl, seconds: float, pid: int, traced: bool = False) -> list[Record]:
    from sitemapper_spark.probes import probe_pair

    records: list[Record] = []
    deadline = time.perf_counter() + seconds
    while True:
        # a full collection first, so each operation starts from the
        # live heap alone, not the previous operation's garbage
        wl.spark._jvm.java.lang.System.gc()
        before = probe_pair()
        t0_ms = time.time() * 1e3
        with measure.RssPeak(pid) as rss:
            try:
                res = run_op(wl, traced)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                res = OpResult(float("nan"), 0, False, "raised")
        window = (t0_ms, time.time() * 1e3)
        after = probe_pair()
        storage = measure.storage_mb(wl.spark)
        wl.cleanup()
        records.append(Record(res, (before, after), rss.mb, storage, window))
        log(f"op {len(records)}: wall_s={res.wall:.4f} units={res.units} "
            f"ok={res.ok} {res.note} rss_mb={rss.mb:.1f} (jvm {rss.jvm_mb:.1f}) "
            f"storage_mb={storage:.1f} probes={before}->{after}")
        if time.perf_counter() >= deadline:
            return records


def run_op(wl, traced: bool) -> OpResult:
    """One operation; traced crawls also record manifests and phases."""
    if not traced or isinstance(wl, QuerySuite):
        return wl.op()
    buf = io.StringIO()
    shutil.rmtree(wl.ckpt, ignore_errors=True)  # no stale manifests
    with measure.ManifestWatcher(wl.ckpt) as watcher, contextlib.redirect_stdout(buf):
        res = wl.op(verbose=True)
    res.info.update(round_walls=watcher.round_walls(),
                    phases=measure.phase_totals(buf.getvalue()),
                    ckpt_mb=measure.dir_mb(wl.ckpt))
    return res


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


# --- per-layer measurements (--trace 1) ----------------------------------


def engine_layer(records: list[Record], log_events: dict, cores: int) -> dict:
    per_op = []
    for r in records:
        info = r.res.info
        w = measure.window_stats(log_events, *r.window)
        rw = info["round_walls"] or [float("nan")]
        ph = info["phases"]
        ckpt_bytes = info["ckpt_mb"] * 2**20
        per_op.append({
            "engine.rounds": info["res"].rounds, "engine.visited": info["visited"],
            "engine.edges": info["edges"], "engine.jobs": w["jobs"],
            "engine.stages": w["stages"], "engine.tasks": w["tasks"],
            "engine.exec_run_s": w["exec_run_s"], "engine.exec_cpu_s": w["exec_cpu_s"],
            "engine.gc_s": w["gc_s"],
            "engine.slot_busy_ratio": w["exec_run_s"] / (r.res.wall * cores),
            "engine.round_s.p50": statistics.median(rw), "engine.round_s.max": max(rw),
            **{f"engine.phase.{p}_s": ph.get(p, 0.0) for p in (
                "plan_build", "frontier_materialize", "settle_prev_tail")},
            "engine.shuffle_write_mb": w["shuffle_write_mb"],
            "engine.shuffle_read_mb": w["shuffle_read_mb"],
            "engine.spill_mb": w["spill_mb"], "engine.ckpt_mb": info["ckpt_mb"],
            "engine.ckpt_bytes_per_url": ckpt_bytes / max(1, info["visited"]),
        })
    return {k: median([p[k] for p in per_op]) for k in ENGINE_LAYER}


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def replay_layers(wl: DeepCrawl) -> dict:
    """Re-run the engine's operators on the last crawl's round artifacts."""
    import glob

    from pyspark.sql import functions as F

    from sitemapper_spark.functions.udfs import clean_links_udf
    from sitemapper_spark.operators.bloom import (
        BloomFilter, build_bloom, split_by_bloom, url_hash_col,
    )
    from sitemapper_spark.operators.cuckoo import (
        CuckooFilter, build_cuckoo, split_by_cuckoo,
    )
    from sitemapper_spark.operators.multimodal import decode_verify
    from sitemapper_spark.operators.politeness import dequeue_per_host

    spark, out = wl.spark, {}
    rounds = sorted(glob.glob(os.path.join(wl.ckpt, "round=*")))

    # politeness: each round's input frontier through dequeue_per_host
    inputs = [os.path.join(rounds[0], "frontier_seed")] + [
        os.path.join(r, "frontier_next") for r in rounds[:-1]]
    spent, deq_rows, carry_rows = 0.0, 0, 0
    for path in inputs:
        fr = spark.read.parquet(path)
        dt, (nd, nc) = timed(lambda: tuple(
            x.count() for x in dequeue_per_host(fr, wl.BUDGET)))
        spent, deq_rows, carry_rows = spent + dt, deq_rows + nd, carry_rows + nc
    out.update({"politeness.dequeue_s": spent, "politeness.dequeued_rows": deq_rows,
                "politeness.carry_rows": carry_rows})

    # seen filters: filters over the visited set before the last round,
    # probed with the links found in the round before it
    visited = spark.read.parquet(*[os.path.join(r, "visited") for r in rounds
                                   if os.path.isdir(os.path.join(r, "visited"))])
    last = visited.agg(F.max("round")).first()[0]
    seen = visited.filter(F.col("round") < last).select("sitemap_id", "url")
    probes = (spark.read.parquet(os.path.join(rounds[last - 1], "edges"))
              .select("sitemap_id", F.col("dst").alias("url")).distinct())
    h = url_hash_col(F.col("sitemap_id"), F.col("url")).alias("_h")
    seen_h = seen.select("sitemap_id", "url", h).persist()
    probes_h = probes.select("sitemap_id", "url", h).persist()
    n_seen = seen_h.count()
    unseen = probes_h.join(seen_h, ["sitemap_id", "url"], "left_anti").count()
    families = {
        "bloom": (lambda: build_bloom(
            seen_h, "_h", m_bits=BloomFilter.sized_for(n_seen).m_bits,
            k=BloomFilter.sized_for(n_seen).k), split_by_bloom),
        "cuckoo": (lambda: build_cuckoo(
            seen_h, "_h", n_buckets=CuckooFilter.sized_for(n_seen).n_buckets),
            split_by_cuckoo),
    }
    for fam, (build, split) in families.items():
        t_build, filt = timed(build)
        bcs: list = []
        _, maybe = split(probes_h, "_h", filt, bcs)
        t_split, false_pos = timed(lambda: maybe.join(
            seen_h, ["sitemap_id", "url"], "left_anti").count())
        for bc in bcs:
            bc.destroy()
        out.update({f"{fam}.build_s": t_build, f"{fam}.split_s": t_split,
                    f"{fam}.fp_ratio": false_pos / max(1, unseen)})

    # UDF boundary: clean_links_udf over the fetched pages, from a cache
    roots = spark.createDataFrame(
        sorted({(sid, min(u.lower() for u, s, _, _ in wl.seed_rows if s == sid))
                for _, sid, _, _ in wl.seed_rows}), "sitemap_id string, root string")
    pages = (visited.join(roots, "sitemap_id")
             .join(wl.corpus.select("url", "status", "final_url", "out_links"), "url")
             .filter((F.col("status") == 200) & (F.size("out_links") > 0))
             .persist())
    pages.count()
    t_udf, row = timed(lambda: pages.select(
        F.size("out_links").alias("n"),
        F.size(clean_links_udf("out_links", "root", "final_url")).alias("c"),
    ).agg(F.sum("n"), F.sum("c")).first())
    out.update({"udfs.clean_links_s": t_udf, "udfs.links_per_s": row[0] / t_udf})

    # image decode + verify over the visited pages' images, from a cache
    images = wl.corpus.join(visited.select("url"), "url", "left_semi").persist()
    n_img = images.count()
    t_img, _ = timed(lambda: decode_verify(images).agg(F.sum(F.col("ok").cast("int"))).first())
    out.update({"multimodal.decode_verify_s": t_img,
                "multimodal.images_per_s": n_img / t_img})
    for df in (seen_h, probes_h, pages, images):
        df.unpersist()
    return out


def query_layer(records: list[Record], log_events: dict) -> dict:
    out = {}
    for q in QUERY_SUITE:
        out[f"queries.{q}_s"] = median([r.res.info["queries"][q][0] for r in records])
    for q in NEAR_DUP_QUERIES:
        ws = [measure.window_stats(log_events, *r.res.info["queries"][q][1:])
              for r in records]
        out[f"queries.{q}.exec_cpu_s"] = median([w["exec_cpu_s"] for w in ws])
        out[f"queries.{q}.shuffle_mb"] = median(
            [w["shuffle_read_mb"] + w["shuffle_write_mb"] for w in ws])
    return out


def yield_layer(spark) -> dict:
    """Verified pairs over LSH candidate pairs, from the public pipeline
    functions: the candidates are the pipeline's output at a threshold
    no pair can miss (Jaccard >= 0, cosine >= -1), the verified pairs
    those of them at the suite's threshold (on the similarity as the
    pipeline outputs it, rounded to four places)."""
    from pyspark.sql import functions as F

    from sitemapper_spark.operators.dedup_ops import minhash_near_dup_pairs
    from sitemapper_spark.operators.similarity_ops import srp_lsh_near_dup_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def verified_over_candidates(pairs, sim: str, threshold: float) -> float:
        pairs = pairs.persist()
        n_cand = pairs.count()
        n_ver = pairs.filter(F.col(sim) >= threshold).count()
        pairs.unpersist()
        return n_ver / max(1, n_cand)


    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    base = emb.select("vec_id", "embedding").unionByName(emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding")))

    out = {
        "dedup_ops.minhash_yield": verified_over_candidates(minhash_near_dup_pairs(
            docs, threshold=0.0, k=128, bands=64, rows_per_band=2,
            collapse_exact=False), "jaccard", 0.5),
        "similarity_ops.srp_yield": verified_over_candidates(srp_lsh_near_dup_pairs(
            base, dim=dim, threshold=-1.0, n_bits=64, n_chunks=8), "cos_sim", 0.99),
    }
    spark.catalog.clearCache()
    return out


# --- run ----------------------------------------------------------------


def setup(wl, spark, work: str, seed: int, cores: int) -> float:
    """Build the inputs, open them and warm up. Returns the build plus
    warm-up seconds."""
    in_dir = os.path.join(work, "inputs")
    build, _ = timed(lambda: wl.build_inputs(spark, in_dir, seed))
    wl.open(spark, in_dir, work)
    warm = wl.warm_up(cores)
    log(f"setup: input build {build:.3f}s warm-up {warm:.3f}s")
    return build + warm


def trace_run(wl, spark, args, cores: int, work: str, pid: int) -> tuple[list, dict]:
    """The per-layer run: half of ``--seconds`` untraced, then half
    traced, both in the warmed-up context; then the companion pass, the
    layer replays and the yields. Returns (records, samples)."""
    clock = [time.perf_counter()]

    def lap(what: str) -> None:
        now = time.perf_counter()
        log(f"trace: {what} took {now - clock[0]:.1f}s")
        clock[0] = now

    untraced = closed_loop(wl, args.seconds / 2, pid)
    lap("untraced half")
    log_dir = os.path.join(work, "eventlog")
    with measure.EventLog(spark, log_dir):
        traced = closed_loop(wl, args.seconds / 2, pid, traced=True)
        lap("traced half")
        records = untraced + traced
        # the layers this workload does not exercise come from one cold
        # operation of the other workload
        if isinstance(wl, QuerySuite):
            q_records, crawl = traced, DeepCrawl()
            c_dir = os.path.join(work, "companion")
            crawl.build_inputs(spark, c_dir, args.seed)
            crawl.open(spark, c_dir, work)
            c_records = closed_loop(crawl, 0, pid, traced=True)
            records += c_records
        else:
            c_records, crawl, suite = traced, wl, QuerySuite()
            q_dir = os.path.join(work, "companion")
            suite.build_inputs(spark, q_dir, args.seed)
            suite.open(spark, q_dir, work)
            q_records = closed_loop(suite, 0, pid)
            records += q_records
        lap("companion pass")
    layers = {"trace.overhead_s": median([r.res.wall for r in traced])
              - median([r.res.wall for r in untraced])}
    layers.update(replay_layers(crawl))
    lap("replays")
    layers.update(yield_layer(spark))
    lap("yields")
    events = measure.read_event_log(log_dir)
    layers.update(engine_layer(c_records, events, cores))
    layers.update(query_layer(q_records, events))
    samples = {k: [layers[k]] for k in PER_LAYER if k in layers}
    samples["peak_rss_mb"] = [r.rss_mb for r in untraced + traced]
    samples["session.storage_mb_after_run"] = [r.storage for r in records]
    samples["weather.cpu_probe_ms"] = [p["cpu_probe_ms"] for r in records for p in r.probes]
    samples["weather.membw_probe_ms"] = [
        p["membw_probe_ms"] for r in records for p in r.probes]
    return records, {k: samples[k] for k in PER_LAYER}


def print_summary(samples: dict[str, list[float]], units: dict[str, str]) -> None:
    log(f"{'metric':42s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
        f"{'p_hi':>18s} {'n':>3s}")
    for k, xs in samples.items():
        s = measure.summarize(xs)
        hi = "-" if s["p_hi"] is None else f"p{s['p_hi'][0]}={s['p_hi'][1]:.4g}"
        log(f"{k:42s} {units[k]:6s} {s['median']:12.5g} {s['q1']:12.5g} "
            f"{s['q3']:12.5g} {hi:>18s} {s['n']:3d}")


def run(args, cores: int, work: str) -> tuple[dict, bool]:
    t0 = time.perf_counter()
    spark = start_session(cores, work)
    session_s = time.perf_counter() - t0
    log(f"setup: session start {session_s:.3f}s")
    wl = WORKLOADS[args.workload]()
    setup_s = setup(wl, spark, work, args.seed, cores)
    pid = jvm_pid(spark)

    if args.trace:
        records, samples = trace_run(wl, spark, args, cores, work, pid)
        units = dict(PER_LAYER)
    else:
        records = closed_loop(wl, args.seconds, pid)
        done = [r for r in records if r.res.wall == r.res.wall] or records  # no NaN
        samples = {
            "wall_s": [r.res.wall for r in done],
            "urls_per_s": [r.res.units / r.res.wall for r in done],
            "setup_s": [session_s + setup_s],
        }
        units = dict(END_TO_END)
    spark.stop()

    failed = sum(1 for r in records if not r.res.ok)
    shown = {**samples, "ops_failed_ratio": [failed / len(records)]}
    if not args.trace:
        shown["peak_rss_mb"] = [r.rss_mb for r in records]
    print_summary(shown, {**units, **PRINTED_ONLY})
    metrics = {k: {"value": float(statistics.median(v)), "unit": units[k]}
               for k, v in samples.items()}
    return {"correct": failed == 0, "attempted": len(records), "failed": failed,
            "metrics": metrics}, failed == 0


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and gw.proc is not None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=120)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".crawlbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers import the engine from this checkout and keep
    # their temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, ok = run(args, cores, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
