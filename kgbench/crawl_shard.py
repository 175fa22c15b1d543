"""``crawl_shard``: the north-star build path.

WARC files → ``warc.read_warc`` → ``warc.pages_from_warc`` →
``pipeline.run_pipeline`` into a ``store.ParquetBucketStore``; every pass
writes a fresh store directory (a reused one would resume from the last
pass's manifests and skip every shard).  The traced run also times the
N-Triples dump path (kgbench.nt_merge) and, on a probe store
(kgbench.store_query), the query layers: no timed pass runs either, but
every traced run reports every layer.
"""

from __future__ import annotations

import os

from kgbench.common import (Pass, canonical_metrics, cleanup, fingerprint, force,
                            median, metric, start_spark, store_write_metrics)

N_PAGES = 2_000
N_FILES = 4
#: the first warm-up pass runs on a small shard of its own: a first pass
#: in a process costs ~10 s more than a warm one whatever its size
WARM_PAGES = 200
#: run_pipeline's and the job CLI's default shard count
N_SHARDS = 4
N_BUCKETS = 16
#: a probe instance times the crawl layers in a workload whose passes do
#: not crawl (store_query's traced run): one small WARC file and a small
#: N-Triples dump, so the probe adds seconds, not a pass
PROBE_PAGES = 200
PROBE_DUMP = {"n_distinct": 10_000, "n_delta": 3_000}


class CrawlShard:
    def __init__(self, spark, run_dir: str, seed: int, cores: int, trace: bool,
                 probe: bool = False):
        self.spark, self.run_dir, self.seed, self.cores = spark, run_dir, seed, cores
        self.trace = trace
        self.probe = probe
        self.n_pages, self.n_files = (PROBE_PAGES, 1) if probe else (N_PAGES, N_FILES)
        self.checks: list[dict] = []  # traced-run checks outside the passes
        self._n = 0

    def _input(self, name: str, n_pages: int, n_files: int, seed: int) -> dict:
        """A WARC shard on disk, its sizes and its expected fingerprint."""
        from rdf_spark import datagen

        from kgbench.gen import write_warc_shard

        d = os.path.join(self.run_dir, name)
        sizes = write_warc_shard(self.spark, d, n_pages, seed, n_files)
        expected = fingerprint(datagen.expected_triples(self.spark, n_pages, seed))
        sizes["expected_triples"] = expected[0]
        return {"dir": d, "sizes": sizes, "expected": expected}

    def setup(self) -> dict:
        from rdf_spark import datagen

        self.main = self._input("warc", self.n_pages, self.n_files, self.seed)
        self.sizes = dict(self.main["sizes"])
        if not self.probe:
            self.small = self._input("warc-warm", WARM_PAGES, 1, self.seed + 1)
            self.sizes["warm_pages"] = WARM_PAGES
        self.aliases = datagen.aliases(self.spark)
        if self.trace:
            from kgbench.nt_merge import NtDump

            self.dump = NtDump(self.spark, self.run_dir, self.seed,
                               **(PROBE_DUMP if self.probe else {}))
            self.sizes["nt_dump"] = self.dump.setup()
        if self.trace and not self.probe:
            from kgbench.store_query import StoreQuery

            self.queries = StoreQuery(self.spark, os.path.join(self.run_dir, "query-probe"),
                                      self.seed, self.cores, True, probe=True)
            self.sizes["query_probe"] = self.queries.setup()
        return self.sizes

    def _build(self, out: str, inp: dict | None = None):
        from rdf_spark import pipeline, warc

        inp = inp or self.main
        pages = warc.pages_from_warc(warc.read_warc(self.spark, inp["dir"]))
        return pipeline.run_pipeline(self.spark, pages, self.aliases, out,
                                     n_shards=N_SHARDS, n_buckets=N_BUCKETS,
                                     resume=False)

    def _out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.run_dir, f"store-{self._n}")

    def check(self, out: str, results, inp: dict | None = None) -> list[str]:
        """Exact equality with ``datagen.expected_triples`` and a
        quarantine count equal to the malformed pages."""
        from rdf_spark import pipeline

        inp = inp or self.main
        want, sizes = inp["expected"], inp["sizes"]
        errs = []
        got = fingerprint(pipeline.read_triple_store(self.spark, out))
        if got != want:
            errs.append(f"store {got[0]} triples != expected {want[0]} "
                        "(or same count, different set)")
        n_parse = sum(r.n_parse_errors for r in results)
        if n_parse != sizes["malformed_pages"]:
            errs.append(f"quarantined {n_parse} != malformed {sizes['malformed_pages']}")
        if sum(r.n_invalid for r in results):
            errs.append("invalid-term quarantine rows on clean input")
        if sum(r.n_pages for r in results) != sizes["pages"]:
            errs.append("page count mismatch")
        return errs

    def warm_up(self) -> list[dict]:
        """Untimed passes in set-up: the first pass in a process is ~2x
        slower than the steady state (run on the small shard), the second
        still ~15% slower."""
        return [self._pass(self.small), self._pass(self.main)]

    def run_pass(self, tracer=None) -> dict:
        """One timed pass and its check.  The traced run times the layers
        on their own, so it adds no spans inside a pass."""
        return self._pass(self.main)

    def _pass(self, inp: dict) -> dict:
        out = self._out_dir()
        with Pass(self.spark) as p:
            results = self._build(out, inp)
        errs = self.check(out, results, inp)
        cleanup(out)
        n_triples = sum(r.n_triples_final for r in results)
        return {**p.record(), "attempted": 1, "failed": int(bool(errs)),
                "errors": errs, "triples": n_triples}

    def summary(self, passes: list[dict]) -> dict:
        wall = median([p["wall_s"] for p in passes])
        return {
            "pages_per_s": metric(self.sizes["pages"] / wall, "pages/s"),
            "triples_per_s": metric(median([p["triples"] / p["wall_s"] for p in passes]),
                                    "triples/s"),
        }

    # -- traced run: each layer's public call on persisted input ----------
    def layers(self, tr) -> dict:
        from pyspark.sql import functions as F

        from rdf_spark import canonical, extraction, sources, store, warc

        spark = self.spark
        d = lambda name: os.path.join(self.run_dir, "layers", name)  # noqa: E731
        m: dict = {}
        with tr.span("warc", in_pass=True) as s:
            force(warc.read_warc(spark, self.main["dir"]))
        recs = warc.read_warc(spark, self.main["dir"])
        r = recs.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("err").isNotNull().cast("int")).alias("q")).collect()[0]
        busy = s["end"] - s["start"]
        m["warc.busy_s"] = metric(busy, "s")
        m["warc.records_per_s"] = metric(r.n / busy, "records/s")
        m["warc.quarantined"] = metric(int(r.q or 0), "count")

        warc.pages_from_warc(recs).write.parquet(d("pages"))
        pages = spark.read.parquet(d("pages"))
        with tr.span("extraction", in_pass=True) as s:
            force(extraction.fused_extract_parse_link(pages, self._alias_rows()))
        extraction.fused_extract_parse_link(pages, self._alias_rows()) \
            .write.parquet(d("tagged"))
        tagged = spark.read.parquet(d("tagged"))
        r = tagged.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.col("err").isNotNull().cast("int")).alias("q")).collect()[0]
        m["extraction.busy_s"] = metric(s["end"] - s["start"], "s")
        m["extraction.rows_out"] = metric(int(r.n), "rows")
        m["extraction.quarantine_rows"] = metric(int(r.q or 0), "rows")

        extraction.extract_stage(pages).select("url", "rdf_text") \
            .write.parquet(d("blocks"))
        blocks = spark.read.parquet(d("blocks"))
        n_docs = blocks.count()
        with tr.span("parsing.turtle") as s:
            force(sources.parse_documents(blocks, fmt="turtle", text_col="rdf_text"))
        busy = s["end"] - s["start"]
        m["parsing.turtle_busy_s"] = metric(busy, "s")
        m["parsing.turtle_docs_per_s"] = metric(n_docs / busy, "docs/s")

        triples = tagged.filter(F.col("err").isNull()).drop("err")

        def canon():
            v = canonical.validate_triples(triples)
            return canonical.dedup_triples(
                canonical.skolemize(v.filter(F.col("valid")).drop("valid")),
                keep_lineage=True), v

        with tr.span("canonical", in_pass=True) as s:
            force(canon()[0])
        final, v = canon()
        final.write.parquet(d("final"))
        n_in = triples.count()
        n_invalid = v.filter(~F.col("valid")).count()
        n_out = spark.read.parquet(d("final")).count()
        m.update(canonical_metrics(s, n_in, n_out, n_invalid))

        st = store.ParquetBucketStore(d("store"), N_BUCKETS)
        final = spark.read.parquet(d("final"))
        with tr.span("store.write", in_pass=True) as s:
            st.write_shard(final, 0)
        m.update(store_write_metrics(s, st.shard_path(0), n_out))
        st.write_quarantine(tagged.filter(F.col("err").isNotNull())
                            .select("url", "err"), 0)
        with tr.span("store.counters", in_pass=True) as s:
            # run_pipeline's post-write reads: page count, quarantine
            # kinds, per-bucket counts
            pages.count()
            st.read_quarantine(spark, 0).groupBy("err").count().collect()
            st.bucket_counts(spark, 0).collect()
        m["store.counters_s"] = metric(s["end"] - s["start"], "s")
        cleanup(os.path.join(self.run_dir, "layers"))

        dump_metrics, dump_check = self.dump.layers(tr)
        self.checks.append(dump_check)
        m.update(dump_metrics)
        if not self.probe:
            m.update(self.queries.probe_layers(tr))
            self.checks += self.queries.checks
        return m

    def unattributed_share(self, tr, wall: float) -> float:
        """1 − Σ self time of the pass's layer calls (each timed on its
        own) ÷ the untraced pass wall."""
        busy = sum(tr.self_time(s["id"]) for s in tr.spans if s.get("in_pass"))
        return 1.0 - busy / wall

    def _alias_rows(self):
        return [(r.surface, r.entity_iri, r.prior) for r in self.aliases.collect()]

    def scaling_eff(self, tr, wall_n: float) -> float:
        """Throughput at local[N] ÷ (N × throughput at local[1]) on the same
        input, i.e. wall_1 ÷ (N × wall_N): one untimed warm pass on the
        small shard and one timed, checked pass in a fresh local[1]
        session (the JVM is reused)."""
        self.spark.stop()
        self.spark = start_spark(1)
        tr.jobs.sc = self.spark.sparkContext
        from rdf_spark import datagen

        self.aliases = datagen.aliases(self.spark)
        out = self._out_dir()
        self._build(out, self.small)
        cleanup(out)
        out = self._out_dir()
        with tr.span("pass.local1") as s:
            results = self._build(out)
        errs = self.check(out, results)
        self.checks.append({"attempted": 1, "failed": int(bool(errs)), "errors": errs})
        cleanup(out)
        wall_1 = s["end"] - s["start"]
        return wall_1 / (self.cores * wall_n)
