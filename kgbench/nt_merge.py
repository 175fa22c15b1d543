"""The N-Triples dump path, timed layer by layer in crawl_shard's traced run.

A dump ingest with an incremental update and an export:
``sources.read_ntriples`` → ``canonical.validate_triples`` →
``canonical.dedup_triples`` → ``pipeline.materialize_triples``, then
``pipeline.merge_new_triples`` of a delta dump, then
``encoders.write_ntriples`` of the merged store.  The base dump is
duplicate-heavy and the delta overlaps it, so the line-parallel Arrow
parser, the dedup aggregate, the store's read-modify-write merge and the
encoders do work the crawl path never asks of them.  Its canonical and
store-write metrics carry a ``dump_`` tag to keep them apart from the
crawl path's.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kgbench.common import (TRIPLE_KEY, canonical_metrics, dir_bytes_files,
                            fingerprint, force, metric, partitions_read,
                            last_sql_execution, store_write_metrics)

N_DISTINCT = 90_000
DUP_SHARE = 0.5
N_DELTA = 30_000
OVERLAP = 0.3
MALFORMED_SHARE = 0.005
N_FILES = 8
N_BUCKETS = 16
#: store buckets the delta's subjects hash into: a merge that prunes
#: reads 4 of the 16 bucket partitions, a full rescan all of them
DELTA_BUCKETS = (1, 6, 9, 14)

_DDL = ("s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string")


def _valid(df):
    from rdf_spark import canonical

    v = canonical.validate_triples(df.filter(F.col("err").isNull()).drop("err"))
    return v.filter(F.col("valid")).drop("valid")


class NtDump:
    def __init__(self, spark, run_dir: str, seed: int, n_distinct: int | None = None,
                 n_delta: int | None = None):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.n_distinct = n_distinct or N_DISTINCT
        self.n_delta = n_delta or N_DELTA
        self.in_dir = os.path.join(run_dir, "dumps")

    def dir(self, name: str) -> str:
        return os.path.join(self.run_dir, "dump-layers", name)

    def setup(self) -> dict:
        import pandas as pd

        from kgbench.gen import nt_dumps

        info = nt_dumps(self.in_dir, self.n_distinct, DUP_SHARE, self.n_delta, OVERLAP,
                        MALFORMED_SHARE, self.seed, N_FILES, self._in_delta)
        union = self.spark.createDataFrame(
            pd.DataFrame(info.pop("union"), columns=TRIPLE_KEY), _DDL)
        self.expected = fingerprint(union)
        self.sizes = {**info, "dup_share": DUP_SHARE, "delta_overlap": OVERLAP,
                      "delta_buckets": len(DELTA_BUCKETS),
                      "expected_union": self.expected[0]}
        return self.sizes

    def _in_delta(self, subjects: set[str]) -> set[str]:
        """The subjects that the store buckets (as the program does)
        into one of DELTA_BUCKETS."""
        df = self.spark.createDataFrame([(x,) for x in subjects], "s string")
        return {r.s for r in df.filter(
            F.pmod(F.xxhash64("s"), F.lit(N_BUCKETS)).isin(list(DELTA_BUCKETS))
        ).collect()}

    def check(self, store_dir: str, export_dir: str, appended: int) -> list[str]:
        """Store = expected distinct base ∪ delta, appended = expected new,
        and the export re-parses to the same set."""
        from rdf_spark import sources

        errs = []
        if appended != self.sizes["delta_new"]:
            errs.append(f"merge appended {appended} != expected {self.sizes['delta_new']}")
        got = fingerprint(self.spark.read.parquet(store_dir))
        if got != self.expected:
            errs.append(f"store {got[0]} triples != expected {self.expected[0]} "
                        "(or same count, different set)")
        # parse error rows carry null terms, so they change the fingerprint
        if fingerprint(sources.read_ntriples(self.spark, export_dir)) != self.expected:
            errs.append("exported N-Triples do not re-parse to the store's set")
        return errs

    def layers(self, tr) -> tuple[dict, dict]:
        """(per-layer metrics, check record) of one ingest-merge-export,
        each layer's public call timed on persisted input."""
        from rdf_spark import canonical, encoders, pipeline, sources

        spark, d = self.spark, self.dir
        base_in = os.path.join(self.in_dir, "base")
        m: dict = {}
        with tr.span("sources") as s:
            force(sources.read_ntriples(spark, base_in))
        busy = s["end"] - s["start"]
        sources.read_ntriples(spark, base_in).write.parquet(d("parsed"))
        parsed = spark.read.parquet(d("parsed"))
        m["sources.busy_s"] = metric(busy, "s")
        m["sources.lines_per_s"] = metric(self.sizes["base_lines"] / busy, "lines/s")
        m["sources.err_rows"] = metric(parsed.filter(F.col("err").isNotNull()).count(),
                                       "rows")

        triples = parsed.filter(F.col("err").isNull()).drop("err")

        def canon():
            v = canonical.validate_triples(triples)
            return canonical.dedup_triples(v.filter(F.col("valid")).drop("valid")), v

        with tr.span("canonical.dump") as s:
            force(canon()[0])
        final, v = canon()
        final.write.parquet(d("final"))
        n_out = spark.read.parquet(d("final")).count()
        m.update(canonical_metrics(s, triples.count(), n_out,
                                   v.filter(~F.col("valid")).count(), tag="dump_"))

        store_dir = d("store")
        with tr.span("store.dump_write") as s:
            pipeline.materialize_triples(spark.read.parquet(d("final")), store_dir,
                                         n_buckets=N_BUCKETS)
        m.update(store_write_metrics(s, store_dir, n_out, tag="dump_"))

        _valid(sources.read_ntriples(spark, os.path.join(self.in_dir, "delta"))) \
            .write.parquet(d("delta"))
        delta = spark.read.parquet(d("delta"))
        offered = delta.dropDuplicates(TRIPLE_KEY).count()
        mark = last_sql_execution(spark)
        with tr.span("store.merge") as s:
            appended = pipeline.merge_new_triples(spark, store_dir, delta)
        m["store.merge_s"] = metric(s["end"] - s["start"], "s")
        m["store.merge_useful_ratio"] = metric(appended / offered, "ratio")
        # the bucket partitions the merge's own store scan read (the store
        # is the only partitioned table the merge reads)
        n_read = partitions_read(spark, mark)
        m["store.buckets_read_ratio"] = metric(n_read / N_BUCKETS, "ratio")

        with tr.span("encoders") as s:
            encoders.write_ntriples(spark.read.parquet(store_dir), d("export"))
        busy = s["end"] - s["start"]
        m["encoders.busy_s"] = metric(busy, "s")
        m["encoders.bytes_per_s"] = metric(dir_bytes_files(d("export"))[0] / busy, "B/s")

        self.appended = appended
        errs = self.check(store_dir, d("export"), appended)
        if not n_read:
            errs.append("no scan of the store by the merge in Spark's SQL metrics")
        return m, {"attempted": 1, "failed": int(bool(errs)), "errors": errs}
