"""``store_query``: read-only queries against a crawl-shaped store.

Set-up materializes the store once with ``pipeline.materialize_triples``
from ``datagen.expected_triples`` (the exact triple set crawl_shard's
pipeline produces for the same pages, so the store is crawl-shaped
without running the crawl path here), plus a small subClassOf ontology
and a SHACL shapes graph, and
computes every answer by an independent path: DuckDB over the same
parquet files for the SPARQL shapes and the RDFS/SHACL counts, NumPy and
a union-find for PageRank and components.  A pass is one round of the
seeded mix, issued in a closed loop by one client thread; a query's
latency includes fetching its answer.  The traced run also times the
crawl and N-Triples dump layers on a small probe input
(kgbench.crawl_shard): no pass runs them, but every traced run reports
every layer.
"""

from __future__ import annotations

import os
import random
import time

from kgbench.common import Pass, median, metric, percentile, start_spark

N_PAGES = 10_000
#: the traced run's large graph: the mentions/type/tag edges of a
#: 52k-page crawl (~205k edges) are above ops.graph's 200k collect cap,
#: so PageRank and components take their distributed paths on it.  They
#: are datagen.expected_triples, which crawl_shard checks the pipeline's
#: store against, so no 52k-page pipeline run is needed to get them.
BIG_GRAPH_PAGES = 52_000
N_BUCKETS = 16
#: a probe instance times the query layers in a workload whose passes run
#: no queries (crawl_shard's traced run): a small store, two queries of
#: each light shape a round, and a graph below the collect caps
PROBE_PAGES = 1_000
PROBE_ROUNDS = 2
EX = "http://kg.example/vocab#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"

#: light SPARQL shapes and how many of each one round issues
MIX = {"point": 10, "bgp_filter": 5, "group_by": 4, "path": 6, "optional": 7}
#: heavy calls issued once per round (PageRank on an edge set below the
#: collect cap runs the driver replica)
HEAVY = ("pagerank_small", "shacl")
#: heavy calls the traced run times once each
HEAVY_TRACE = ("pagerank_big", "cc_big", "rdfs_closure")
PROBE_MIX = {s: 2 for s in MIX}
#: the host whose pages' mentions make the edge set below the collect cap
SMALL_HOST = "https://small-1.example.net/"
#: layer (span / per-layer metric) name of each shape
LAYER = {**{s: f"sparql.{s}" for s in MIX},
         "pagerank_big": "ops.graph.pagerank", "cc_big": "ops.graph.cc",
         "pagerank_small": "ops.graph.pagerank_small",
         "rdfs_closure": "ops.reasoning.rdfs_closure", "shacl": "ops.shacl.validate"}

ONTOLOGY = [
    (EX + "Product", RDFS + "subClassOf", EX + "Offer"),
    (EX + "Offer", RDFS + "subClassOf", EX + "Thing"),
    (EX + "Entity", RDFS + "subClassOf", EX + "Thing"),
    (EX + "mentions", RDFS + "domain", EX + "WebPage"),
    (EX + "mentions", RDFS + "range", EX + "Entity"),
    (EX + "name", RDFS + "subPropertyOf", RDFS + "label"),
]

SHAPES_TTL = f"""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:ProductShape a sh:NodeShape ; sh:targetClass ex:Product ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ; sh:maxCount 1 ;
                sh:datatype xsd:string ] ;
  sh:property [ sh:path ex:price ; sh:maxInclusive 990 ] .
"""


def _rows(rows) -> list[tuple]:
    return sorted(tuple(None if v is None else str(v) for v in r) for r in rows)


class StoreQuery:
    def __init__(self, spark, run_dir: str, seed: int, cores: int, trace: bool,
                 probe: bool = False):
        self.spark, self.run_dir, self.seed, self.cores = spark, run_dir, seed, cores
        self.probe = probe
        self.n_pages, self.mix, self.big_pages = (
            (PROBE_PAGES, PROBE_MIX, PROBE_PAGES) if probe
            else (N_PAGES, MIX, BIG_GRAPH_PAGES))
        self.trace = trace
        self.checks: list[dict] = []  # traced-run checks outside the passes
        self.rounds: list[list] = []  # per-round (shape, ms) since set-up
        self.out = os.path.join(run_dir, "store")

    # -- set-up: store, ontology, shapes, seeded mix, oracle --------------
    def setup(self) -> dict:
        import duckdb
        from pyspark.sql import functions as F

        from rdf_spark import datagen, pipeline
        from rdf_spark.shacl import parse_shapes

        spark = self.spark
        pipeline.materialize_triples(
            datagen.expected_triples(spark, self.n_pages, self.seed), self.out,
            n_buckets=N_BUCKETS)
        self._bind()
        self.shapes = parse_shapes(SHAPES_TTL)

        db = duckdb.connect()
        db.execute("SET threads TO 2")
        db.execute(f"SET temp_directory = '{os.path.join(self.run_dir, 'duckdb')}'")
        glob = os.path.join(self.out, "*", "*.parquet")
        db.execute(f"CREATE TABLE t AS SELECT s, s_kind, p, o, o_kind "
                   f"FROM read_parquet('{glob}')")
        self.db = db
        rng = random.Random(self.seed)
        pages = [r[0] for r in db.execute(
            "SELECT DISTINCT s FROM t WHERE p = ? ORDER BY s", [EX + "mentions"]).fetchall()]
        self.round = self._make_round(rng, pages)
        self.expected = {q["key"]: self._oracle(q) for q in self.round}
        if self.trace:
            big = os.path.join(self.run_dir, "big_edges")
            datagen.expected_triples(spark, self.big_pages, self.seed) \
                .filter(F.col("o_kind") != 2) \
                .select(F.col("s").alias("src"), F.col("o").alias("dst")).write.parquet(big)
            self.big_edges = spark.read.parquet(big)
            big_list = db.execute(
                f"SELECT src, dst FROM read_parquet('{big}/*.parquet')").fetchall()
            self.expected["pagerank_big"] = _pagerank_oracle(big_list)
            self.expected["cc_big"] = _cc_oracle(big_list)
            self.expected["rdfs_closure"] = self._heavy_oracle("rdfs_closure")
        self.expected["pagerank_small"] = _pagerank_oracle(db.execute(
            "SELECT s, o FROM t WHERE p = ? AND starts_with(s, ?)",
            [EX + "mentions", SMALL_HOST]).fetchall())
        n_light = sum(self.mix.values())
        sizes = {"pages": self.n_pages,
                 "store_triples": db.execute("SELECT count(*) FROM t").fetchone()[0],
                 "round": {"light": self.mix, "heavy": list(HEAVY),
                           "heavy_share": len(HEAVY) / (n_light + len(HEAVY))}}
        if self.trace:
            sizes["big_graph_edges"] = len(big_list)
        if self.trace and not self.probe:
            from kgbench.crawl_shard import CrawlShard

            self.crawl = CrawlShard(spark, os.path.join(self.run_dir, "crawl-probe"),
                                    self.seed, self.cores, True, probe=True)
            sizes["crawl_probe"] = self.crawl.setup()
        return sizes

    def _bind(self) -> None:
        """The session's DataFrames over the store set-up wrote."""
        from pyspark.sql import functions as F

        self.triples = self.spark.read.parquet(self.out)
        self.small_edges = self.triples.filter(
            (F.col("p") == EX + "mentions") & F.col("s").startswith(SMALL_HOST)
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
        self.ontology = self.spark.createDataFrame(ONTOLOGY,
                                                   "s string, p string, o string")

    def _make_round(self, rng, pages: list[str]) -> list[dict]:
        qs = []
        for shape, n in self.mix.items():
            for _ in range(n):
                qs.append(self._query(shape, rng, pages))
        qs += [{"shape": h, "key": h} for h in HEAVY]
        rng.shuffle(qs)
        return qs

    def _query(self, shape: str, rng, pages: list[str]) -> dict:
        url = rng.choice(pages)
        pre = f"PREFIX ex: <{EX}> "
        if shape == "point":
            text = f"SELECT ?p ?o WHERE {{ <{url}#product> ?p ?o }}"
            sql = ("SELECT p, o FROM t WHERE s = ?", [url + "#product"])
        elif shape == "bgp_filter":
            lo = rng.randrange(100, 999)
            text = (pre + "SELECT ?s ?pr ?l WHERE { ?s ex:price ?pr . ?s ex:tag ?b . "
                    f"?b ex:label ?l . FILTER(?pr >= {lo} && ?pr < {lo + 1}) }}")
            sql = ("SELECT a.s, a.o, c.o FROM t a JOIN t b ON a.s = b.s "
                   "JOIN t c ON b.o = c.s WHERE a.p = ? AND b.p = ? AND c.p = ? "
                   "AND TRY_CAST(a.o AS DOUBLE) >= ? AND TRY_CAST(a.o AS DOUBLE) < ?",
                   [EX + "price", EX + "tag", EX + "label", lo, lo + 1])
        elif shape == "group_by":
            host = url.split("/")[2]
            text = (pre + "SELECT ?e (COUNT(?pg) AS ?n) WHERE { ?pg ex:mentions ?e . "
                    f'FILTER(strstarts(?pg, "https://{host}/")) }} GROUP BY ?e')
            sql = ("SELECT o, count(s) FROM t WHERE p = ? AND starts_with(s, ?) "
                   "GROUP BY o", [EX + "mentions", f"https://{host}/"])
        elif shape == "path":
            text = pre + f"SELECT ?l WHERE {{ <{url}#product> ex:tag/ex:label ?l }}"
            sql = ("SELECT c.o FROM t b JOIN t c ON b.o = c.s WHERE b.s = ? "
                   "AND b.p = ? AND c.p = ?", [url + "#product", EX + "tag", EX + "label"])
        else:  # optional
            text = (pre + f"SELECT ?p ?o ?l WHERE {{ <{url}#product> ?p ?o . "
                    "OPTIONAL { ?o ex:label ?l } }")
            sql = ("SELECT a.p, a.o, b.o FROM t a LEFT JOIN t b ON b.s = a.o AND b.p = ? "
                   "WHERE a.s = ?", [EX + "label", url + "#product"])
        return {"shape": shape, "key": text, "text": text, "sql": sql}

    def _oracle(self, q: dict):
        if q["shape"] not in MIX:
            return self._heavy_oracle(q["shape"])
        sql, params = q["sql"]
        return _rows(self.db.execute(sql, params).fetchall())

    def _heavy_oracle(self, shape: str):
        db = self.db
        if shape == "rdfs_closure":
            n = lambda sql, *a: db.execute(sql, list(a)).fetchone()[0]  # noqa: E731
            prod = n("SELECT count(DISTINCT s) FROM t WHERE p = ? AND o = ?",
                     RDF_TYPE, EX + "Product")
            ents = n("SELECT count(DISTINCT o) FROM t WHERE p = ?", EX + "mentions")
            return {
                "types": _rows([(EX + "Product", prod), (EX + "Offer", prod),
                                (EX + "Thing", prod + ents), (EX + "Entity", ents),
                                (EX + "WebPage", n("SELECT count(DISTINCT s) FROM t "
                                                   "WHERE p = ?", EX + "mentions"))]),
                "labels": n("SELECT count(*) FROM t WHERE p = ?", EX + "name"),
            }
        if shape == "shacl":
            return db.execute(
                "SELECT count(*) FROM t WHERE p = ? AND TRY_CAST(o AS DOUBLE) > 990",
                [EX + "price"]).fetchone()[0]
        return None  # graph oracles are computed in setup

    def warm_up(self) -> list[dict]:
        """One untimed round in set-up: the first round in a process is ~2x
        slower than the steady state.  The session-drift baseline is the
        first timed round."""
        warm = [self.run_pass()]
        self.rounds.clear()
        return warm

    # -- one round of the mix ------------------------------------------------
    def _run(self, q: dict):
        from pyspark.sql import functions as F

        from rdf_spark import sparql
        from rdf_spark.ops import graph, reasoning, shacl

        shape = q["shape"]
        if shape in MIX:
            return _rows(sparql.sparql_select(self.triples, q["text"]).collect())
        if shape in ("pagerank_big", "pagerank_small"):
            edges = self.big_edges if shape == "pagerank_big" else self.small_edges
            ranks = graph.pagerank(edges)
            tot = ranks.agg(F.count(F.lit(1)), F.sum("rank")).collect()[0]
            top = ranks.orderBy(F.desc("rank"), "node").limit(10).collect()
            return int(tot[0]), float(tot[1]), [(r.node, r.rank) for r in top]
        if shape == "cc_big":
            comps = graph.connected_components(self.big_edges, "src", "dst")
            return sorted(r[0] for r in comps.groupBy("comp").count()
                          .select("count").collect())
        if shape == "rdfs_closure":
            out = reasoning.rdfs_closure(self.triples, schema=self.ontology)
            types = out.filter(F.col("p") == RDF_TYPE).groupBy("o").count().collect()
            labels = out.filter(F.col("p") == RDFS + "label").count()
            return {"types": _rows(types), "labels": labels}
        return shacl.validate(self.triples, self.shapes).count()

    def _correct(self, q: dict, got) -> bool:
        want = self.expected[q["key"]]
        if q["shape"] in ("pagerank_big", "pagerank_small"):
            # the program rounds every round to 12 dp and sums exact
            # decimals, the oracle sums float64: agree to 1e-6 relative
            close = lambda a, b: abs(a - b) <= 1e-6 * abs(b)  # noqa: E731
            n, total, top = got
            wn, wtotal, ranks, wkth = want
            return (n == wn and close(total, wtotal) and len(top) == 10
                    and all(node in ranks and close(r, ranks[node]) for node, r in top)
                    and close(top[-1][1], wkth))
        return got == want

    def run_pass(self, tracer=None) -> dict:
        lat: list[tuple[str, float]] = []
        failed, errs = 0, []
        with Pass(self.spark) as p:
            for q in self.round:
                t0 = time.perf_counter()
                if tracer is None:
                    got = self._run(q)
                else:
                    with tracer.span(LAYER[q["shape"]]):
                        got = self._run(q)
                lat.append((q["shape"], (time.perf_counter() - t0) * 1e3))
                if not self._correct(q, got):
                    failed += 1
                    errs.append(f"wrong answer: {q['shape']}: {q['key'][:120]}")
        self.rounds.append(lat)
        return {**p.record(), "attempted": len(self.round), "failed": failed,
                "errors": errs, "latencies_ms": lat}

    def summary(self, passes: list[dict]) -> dict:
        lat = [ms for p in passes for _, ms in p["latencies_ms"]]
        wall = sum(p["wall_s"] for p in passes)
        return {
            "queries_per_s": metric(len(lat) / wall, "queries/s"),
            "query_p50_ms": metric(median(lat), "ms"),
            "query_p90_ms": metric(percentile(lat, 90), "ms"),
            "query_samples": metric(len(lat), "count"),
        }

    # -- traced run: per-shape latencies, heavy-call times, drift ----------
    def layers(self, tr) -> dict:
        """The query layers' metrics, then the crawl and dump layers' on the
        crawl probe."""
        m = self._query_layers(tr)
        m.update(self.crawl.layers(tr))
        self.checks += self.crawl.checks
        return m

    def probe_layers(self, tr) -> dict:
        """The query layers' metrics of a probe instance: one untimed
        round, PROBE_ROUNDS traced rounds, then the heavy calls once each;
        every answer is checked."""
        self.checks += self.warm_up()
        for i in range(PROBE_ROUNDS):
            with tr.span("query_probe.round", index=i):
                self.checks.append(self.run_pass(tracer=tr))
        return self._query_layers(tr)

    def _query_layers(self, tr) -> dict:
        """Per-shape latencies of the traced rounds (one span per query),
        then the heavy calls above the collect caps, once each."""
        by: dict[str, list[float]] = {}
        for lat in self.rounds:
            for shape, ms in lat:
                by.setdefault(shape, []).append(ms)
        # same query sequence every round: compare each query's latency in
        # the session's last round with its first timed round
        first, last = self.rounds[0], self.rounds[-1]
        drift = median([b / a for (_, a), (_, b) in zip(first, last)])
        failed, errs = 0, []
        for shape in HEAVY_TRACE:
            t0 = time.perf_counter()
            with tr.span(LAYER[shape]):
                got = self._run({"shape": shape})
            by[shape] = [(time.perf_counter() - t0) * 1e3]
            if not self._correct({"shape": shape, "key": shape}, got):
                failed += 1
                errs.append(f"wrong answer: {shape}")
        self.checks.append({"attempted": len(HEAVY_TRACE), "failed": failed,
                            "errors": errs})
        m = {LAYER[shape] + ("_p50_ms" if shape in MIX else "_ms"):
             metric(median(by[shape]), "ms") for shape in by}
        m["session.drift_ratio"] = metric(drift, "ratio")
        return m

    def unattributed_share(self, tr, wall: float) -> float:
        """Median over the traced rounds of 1 − Σ query self time ÷ round
        wall."""
        shares = []
        for r in (s for s in tr.spans if s["name"] == "pass"):
            kids = [s for s in tr.spans if s["parent"] == r["id"]]
            busy = sum(tr.self_time(s["id"]) for s in kids)
            shares.append(1.0 - busy / (r["end"] - r["start"]))
        return median(shares)

    def scaling_eff(self, tr, wall_n: float) -> float:
        """wall_1 ÷ (N × wall_N) of one round of the mix: in a fresh
        local[1] session (the JVM is reused), one untimed query of each
        shape, then a timed, checked round."""
        self.spark.stop()
        self.spark = start_spark(1)
        tr.jobs.sc = self.spark.sparkContext
        self._bind()
        for shape in (*MIX, *HEAVY):
            self._run(next(q for q in self.round if q["shape"] == shape))
        with tr.span("pass.local1"):
            rec = self.run_pass()
        self.checks.append(rec)
        return rec["wall_s"] / (self.cores * wall_n)


def _pagerank_oracle(edges, n_iter: int = 10, damping: float = 0.85):
    """Power iteration with dangling mass leaked (ops.graph.pagerank's
    documented model), in float64 NumPy: (node count, rank sum, rank of
    every node, 10th-largest rank)."""
    import numpy as np

    idx: dict[str, int] = {}
    src = np.array([idx.setdefault(s, len(idx)) for s, _ in edges])
    dst = np.array([idx.setdefault(d, len(idx)) for _, d in edges])
    n = len(idx)
    od = np.bincount(src, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.bincount(dst, weights=rank[src] / od[src], minlength=n)
        rank = (1.0 - damping) / n + damping * contrib
    ranks = dict(zip(idx, rank.tolist()))
    return n, float(rank.sum()), ranks, float(np.sort(rank)[-10])


def _cc_oracle(edges) -> list[int]:
    """Component sizes by union-find."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes: dict[str, int] = {}
    for x in list(parent):
        r = find(x)
        sizes[r] = sizes.get(r, 0) + 1
    return sorted(sizes.values())
