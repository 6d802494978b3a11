"""The benchmark's workloads. Each one drives the engine through its public
functions only. A run goes ``load`` -> ``prepare`` (the one-time
preparation, timed into ``setup_s``) -> ``warm`` (untimed) -> ``call`` (one
measured operation, repeated) -> ``check``; ``traced_call`` instead re-runs
the operation layer by layer under spans."""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from spans import (log, materialize, metric_sum, plan_nodes, python_bytes,
                   shuffle_bytes, spill_bytes, subtree)

ZOOM = 12
SALT_BUCKETS = 8


@dataclass
class Outcome:
    items: int      # pages, geometries or query points handled
    attempted: int  # operations: batches, round trips or lookup calls
    failed: int


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith(".") and not f.endswith(".crc"))
    return total


def _by_batch(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["b"], set()).add((r["url"], r["region_id"]))
    return out


def _decode_regions(regions):
    from spatial.ewkb import ewkb_decode

    return regions.withColumn("geom", ewkb_decode("geom_hex")).select("region_id", "geom")


class Workload:
    name = ""
    unit = ""
    min_calls = 1  # fewest measured calls per run, however short ``--seconds``

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self._calls = 0

    @classmethod
    def make_inputs(cls, seed: int) -> dict:
        raise NotImplementedError

    def load(self, paths: dict) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def release(self) -> None:
        pass

    def warm(self) -> None:
        """One untimed operation before the measured loop."""
        self.call()

    def call(self) -> Outcome:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """(attempted, failed) operations verified after the measured loop."""
        return 0, 0

    def traced_call(self, tr, m: dict) -> tuple[float, list[str]]:
        """Fills ``m``; returns the untraced wall time of the same operation
        and the names of the spans that make up its traced run."""
        raise NotImplementedError

    def _untraced_call_s(self) -> float:
        """Wall time of one untraced call after the warm-up."""
        self.warm()
        t0 = time.perf_counter()
        self.call()
        return time.perf_counter() - t0

    def _out_dir(self) -> str:
        self._calls += 1
        path = os.path.join(self.work_dir, f"{self.name}-{self._calls}")
        shutil.rmtree(path, ignore_errors=True)
        return path


class _PipelineWorkload(Workload):
    """Shared driver for the two ``run_pipeline`` workloads."""

    unit = "pages"
    n_pages = 0
    n_batches = 4
    plan_kwargs: dict = {}
    reference_kwargs: dict = {}  # the other physical plan, for the check
    session_conf: dict = {}
    kill_after = None

    def load(self, paths: dict) -> None:
        for key, value in self.session_conf.items():
            self.spark.conf.set(key, value)
        self.pages = self.spark.read.parquet(paths["pages"])
        self.regions = self.spark.read.parquet(paths["regions"])
        self.pages_path = paths["pages"]
        self.plan = self.last_out = None

    def prepare(self) -> None:
        from spatial.join import SpatialJoinPlan

        self.plan = SpatialJoinPlan(_decode_regions(self.regions), **self.plan_kwargs)

    def release(self) -> None:
        if self.plan is not None:
            self.plan.unpersist()

    def _run_job(self, out: str) -> dict:
        """One job as a user runs it; with ``kill_after`` set, the first
        attempt dies after that batch and a second attempt resumes."""
        from spatial.pipeline import PipelineConfig, committed_batches, run_pipeline

        cfg = PipelineConfig(out_dir=out, n_batches=self.n_batches, zoom=ZOOM,
                             **self.plan_kwargs)
        before_resume: set = set()
        if self.kill_after is not None:
            try:
                run_pipeline(self.spark, self.pages, self.regions, cfg,
                             fail_after_batch=self.kill_after)
            except RuntimeError as exc:
                if "simulated failure" not in str(exc):
                    raise
            before_resume = committed_batches(out)
        stats = run_pipeline(self.spark, self.pages, self.regions, cfg)
        committed = set(stats["committed"])
        return {"committed": committed,
                "skipped_on_resume": len(before_resume),
                "recomputed": len(before_resume & set(stats["ran_batches"]))}

    def call(self) -> Outcome:
        out = self._out_dir()
        try:
            job = self._run_job(out)
        except Exception:  # a failed job is a measured outcome, not a crash
            log(traceback.format_exc())
            return Outcome(self.n_pages, self.n_batches, self.n_batches)
        self.last_out, self.last_job = out, job
        bad = self.n_batches - len(job["committed"]) + job["recomputed"]
        return Outcome(self.n_pages, self.n_batches, bad)

    def warm(self) -> None:
        """None: the measured job is the session's first, as a submitted
        job is; only the preparation has run before it."""

    def check(self) -> tuple[int, int]:
        """Per batch, (url, region_id) from the committed job must equal a
        one-shot join of all pages on the other physical plan (broadcast vs
        salted shuffle), with no batches and no kill."""
        from spatial.join import SpatialJoinPlan
        from spatial.pipeline import enrich_pages, read_output

        if self.last_out is None:  # no job committed; call() counted it failed
            return 0, 0
        batch_of = F.pmod(F.xxhash64("url"), F.lit(self.n_batches)).cast("int")
        plan = SpatialJoinPlan(_decode_regions(self.regions), **self.reference_kwargs)
        want_by = _by_batch(plan.join(enrich_pages(self.pages, ZOOM), x_col="lon", y_col="lat",
                                      salt_key="url")
                            .select("url", "region_id", batch_of.alias("b")).collect())
        plan.unpersist()
        got_by = _by_batch(read_output(self.spark, self.last_out, "join_out")
                           .select("url", "region_id", F.col("batch").cast("int").alias("b"))
                           .collect())
        bad = [b for b in range(self.n_batches)
               if want_by.get(b, set()) != got_by.get(b, set())]
        if bad:
            log(f"{self.name}: join output differs from the reference in batches {bad}")
        a, f = self._check_text()
        return self.n_batches + a, len(bad) + f

    def _check_text(self, n: int = 64) -> tuple[int, int]:
        """Spark's extract_text must be byte-identical to the pure function
        for every url in a seeded sample of the html-only pages."""
        from spatial.textextract import extract_text, extract_text_py

        pdf = pq.read_table(self.pages_path, columns=["url", "html", "text"]).to_pandas()
        pdf = pdf[pdf["text"].isna()]
        rng = np.random.default_rng(self.seed)
        sample = pdf.iloc[np.sort(rng.choice(len(pdf), size=min(n, len(pdf)), replace=False))]
        if sample.empty:
            return 0, 0
        got = dict(self.pages.where(F.col("url").isin(list(sample["url"])))
                   .select("url", extract_text(F.col("html")).alias("t")).collect())
        bad = [u for u, h in zip(sample["url"], sample["html"]) if got.get(u) != extract_text_py(h)]
        if bad:
            log(f"extract_text differs from extract_text_py for {len(bad)} sampled urls")
        return len(sample), len(bad)

    # -- traced run --------------------------------------------------------

    def traced_call(self, tr, m: dict) -> tuple[float, list[str]]:
        from spatial.cells import with_cell
        from spatial.geocode import geocode_page
        from spatial.join import SpatialJoinPlan, detect_hot_cells, prepare_regions
        from spatial.kernels import pip_even_odd
        from spatial.pipeline import committed_batches, enrich_pages
        from spatial.textextract import extract_text
        from spatial.tiles import tile_assign

        # the untraced reference: enrich+join on all pages as one
        # materialization, as enrich_pages and plan.join compose it; once to
        # warm the session, once timed
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(self.plan.join(enrich_pages(self.pages, ZOOM), x_col="lon",
                                       y_col="lat", salt_key="url")).unpersist()
            untraced_s = time.perf_counter() - t0
        self.release()

        with tr.span("ewkb.decode"):
            regions = materialize(_decode_regions(self.regions))
        nodes = plan_nodes(regions)
        m["ewkb.python_bytes"] += python_bytes(nodes)
        m["ewkb.coords"] += regions.agg(F.sum(F.size("geom.xs"))).first()[0]
        with tr.span("join.prep"):
            plan = SpatialJoinPlan(regions, **self.plan_kwargs)
        m["join.build_rows"] = plan.n_build
        with tr.span("cells.cover"):
            cover = materialize(prepare_regions(regions, plan.level))
        m["cells.cover_rows"] = cover.count()
        cover.unpersist()

        pages = self.pages
        to_extract = pages.where(F.col("text").isNull())
        m["textextract.rows"] = to_extract.count()
        m["textextract.html_bytes"] = to_extract.agg(F.sum(F.length("html"))).first()[0] or 0
        # the same expressions enrich_pages composes, one layer at a time
        with tr.span("textextract"):
            text = materialize(pages.withColumn("text", F.coalesce(
                F.col("text"),
                extract_text(F.when(F.col("text").isNull(), F.col("html"))))).drop("html"))
        with tr.span("geocode"):
            located = materialize(geocode_page(text).where(F.col("lon").isNotNull()))
        m["geocode.located_ratio"] = located.count() / max(1, text.count())
        with tr.span("tiles"):
            tiled = materialize(tile_assign(located, "lon", "lat", ZOOM))
        with tr.span("join"):
            joined = materialize(plan.join(tiled, x_col="lon", y_col="lat", salt_key="url"))
        nodes = plan_nodes(joined)
        matches = joined.count()
        candidates = metric_sum(nodes, "pythonNumRowsReceived",
                                lambda n: n.startswith("ArrowEvalPython"))
        m["join.candidate_pairs"] = candidates
        m["join.refine_hit_ratio"] = matches / max(1, candidates)
        m["join.shuffle_bytes"] = shuffle_bytes(nodes)
        m["join.spill_bytes"] = spill_bytes(nodes)
        m["join.broadcast_bytes"] = metric_sum(nodes, "dataSize",
                                               lambda n: "Broadcast" in n)
        per_part = [r[1] for r in joined.groupBy(F.spark_partition_id()).count().collect()]
        m["join.partition_skew"] = (max(per_part) / max(1.0, float(np.median(per_part)))
                                    if per_part else 0.0)
        if plan.salt_buckets > 1 and not plan.use_broadcast:
            # the sampled detection the salted plan runs on its probe side
            m["join.hot_cells"] = len(detect_hot_cells(
                with_cell(tiled, "lon", "lat", plan.level, "cell"), plan.hot_cell_ratio))

        # refine kernel on exactly the join's candidates: every probe point
        # inside a region's bbox (the cover cells are a superset of the bbox)
        pts = tiled.select("lon", "lat").toPandas()
        px, py = pts["lon"].to_numpy(np.float64), pts["lat"].to_numpy(np.float64)
        geoms = [(np.asarray(r["geom"]["xs"]), np.asarray(r["geom"]["ys"]),
                  list(r["geom"]["ring_offsets"])) for r in regions.collect()]
        hits = tests = 0
        with tr.span("kernels.pip") as sp:
            for xs, ys, ro in geoms:
                inbox = ((px >= xs.min()) & (px <= xs.max())
                         & (py >= ys.min()) & (py <= ys.max()))
                n_in = int(inbox.sum())
                if n_in:
                    hits += int(pip_even_odd(px[inbox], py[inbox], xs, ys, ro).sum())
                    tests += n_in * sum(ro[i + 1] - ro[i] - 1 for i in range(len(ro) - 1))
        kernel_s = sp["end"] - sp["start"]
        m["kernels.pip_edge_tests_per_s"] = tests / kernel_s if kernel_s > 0 else 0.0
        self.trace_checks = [("kernel hits equal join matches", hits == matches)]
        for df in (joined, tiled, located, text, regions):
            df.unpersist()
        plan.unpersist()

        out = self._out_dir()
        with tr.span("pipeline"):
            job = self._run_job(out)
        self.last_out, self.last_job = out, job
        m["pipeline.batches_committed"] = len(committed_batches(out))
        m["pipeline.batches_skipped_on_resume"] = job["skipped_on_resume"]
        m["pipeline.batches_recomputed"] = job["recomputed"]
        written = sum(_dir_bytes(os.path.join(out, t))
                      for t in ("join_out", "tile_assign", "metrics"))
        m["pipeline.bytes_written"] = written
        m["pipeline.out_bytes_per_page"] = written / self.n_pages
        m["pipeline.overhead_ratio"] = tr.total("pipeline") / untraced_s
        return untraced_s, ["textextract", "geocode", "tiles", "join"]


class CrawlPipeline(_PipelineWorkload):
    """Raw WARC-like pages (html only) through the job against the 20 city
    regions; the join broadcasts."""

    name = "crawl_pipeline"
    n_pages = 1200
    n_batches = 2
    reference_kwargs = {"salt_buckets": SALT_BUCKETS, "broadcast_threshold": 0}

    @classmethod
    def make_inputs(cls, seed: int) -> dict:
        return {"pages": inputs.pages(seed, cls.n_pages, html_only=1.0),
                "regions": inputs.city_regions(seed)}


class SkewedJoinResume(_PipelineWorkload):
    """Pages, half of them raw (html only), join hundreds of nested polygons
    on the salted shuffle plan; every job is killed after its first batch
    and resumed."""

    name = "skewed_join_resume"
    n_pages = 1200
    n_regions = 800
    n_batches = 2
    kill_after = 0
    plan_kwargs = {"salt_buckets": SALT_BUCKETS, "broadcast_threshold": 0}
    # at real scale the polygon side is far past Spark's own broadcast
    # cut-off; without this, AQE broadcasts the salted build side and the
    # salted shuffle this workload exists to measure never runs
    session_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    @classmethod
    def make_inputs(cls, seed: int) -> dict:
        return {"pages": inputs.pages(seed, cls.n_pages, html_only=0.5),
                "regions": inputs.nested_regions(seed, cls.n_regions)}


class CodecRoundtrip(Workload):
    """Hex EWKB, binary EWKB, WKT and GeoJSON decode->encode over a mixed
    corpus; no shuffle, no join."""

    name = "codec_roundtrip"
    unit = "geometries"
    n_geoms = 3000

    @classmethod
    def make_inputs(cls, seed: int) -> dict:
        return {"corpus": inputs.codec_corpus(seed, cls.n_geoms)}

    def load(self, paths: dict) -> None:
        self.corpus_path = paths["corpus"]
        self.corpus = None

    def prepare(self) -> None:
        # one partition per core, so a call keeps every core busy
        self.corpus = (self.spark.read.parquet(self.corpus_path)
                       .repartition(self.spark.sparkContext.defaultParallelism).persist())
        self.corpus.count()

    def release(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist()

    def call(self) -> Outcome:
        codecs = _codecs()
        bad = self.corpus.agg(*[
            F.sum(F.when(enc(dec(F.col(f))).eqNullSafe(F.col(f)), 0).otherwise(1)).alias(f)
            for f, (_layer, dec, enc) in codecs.items()]).first()
        n = len(codecs) * self.n_geoms
        failed = sum(bad)
        if failed:
            log(f"round trip not byte-identical: {bad.asDict()}")
        return Outcome(n, n, failed)

    def traced_call(self, tr, m: dict) -> tuple[float, list[str]]:
        untraced_s = self._untraced_call_s()
        bad = 0
        for form, (layer, dec, enc) in _codecs().items():
            with tr.span(f"{layer}.decode"):
                decoded = materialize(self.corpus.select(F.col(form), dec(F.col(form)).alias("g")))
            nodes = plan_nodes(decoded)
            with tr.span(f"{layer}.encode"):
                encoded = materialize(decoded.select(
                    enc(F.col("g")).eqNullSafe(F.col(form)).alias("ok")))
            nodes += plan_nodes(encoded)
            bad += encoded.where(~F.col("ok")).count()
            if layer == "ewkb":
                m["ewkb.python_bytes"] += python_bytes(nodes)
                m["ewkb.coords"] += decoded.agg(F.sum(F.size("g.xs"))).first()[0]
            encoded.unpersist()
            decoded.unpersist()
        self.trace_checks = [("layered round trips byte-identical", bad == 0)]
        return untraced_s, [f"{layer}.{step}" for layer in ("ewkb", "wkt", "geojson")
                            for step in ("decode", "encode")]


def _codecs() -> dict:
    """encoding -> (layer, decode, encode) as Spark column functions."""
    from spatial.ewkb import ewkb_decode, ewkb_encode
    from spatial.geojson import from_geojson, to_geojson
    from spatial.wkt import wkt_decode, wkt_encode

    return {"hex": ("ewkb", ewkb_decode, ewkb_encode),
            "wkb": ("ewkb", ewkb_decode, lambda g: F.unhex(ewkb_encode(g))),
            "wkt": ("wkt", wkt_decode, wkt_encode),
            "geojson": ("geojson", from_geojson, to_geojson)}


class KnnLookup(Workload):
    """One closed-loop client calling KnnIndex.join_distributed on query
    batches over geocoded page points (heavily duplicated at city and
    country centroids)."""

    name = "knn_lookup"
    unit = "queries"
    n_pages = 1000
    n_queries = 256
    batch = 4
    # a call takes 4-7 s and still speeds up over a session's first four
    # or so; a fixed count measures the same calls of the session on a slow
    # host and a fast one
    min_calls = 2
    k = 5
    level = 8
    # two ring-expansion rounds before the fallback (the default is three):
    # a round is the same code at a doubled radius, and the third one's
    # Spark jobs, about a third of a call, would not leave room for two
    # measured calls per run within the time budget of a comparison
    max_rounds = 2

    @classmethod
    def make_inputs(cls, seed: int) -> dict:
        return {"points": inputs.page_points(seed, cls.n_pages),
                "queries": inputs.knn_queries(seed, cls.n_queries)}

    def load(self, paths: dict) -> None:
        self.points = self.spark.read.parquet(paths["points"]).persist()
        self.points.count()
        self.queries = self.spark.read.parquet(paths["queries"]).persist()
        self.queries.count()
        self.index = None

    def prepare(self) -> None:
        from spatial.knn import KnnIndex

        self.index = KnnIndex(self.points, level=self.level)

    def release(self) -> None:
        if self.index is not None:
            self.index.unpersist()

    def _batch(self, i: int):
        """Query batch ``i``; queries alternate dense and sparse, so every
        batch holds as many of each."""
        lo = (i * self.batch) % self.n_queries
        return self.queries.where(F.col("query_id").between(lo, lo + self.batch - 1))

    def call(self) -> Outcome:
        res = self.index.join_distributed(self._batch(self._calls), k=self.k,
                                          max_rounds=self.max_rounds)
        self._calls += 1
        self.last_rows = res.collect()
        res.unpersist()
        return Outcome(self.batch, 1, 0)

    def warm(self) -> None:
        """The untimed call is the checked one: its batch and result are kept."""
        self.sample = self._batch(self._calls)
        self.call()
        self.sample_rows = self.last_rows

    def check(self) -> tuple[int, int]:
        """join_distributed must equal knn_bruteforce on a query batch."""
        from spatial.knn import knn_bruteforce

        key = lambda rows: sorted((r["query_id"], r["rank"], r["id"], r["dist_m"]) for r in rows)
        got = key(self.sample_rows)
        want = key(knn_bruteforce(self.points, self.sample, self.k).collect())
        if got != want:
            log("join_distributed differs from knn_bruteforce on the sample")
        return 1, int(got != want)

    def traced_call(self, tr, m: dict) -> tuple[float, list[str]]:
        from spatial.knn import KnnIndex

        self.release()
        with tr.span("knn.index"):
            self.index = index = KnnIndex(self.points, level=self.level)
        untraced_s = self._untraced_call_s()
        queries = self._batch(self._calls - 1)  # the batch just timed untraced
        before = self._sql_executions()
        with tr.span("knn.lookup"):
            res = index.join_distributed(queries, k=self.k, max_rounds=self.max_rounds)
        # each ring-expansion round runs two actions, the final result one
        m["knn.rounds_per_lookup"] = (self._sql_executions() - before - 1) // 2
        m.update(self._lookup_counts(plan_nodes(res, cache_depth=2)))
        res.unpersist()
        self.trace_checks = []
        return untraced_s, ["knn.lookup"]

    def _sql_executions(self) -> int:
        jss = self.spark._jsparkSession
        jss.sparkContext().listenerBus().waitUntilEmpty()
        return jss.sharedState().statusStore().executionsCount()

    def _lookup_counts(self, nodes) -> dict:
        """Candidate rows and fallback queries off the result's plan: the
        result cache unions one cached frame per round that resolved
        queries (AQE prunes the empty ones) and, when queries are still open
        after the radius budget, one brute-force cross join. A round's plan
        holds its candidate join twice (top-k and the resolution flags)."""
        union = next((i for i, n in enumerate(nodes) if n[0] == "Union"), None)
        parts = ([i for i, n in enumerate(nodes) if n[3] == union] if union is not None
                 else [next(i for i, n in enumerate(nodes) if n[2] == 1)])
        candidates = fallback = 0
        for part in parts:
            sub = subtree(nodes, part)
            if any(n[0] == "BroadcastNestedLoopJoin" for n in sub):
                candidates += metric_sum(sub, "numOutputRows",
                                         lambda n: n == "BroadcastNestedLoopJoin")
                fallback += metric_sum(sub, "numOutputRows", lambda n: n == "BroadcastExchange")
            else:
                candidates += max(n[1].get("numOutputRows", 0) for n in sub
                                  if n[0] == "BroadcastHashJoin")
        return {"knn.fallback_queries": fallback,
                "knn.candidates_per_query": candidates / self.batch}


WORKLOADS = {w.name: w for w in (CrawlPipeline, SkewedJoinResume, CodecRoundtrip, KnnLookup)}
