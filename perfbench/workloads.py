"""The benchmark's workloads. Each is a closed loop with one client that
drives the engine through its public functions:

* `KgBuild`   — cold `kg.pipeline.run_pipeline` over a pre-materialized
  parquet page table, every stage on (`facts_asof`, `mine_nil`).
* `KgCrawl`   — crawl-cadence cycles on a live KG: refetch 1 % of the
  pages, `extract_and_link` → `upsert_triples_by_url` → publish, then
  `fact_envelopes` → `merge_fact_envelopes` → publish, then
  `resolve_from_envelopes` → publish and `expire`; each cycle then
  answers Zipf-skewed entity lookups from the published KG.
* `QuerySweep` — not a workload: the probe a traced `kg_crawl` run uses
  to time one hash-exact registry query per family module in `MIX`.

A workload exposes `setup_inputs` (repeated; its median counts),
`setup_once`, `warm`, `op` (one timed operation → items done), `verify`
(independent output checks → mismatch list) and `layers` (per-layer
metrics of a traced run). Sizes are fixed here so that every run of a
workload does the same work.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import os
import random
import shutil
import time

import pandas as pd

from checks import (
    canon,
    check_envelopes,
    check_ground_truth,
    check_lookup,
    check_raw_triples,
    check_same_rows,
    check_stage_counts,
)
from harness import dir_bytes, median, noop, rollup

ASOF = "2024-01-02"
PAGE_COLS = ["page_id", "url", "warc_ts", "text", "lang"]


# the five stages run_pipeline publishes from one pool when facts_asof is set
FUSION_STAGES = ("kg_facts", "kg_conflicts", "kg_entity_types", "kg_fact_history",
                 "kg_entity_profiles")


def _write_pages(spark, path: str, n: int, seed: int) -> None:
    """The engine's page table (`synth_pages`), written to parquet so it is
    materialized before the timed phase and no generator runs inside it."""
    from darkbo_spark.kg.pages import synth_pages

    synth_pages(spark, n, seed, columns=PAGE_COLS).write.parquet(path)


def _gen_rows(seed: int, ids, with_gt: bool = False) -> list[dict]:
    """Generator rows computed in this process (pure Python), the same
    function `synth_pages` maps over its id range."""
    from darkbo_spark.kg.pages import _gen_page

    return [_gen_page(seed, int(i), with_gt, with_html=False) for i in ids]


def _pages_frame(spark, rows: list[dict]):
    """Generator rows as a pages DataFrame in the engine's page schema."""
    from pyspark.sql.types import StructType

    from darkbo_spark.kg.pages import PAGES_SCHEMA

    schema = StructType([f for f in PAGES_SCHEMA.fields if f.name in PAGE_COLS])
    return spark.createDataFrame(pd.DataFrame(rows, columns=PAGE_COLS), schema)


def _resolved_dictionary(spark, eid_map):
    """alias → canonical eid over a published `eid_map`, as the
    pipeline's link stage resolves the dictionary."""
    from darkbo_spark.kg.pages import entity_dictionary_df

    return entity_dictionary_df(spark).join(eid_map, "eid").selectExpr(
        "alias", "canon_eid AS eid"
    )


def stage_metrics(res, build_wall_s: float) -> dict:
    """Per-stage walls of one `run_pipeline` result (`res.timings`; the
    dictionary stages' walls include slot-wait), and the part of the
    build wall that no blocking stage accounts for."""
    t = res.timings
    # the five fusion stages start together in one pool
    fusion = max((t[s] for s in FUSION_STAGES if s in t), default=0.0)
    # the stages that block the result: the page stages race the
    # dictionary thread, then link, NIL mining and the fusion pool
    critical = (
        max(t["docs"] + t["raw_triples"], t["eid_map"] + t["kg_entities"])
        + t["kg_triples"] + t.get("kg_nil_candidates", 0.0) + fusion
    )
    return {
        "kg.pipeline.unaccounted_s": build_wall_s - critical,
        "kg.extract.docs_s": t["docs"],
        "kg.triples.raw_triples_s": t["raw_triples"],
        "kg.triples.triples_per_doc": res.rows["raw_triples"] / res.rows["docs"],
        "kg.canonicalize.eid_map_s": t["eid_map"],
        "kg.canonicalize.kg_entities_s": t["kg_entities"],
        "kg.link.kg_triples_s": t["kg_triples"],
        "kg.temporal.fusion_s": fusion,
        "kg.temporal.facts_s": t.get("kg_facts", 0.0),
    }


def build_layer_probes(spark, tr, pages_dir: str, tables: dict) -> dict:
    """Standalone solo calls of the layers a build runs, each in its own
    span: the pure-Python UDF bodies over every page, a bare Arrow round
    trip over the docs, the dictionary stages alone, and link + bucketize
    alone (its task rows come from the event log, see
    `link_probe_metrics`)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    from darkbo_spark import reference_impl as ref
    from darkbo_spark.kg.canonicalize import (
        build_entity_table_driver,
        canonicalize_entities,
    )
    from darkbo_spark.kg.link import link_entities, link_rate
    from darkbo_spark.kg.materialize import bucketize_triples
    from darkbo_spark.kg.pages import entity_dictionary_df

    raw = spark.read.parquet(pages_dir).select("text").toPandas()["text"]
    with tr.span("functions.textnorm.clean_text"):
        cleaned = [ref.clean_text(x) for x in raw]
    with tr.span("reference_impl.extract_triples"):
        for doc in cleaned:
            for sent in ref.split_sentences(doc):
                ref.extract_triples(sent)

    # defined here so the closure ships by value to the Python workers
    def _identity(s: pd.Series) -> pd.Series:
        return s

    identity = pandas_udf(_identity, StringType())
    docs = tables["docs"].read(spark)
    noop(docs.select(F.length("text")))  # warm the file scan
    with tr.span("functions.textnorm.arrow_roundtrip"):
        noop(docs.select(identity("text")))

    d = entity_dictionary_df(spark)
    with tr.span("kg.canonicalize.standalone"):
        noop(build_entity_table_driver(d, canonicalize_entities(d)))

    resolved = _resolved_dictionary(spark, tables["eid_map"].read(spark))
    raw_triples = tables["raw_triples"].read(spark)
    with tr.span("kg.link+materialize.standalone"):
        noop(bucketize_triples(link_entities(raw_triples, resolved)))
    rate = link_rate(tables["kg_triples"].read(spark)).collect()[0].link_rate
    return {
        "functions.textnorm.clean_text_s": tr.total("functions.textnorm.clean_text"),
        "reference_impl.extract_triples_s": tr.total("reference_impl.extract_triples"),
        "functions.textnorm.arrow_roundtrip_s": tr.total("functions.textnorm.arrow_roundtrip"),
        "kg.canonicalize.standalone_s": tr.total("kg.canonicalize.standalone"),
        "kg.link.link_rate": float(rate),
    }


def link_probe_metrics(spans, rows) -> dict:
    solo = rollup(rows, spans, "kg.link+materialize.standalone")
    return {
        "kg.materialize.shuffle_write_bytes": solo["shuffle_write_bytes"],
        "kg.materialize.spill_bytes": solo["spill_bytes"],
    }


class Workload:
    name = ""
    # set-up input generation repeats; their median counts. The first also
    # pays the session's cold start, which the median leaves out
    input_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.dir = ctx.work_dir

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def warm(self) -> None:
        """Untimed work before the first timed op."""

    def after_op(self, i: int) -> None:
        """Untimed bookkeeping and checks after op `i`."""

    def probe(self) -> None:
        """Traced runs only: standalone layer calls, each in its own span."""

    def layers(self, spans, rows) -> dict:
        """Per-layer metrics from the spans and their folded task rows."""
        return {}

    setup_parts: dict = {}

    def extra(self) -> dict:
        """Workload-specific figures for the detail record."""
        return {}


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------


class KgBuild(Workload):
    name = "kg_build"
    CHECKS = 2  # ground-truth P/R, raw_triples sample; stage counts per op
    PROBE_CYCLES = 2
    crawl: "KgCrawl | None" = None
    queries: "QuerySweep | None" = None
    PAGES = 3000
    SAMPLE = 200

    def setup_inputs(self, rep: int) -> None:
        self.pages_dir = self.path(f"pages_{rep}")
        _write_pages(self.spark, self.pages_dir, self.PAGES, self.seed)

    def setup_once(self) -> None:
        self.results: list = []

    def warm(self) -> None:
        """An untimed build of the same pages: the first build in a process
        pays JVM, codegen and Python worker start-up. The first timed build
        still runs 5-15 % slower than the next, which the median over a
        run's builds leaves out when three of them fit."""
        from darkbo_spark.kg.pipeline import run_pipeline

        run_pipeline(
            self.spark, self.path("kg_warm"),
            pages=self.spark.read.parquet(self.pages_dir),
            input_fingerprint=f"warm-{self.seed}", facts_asof=ASOF, mine_nil=True,
        )
        shutil.rmtree(self.path("kg_warm"), ignore_errors=True)

    def op(self, i: int) -> int:
        from darkbo_spark.kg.pipeline import run_pipeline

        out = self.path(f"kg_{i}")
        with self.tr.span("kg.pipeline.run_pipeline"):
            res = run_pipeline(
                self.spark, out, pages=self.spark.read.parquet(self.pages_dir),
                input_fingerprint=f"pages-{self.seed}", facts_asof=ASOF, mine_nil=True,
            )
        self.results.append((out, res, self.tr.enabled))
        errs = check_stage_counts(res.rows, self.PAGES)
        if errs:
            raise AssertionError("; ".join(errs))
        return self.PAGES

    def after_op(self, i: int) -> None:
        if len(self.results) > 1:  # keep the newest build for the checks
            shutil.rmtree(self.results[-2][0], ignore_errors=True)

    def stored_bytes_per_page(self) -> float:
        return dir_bytes(self.results[-1][0])[0] / self.PAGES

    def extra(self) -> dict:
        out = {
            "stage_timings_s": [r.timings for _o, r, _t in self.results],
            "stage_rows": self.results[-1][1].rows,
        }
        if self.crawl is not None:
            out["probe_checks"] = (self.crawl.CHECKS + len(self.crawl.lookup_ms)
                                   + self.crawl.lookup_failed)
        if self.queries is not None:
            out.update(query_sweeps=self.sweeps, query_checks=len(MIX))
        return out

    def verify(self) -> list[str]:
        out, res, _traced = self.results[-1]
        rng = random.Random(self.seed ^ 0x5EED)
        ids = sorted(rng.sample(range(self.PAGES), self.SAMPLE))
        pages = _gen_rows(self.seed, ids, with_gt=True)
        errs = check_ground_truth(pages)
        urls = [p["url"] for p in pages]
        from pyspark.sql import functions as F

        got = (
            res.tables["raw_triples"].read(self.spark)
            .filter(F.col("url").isin(urls)).collect()
        )
        errs += check_raw_triples(pages, [r.asDict() for r in got])
        if self.crawl is not None:  # the traced run's probe cycles
            errs += self.crawl.verify() + self.crawl.lookup_errors
        if self.queries is not None:
            errs += self.queries.verify()
        return errs

    def probe(self) -> None:
        """Every layer a build does not reach by itself, on the KG the last
        build published: the standalone layer probes, two refresh cycles
        with their lookups, and the registry query sweep."""
        spark, tr = self.spark, self.tr
        out, res, _t = self.results[-1]
        self.build_io = dir_bytes(out)
        self.probe_metrics = build_layer_probes(spark, tr, self.pages_dir, res.tables)
        self.crawl = KgCrawl(self.ctx)
        self.crawl.PAGES, self.crawl.REFETCH = self.PAGES, self.PAGES // 100
        self.crawl.pages_dir = self.pages_dir
        self.crawl.attach(res)
        for i in range(self.PROBE_CYCLES):
            with tr.span("probe.cycle"):
                self.crawl.op(i)
            self.crawl.after_op(i)
        self.queries = QuerySweep(spark, tr, self.path("sf"), self.seed)
        self.sweeps = self.queries.run()

    def layers(self, spans, rows) -> dict:
        """Stage walls of the median traced build, the probes, and the
        build's own output size."""
        traced = sorted(
            (r for _o, r, t in self.results if t), key=lambda r: sum(r.timings.values())
        )
        bytes_, files = self.build_io
        return {
            **self.crawl.cycle_metrics(spans, rows, self.PROBE_CYCLES, "probe.cycle"),
            **self.queries.layers(),
            **stage_metrics(traced[len(traced) // 2], median(self.ctx.untraced_walls)),
            **self.probe_metrics,
            **link_probe_metrics(spans, rows),
            "storage.snapshots.bytes_written": bytes_,
            "storage.snapshots.files_written": files,
        }


# ---------------------------------------------------------------------------
# kg_crawl
# ---------------------------------------------------------------------------


class KgCrawl(Workload):
    name = "kg_crawl"
    CHECKS = 2  # live triples, fact envelopes; each lookup is checked too
    queries: "QuerySweep | None" = None
    PAGES = 1000
    REFETCH = 10  # 1 % of the corpus per cycle
    LOOKUPS = 6   # per cycle, rotating over three lookup kinds
    WARM_CYCLES = 3
    KINDS = ("triples", "facts", "profile")

    def setup_inputs(self, rep: int) -> None:
        self.pages_dir = self.path(f"pages_{rep}")
        _write_pages(self.spark, self.pages_dir, self.PAGES, self.seed)

    def setup_once(self) -> None:
        """Publish the KG with `run_pipeline`, then attach the cycles to it."""
        from darkbo_spark.kg.pipeline import run_pipeline

        t0 = time.perf_counter()
        self.kg_dir = self.path("kg")
        self.setup_res = run_pipeline(
            self.spark, self.kg_dir, pages=self.spark.read.parquet(self.pages_dir),
            input_fingerprint=f"pages-{self.seed}", facts_asof=ASOF,
        )
        pipeline_s = time.perf_counter() - t0
        self.attach(self.setup_res)
        self.setup_parts = {"run_pipeline_s": pipeline_s, **self.attach_parts}

    def attach(self, res) -> None:
        """Seed the live tables the cycles maintain from a published KG —
        its linked triples, their fact envelopes and the resolved facts —
        and precompute every lookup answer."""
        from pyspark.sql import functions as F

        from darkbo_spark.kg.temporal import fact_envelopes, resolve_from_envelopes
        from darkbo_spark.storage import make_table

        spark = self.spark
        t0 = time.perf_counter()
        self.kg = res.tables
        self.live_dir = self.path("live")
        self.dictionary = make_table(self.live_dir, "dictionary")
        self.dictionary.publish(
            _resolved_dictionary(spark, self.kg["eid_map"].read(spark)).coalesce(1),
            "dict",
        )
        self.live = make_table(self.live_dir, "live_triples")
        self.env = make_table(self.live_dir, "fact_envelopes")
        self.facts = make_table(self.live_dir, "facts")
        self.live.publish(
            self.kg["kg_triples"].read(spark).select(
                "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
                "subj", "pred", "obj", "subj_eid", "obj_eid",
            ),
            "base",
        )
        mentions = self.live.read(spark).join(
            spark.read.parquet(self.pages_dir).select("url", "warc_ts"), "url"
        )
        self.env.publish(fact_envelopes(mentions), "base")
        self.facts.publish(resolve_from_envelopes(self.env.read(spark)), "base")
        t1 = time.perf_counter()
        self.refetched: list[tuple[int, list[dict]]] = []
        self._prepare_lookups()
        self.attach_parts = {
            "live_tables_s": t1 - t0,
            "lookup_answers_s": time.perf_counter() - t1,
        }

    # -- lookups -------------------------------------------------------------
    def _prepare_lookups(self) -> None:
        """One full scan per served table gives every expected answer; the
        Zipf key order follows each entity's mention count."""
        from pyspark.sql import functions as F

        spark = self.spark
        ents = [r.eid for r in self.kg["kg_entities"].read(spark).select("eid").collect()]
        counts = {
            r.subj_eid: r.n
            for r in self.kg["kg_triples"].read(spark).groupBy("subj_eid")
            .agg(F.count("*").alias("n")).collect()
        }
        ents.sort(key=lambda e: (-counts.get(e, 0), e))
        self.keys = ents
        # Zipf(1) over the mention-count rank, sampled by inverse CDF at a
        # low-discrepancy sequence: every run sees nearly the same rank mix,
        # so the lookup cost does not swing with the seed
        self.zipf_cdf = list(itertools.accumulate(1.0 / (k + 1) for k in range(len(ents))))
        self.zipf_u = random.Random(self.seed ^ 0x100C).random()
        n_buckets = 32  # run_pipeline's default, so lookups prune as a reader would
        bdf = spark.createDataFrame([(e,) for e in ents], "eid string").select(
            "eid", F.pmod(F.xxhash64("eid"), F.lit(n_buckets)).cast("int").alias("b")
        )
        self.bucket = {r.eid: r.b for r in bdf.collect()}
        self.expected = {k: {} for k in self.KINDS}
        for kind, tbl, key in (
            ("triples", "kg_triples", "subj_eid"),
            ("facts", "kg_facts", "subj_eid"),
            ("profile", "kg_entity_profiles", "eid"),
        ):
            groups: dict = {}
            for r in self.kg[tbl].read(spark).collect():
                d = r.asDict()
                groups.setdefault(d[key], []).append(d)
            self.expected[kind] = {k: canon(v) for k, v in groups.items()}
        self.lookup_ms: list[float] = []
        self.lookup_failed = 0
        self.traced_rows = 0
        self.lookup_errors: list[str] = []
        self.cycle_io: list[dict] = []

    def lookup(self, kind: str, key: str) -> list:
        from pyspark.sql import functions as F

        b = self.bucket[key]
        with self.tr.span("storage.snapshots.read"):
            if kind == "triples":
                df = self.kg["kg_triples"].read(self.spark)
            elif kind == "facts":
                df = self.kg["kg_facts"].read(self.spark)
            else:
                df = self.kg["kg_entity_profiles"].read(self.spark)
        if kind == "triples":
            df = df.filter((F.col("subj_bucket") == b) & (F.col("subj_eid") == key))
        elif kind == "facts":
            df = df.filter((F.col("fact_bucket") == b) & (F.col("subj_eid") == key))
        else:
            df = df.filter((F.col("fact_bucket") == b) & (F.col("eid") == key))
        return [r.asDict() for r in df.collect()]

    def _next_key(self) -> str:
        self.zipf_u = (self.zipf_u + 0.6180339887498949) % 1.0
        i = bisect.bisect_left(self.zipf_cdf, self.zipf_u * self.zipf_cdf[-1])
        return self.keys[min(i, len(self.keys) - 1)]

    # -- the cycle -----------------------------------------------------------
    def warm(self) -> None:
        """Untimed cycles: the cycle's plan shapes run here first, and the
        cycle wall keeps falling over the first few cycles of a JVM."""
        for i in range(-self.WARM_CYCLES, 0):
            self.op(i)
            self.after_op(i)
        self.lookup_ms.clear()

    def probe(self) -> None:
        """Every layer a cycle does not reach by itself: the standalone
        build-layer probes on the set-up KG, and the registry query sweep."""
        self.probe_metrics = build_layer_probes(
            self.spark, self.tr, self.pages_dir, self.kg
        )
        self.queries = QuerySweep(self.spark, self.tr, self.path("sf"), self.seed)
        self.sweeps = self.queries.run()

    def _delta_pages(self, cycle: int) -> list[dict]:
        rng = random.Random((self.seed << 20) ^ cycle)
        ids = sorted(rng.sample(range(self.PAGES), self.REFETCH))
        rows = _gen_rows(self.seed * 7919 + 1 + cycle, ids)
        for r in rows:  # a refetch is crawled later than the page it replaces
            r["warc_ts"] = r["warc_ts"] + dt.timedelta(days=1 + self.WARM_CYCLES + cycle)
        return rows

    def op(self, i: int) -> int:
        from darkbo_spark.kg.incremental import extract_and_link, upsert_triples_by_url
        from darkbo_spark.kg.temporal import (
            fact_envelopes,
            merge_fact_envelopes,
            resolve_from_envelopes,
        )

        spark, tr = self.spark, self.tr
        # a failed cycle leaves nothing for `after_op` to check or count
        self._answers, self._written = [], None
        rows = self._delta_pages(i)
        delta = _pages_frame(spark, rows)
        fp = f"cycle-{i}"
        with tr.span("kg.incremental.extract_link"):
            fresh = extract_and_link(delta, self.dictionary.read(spark)).persist()
            n_fresh = fresh.count()
        try:
            with tr.span("kg.incremental.upsert_publish"):
                merged = upsert_triples_by_url(
                    self.live.read(spark), fresh, delta.select("url")
                )
                with tr.span("storage.snapshots.publish"):
                    v_live = self.live.publish(merged, fp)
            with tr.span("kg.temporal.envelope_merge"):
                env_delta = fact_envelopes(
                    fresh.join(delta.select("url", "warc_ts"), "url")
                )
                state = merge_fact_envelopes(self.env.read(spark), env_delta)
                with tr.span("storage.snapshots.publish"):
                    v_env = self.env.publish(state, fp)
            with tr.span("kg.temporal.resolve"):
                with tr.span("storage.snapshots.publish"):
                    v_facts = self.facts.publish(
                        resolve_from_envelopes(self.env.read(spark)), fp
                    )
            with tr.span("storage.snapshots.expire"):
                for t in (self.live, self.env, self.facts):
                    t.expire(retain_last=3)
        finally:
            fresh.unpersist()
        self.refetched.append((i, rows))
        self._written = (n_fresh, ((self.live, v_live), (self.env, v_env), (self.facts, v_facts)))
        # serve from the published KG
        for j in range(self.LOOKUPS):
            kind = self.KINDS[j % len(self.KINDS)]
            key = self._next_key()
            t0 = time.perf_counter()
            try:
                with tr.span(f"lookup.{kind}"):
                    got = self.lookup(kind, key)
            except Exception as e:  # a failed lookup counts; the loop goes on
                self.lookup_failed += 1
                self.lookup_errors.append(f"lookup {kind}({key}) raised {e!r}")
                continue
            self.lookup_ms.append(1000 * (time.perf_counter() - t0))
            self._answers.append((kind, key, got))
        return self.REFETCH

    def after_op(self, i: int) -> None:
        for kind, key, got in self._answers:
            if self.tr.enabled:
                self.traced_rows += len(got)
            errs = check_lookup(kind, key, got, self.expected[kind].get(key, []))
            if errs:
                self.lookup_failed += 1
                self.lookup_errors.extend(errs)
        if self.tr.enabled and self._written is not None:
            n_fresh, versions = self._written
            written = [dir_bytes(os.path.join(t.dir, v)) for t, v in versions]
            self.cycle_io.append({
                "bytes": sum(b for b, _ in written),
                "files": sum(f for _, f in written),
                "rows": sum(t.read(self.spark).count() for t, _ in versions),
                "fresh_rows": n_fresh,
            })

    def stored_bytes_per_page(self) -> float:
        return (dir_bytes(self.kg_dir)[0] + dir_bytes(self.live_dir)[0]) / self.PAGES

    def extra(self) -> dict:
        """Lookup latency over every timed lookup, failures counted, and
        the query sweeps of a traced run."""
        from harness import tail

        if self.queries is not None:
            return {**self._lookup_stats(tail), "query_sweeps": self.sweeps,
                    "query_checks": len(MIX)}
        return self._lookup_stats(tail)

    def _lookup_stats(self, tail) -> dict:
        if not self.lookup_ms:
            return {"lookups": 0, "lookups_failed": self.lookup_failed,
                    "lookup_errors": self.lookup_errors[:5]}
        t = tail(self.lookup_ms, self.lookup_failed)
        return {
            "lookups": len(self.lookup_ms) + self.lookup_failed,
            "lookups_failed": self.lookup_failed,
            "lookup_errors": self.lookup_errors[:5],
            "lookup_ms_p50": median(self.lookup_ms),
            "lookup_ms_tail": t["value"],
            "lookup_tail_pct": t["pct"],
        }

    def verify(self) -> list[str]:
        """The live table must equal a from-scratch extract_and_link over
        the post-refresh page set; the envelope state must equal the
        envelopes of the base mentions plus every cycle's fresh mentions,
        aggregated here in Python."""
        from pyspark.sql import functions as F

        from darkbo_spark.kg.incremental import extract_and_link

        spark = self.spark
        dictionary = self.dictionary.read(spark)
        # every page version, extracted and linked from scratch. Batch 0 is
        # the base pages; batch v holds each refetched url's v-th refetch,
        # so urls are unique within a batch and each version's mentions
        # join back to that version's crawl time
        batches: list[list[dict]] = []
        latest: dict[str, int] = {}  # url -> batch of its newest version
        for _c, pages in self.refetched:
            for p in pages:
                v = latest.get(p["url"], 0) + 1
                latest[p["url"]] = v
                if len(batches) < v:
                    batches.append([])
                batches[v - 1].append(p)
        versions = [spark.read.parquet(self.pages_dir)] + [
            _pages_frame(spark, b) for b in batches
        ]
        union = None
        for k, pages_df in enumerate(versions):
            batch = extract_and_link(pages_df, dictionary).join(
                pages_df.select("url", "warc_ts"), "url"
            ).withColumn("batch", F.lit(k))
            union = batch if union is None else union.unionByName(batch)
        rows = [r.asDict() for r in union.collect()]
        got = self.live.read(spark)
        cols = got.columns
        want = [
            tuple(r[c] for c in cols) for r in rows if r["batch"] == latest.get(r["url"], 0)
        ]
        errs = check_same_rows("live triples", got.collect(), cols, want, cols)
        # envelopes accumulate every version's mentions, each at its crawl time
        ments = rows
        state = [r.asDict() for r in self.env.read(spark).collect()]
        errs += check_envelopes(state, ments)
        if self.queries is not None:
            errs += self.queries.verify()
        return errs

    def layers(self, spans, rows) -> dict:
        """The traced cycles, plus the build layers as set-up's
        `run_pipeline` and the probes measured them."""
        return {
            **stage_metrics(self.setup_res, self.setup_parts["run_pipeline_s"]),
            **self.probe_metrics,
            **link_probe_metrics(spans, rows),
            **self.queries.layers(),
            **self.cycle_metrics(spans, rows, max(1, self.ctx.traced_ops), "op"),
        }

    def cycle_metrics(self, spans, rows, n: int, cycle_span: str) -> dict:
        """Per-cycle layer walls, I/O and job counts over the last `n`
        traced cycles, each inside a span named `cycle_span`."""
        from harness import tail

        tr = self.tr
        io = self.cycle_io[-n:]
        m = {
            "kg.incremental.extract_link_s": tr.total("kg.incremental.extract_link") / n,
            "kg.incremental.upsert_publish_s": tr.total("kg.incremental.upsert_publish") / n,
            "kg.temporal.envelope_merge_s": tr.total("kg.temporal.envelope_merge") / n,
            "kg.temporal.resolve_s": tr.total("kg.temporal.resolve") / n,
            "storage.snapshots.publish_s": tr.total("storage.snapshots.publish") / n,
            "storage.snapshots.expire_s": tr.total("storage.snapshots.expire") / n,
        }
        if io:
            m["storage.snapshots.bytes_written"] = median([c["bytes"] for c in io])
            m["storage.snapshots.files_written"] = median([c["files"] for c in io])
            # rows the cycle's publishes wrote per fresh triple row
            m["storage.snapshots.write_amp"] = median(
                [c["rows"] / max(1, c["fresh_rows"]) for c in io]
            )
        reads = tr.walls("storage.snapshots.read")
        if reads:
            m["storage.snapshots.read_open_ms"] = 1000 * median(reads)
        lk_walls = [w for k in self.KINDS for w in tr.walls(f"lookup.{k}")]
        if lk_walls:
            m["storage.snapshots.lookup_ms_p50"] = 1000 * median(lk_walls)
            m["storage.snapshots.lookup_ms_tail"] = 1000 * tail(lk_walls)["value"]
        lk = [rollup(rows, spans, f"lookup.{k}") for k in self.KINDS]
        scanned = sum(r["input_records"] for r in lk)
        m["storage.snapshots.rows_scanned_per_row_returned"] = scanned / max(1, self.traced_rows)
        lookups = max(1, len(lk_walls))
        m["session.jobs_per_lookup"] = sum(r["jobs"] for r in lk) / lookups
        m["session.tasks_per_lookup"] = sum(r["tasks"] for r in lk) / lookups
        cycles = rollup(rows, spans, cycle_span)
        m["session.jobs_per_cycle"] = (cycles["jobs"] - sum(r["jobs"] for r in lk)) / n
        return m


# ---------------------------------------------------------------------------
# registry probe
# ---------------------------------------------------------------------------

# One hash-exact registry query per family module, for the seven family
# modules that between them reach the operators, retrieval, training and
# sources packages plus the plain star-schema and KG-twin paths. The other
# eleven families are left out to bound the traced run's length.
MIX = (
    ("star", "top5_orders"),
    ("retrieval", "dense_topk"),
    ("textops", "title_derivation"),
    ("dedup_queries", "training_mix_sample_x"),
    ("warc_queries", "warc_parse_x"),
    ("pipeline_queries", "training_pipeline_x"),
    ("kg_queries", "kg_fact_history_x"),
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class QuerySweep:
    """Sweeps over the MIX queries on seeded sf tables. A traced
    `kg_crawl` run uses it as a probe, so the `queries` layer keeps
    per-family construct and exec timings; see METRICS.md for why it is
    not a workload of its own."""

    SF = 0.001
    WARM_SWEEPS = 2

    def __init__(self, spark, tracer, sf_dir: str, seed: int):
        import __spark_entry__ as entry
        import sfgen

        self.spark, self.tr, self.sf_dir = spark, tracer, sf_dir
        sfgen.generate(sf_dir, seed, self.SF)
        registry = entry.queries()
        self.fns = [(fam, name, registry[name]) for fam, name in MIX]
        self.construct: dict[str, list[float]] = {f: [] for f, _ in MIX}
        self.exec: dict[str, list[float]] = {f: [] for f, _ in MIX}

    def sweep(self, record: bool) -> float:
        t_sweep = time.perf_counter()
        for fam, name, fn in self.fns:
            with self.tr.span(f"queries.{fam}", query=name):
                t0 = time.perf_counter()
                with self.tr.span(f"queries.{fam}.construct"):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self.tr.span(f"queries.{fam}.exec"):
                    noop(df)
                t2 = time.perf_counter()
            if record:
                self.construct[fam].append(t1 - t0)
                self.exec[fam].append(t2 - t1)
        return time.perf_counter() - t_sweep

    def run(self) -> dict:
        """A cold sweep, then the recorded warm sweeps."""
        cold = self.sweep(record=False)
        warm = [self.sweep(record=True) for _ in range(self.WARM_SWEEPS)]
        return {"cold_sweep_s": cold, "warm_sweeps_s": warm}

    def verify(self) -> list[str]:
        """Each query's value hash against its DuckDB oracle."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            errs = []
            for _fam, name, fn in self.fns:
                df = fn(self.spark, self.sf_dir)
                got, gcols = df.collect(), df.columns
                cur = con.execute(oracles[name])
                want, wcols = cur.fetchall(), [d[0] for d in cur.description]
                bad = check_same_rows(name, got, gcols, want, wcols)
                if not bad and not want:
                    bad = [f"{name}: the oracle returns no rows on this input"]
                errs += bad
            return errs
        finally:
            con.close()

    def layers(self) -> dict:
        m = {}
        for fam, _name in MIX:
            m[f"queries.{fam}.construct_s"] = median(self.construct[fam])
            m[f"queries.{fam}.exec_s"] = median(self.exec[fam])
        return m


WORKLOADS = {w.name: w for w in (KgBuild, KgCrawl)}
