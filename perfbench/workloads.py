"""The benchmark's workloads: seeded inputs, one timed operation, and
the correctness checks on its outputs.

Each workload reaches the package only through its public functions.
Inputs are generated here from the seed and handed to the program as
tables; the program never sees the seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from tracer import tree_cpu_s

FY = 2024
KG_COMPANIES = 240
KG_SKEW_COPIES = 8
KG_BUCKETS = 8
SCAN_PAGES = 9_000
SCAN_FILES = 8
SCAN_NOISE_PAGES = 400

# Outputs of the 240-company panel. Replicated pages and row order do
# not change the graph, so these hold for every seed.
KG_TRIPLES = 136_465
KG_TRIPLE_DIGEST = "1842864564130119280111"
KG_TURTLE_SHA256 = (
    "44e53ed131af7b18b4505cdd291f343e1ffe20d7ad77dfe4318b15e7b1907ec1")
# fact records and gazetteer mentions over one copy of every distinct
# page of the scan's base set
SCAN_BASE_RECORDS = 11_992
SCAN_BASE_MENTIONS = 15_829
# answers of the 57 competency questions over the 240-company graph
CQ_ROWS = 50_448
CQ_DIGEST = (
    "372c23e118507cbfbfaafe762a38551316ace73bccd2a2fe907ae26effc13492")
# the maintenance path's store is built from the 12-company panel
INC_COMPANIES = 12
INC_STAGES = ("extract", "stores_and_companies", "manifest_diff",
              "obs_patch", "obs_readback", "triples_patch",
              "manifest_commit")


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    items: int
    checks: dict[str, bool] = field(default_factory=dict)
    counts: dict[str, object] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(self.checks.values())


def _page_df(spark, rows, n_buckets: int):
    """Rows -> the pages table, bucketed by url hash as
    sources.pages.synthesize_pages lays it out."""
    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.sources.schemas import PAGES_SCHEMA

    return spark.createDataFrame(rows, PAGES_SCHEMA).withColumn(
        "bucket", F.pmod(F.hash("url"), F.lit(n_buckets)).cast("int")
    )


def kg_page_rows(seed: int) -> list[tuple]:
    """The 240-company panel pages; the seed picks the company whose
    filing pages are replicated (the skew head) and the row order."""
    from edgar_finance_ontology_spark.sources.pages import build_page_rows

    rng = random.Random(seed)
    rows = build_page_rows(skew_copies=0, n_companies=KG_COMPANIES)
    ciks = sorted({r[0].split("/")[3] for r in rows
                   if r[0].startswith("https://filings.")})
    head = rng.choice(ciks)
    head_rows = [r for r in rows if f"/{head}/facts-" in r[0]]
    for copy in range(1, KG_SKEW_COPIES + 1):
        rows += [(r[0].replace(".html", f"-dup{copy}.html"),) + r[1:]
                 for r in head_rows]
    rng.shuffle(rows)
    return rows


def triple_digest(df) -> tuple[int, str]:
    """(row count, order-independent digest) of a triple table: the sum
    of per-row 64-bit hashes, summed exactly as a decimal."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(
        F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
        .alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), str(row["s"])


def rows_digest(rows) -> str:
    """Order-independent SHA-256 of collected rows; floats to 9
    significant digits, so summation order cannot change it."""
    def cell(v):
        return f"{v:.9g}" if isinstance(v, float) else repr(v)

    lines = sorted("\x1f".join(cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def percentile(values, p: int) -> float:
    """The p-th percentile (statistics.quantiles, exclusive method)."""
    return statistics.quantiles(values, n=100)[p - 1]


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class Workload:
    """Seeded set-up, optional warm-up and one timed operation.

    `spans` are the spans inside one timed operation; `extra_spans`
    those of `traced_extras`, which only the traced run calls, after
    the timed operations. `layer_metrics` names the per-layer metrics
    the workload reports besides its spans' quantities. With
    `paired_overhead`, the traced run alternates traced and untraced
    operations and reports the difference as tracing overhead."""

    name: str
    spans: tuple[str, ...]
    extra_spans: tuple[str, ...] = ()
    layer_metrics: tuple[str, ...] = ()
    paired_overhead = False

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = (
            spark, work, seed, tracer)
        self.plan_shapes: dict[str, dict] = {}

    def warmup(self) -> None:
        """Runs once between set-up and the timed operations."""

    def traced_extras(self) -> tuple[list[OpResult], dict[str, float]]:
        """Layers too slow for every run: checked results (each counts
        as an operation) and per-layer values."""
        return [], {}


class KgBuild(Workload):
    """Page table -> pages_to_inputs -> run_pipeline -> build_triples ->
    pred-partitioned triple table + Turtle document, as
    scripts/run_kg.py does. One operation is one cold build in a fresh
    JVM, the cost a spark-submit of the deploy script pays.

    The traced run then registers the competency-question catalog over
    the built tables and answers all 57 questions once, in seeded
    order."""

    name = "kg_build"
    spans = ("run_pipeline", "build_triples", "triples_write",
             "turtle_write")
    extra_spans = ("cq_register", "cq_run")
    layer_metrics = ("kg.triples", "build_triples.exchanges",
                     "build_triples.python_evals", "cq.p50_s", "cq.p80_s",
                     "cq.rows")

    def setup(self, rep: int) -> None:
        pages_dir = os.path.join(self.work, f"pages-{rep}")
        _page_df(self.spark, kg_page_rows(self.seed), KG_BUCKETS) \
            .repartition(KG_BUCKETS, "bucket") \
            .write.mode("overwrite").parquet(pages_dir)
        self.pages_dir = pages_dir

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from edgar_finance_ontology_spark.emit.triples import build_triples
        from edgar_finance_ontology_spark.emit.turtle_writer import (
            concat_turtle_parts_to_file, write_turtle_document,
        )
        from edgar_finance_ontology_spark.plans.pipeline import run_pipeline
        from edgar_finance_ontology_spark.plans.web_pipeline import (
            pages_to_inputs,
        )

        out = os.path.join(self.work, f"kg-{i}")
        shutil.rmtree(out, ignore_errors=True)
        span = self.tracer.span
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with span("run_pipeline"):
            pages = self.spark.read.parquet(self.pages_dir)
            facts, companies = pages_to_inputs(pages)
            t = run_pipeline(facts, companies, fy=FY)
        self.tables = t
        with span("build_triples"):
            trip = build_triples(
                t["observations"], companies, t["benchmarks"],
                t["rankings"], fy=FY,
            )
        with span("triples_write"):
            trip.repartitionByRange(F.col("pred"), F.col("subj")).write \
                .mode("overwrite").partitionBy("pred") \
                .parquet(os.path.join(out, "triples"))
        with span("turtle_write"):
            write_turtle_document(
                os.path.join(out, "ttl_parts"), companies,
                t["observations"], t["benchmarks"], t["rankings"], fy=FY,
            )
            ttl = concat_turtle_parts_to_file(
                os.path.join(out, "ttl_parts"),
                os.path.join(out, "instances.ttl"),
            )
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        if self.tracer.enabled:
            self.plan_shapes["build_triples"] = self.tracer.plan_shape(trip)
        n, digest = triple_digest(
            self.spark.read.parquet(os.path.join(out, "triples")))
        sha = file_sha256(ttl)
        shutil.rmtree(out, ignore_errors=True)
        return OpResult(
            wall_s=wall, cpu_s=cpu, items=n,
            checks={
                "triple_count": n == KG_TRIPLES,
                "triple_digest": digest == KG_TRIPLE_DIGEST,
                "turtle_sha256": sha == KG_TURTLE_SHA256,
            },
            counts={"kg.triples": n, "_digest": digest, "_sha": sha},
        )

    def traced_extras(self):
        from edgar_finance_ontology_spark.plans.cq_catalog import (
            build_cq_catalog, register_cq_catalog,
        )

        catalog = build_cq_catalog(FY)
        names = sorted(catalog)
        random.Random(self.seed).shuffle(names)
        t, span = self.tables, self.tracer.span
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with span("cq_register"):
            register_cq_catalog(
                self.spark, t["observations"], t["companies"],
                t["benchmarks"], t["rankings"], fy=FY, materialize=True,
                store_dir=os.path.join(self.work, "cq"),
            )
        answers, lat = {}, []
        with span("cq_run"):
            for name in names:
                q0 = time.perf_counter()
                answers[name] = self.spark.sql(catalog[name]).collect()
                lat.append(time.perf_counter() - q0)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        rows = sum(len(a) for a in answers.values())
        digest = hashlib.sha256("\n".join(
            f"{k}:{len(answers[k])}:{rows_digest(answers[k])}"
            for k in sorted(answers)).encode()).hexdigest()
        res = OpResult(
            wall_s=wall, cpu_s=cpu, items=len(answers),
            checks={
                "cq_answered": len(answers) == 57,
                "cq_rows": rows == CQ_ROWS,
                "cq_digest": digest == CQ_DIGEST,
            },
            counts={"cq.rows": rows, "_cq_digest": digest},
        )
        return [res], {"cq.p50_s": statistics.median(lat),
                       "cq.p80_s": percentile(lat, 80), "cq.rows": rows}


def scan_base_rows() -> list[tuple]:
    from edgar_finance_ontology_spark.sources.pages import build_page_rows

    return build_page_rows(skew_copies=0, noise_pages=SCAN_NOISE_PAGES,
                           n_companies=KG_COMPANIES)


class PageScan(Workload):
    """The volume-proportional front-end: html extraction (Arrow UDF)
    -> parse_fact_records -> detect_mentions (Aho-Corasick), each run
    to completion over a parquet page table.

    The traced run also drives the maintenance path at small scale: a
    cold run_incremental store of the 12-company panel, then one patch
    with a late filing page for a seed-chosen company."""

    name = "page_scan"
    spans = ("extraction", "fact_parse", "mentions")
    extra_spans = ("run_incremental",)
    layer_metrics = (
        "scan.pages", "scan.records", "scan.mentions", "scan.scaling_eff",
        "mentions.python_evals", "trace.overhead_s",
        "incremental.cold_s", "incremental.dirty_per_candidate",
    ) + tuple(f"incremental.{st}_s" for st in INC_STAGES)
    paired_overhead = True

    def setup(self, rep: int) -> None:
        """Seeded sample (with replacement) of the base pages, each copy
        under its own url, written as parquet."""
        self._base = scan_base_rows()
        rng = random.Random(self.seed)
        picks = rng.choices(range(len(self._base)), k=SCAN_PAGES)
        rows = [(f"{self._base[k][0]}#{i}",) + self._base[k][1:]
                for i, k in enumerate(picks)]
        pages_dir = os.path.join(self.work, f"pages-{rep}")
        # equal files (round robin): bucket-hash files come out uneven,
        # and the scan's few tasks then finish at different times
        _page_df(self.spark, rows, SCAN_FILES).repartition(SCAN_FILES) \
            .write.mode("overwrite").parquet(pages_dir)
        self.pages_dir = pages_dir
        self.picks = picks

    def warmup(self) -> None:
        """Expected counts for the seeded sample. Records: the fact
        sentences the generator wrote into each sampled page. Mentions:
        per-page counts over one copy of each base page, summed over the
        sample. The base pass runs the same stages on a smaller table,
        so it also warms the JVM and the Python workers."""
        from edgar_finance_ontology_spark.operators.mentions import (
            concept_lexicon_terms, detect_mentions,
        )
        from edgar_finance_ontology_spark.plans.web_pipeline import (
            extracted_text_stage, parse_fact_records,
        )

        p = extracted_text_stage(
            _page_df(self.spark, self._base, SCAN_FILES))
        recs = parse_fact_records(p)
        ments = detect_mentions(p, concept_lexicon_terms())
        per_rec = dict(recs.groupBy("url").count().collect())
        per_men = dict(ments.groupBy("url").count().collect())
        urls = [r[0] for r in self._base]
        self.base_totals = (sum(per_rec.values()), sum(per_men.values()))
        self.base_records_by_page = [
            r[2].count(b"<p>CIK ") for r in self._base]
        self.expect = (
            sum(self.base_records_by_page[k] for k in self.picks),
            sum(per_men.get(urls[k], 0) for k in self.picks),
        )

    def op(self, i: int) -> OpResult:
        from edgar_finance_ontology_spark.operators.mentions import (
            concept_lexicon_terms, detect_mentions,
        )
        from edgar_finance_ontology_spark.plans.web_pipeline import (
            extracted_text_stage, parse_fact_records,
        )

        span = self.tracer.span
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with span("extraction"):
            p = extracted_text_stage(self.spark.read.parquet(self.pages_dir))
            n_pages = p.count()
        with span("fact_parse"):
            recs = parse_fact_records(p)
            n_rec = recs.count()
        with span("mentions"):
            ments = detect_mentions(p, concept_lexicon_terms())
            n_men = ments.count()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        if self.tracer.enabled and not self.plan_shapes:
            self.plan_shapes = {"mentions": self.tracer.plan_shape(ments)}
        exp_rec, exp_men = self.expect
        return OpResult(
            wall_s=wall, cpu_s=cpu, items=n_pages,
            checks={
                "pages": n_pages == SCAN_PAGES,
                "records": n_rec == exp_rec,
                "mentions": n_men == exp_men,
                "base_records": self.base_totals[0] == SCAN_BASE_RECORDS
                == sum(self.base_records_by_page),
                "base_mentions": self.base_totals[1] == SCAN_BASE_MENTIONS,
            },
            counts={"scan.pages": n_pages, "scan.records": n_rec,
                    "scan.mentions": n_men, "_base": self.base_totals},
        )

    def scaling_walls(self, spark, n: int) -> list[float]:
        """Walls of n operations on `spark`, after one untimed one."""
        self.spark = spark
        self.op(-1)
        return [self.op(-1).wall_s for _ in range(n)]

    def traced_extras(self):
        """Cold store of the small panel, then one late page: exactly one
        company is recomputed, its new value is in the observations and
        the triple count is unchanged."""
        from pyspark.sql import functions as F

        from edgar_finance_ontology_spark.plans.incremental import (
            run_incremental,
        )
        from edgar_finance_ontology_spark.sources.pages import (
            build_page_rows, fact_sentence,
        )

        rng = random.Random(self.seed)
        rows = build_page_rows(skew_copies=0, n_companies=INC_COMPANIES)
        pages_dir = os.path.join(self.work, "inc-pages")
        _page_df(self.spark, rows, KG_BUCKETS).write.parquet(pages_dir)
        pages = self.spark.read.parquet(pages_dir)
        store = os.path.join(self.work, "inc-store")
        t0 = time.perf_counter()
        cold = run_incremental(self.spark, pages, FY, store)
        cold_s = time.perf_counter() - t0
        n_triples = cold["triples"].count()
        revenue = sorted(
            cold["observations"]
            .where((F.col("metric") == "Revenue") & ~F.col("is_derived"))
            .collect(), key=lambda r: r["cik"])
        row = rng.choice(revenue)
        value = float(row["value"]) - rng.randint(1, 999_999)
        sentence = fact_sentence(
            row["cik"], row["selected_tag"], row["unit"], {
                "val": value, "end": row["end"], "fy": int(row["fy"]),
                "fp": "FY", "form": row["form"], "accn": row["accn"],
                "qtrs": 4, "segment": None,
            })
        late = _page_df(self.spark, [(
            f"https://filings.example.com/{row['cik']}/late-{self.seed}.html",
            dt.datetime(2025, 3, 1),
            ("<html><head><title>late amendment</title></head><body><main>"
             f"<p>{html.escape(sentence, quote=False)}</p></main></body>"
             "</html>").encode(),
            None, "en",
        )], KG_BUCKETS)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with self.tracer.span("run_incremental"):
            patch = run_incremental(
                self.spark, pages.unionByName(late), FY, store)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        m = patch["metrics"]
        seen = patch["observations"].where(
            (F.col("cik") == row["cik"]) & (F.col("metric") == "Revenue")
            & (F.col("value") == value)).count()
        res = OpResult(
            wall_s=wall, cpu_s=cpu, items=1,
            checks={
                "cold_all_dirty": cold["metrics"]["n_dirty"] == INC_COMPANIES,
                "n_dirty": m["n_dirty"] == 1,
                "late_value_seen": seen > 0,
                "triples_unchanged": patch["triples"].count() == n_triples,
            },
            counts={"n_dirty": m["n_dirty"], "seen": seen,
                    "n_candidates": m["n_candidates"],
                    "stage_sec": m["stage_sec"]},
        )
        values = {f"incremental.{st}_s": m["stage_sec"].get(st, 0.0)
                  for st in INC_STAGES}
        values["incremental.cold_s"] = cold_s
        values["incremental.dirty_per_candidate"] = (
            m["n_dirty"] / m["n_candidates"])
        return [res], values


WORKLOADS = {w.name: w for w in (PageScan, KgBuild)}
