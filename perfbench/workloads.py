"""The benchmark workloads and their Spark-side measurements.

Each workload owns: generating its inputs (once, untimed), storing them
for the program to read (a set-up round), a warm-up
action that is also the Spark half of its output check, the timed action,
the rest of the check, and the pipeline ladder for the traced run.
Every write goes to the ``noop`` sink; nothing is timed through
``count()``, which prunes pure projections.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .trace import count_exchanges, durations

CPUS = 4
WEB_DOCS = 240
WEB_FILES = CPUS
WEB_BATCH = 64
CURATE_DOCS = 500
CURATE_VECS = 500
CURATE_TABLE_SEED = 7
PASS_BUDGET_S = 16
LADDER_REPLICATE = 20
LEDGER_WEB_EVERY = 8

CURATE_QUERIES = (
    # tree readers
    "select_article_p", "select_xpath", "clean_basic", "main_content",
    "html_to_md", "metadata_extract",
    # sources and text stats
    "ingest_transport", "warc_extract", "token_count", "quality",
    "fingerprint",
    # dedup, similarity and codecs
    "dedup_exact", "minhash", "lsh_buckets", "ngram_jaccard", "simhash",
    "embed_neardup_scale", "dedup_clusters", "ann_brute", "ann_ivf",
    "ann_ivf_mp", "multimodal_jpeg",
)
EMBEDDING_QUERIES = frozenset(("embed_neardup_scale", "ann_brute", "ann_ivf",
                               "ann_ivf_mp"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_exchanges(df) -> int:
    return count_exchanges(
        df._jdf.queryExecution().executedPlan().toString())


class JobGroups:
    """Tags Spark actions with job groups and reads task counts back."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.groups: list[tuple[str, str]] = []
        self._lock = threading.Lock()

    def tag(self, label: str) -> str:
        """Tags the calling thread's next actions."""
        with self._lock:
            group = f"perfbench-{label}-{len(self.groups)}"
            self.groups.append((label, group))
        self.sc.setJobGroup(group, label)
        return group

    def tasks(self, labels=None, groups=None) -> tuple[int, int]:
        """(completed, failed) tasks over the groups with one of `labels`,
        or over the given groups."""
        if groups is None:
            groups = [g for lab, g in self.groups if lab in labels]
        st = self.sc.statusTracker()
        done = failed = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        done += si.numCompletedTasks
                        failed += si.numFailedTasks
        return done, failed


def echo_doc_ids(batches):
    """Reads every html value into Python and returns only the doc_ids:
    the Arrow crossing with no parse."""
    for b in batches:
        b.column(1).to_pylist()
        yield pa.RecordBatch.from_arrays([b.column(0)], names=["doc_id"])


def spans_digest(spans) -> str:
    h = hashlib.md5()
    for s in spans:
        h.update(f"{s['kind']}\x1f{s['text']}\x1f{s['media_ref']}\x1f"
                 f"{s['order']}\x1e".encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def wrong_docs(want: dict[str, str], got: list[tuple[str, str]]) -> int:
    """Docs whose output is not exactly one row with the reference digest,
    plus rows for doc_ids that are not wanted: a missing, wrong or
    duplicated doc each counts as one failed operation."""
    rows: dict[str, list[str]] = {}
    for d, m in got:
        rows.setdefault(d, []).append(m)
    bad = sum(1 for d, m in want.items() if rows.get(d) != [m])
    return bad + sum(len(ms) for d, ms in rows.items() if d not in want)


def reference_digest(page: dict) -> tuple[str, str]:
    """The driver's own parse + extract_spans + media append for one page,
    mirroring operators.pipeline.extract_stage."""
    from jsoup_spark.extract.spans import extract_spans
    from jsoup_spark.parser.treebuilder import HtmlTreeBuilder
    from .ledger import BASE_URI
    doc = HtmlTreeBuilder().parse(page["html"], BASE_URI)
    spans = [{"kind": k, "text": t, "media_ref": r, "order": i}
             for i, (k, t, r, _o) in enumerate(extract_spans(doc))]
    spans.append({"kind": "media", "text": page["media_text"] or "",
                  "media_ref": page["media_ref"] or "",
                  "order": len(spans)})
    return page["doc_id"], spans_digest(spans)


def load_oracle_gate():
    """tools/oracle_gate.py, loaded by path for its row normalization."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_oracle_gate", os.path.join("tools", "oracle_gate.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    """Base: subclasses fill in inputs, actions and checks."""

    name = ""
    rows_in = 0          # input rows one timed action reads
    input_mb = 0.0       # input MB one timed action reads
    jvm_s = 0.0          # session start, set by the caller
    ladder_reps = 2

    def __init__(self, spark, work: str, seed: int, jobs: JobGroups) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.jobs = jobs
        self.path = ""

    # -- set-up ---------------------------------------------------------
    def generate(self) -> None:
        """Makes the inputs in memory from the seed; not part of set-up."""
        raise NotImplementedError

    def materialize(self, k: int) -> None:
        """Stores the generated inputs as parquet under a fresh path."""
        raise NotImplementedError

    # -- timed ----------------------------------------------------------
    def warm(self) -> None:
        """Untimed work after the check, before the timed loop."""

    def fixed_actions(self, seconds: float) -> int | None:
        """How many timed actions to run, when that must not depend on
        how fast they run; None times actions while the next one fits."""
        return None

    def action(self, tracer) -> dict[str, float]:
        """One closed-loop operation; returns named walls in seconds."""
        raise NotImplementedError

    # -- checks ---------------------------------------------------------
    def check_spark(self) -> None:
        raise NotImplementedError

    def check_compare(self) -> tuple[int, int]:
        """(units checked, units missing or wrong)."""
        raise NotImplementedError

    # -- traced run -----------------------------------------------------
    def corpus(self):
        return self.spark.read.parquet(self.path)

    def ledger_sample(self) -> list[str]:
        raise NotImplementedError

    def _untraced_extract(self) -> float:
        """The extract rung with no span, for trace.overhead_frac; it runs
        after the traced one in even rounds and before it in odd ones."""
        from jsoup_spark.operators.pipeline import extract_stage
        df = extract_stage(self.corpus())
        self.jobs.tag("untraced")
        t0 = time.perf_counter()
        noop(df)
        return time.perf_counter() - t0

    def ladder(self, tracer) -> tuple[dict[str, float], list]:
        """scan <= reassembly <= arrow echo <= extract, each a noop action
        on the same input, interleaved over `ladder_reps` rounds; plus the
        counts, which come from the plan, the status tracker and
        partition_metrics. Each rung is the min over the rounds. Also
        returns the walls of the extract rung run untraced in the same
        rounds."""
        from jsoup_spark.operators.pipeline import (extract_stage,
                                                    partition_metrics)
        from jsoup_spark.sources.corpus import assemble_html

        def reassembly():
            return assemble_html(self.corpus()).select("doc_id", "html")

        rungs = {
            "pipeline.scan": self.corpus,
            "pipeline.reassembly": reassembly,
            "pipeline.arrow_echo": lambda: reassembly().mapInArrow(
                echo_doc_ids, "doc_id string"),
            "pipeline.extract": lambda: extract_stage(self.corpus()),
        }
        extract_groups = []
        untraced = []
        with tracer.span("pipeline.ladder"):
            for i in range(self.ladder_reps):
                for name, build in rungs.items():
                    if name == "pipeline.extract" and i % 2:
                        untraced.append(self._untraced_extract())
                    df = build()
                    group = self.jobs.tag(name)
                    if name == "pipeline.extract":
                        extract_groups = [group]
                    with tracer.span(name):
                        noop(df)
                if i % 2 == 0:
                    untraced.append(self._untraced_extract())
        best = {n: min(durations(tracer.spans, n)) for n in rungs}
        ext = extract_stage(self.corpus())
        tasks, failed = self.jobs.tasks(groups=extract_groups)
        self.jobs.tag("pipeline.partition_metrics")
        parts = partition_metrics(ext).collect()
        pbytes = [r["bytes_tokenized"] for r in parts]
        return {
            "pipeline.scan_s": best["pipeline.scan"],
            "pipeline.reassembly_s": best["pipeline.reassembly"],
            "pipeline.arrow_echo_s": best["pipeline.arrow_echo"],
            "pipeline.extract_s": best["pipeline.extract"],
            "pipeline.arrow_self_s":
                best["pipeline.arrow_echo"] - best["pipeline.reassembly"],
            "pipeline.engine_self_s":
                best["pipeline.extract"] - best["pipeline.arrow_echo"],
            "pipeline.exchanges": plan_exchanges(ext),
            "pipeline.tasks": tasks,
            "pipeline.tasks_failed": failed,
            "pipeline.partition_bytes_skew":
                max(pbytes) / (sum(pbytes) / len(pbytes)),
            "pipeline.parse_errors": sum(r["parse_errors"] for r in parts),
            "pipeline.bytes_tokenized": sum(pbytes),
            "pipeline.spans_out": sum(r["spans_out"] for r in parts),
        }, untraced


class ExtractWeb(Workload):
    """extract_stage over seeded generated web pages."""

    name = "extract_web"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.pages: list[dict] = []
        self.mix: dict = {}
        self.rows_in = WEB_DOCS
        self._got: list[tuple[str, str]] = []

    def generate(self) -> None:
        self.pages, self.mix = gen.web_pages(self.seed, WEB_DOCS)
        self.input_mb = sum(len(p["html"].encode("utf-8"))
                            for p in self.pages) / 1e6

    def materialize(self, k: int) -> None:
        # byte-balanced files (largest page first into the lightest file),
        # so the partition layout is a function of the seed alone
        bins: list[list[int]] = [[] for _ in range(WEB_FILES)]
        load = [0] * WEB_FILES
        for i in sorted(range(len(self.pages)),
                        key=lambda i: (-len(self.pages[i]["html"]), i)):
            j = load.index(min(load))
            bins[j].append(i)
            load[j] += len(self.pages[i]["html"])
        self.path = os.path.join(self.work, f"web_{self.seed}_{k}")
        os.makedirs(self.path, exist_ok=True)
        for j, idx in enumerate(bins):
            table = gen.span_table([self.pages[i] for i in sorted(idx)])
            pq.write_table(table, os.path.join(self.path,
                                               f"part-{j:04d}.parquet"),
                           row_group_size=WEB_BATCH)

    def action(self, tracer) -> dict[str, float]:
        from jsoup_spark.operators.pipeline import extract_stage
        self.jobs.tag("timed")
        t0 = time.perf_counter()
        with tracer.span("pipeline.extract_stage"):
            noop(extract_stage(self.corpus()))
        return {"wall": time.perf_counter() - t0}

    def check_spark(self) -> None:
        from jsoup_spark.operators.pipeline import extract_stage
        self.jobs.tag("check")
        out = extract_stage(self.corpus()).select("doc_id", "spans") \
            .toArrow().to_pylist()
        self._got = [(r["doc_id"], spans_digest(r["spans"])) for r in out]

    def check_compare(self) -> tuple[int, int]:
        import multiprocessing as mp
        from multiprocessing import resource_tracker
        ctx = mp.get_context("spawn")
        with ctx.Pool(CPUS) as pool:
            want = dict(pool.map(reference_digest, self.pages, chunksize=8))
            pool.close()
            pool.join()
        # the spawn pool started a resource tracker that would otherwise
        # outlive this process; closing its pipe stops it and waits for it
        resource_tracker._resource_tracker._stop()
        return len(want), wrong_docs(want, self._got)

    def ledger_sample(self) -> list[str]:
        """Every LEDGER_WEB_EVERY-th page by size, so each seed samples the
        same size quantiles (the 2 MB tail page is never in it)."""
        by_size = sorted((p["html"] for p in self.pages), key=len)
        return by_size[LEDGER_WEB_EVERY // 2::LEDGER_WEB_EVERY]


class CurateSuite(Workload):
    """One pass over CURATE_QUERIES, each written to noop; the seed
    rotates the query order."""

    name = "curate_suite"
    ladder_reps = 5      # its rungs are ~0.1 s apart

    def __init__(self, *a) -> None:
        super().__init__(*a)
        import __spark_entry__ as entry
        # the per-query window of bench.run_queries: AQE's runtime
        # re-planning is pure overhead on these small inputs
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.queries = entry.queries()
        rot = self.seed % len(CURATE_QUERIES)
        self.order = CURATE_QUERIES[rot:] + CURATE_QUERIES[:rot]
        self.rows_in = sum(CURATE_VECS if q in EMBEDDING_QUERIES
                           else CURATE_DOCS for q in CURATE_QUERIES)
        self._collected: dict = {}
        self._oracle: dict = {}
        self._errors: dict[str, str] = {}
        self.tables: dict[str, pa.Table] = {}

    def generate(self) -> None:
        self.tables = {
            "documents": gen.documents_table(CURATE_DOCS, CURATE_TABLE_SEED),
            "embeddings": gen.embeddings_table(CURATE_VECS,
                                               CURATE_TABLE_SEED),
        }

    def materialize(self, k: int) -> None:
        self.path = os.path.join(self.work, f"curate_{k}")
        os.makedirs(self.path, exist_ok=True)
        for t, table in self.tables.items():
            pq.write_table(table, os.path.join(self.path, f"{t}.parquet"))
        size = {t: os.path.getsize(os.path.join(self.path, f"{t}.parquet"))
                for t in ("documents", "embeddings")}
        self.input_mb = sum(
            size["embeddings" if q in EMBEDDING_QUERIES else "documents"]
            for q in CURATE_QUERIES) / 1e6

    def action(self, tracer) -> dict[str, float]:
        walls = {}
        with tracer.span("curate.pass"):
            for q in self.order:
                self.jobs.tag("timed")
                t0 = time.perf_counter()
                with tracer.span(f"query.{q}"):
                    noop(self.queries[q](self.spark, self.path))
                walls[q] = time.perf_counter() - t0
        walls["wall"] = sum(walls[q] for q in self.order)
        return walls

    def fixed_actions(self, seconds: float) -> int:
        """One pass per PASS_BUDGET_S of the run. Passes keep speeding up
        (~12.5 s, ~10 s, ~9 s here), so a count that depends on their
        speed would move the median between pass positions."""
        return max(1, int(seconds // PASS_BUDGET_S))

    def _collect(self, q: str) -> None:
        self.jobs.tag("check")
        try:
            df = self.queries[q](self.spark, self.path)
            self._collected[q] = (df.columns, df.collect())
        except Exception as ex:  # a failing query is a failed op
            self._errors[q] = f"{type(ex).__name__}: {str(ex)[:200]}"

    def check_spark(self, oracles: bool = True) -> None:
        """Collects every query once, CPUS at a time: this is also the
        warm-up, and one query at a time leaves most cores idle on
        per-query fixed cost. The DuckDB oracles run beside it on one
        thread."""
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(CPUS + 1) as pool:
            oracle = pool.submit(self._oracle_rows) if oracles else None
            for f in [pool.submit(self._collect, q) for q in self.order]:
                f.result()
            if oracle is not None:
                self._oracle = oracle.result()

    def warm(self) -> None:
        """Collect the concurrent check pass's garbage and run the head of
        the pass once more, sequentially: otherwise the first timed
        queries run ~1.4x slow."""
        self.spark._jvm.System.gc()
        for q in self.order[:3]:
            self.jobs.tag("warm")
            noop(self.queries[q](self.spark, self.path))

    def _oracle_rows(self) -> dict:
        import duckdb
        import __spark_entry__ as entry
        oracles = entry.oracle_sql()
        con = duckdb.connect(config={"threads": 1})
        out = {}
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.path, t + '.parquet')}')")
            for q in CURATE_QUERIES:
                cur = con.execute(oracles[q])
                out[q] = ([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        return out

    def check_compare(self) -> tuple[int, int]:
        gate = load_oracle_gate()
        for q, (names, rows) in self._collected.items():
            onames, orows = self._oracle[q]
            if sorted(names) != sorted(onames) or \
                    gate._rows_sorted(names, rows) != \
                    gate._rows_sorted(onames, orows):
                self._errors[q] = "differs from its DuckDB oracle"
        return len(CURATE_QUERIES), len(self._errors)

    def corpus(self):
        return self.spark.read.parquet(self.corpus_path)

    def ladder(self, tracer) -> tuple[dict[str, float], list]:
        """The ladder over the span corpus the tree-reader queries build,
        amplified LADDER_REPLICATE times with distinct doc_ids (at 500
        tiny docs the parse is a few ms, under the rungs' noise) and
        stored first so that its scan rung is a parquet scan."""
        import bench
        self.corpus_path = os.path.join(self.path, "corpus.parquet")
        self.jobs.tag("setup")
        bench.amplified_corpus(self.spark, self.path, LADDER_REPLICATE) \
            .write.mode("overwrite").parquet(self.corpus_path)
        return super().ladder(tracer)

    def ledger_sample(self) -> list[str]:
        """The 500 documents once (the first copy of each)."""
        from pyspark.sql import functions as F
        from jsoup_spark.sources.corpus import assemble_html
        rows = assemble_html(self.corpus()).where(
            F.col("doc_id").cast("long") % LADDER_REPLICATE == 0) \
            .select("doc_id", "html").collect()
        return [r["html"] for r in sorted(rows, key=lambda r: int(r[0]))]

    def query_ledger(self, tracer) -> dict[str, float]:
        """query.<name>_s from one traced pass (each query's span) and
        query.<name>_exchanges from each query's physical plan."""
        self.action(tracer)
        out: dict[str, float] = {}
        for q in CURATE_QUERIES:
            out[f"query.{q}_s"] = durations(tracer.spans, f"query.{q}")[-1]
            out[f"query.{q}_exchanges"] = plan_exchanges(
                self.queries[q](self.spark, self.path))
        return out


WORKLOADS = {w.name: w for w in (ExtractWeb, CurateSuite)}

# per-layer metric -> (unit, which direction is better)
PER_LAYER = {
    "pipeline.scan_s": ("s", "lower"),
    "pipeline.reassembly_s": ("s", "lower"),
    "pipeline.arrow_echo_s": ("s", "lower"),
    "pipeline.extract_s": ("s", "lower"),
    "pipeline.arrow_self_s": ("s", "lower"),
    "pipeline.engine_self_s": ("s", "lower"),
    "pipeline.exchanges": ("count", "lower"),
    "pipeline.tasks": ("count", "lower"),
    "pipeline.tasks_failed": ("count", "lower"),
    "pipeline.partition_bytes_skew": ("ratio", "lower"),
    "pipeline.parse_errors": ("count", "lower"),
    "pipeline.bytes_tokenized": ("chars", "lower"),
    "pipeline.spans_out": ("count", "higher"),
    "parser.tokenize_us_per_doc": ("us", "lower"),
    "parser.parse_us_per_doc": ("us", "lower"),
    "parser.parse_mb_per_s": ("MB/s", "higher"),
    "parser.treebuild_self_us_per_doc": ("us", "lower"),
    "parser.parse_pyonly_us_per_doc": ("us", "lower"),
    "parser.native_speedup": ("ratio", "higher"),
    "extract.spans_us_per_doc": ("us", "lower"),
    "extract.stream_spans_mb_per_s": ("MB/s", "higher"),
    "extract.main_content_us_per_doc": ("us", "lower"),
    "select.css_us_per_doc": ("us", "lower"),
    "select.xpath_us_per_doc": ("us", "lower"),
    "clean.clean_us_per_doc": ("us", "lower"),
    "clean.serialize_us_per_doc": ("us", "lower"),
}
for _q in CURATE_QUERIES:
    PER_LAYER[f"query.{_q}_s"] = ("s", "lower")
    PER_LAYER[f"query.{_q}_exchanges"] = ("count", "lower")
PER_LAYER.update({
    "host.steal_pct": ("%", "lower"),
    "host.other_busy_pct": ("%", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
    "ops_failed_frac": ("frac", "lower"),
})
PER_LAYER_UNITS = {k: u for k, (u, _b) in PER_LAYER.items()}


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
